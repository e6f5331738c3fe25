package graft

import graft.sources.LocalFs
import org.apache.spark.sql.SparkSession

/** The one local session that Bench, Verify, the CLIs, the dev tools
  * and the test suite build: `local[cpus]` with `cpus` shuffle
  * partitions, UTC session time, no UI, WARN logging, and the
  * engine's `file:` FileSystem ([[LocalFs.install]]). `cpus`
  * defaults to `SPARK_GRAFT_CPUS`, else 4. On a running session
  * `getOrCreate` returns it and applies only the SQL settings.
  */
object GraftSession {
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt)
      : SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    LocalFs.install(s)
    s
  }
}
