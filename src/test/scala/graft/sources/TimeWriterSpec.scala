package graft.sources

import graft.{LsdDb, SpecBase}
import org.apache.spark.sql.functions._

import java.nio.file.Files

class TimeWriterSpec extends SpecBase {

  test("day-partitioned write prunes directories and preserves results") {
    val path = Files.createTempDirectory("graft_tw").toString + "/events"
    val events = LsdDb.table(spark, sfDir, "events")
    TimeWriter.write(events, "ts", "day", path)

    val (from, to) = ("2024-01-10 00:00:00", "2024-01-15 00:00:00")
    val pruned = TimeWriter.readRange(spark, path, "ts", "day", from, to)
    val want = events.filter(
      col("ts") >= to_timestamp(lit(from)) && col("ts") < to_timestamp(lit(to)))
    assert(pruned.count() == want.count())
    assert(pruned.count() > 0)

    // directory layout is t_bucket=YYYY-MM-DD and pruning is visible
    val dirs = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("t_bucket="))
    assert(dirs.length >= 29) // ~a month of days
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("t_bucket"))
  }

  test("day-partitioned write: one file per bucket, rows sorted by ts") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_tws").toString + "/events"
    // ts drawn in random order over ten days, so only the write's own
    // sort can leave a bucket's file in ts order
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rnd = new scala.util.Random(7)
    val events = (0L until 2000L).map(i => (i, new java.sql.Timestamp(
      t0 + (rnd.nextDouble() * 10 * 86400000L).toLong))).toDF("id", "ts")
    TimeWriter.write(events, "ts", "day", path)
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("t_bucket="))
    assert(dirs.length >= 10)
    dirs.foreach(d => assert(
      d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
      s"${d.getName} must hold exactly one data file"))
    val bad = SortedFiles.unsorted(spark, path, unix_micros(col("ts")))
    assert(bad.isEmpty, s"${bad.length} of ${dirs.length} bucket files " +
      s"not sorted by ts:\n${bad.take(5).mkString("\n")}")
  }

  test("bucket boundary rows are not lost (lower bound = bucket of from)") {
    val path = Files.createTempDirectory("graft_tw2").toString + "/events"
    val events = LsdDb.table(spark, sfDir, "events")
    TimeWriter.write(events, "ts", "month", path)
    // range starting mid-month must still read the month bucket
    val got = TimeWriter.readRange(spark, path, "ts", "month",
      "2024-01-15 00:00:00", "2024-02-01 00:00:00")
    val want = events.filter(col("ts") >= "2024-01-15" && col("ts") < "2024-02-01")
    assert(got.count() == want.count() && got.count() > 0)
  }

  test("ensure-site rebuild heals a layout that lost its sidecar") {
    // review r18: _TEMPORAL lands after Spark's _SUCCESS; a crash in
    // that window must not leave a permanently "complete" cache that
    // every time-bounded read rejects. The ensure site re-checks the
    // sidecar, so deleting it (the crash's observable state) heals.
    val path = graft.operators.Core.ensureTimePartitionedEvents(spark, sfDir)
    assert(TimeWriter.temporalMeta(spark, path).isDefined)
    new java.io.File(path, "_TEMPORAL").delete()
    assert(TimeWriter.temporalMeta(spark, path).isEmpty)
    val again = graft.operators.Core.ensureTimePartitionedEvents(spark, sfDir)
    assert(again == path &&
      TimeWriter.temporalMeta(spark, path).isDefined,
      "ensure site must rebuild when the sidecar is missing")
  }

  test("inverted TimeInterval fails at construction") {
    intercept[IllegalArgumentException] {
      graft.spatial.TimeInterval("2024-02-01 00:00:00",
        "2024-01-01 00:00:00")
    }
    intercept[IllegalArgumentException] { // date-only spelling too
      graft.spatial.TimeInterval("2024-02-02", "2024-02-01")
    }
    // a ZERO-WIDTH half-open interval is a legitimate empty query for
    // programmatic callers (incremental "since last run" with no
    // elapsed time) — it must CONSTRUCT; only inversion is rejected
    // (review r19, ADVICE). The CLI layer adds the strict check.
    graft.spatial.TimeInterval("2024-02-01", "2024-02-01")
    graft.spatial.TimeInterval("2024-02-01 00:00:00",
      "2024-02-01 00:00:00")
    // valid forms construct; exotic forms defer to the engine
    graft.spatial.TimeInterval("2024-01-01", "2024-02-01")
    graft.spatial.TimeInterval("jan 1", "feb 1")
  }
}
