package graft.tools

import graft.{GraftSession, LsdDb}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Dev tool: one LARGER-SCALE input for optimization claims (r21
  * verdict item 8 — "the 8c/32c totals proved sf0.1 can't demonstrate
  * scaling"). Synthesizes sf × N by unioning N key-shifted replicas of
  * every table, written as MULTI-FILE parquet — which also exercises
  * the production layout where `LsdDb.spread` must no-op. Time queries
  * on it with [[Profile]]: the last stdout line is the
  * `SPARK_GRAFT_SF_DIR=` setting to run it with.
  *
  * This is opt-in developer evidence, not part of Bench/Verify; the
  * inflated dataset is an INPUT copy under java.io.tmpdir, never a
  * cached result.
  *
  * Usage: ScalePoint [N]  (default 8; source dir SPARK_GRAFT_SF_DIR)
  */
object ScalePoint {
  /** Key columns: every `*key`, `*_id` and `id` column. */
  private def isKey(c: String): Boolean =
    c.endsWith("key") || c.endsWith("_id") || c == "id"

  /** Per-replica key offset: replica r adds r · stride, so keys stay
    * unique across replicas and referential integrity holds within
    * each one (every column of a key domain has the same type, hence
    * the same stride). The int stride leaves room for 2^24 source
    * keys and 128 replicas below 2^31. */
  private def stride(table: String, c: String, t: DataType): Long = t match {
    case LongType    => 1L << 40
    case IntegerType => 1L << 24
    case other => throw new IllegalArgumentException(
      s"$table.$c: key column of type ${other.simpleString} cannot be " +
        "shifted per replica (only int and bigint keys can)")
  }

  /** `n` key-shifted replicas of `table`'s rows `df`, each column
    * keeping its type. Throws, naming the column, on a key column that
    * is not int or bigint. */
  def replicate(df: DataFrame, table: String, n: Int): DataFrame = {
    require(n >= 1 && n <= 128, s"replica count $n outside 1..128")
    val repl = df.sparkSession.range(n).select(col("id").as("__r"))
    df.crossJoin(repl).select(df.schema.fields.toSeq.map { f =>
      if (!isKey(f.name)) col(f.name)
      else (col(f.name) + col("__r") * stride(table, f.name, f.dataType))
        .cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Write [[replicate]]d copies of every standard table under `src`
    * to `dst` as multi-file parquet. */
  def inflate(spark: SparkSession, src: String, dst: String, n: Int): Unit =
    for (t <- LsdDb.standardTables) {
      replicate(LsdDb.table(spark, src, t), t, n).repartition(16)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"inflated $t x$n")
    }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(8)
    val spark = GraftSession.local()
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val dst = s"${sys.props("java.io.tmpdir")}/graft_scale_x$n"
    val marker = java.nio.file.Paths.get(s"$dst/_READY")
    if (!java.nio.file.Files.exists(marker)) {
      inflate(spark, src, dst, n)
      java.nio.file.Files.createFile(marker)
    }
    spark.stop()
    println(s"SPARK_GRAFT_SF_DIR=$dst")
  }
}
