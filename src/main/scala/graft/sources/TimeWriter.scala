package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Temporal partitioning — the reference's per-epoch sub-cells
  * (each spatial cell split into MJD-range temporal cells, plus a
  * static t=∞ cell; SURVEY.md §1.1, ref `lsd/table.py`, UNVERIFIED).
  *
  * Spark-native: the time bucket is a directory partition column
  * (`t_bucket=…/`), so time-footprint queries prune directories, and
  * `sortWithinPartitions(ts)` gives row-group min/max pruning inside
  * a bucket. Combine with SpatialWriter's `cell` column for the full
  * (sky × time) grid: `.partitionBy("cell", "t_bucket")`.
  */
object TimeWriter {
  private val granularities = Set("hour", "day", "week", "month", "year")

  /** Sidecar recording a layout's timestamp column + bucket
    * granularity — what a TIME-bounded read needs to build the bucket
    * predicate without the caller re-supplying schema knowledge
    * (LsdQL's `query(text, time)` resolves through it). Underscore
    * name → ignored by Spark's file index like _SUCCESS/_SPATIAL. */
  private val TemporalMetaFile = "_TEMPORAL"

  /** (tsCol, granularity) of the layout at `path`, when written by a
    * sidecar-aware TimeWriter. */
  def temporalMeta(spark: SparkSession,
                   path: String): Option[(String, String)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path, TemporalMetaFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val ts = """"tsCol":"([^"]+)"""".r.findFirstMatchIn(text)
      val g = """"granularity":"([^"]+)"""".r.findFirstMatchIn(text)
      for (t <- ts; gg <- g) yield (t.group(1), gg.group(1))
    }
  }

  def write(df: DataFrame, tsCol: String, granularity: String, path: String,
            mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(granularities.contains(granularity),
      s"granularity must be one of $granularities")
    // an APPEND with a different ts column or granularity would leave
    // mixed bucket keys behind a sidecar recording only the last —
    // bounded reads would silently drop rows. Refuse BEFORE data lands
    // (the SpatialWriter append rule).
    if (mode == SaveMode.Append) temporalMeta(df.sparkSession, path)
      .foreach { case (t, g) => require(t == tsCol && g == granularity,
        s"appending to $path with temporal layout ($tsCol, $granularity)" +
          s" but it was written with ($t, $g) — mixed bucket keys would" +
          " make bounded reads silently drop rows; rewrite the layout") }
    // explicit task count and a key-first sort: the SpatialWriter.write
    // rules (an AQE-coalesced one-task write; a planned write that
    // drops a sort not led by the partition key)
    df.withColumn("t_bucket",
        date_trunc(granularity, col(tsCol)).cast("date"))
      .repartition(SpatialWriter.writeTasks(df), col("t_bucket"))
      .sortWithinPartitions(col("t_bucket"), col(tsCol))
      .write.mode(mode)
      .partitionBy("t_bucket")
      .parquet(path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), df.sparkSession.sparkContext
        .hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(path, TemporalMetaFile), true)
    try out.write(
      s"""{"tsCol":"$tsCol","granularity":"$granularity"}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** Time-bounded read: the bucket predicate prunes directories, the
    * exact predicate prunes row groups and rows. `granularity` must
    * match the one the table was written with (a bucket's rows reach
    * back to its truncated start, so the lower directory bound is the
    * bucket of `fromIncl` itself). */
  def readRange(spark: SparkSession, path: String, tsCol: String,
                granularity: String, fromIncl: String,
                toExcl: String): DataFrame = {
    require(granularities.contains(granularity),
      s"granularity must be one of $granularities")
    val from = to_timestamp(lit(fromIncl))
    val to = to_timestamp(lit(toExcl))
    // upper directory bound is INCLUSIVE of toExcl's own bucket: a
    // non-midnight-aligned toExcl (e.g. '…-15 12:00') still has rows
    // in bucket '…-15'; the exact `ts < to` row filter below makes the
    // wider directory bound safe.
    spark.read.parquet(path)
      .filter(col("t_bucket") >= date_trunc(granularity, from).cast("date") &&
        col("t_bucket") <= date_trunc(granularity, to).cast("date"))
      .filter(col(tsCol) >= from && col(tsCol) < to)
  }
}
