package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Z-order (Morton) clustered layout with a per-file zone manifest —
  * multi-dimensional data skipping for box predicates.
  *
  * Single-column layouts (sort, range partition, the snapshot zone
  * maps in [[Snapshots]]) skip files for predicates on ONE column;
  * a predicate on the other column still scans everything. Writing
  * the table ordered by the interleaved bits of BOTH columns' rank
  * spaces makes every file a tight box in (x, y): a query constrained
  * in both dimensions intersects O(perimeter) of the files instead of
  * all of them. This is the clustering trick behind Delta/Iceberg
  * `OPTIMIZE ZORDER BY` (public design; e.g. the Delta Lake paper,
  * VLDB 2020), rebuilt here on plain parquet + a manifest.
  *
  * Layout write: rank each dimension into 16-bit space using global
  * min/max (one agg pass), interleave to a 32-bit z-value,
  * `repartitionByRange` on z (contiguous z-ranges per file) with an
  * in-partition sort (row-group locality inside each file), then one
  * column-pruned pass over the written files records each file's
  * (min, max) box per dimension into `_zmanifest`. At 100 TB the
  * manifest is O(files) rows (~100k at 1 GB files) — the same order
  * as the FileIndex listing every scan already holds on the driver.
  *
  * Read: intersect the query box with the manifest boxes (driver-side
  * filter of the manifest, exactly like partition pruning), read only
  * surviving files. The manifest gate is a SUPERSET filter — callers
  * apply the exact predicate on top, so results are independent of
  * file assignment and the operator stays oracle-checkable.
  */
object ZOrderLayout {

  private val Bits = 16
  private val MaxRank = (1L << Bits) - 1

  /** Interleave two 16-bit ranks (x even bits, y odd) — SkyPix's
    * Morton interleave, without the level tag. */
  private def interleave(ix: Column, iy: Column): Column =
    GraftShims.column(graft.spatial.SkyPix.interleaveExpr(
      GraftShims.expression(ix), GraftShims.expression(iy), Bits))

  private def rank(c: Column, lo: Double, hi: Double): Column = {
    val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
    least(greatest(
      floor((c.cast(DoubleType) - lit(lo)) / lit(span) * lit(MaxRank.toDouble)),
      lit(0.0)), lit(MaxRank.toDouble)).cast(LongType)
  }

  /** Z-value of (x, y) given global bounds (NULL if either is NULL —
    * ascending range-partition/sort default to NULLS FIRST in Spark,
    * so null-z rows land in the FIRST file; selectFiles keeps files
    * whose box stats are null, so pruning stays correct either
    * way — do not rely on nulls being isolated in the last file). */
  def zvalue(x: Column, y: Column, xLo: Double, xHi: Double,
             yLo: Double, yHi: Double): Column =
    interleave(rank(x, xLo, xHi), rank(y, yLo, yHi))

  /** Write `df` z-clustered on (xCol, yCol) into `files` parquet files
    * at `path`, plus the `_zmanifest` per-file box table. */
  def write(df: DataFrame, xCol: String, yCol: String, path: String,
            files: Int): Unit = {
    val spark = df.sparkSession
    val b = df.agg(min(col(xCol)).cast(DoubleType), max(col(xCol)).cast(DoubleType),
        min(col(yCol)).cast(DoubleType), max(col(yCol)).cast(DoubleType))
      .head()
    val (xLo, xHi, yLo, yHi) =
      (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
    df.withColumn("__z",
        zvalue(col(xCol), col(yCol), xLo, xHi, yLo, yHi))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    // per-file boxes: column-pruned scan of just (x, y) grouped by the
    // physical file each row landed in
    ParquetRead(spark, path)
      .select(input_file_name().as("file"),
        col(xCol).cast(DoubleType).as("x"), col(yCol).cast(DoubleType).as("y"))
      .groupBy("file")
      .agg(min("x").as("x_min"), max("x").as("x_max"),
        min("y").as("y_min"), max("y").as("y_max"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_zmanifest")
  }

  /** Files whose recorded box intersects [xLo,xHi]×[yLo,yHi] (NULL
    * stats — possible when a file holds only NULL x or y — are kept:
    * the manifest may only ever SKIP provably disjoint files).
    * Returns (selected paths, total file count). */
  def selectFiles(spark: SparkSession, path: String,
                  xLo: Double, xHi: Double, yLo: Double, yHi: Double)
      : (Seq[String], Int) = {
    val m = ParquetRead(spark, s"$path/_zmanifest").collect()
    val sel = m.filter { r =>
      def ok(loI: Int, hiI: Int, lo: Double, hi: Double): Boolean =
        r.isNullAt(loI) || r.isNullAt(hiI) ||
          (r.getDouble(hiI) >= lo && r.getDouble(loI) <= hi)
      val (xmn, xmx, ymn, ymx) = (r.fieldIndex("x_min"), r.fieldIndex("x_max"),
        r.fieldIndex("y_min"), r.fieldIndex("y_max"))
      ok(xmn, xmx, xLo, xHi) && ok(ymn, ymx, yLo, yHi)
    }.map(_.getAs[String]("file")).toSeq.sorted
    (sel, m.length)
  }

  /** Read only the files intersecting the box (superset — apply the
    * exact predicate on the result). */
  def read(spark: SparkSession, path: String,
           xLo: Double, xHi: Double, yLo: Double, yHi: Double): DataFrame = {
    val (files, _) = selectFiles(spark, path, xLo, xHi, yLo, yHi)
    if (files.isEmpty) ParquetRead(spark, path).limit(0)
    else ParquetRead(spark, files: _*)
  }
}
