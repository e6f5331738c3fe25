package graft.sources

import graft.spatial.SkyPix
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Import/write path: materialize a catalog as a cell-partitioned
  * Parquet dataset — the engine's analog of the reference's
  * `lsd-import` (compute cell → append to per-cell tablets → build
  * neighbor caches; SURVEY.md §3 entry point 3, UNVERIFIED).
  *
  * Spark-native: the cell id becomes a directory partition column, so
  * spatial footprint queries get partition pruning from
  * `PartitioningAwareFileIndex` for free (the bounds∩quadtree pruning
  * LSD implemented by hand), and `sortWithinPartitions` gives
  * row-group locality for min/max skipping within a cell.
  */
object SpatialWriter {

  /** Sidecar metadata file name: records the marginDeg a layout was
    * written with. Boundary-strip replication makes the cache
    * closure-complete only for query radius <= written margin, so
    * consumers must be able to verify the contract at read time
    * instead of silently dropping pairs on a mismatched radius. */
  private val MarginMetaFile = "_MARGIN"

  private def writeMarginMeta(spark: org.apache.spark.sql.SparkSession,
                              path: String, marginDeg: Double,
                              level: Int): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(path, MarginMetaFile), true)
    try out.write(s"""{"marginDeg":$marginDeg,"level":$level}"""
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** Sidecar recording a layout's coordinate columns + cell level —
    * what a BOUNDED read needs to enumerate prunable cells and build
    * the exact predicate without the caller re-supplying schema
    * knowledge (LsdQL's `query(text, bounds)` resolves through it).
    * Written by every [[write]]/[[writeClustered]]; an underscore
    * name, so Spark's file index ignores it like _SUCCESS. */
  private val SpatialMetaFile = "_SPATIAL"

  /** An APPEND with different spatial metadata would leave mixed cell
    * levels on disk behind a sidecar recording only the last — a
    * later bounded read would enumerate cells at the wrong level and
    * silently drop the other rows. Refuse BEFORE any data lands, like
    * requireMargin. */
  private def requireAppendCompatible(
      spark: org.apache.spark.sql.SparkSession, path: String,
      lonCol: String, latCol: String, level: Int, mode: SaveMode,
      margin: Option[Double]): Unit =
    if (mode == SaveMode.Append) {
      spatialMeta(spark, path).foreach {
        case (lo, la, lv) => require(
          lo == lonCol && la == latCol && lv == level,
          s"appending to $path with spatial layout ($lonCol, $latCol, " +
            s"level=$level) but it was written with ($lo, $la, " +
            s"level=$lv) — mixed cell keys would make bounded reads " +
            "silently drop rows; rewrite the layout instead")
      }
      // The MARGIN contract is append-invariant too (review r19, now
      // load-bearing: the QL margin route and the streaming xmatch
      // trust the sidecar for the WHOLE layout): appending margin-less
      // rows to a margin layout — or with a different marginDeg —
      // would leave the sidecar claiming closure the appended rows
      // don't have, and a margin-routed join would silently drop
      // their cross-cell pairs.
      val written = marginMeta(spark, path).map(_._1)
      if (spatialMeta(spark, path).isDefined) require(
        written == margin,
        s"appending to $path with margin=$margin but the layout was " +
          s"written with margin=$written — the sidecar must describe " +
          "every row; rewrite the layout instead")
    }

  private def writeSpatialMeta(spark: org.apache.spark.sql.SparkSession,
                               path: String, lonCol: String, latCol: String,
                               level: Int): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(path, SpatialMetaFile), true)
    try out.write(
      s"""{"lonCol":"$lonCol","latCol":"$latCol","level":$level}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** (lonCol, latCol, level) of the layout at `path`, when it was
    * written by a sidecar-aware SpatialWriter. */
  def spatialMeta(spark: org.apache.spark.sql.SparkSession,
                  path: String): Option[(String, String, Int)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path, SpatialMetaFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val lon = """"lonCol":"([^"]+)"""".r.findFirstMatchIn(text)
      val lat = """"latCol":"([^"]+)"""".r.findFirstMatchIn(text)
      val lvl = """"level":([0-9]+)""".r.findFirstMatchIn(text)
      for (lo <- lon; la <- lat; lv <- lvl)
        yield (lo.group(1), la.group(1), lv.group(1).toInt)
    }
  }

  /** (marginDeg, level) the layout at `path` was written with, if it
    * carries margin replicas. */
  def marginMeta(spark: org.apache.spark.sql.SparkSession,
                 path: String): Option[(Double, Int)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path, MarginMetaFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val m = """"marginDeg":([-0-9.eE]+)""".r.findFirstMatchIn(text)
      val l = """"level":([0-9]+)""".r.findFirstMatchIn(text)
      for (mm <- m; ll <- l) yield (mm.group(1).toDouble, ll.group(1).toInt)
    }
  }

  /** Re-write the `_MARGIN` sidecar at `path` with the SOURCE SNAPSHOT
    * id the cache was built from (`AdminCli make-cache
    * --from-snapshot`): a margin cache of a LIVE snapshot table is a
    * point-in-time materialization, and readers compare this stamp
    * against the table's head (or the query's @id) to detect
    * staleness instead of silently answering from old rows. */
  def stampMarginSource(spark: org.apache.spark.sql.SparkSession,
                        path: String, snapId: Long): Unit = {
    val (m, l) = marginMeta(spark, path).getOrElse(
      throw new IllegalStateException(
        s"no $MarginMetaFile sidecar at $path to stamp — the margin " +
          "layout write must complete first"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(path, MarginMetaFile), true)
    try out.write(
      s"""{"marginDeg":$m,"level":$l,"sourceSnap":$snapId}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** The source snapshot id stamped into the `_MARGIN` sidecar, when
    * the layout is a `--from-snapshot` cache (None for plain-table
    * margin layouts, which are the table itself). */
  def marginSourceSnap(spark: org.apache.spark.sql.SparkSession,
                       path: String): Option[Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path, MarginMetaFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      """"sourceSnap":([0-9]+)""".r.findFirstMatchIn(text)
        .map(_.group(1).toLong)
    }
  }

  /** Assert the margin layout at `path` is closure-complete for a
    * radius-`radiusDeg` join: strip replication only copies rows whose
    * home-cell boundary is within the WRITTEN margin, so querying a
    * larger radius against it would silently miss cross-cell pairs.
    * Layouts written before the metadata sidecar existed (no _MARGIN
    * file) fail loudly too — rebuild them. */
  def requireMargin(spark: org.apache.spark.sql.SparkSession,
                    path: String, radiusDeg: Double): Unit =
    marginMeta(spark, path) match {
      case Some((written, _)) => require(radiusDeg <= written,
        s"margin cache at $path was written with marginDeg=$written; " +
          s"a radius-$radiusDeg join against it would drop cross-cell " +
          "pairs beyond the replicated strip — rewrite the cache with " +
          s"margin >= $radiusDeg")
      case None => throw new IllegalStateException(
        s"margin cache at $path has no $MarginMetaFile sidecar — " +
          "cannot verify the written margin covers this query radius; " +
          "rebuild the layout with SpatialWriter (which records it)")
    }

  /** `df` + `cell` (home SkyPix cell) + `is_margin`; with `margin`,
    * each row is additionally replicated into every neighbor cell
    * whose boundary lies within marginDeg of the row — the
    * boundary-STRIP replication (SkyPix.neighborCellsWithin), not a
    * flat 9-cell copy: storage amplification is 1 + strip fraction
    * (~1.1–1.5× for margin ≪ cell) instead of 9×. */
  private def withCellColumns(df: DataFrame, lonCol: String, latCol: String,
                              level: Int, margin: Option[Double]): DataFrame = {
    // NULL coordinates are refused LOUDLY at import (review r20): the
    // raw grid math would file them into the top-corner cell (plain
    // layouts) or mis-replicate them (margin layouts) — a catalog row
    // needs a position. The guard is folded INTO the home-cell
    // expression (load-bearing, so column pruning can't elide it) and
    // costs one CASE on the WRITE path only; query-time cell math
    // stays branch-free (see SkyPix.ixy's null-coordinate contract).
    val guardedCell =
      when(col(lonCol).isNotNull && col(latCol).isNotNull,
        SkyPix.cell(col(lonCol), col(latCol), level))
        .otherwise(raise_error(lit(
          s"spatial layout write: NULL $lonCol/$latCol in a row — " +
            "drop or fix null-coordinate rows before importing")))
    margin match {
      case None =>
        df.withColumn("cell", guardedCell)
          .withColumn("is_margin", lit(false))
      case Some(m) =>
        df.withColumn("home_cell", guardedCell)
          .withColumn("cell", explode(
            SkyPix.neighborCellsWithin(col(lonCol), col(latCol), level, m)))
          .withColumn("is_margin", col("cell") =!= col("home_cell"))
          .drop("home_cell")
    }
  }

  /** Task count of a directory-layout write: the session's shuffle
    * partitions, passed EXPLICITLY. A bare `repartition(key)` is an
    * AQE-coalescable exchange, and a layout's bytes are small next to
    * its file count — AQE folded the 128-cell sky layout into ONE task
    * that wrote every `cell=` file serially. The explicit count pins
    * the exchange (REPARTITION_BY_NUM, as in [[graft.LsdDb.spread]]),
    * and hash partitioning still sends each key to one task, so each
    * directory still gets exactly one file. */
  private[sources] def writeTasks(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** Write `df` DIRECTORY-partitioned by SkyPix cell of (lonCol,
    * latCol) — one directory per cell, for footprint queries that
    * prune cells at the file-index level (`PartitionFilters`). Use a
    * COARSE level (≤ ~4–6 depending on data volume): each directory
    * must hold file-sized data, or listing overhead dominates (the
    * tiny-files failure mode). For join-only layouts where `cell` is
    * just an equi-join key, use [[writeClustered]] instead.
    *
    * @param margin if defined: additionally replicate each row into
    *   the neighbor cells whose boundary is within marginDeg — LSD's
    *   neighbor-cache materialization. Replicas carry is_margin=true
    *   and must be excluded from plain scans (`WHERE NOT is_margin`)
    *   but included when probing spatial joins, making radius-bounded
    *   joins cell-local with NO query-time explode.
    */
  def write(df: DataFrame, lonCol: String, latCol: String, level: Int,
            path: String, margin: Option[Double] = None,
            mode: SaveMode = SaveMode.Overwrite): Unit = {
    requireAppendCompatible(df.sparkSession, path, lonCol, latCol, level,
      mode, margin)
    // the sort LEADS with the partition key: a planned write needs
    // its input ordered by `cell`, and when the child's order does not
    // start with it Spark inserts Sort(cell) on top and drops a bare
    // (lat, lon) sort below as redundant — files came out unsorted
    withCellColumns(df, lonCol, latCol, level, margin)
      .repartition(writeTasks(df), col("cell"))
      .sortWithinPartitions(col("cell"), col(latCol), col(lonCol))
      .write.mode(mode)
      .partitionBy("cell")
      .parquet(path)
    writeSpatialMeta(df.sparkSession, path, lonCol, latCol, level)
    margin.foreach(m => writeMarginMeta(df.sparkSession, path, m, level))
  }

  /** Write `df` as PLAIN parquet clustered by cell (`cell` stays a
    * data column): range partitions sorted by cell, their count sized
    * from the data by AQE (a few hundred rows make one file, not a
    * fixed count of nearly empty ones), so each cell's rows are
    * contiguous in one file and row-group min/max stats still skip by
    * cell — without the directory-per-cell layout whose listing/open
    * overhead at fine levels (thousands of ~KB files) costs more than
    * it saves. This is the right layout when
    * `cell` is consumed as an equi-JOIN key (margin-cache cross-match,
    * IVF buckets): the join hashes on the column and never needs
    * directories. */
  def writeClustered(df: DataFrame, lonCol: String, latCol: String,
                     level: Int, path: String,
                     margin: Option[Double] = None,
                     mode: SaveMode = SaveMode.Overwrite): Unit = {
    requireAppendCompatible(df.sparkSession, path, lonCol, latCol, level,
      mode, margin)
    withCellColumns(df, lonCol, latCol, level, margin)
      .repartitionByRange(col("cell"))
      .sortWithinPartitions(col("cell"), col(latCol), col(lonCol))
      .write.mode(mode)
      .parquet(path)
    writeSpatialMeta(df.sparkSession, path, lonCol, latCol, level)
    margin.foreach(m => writeMarginMeta(df.sparkSession, path, m, level))
  }

  /** Footprint read of a [[write]] layout: only the `cell=`
    * directories of `cells`, margin replicas included. The layout root
    * is listed ONCE on the driver and only the requested directories
    * that exist are handed to the reader (`basePath` keeps `cell` a
    * partition column). A read of the root would list EVERY cell
    * directory first — past Spark's parallel-discovery threshold (32
    * paths) as a job with one task per directory — and report every
    * file in `inputFiles`, just to keep the few the bound touches.
    * The `cell IN (…)` filter stays, so the plan still shows
    * `PartitionFilters`, and an empty selection reads one existing
    * directory through it for the schema. */
  def readCells(spark: org.apache.spark.sql.SparkSession, path: String,
                cells: Seq[Long]): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(root).toSeq.filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(_.getPath)
    val wanted = cells.map(c => s"cell=$c").toSet
    val picked = dirs.filter(d => wanted(d.getName))
    val scan =
      if (dirs.isEmpty) spark.read.parquet(path)
      else spark.read.option("basePath", path)
        .parquet((if (picked.isEmpty) dirs.take(1) else picked)
          .map(_.toString): _*)
    scan.filter(col("cell").isin(cells: _*))
  }

  /** Read back a cell-partitioned catalog, excluding margin replicas
    * (the default reader view). */
  def readPrimary(spark: org.apache.spark.sql.SparkSession,
                  path: String): DataFrame =
    spark.read.parquet(path).filter(!col("is_margin"))

  /** Read including margin replicas — the probe-side view for
    * cell-local spatial joins. */
  def readWithMargins(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame =
    spark.read.parquet(path)
}
