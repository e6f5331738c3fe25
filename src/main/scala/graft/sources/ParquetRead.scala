package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameReader, GraftShims, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine's one read path for its own parquet datasets: opening a
  * table touches only metadata on the driver.
  *
  * A plain `spark.read.parquet(p)` infers the schema in a one-task
  * Spark job that opens one footer (~100 ms of driver wall per open on
  * a 4-vCPU VM, about half of it the job). Here the driver finds the
  * same file Spark's inference would open, reads its footer itself
  * (1–2 ms) and hands the schema to `spark.read.schema(s)`:
  *   1. **One data file.** The least leaf in full-path order under
  *      `paths` — the file Spark's non-merging inference picks — found
  *      by listing only the directories on the way to it (`cell=`,
  *      `t_bucket=`, `snap=` …), with names Spark's file index hides
  *      (`_*` without `=`, `.*`, `*._COPYING_`) skipped.
  *   2. **Its schema**, converted as Spark converts it
  *      ([[GraftShims.parquetFileSchema]]).
  *   3. **Spark does the rest.** Partition columns are not in the
  *      footer; Spark still infers them from the directory names.
  *   4. **Nothing to read** (missing or empty path, unreadable footer,
  *      a parquet summary file, which Spark's inference prefers) falls
  *      back to plain `spark.read.parquet`, so any error is Spark's own.
  *
  * No cache: a footer read costs less than keeping a schema catalog
  * valid, and is never stale. Reads that need every footer
  * (`mergeSchema`) stay on `spark.read`.
  */
object ParquetRead {

  /** `spark.read.parquet(paths: _*)` without the inference job. */
  def apply(spark: SparkSession, paths: String*): DataFrame =
    reader(spark, paths).parquet(paths: _*)

  /** A reader with the schema of `paths` set, for callers that add
    * options which do not change the files read (e.g. `basePath`),
    * then call `.parquet(paths: _*)`. */
  def reader(spark: SparkSession, paths: Seq[String]): DataFrameReader =
    footerSchema(spark, paths).fold(spark.read)(spark.read.schema(_))

  /** The schema `spark.read.parquet(paths: _*)` would give. */
  def schema(spark: SparkSession, paths: String*): StructType =
    apply(spark, paths: _*).schema

  private val SummaryFiles = Set("_metadata", "_common_metadata")

  /** Spark's file-index rule (`HadoopFSUtils.shouldFilterOutPathName`),
    * summary files aside. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")

  private def footerSchema(spark: SparkSession,
                           paths: Seq[String]): Option[StructType] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val leaves = paths.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        leastLeaf(fs, fs.getFileStatus(path), root = true)
      }
      if (leaves.exists(l => SummaryFiles(l.getPath.getName))) None
      else leaves.minByOption(_.getPath.toString)
        .map(GraftShims.parquetFileSchema(spark, _))
    } catch { case NonFatal(_) => None }

  /** The least visible leaf under `st` in full-path string order (the
    * order Spark sorts leaves in), or a summary file met on the way.
    * A child directory sorts as `name/`, which orders siblings exactly
    * as the paths of the files under them order. */
  private def leastLeaf(fs: FileSystem, st: FileStatus,
                        root: Boolean = false): Option[FileStatus] =
    if (!st.isDirectory)
      if (root && hidden(st.getPath.getName)) None else Some(st)
    else {
      val kids = fs.listStatus(st.getPath)
      kids.find(k => SummaryFiles(k.getPath.getName)).orElse(
        kids.filterNot(k => hidden(k.getPath.getName))
          .sortBy(k => k.getPath.getName + (if (k.isDirectory) "/" else ""))
          .iterator.flatMap(leastLeaf(fs, _)).nextOption())
    }
}
