package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import graft.sources.{ParquetRead, Snapshots}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Streaming SOURCE over the [[graft.sources.Snapshots]] layout — the
  * read half of the snapshot⇄stream bridge (StreamOps.snapshotSink is
  * the write half). `spark.readStream.format("graft.streaming
  * .SnapshotSource").option("path", dir).load()` tails the table's
  * COMMIT LOG: each micro-batch is a committed-snapshot id range, its
  * rows exactly `Snapshots.readDelta(after, upTo)` — so a torn or
  * in-flight `snap=` directory is invisible (only the log defines
  * progress), unlike a naive file-glob stream which would ingest
  * uncommitted bytes.
  *
  * Offsets ARE snapshot ids, checkpointed by Structured Streaming:
  * after a restart the next batch resumes from the last committed id,
  * giving exactly-once delivery of every append. Compaction bases are
  * handled by the append-only streaming rule: a base REWRITES already-
  * delivered history, so an incremental batch skips base directories;
  * only a cold start (offset 0) on a compacted table reads the last
  * base as its initial load. Retention is ENFORCED, not just
  * documented: if `vacuum` outruns the slowest stream's checkpoint,
  * the next batch fails loudly ("vacuumed past stream checkpoint")
  * instead of silently skipping the vacuumed appends; recovery is a
  * fresh checkpoint, whose cold start delivers the current table
  * state.
  *
  * Scale shape: planning is a commit-log read (driver, O(entries));
  * each batch's tasks are one-per-parquet-file of the delta
  * directories, decoded by Spark's OWN vectorized parquet reader
  * (shim-reused, not hand-rolled) — so a 100 TB table streams at the
  * cost of its nightly delta, never a full scan.
  */
class SnapshotSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotSource.schemaOf(SparkSession.active,
      SnapshotSource.pathOf(options.asScala.toMap))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SnapshotTable(SnapshotSource.pathOf(properties.asScala.toMap), schema)
}

object SnapshotSource {
  private[streaming] def pathOf(opts: Map[String, String]): String =
    opts.getOrElse("path", throw new IllegalArgumentException(
      "SnapshotSource needs .option(\"path\", <snapshot table dir>)"))

  /** Schema = the head snapshot's parquet schema (later snapshots may
    * add columns; absent ones read as NULL, the Snapshots contract). */
  private[streaming] def schemaOf(spark: SparkSession, path: String)
      : StructType = {
    val es = Snapshots.entries(spark, path)
    require(es.nonEmpty,
      s"SnapshotSource: no committed snapshots at $path (need >= 1 " +
        "commit to infer the schema)")
    ParquetRead.schema(spark, s"$path/snap=${es.last.id}")
  }

  /** Convenience: the streaming frame for a snapshot table. */
  def readStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.format(classOf[SnapshotSource].getName)
      .option("path", path).load()
}

private[streaming] class SnapshotTable(path: String, tschema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft.snapshots(`$path`)"
  override def schema(): StructType = tschema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () => new Scan {
    override def readSchema(): StructType = tschema
    override def toMicroBatchStream(checkpointLocation: String)
        : MicroBatchStream =
      new SnapshotMicroBatchStream(path, tschema)
  }
}

/** Offset = last delivered committed snapshot id (0 = nothing yet). */
private[streaming] case class SnapshotOffset(id: Long) extends Offset {
  override def json: String = id.toString
}

private[streaming] class SnapshotMicroBatchStream(path: String,
    schema: StructType) extends MicroBatchStream {
  private def spark = SparkSession.active

  override def initialOffset(): Offset = SnapshotOffset(0L)
  override def deserializeOffset(json: String): Offset =
    SnapshotOffset(json.trim.toLong)
  override def latestOffset(): Offset =
    SnapshotOffset(Snapshots.head(spark, path).getOrElse(0L))
  override def commit(end: Offset): Unit = () // checkpoint is the truth
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[SnapshotOffset].id
    val e = end.asInstanceOf[SnapshotOffset].id
    val all = Snapshots.entries(spark, path)
    // Retention guard: snapshot ids are DENSE (each commit is
    // prior+1), so a resuming stream (s > 0) requires every entry
    // after s to still be in the log. If vacuum ran past this
    // stream's checkpoint, the retained log starts at a later base
    // and the appends in between are physically gone; the pre-guard
    // behavior silently SKIPPED them (the incremental path drops base
    // entries, and the folded-in appends with it). Data loss must be
    // loud, and actionable.
    if (s > 0 && all.nonEmpty && all.head.id > s + 1)
      throw new IllegalStateException(
        s"SnapshotSource at $path: vacuumed past stream checkpoint — " +
          s"resume offset snap=$s, but the earliest retained commit is " +
          s"snap=${all.head.id}; appends in (${s}, ${all.head.id}) were " +
          "deleted by vacuum and cannot be replayed. Restart with a " +
          "FRESH checkpoint (a cold start delivers the current table " +
          "state from the last base), and keep vacuum behind the " +
          "slowest stream's checkpoint.")
    val inRange = all.filter(x => x.id > s && x.id <= e)
    val lastBase = inRange.lastIndexWhere(_.isBase)
    val chosen =
      if (s == 0L && lastBase >= 0) inRange.drop(lastBase) // initial load
      else inRange.filterNot(_.isBase) // bases = already-delivered rows
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    chosen.flatMap { entry =>
      fs.globStatus(new Path(s"$path/snap=${entry.id}", "*.parquet"))
        .toSeq.map(st => SnapshotInputPartition(
          st.getPath.toString, st.getLen): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotReaderFactory(GraftShims.parquetRowReader(spark, schema))
}

private[streaming] case class SnapshotInputPartition(file: String,
    length: Long) extends InputPartition

/** Wraps Spark's own serialized parquet-reader closure; flattens the
  * vectorized reader's ColumnarBatch output into (copied) rows — the
  * batch's buffers are recycled, so rows must not escape uncopied. */
private[streaming] class SnapshotReaderFactory(
    reader: PartitionedFile => Iterator[InternalRow])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SnapshotInputPartition]
    val raw = reader(GraftShims.wholeFile(p.file, p.length))
    val rows: Iterator[InternalRow] =
      raw.asInstanceOf[Iterator[Any]].flatMap {
        case b: ColumnarBatch => b.rowIterator().asScala.map(_.copy())
        case r: InternalRow => Iterator.single(r)
      }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { cur = rows.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
