/* Shim into Spark's private[sql] surface: Column <-> Expression
 * bridging for custom Catalyst expressions. Kept to the two minimal
 * conversions; everything else in graft uses only public API. */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a custom Expression as a SQL function on an EXISTING
    * session (SparkSessionExtensions only applies at session build —
    * this reaches the live FunctionRegistry instead, so `spark.sql`
    * can call codegen'd expressions like dot_fold). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Spark's own parquet-file row reader as a serializable closure —
    * the same `buildReaderWithPartitionValues` product every built-in
    * file scan ships to its tasks, reused by graft's DataSource-V2
    * snapshot stream so a custom source never hand-rolls a parquet
    * decoder. Built on the driver, executed executor-side. */
  def parquetRowReader(spark: SparkSession, schema: types.StructType)
      : execution.datasources.PartitionedFile =>
        Iterator[catalyst.InternalRow] =
    new execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(spark, schema,
        new types.StructType(), schema, Nil,
        // rows, not ColumnarBatch: the V2 PartitionReader surface here
        // is row-based (the vectorized reader still runs underneath)
        Map(execution.datasources.FileFormat.OPTION_RETURNING_BATCH
          -> "false"),
        spark.sessionState.newHadoopConf())

  /** The Spark schema of one parquet file, read from its footer on
    * the driver (row groups skipped) and converted exactly as Spark's
    * own schema inference converts the footer it opens in a one-task
    * job (`ParquetFileFormat.mergeSchemasInParallel`): the Spark
    * schema stored in the footer when present, else the parquet
    * schema through a converter built from the LIVE session conf —
    * so `spark.sql.legacy.parquet.nanosAsLong` set before the call
    * still reads nanosecond timestamps as Long. */
  def parquetFileSchema(spark: SparkSession,
                        file: org.apache.hadoop.fs.FileStatus)
      : types.StructType = {
    import execution.datasources.parquet.{ParquetFileFormat,
      ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    val meta = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file,
        spark.sessionState.newHadoopConf()),
      org.apache.parquet.format.converter.ParquetMetadataConverter
        .SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          conf.parquetReaderRespectUnknownTypeAnnotation))
  }

  /** Rebuild a DataFrame as a bare LogicalRDD over its own physical
    * RDD, WITHOUT origin statistics/constraints. Spark 4's
    * Dataset.(local)checkpoint copies the origin plan's COMPUTED
    * sizeInBytes into the checkpoint's LogicalRDD
    * (LogicalRDD.fromDataset → rewriteStatsAndConstraints, ExistingRDD
    * .scala:263); in an iterative algorithm each round's join stats
    * are the PRODUCT of the previous round's inherited BigInts, so
    * digit counts compound ~4× per round until
    * SizeInBytesOnlyStatsPlanVisitor's `children.map(sizeInBytes)
    * .product` — pure driver-side BigInteger.multiply — dominates
    * wall-clock (observed: minutes per localCheckpoint by round ~10,
    * jstack showed Toom-Cook-3 multiplies on ~100k-digit operands).
    * Re-wrapping the checkpointed RDD with default leaf stats resets
    * the recursion; the RDD itself (and its materialized blocks) is
    * reused as-is. */
  def resetStats(df: DataFrame): DataFrame = {
    val cds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = cds.sparkSession
    classic.Dataset.ofRows(spark,
      execution.LogicalRDD(cds.queryExecution.analyzed.output,
        cds.queryExecution.toRdd)(spark))
  }

  /** Float/double canonicalization (-0.0 → 0.0, canonical NaN) for
    * grouping expressions of custom physical operators — the same
    * rewrite NormalizeFloatingNumbers applies to built-in Aggregate/
    * Window/Join keys (it is private[sql], hence this shim). */
  def normalizeFloats(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** DataFrame from a custom LogicalPlan (Dataset.ofRows is
    * private[sql]) — the entry point for custom logical operators
    * planned by an extraStrategies strategy. */
  def ofRows(spark: SparkSession,
             plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (resolved attributes —
    * what a custom logical node needs as its child). */
  def analyzed(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Minimal whole-file PartitionedFile (no partition values). */
  def wholeFile(path: String, length: Long)
      : execution.datasources.PartitionedFile =
    execution.datasources.PartitionedFile(
      catalyst.InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(path), 0L, length,
      Array.empty, 0L, length, Map.empty)

  /** Block until every event posted so far has reached the listeners
    * (the listener bus delivers asynchronously). */
  def waitForListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
