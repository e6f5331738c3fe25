package graft.sources

import graft.{LsdDb, SpecBase}
import graft.streaming.SnapshotSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** `ParquetRead` gives the DataFrame `spark.read.parquet` gives — same
  * schema, same rows — without the schema-inference job. */
class ParquetReadSpec extends SpecBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(s"graft_pr_$prefix").toString

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** `read` equals `want` in schema and rows, and building it starts
    * no job. */
  private def assertLike(read: => DataFrame, want: DataFrame): Unit = {
    val (got, jobs) = jobsDuring(read)
    assert(jobs.isEmpty, s"building the read ran ${jobs.size} job(s): $jobs")
    assert(got.schema == want.schema,
      s"\n got ${got.schema.treeString}\nwant ${want.schema.treeString}")
    assert(sameRows(got, want))
  }

  /** [[assertLike]] against `spark.read.parquet(paths: _*)`. */
  private def assertLikeSpark(read: => DataFrame, paths: String*): Unit =
    assertLike(read, spark.read.parquet(paths: _*))

  for (t <- LsdDb.standardTables)
    test(s"standard table $t") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val p = s"$sfDir/$t.parquet"
      assertLikeSpark(ParquetRead(spark, p), p)
    }

  test("the converter reads the live conf: nanosAsLong set before the read") {
    // one nanosecond timestamp, which Spark reads only as a raw Long
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val p = s"${tmp("ns")}/t.parquet"
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(
      s"$p/part-0.parquet")).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L))
    finally w.close()
    def outcome(read: => DataFrame): Either[String, String] =
      try Right(read.schema.simpleString)
      catch { case scala.util.control.NonFatal(e) => Left(e.getClass.getName) }
    try {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      assert(outcome(ParquetRead(spark, p)) == outcome(spark.read.parquet(p)))
    } finally spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assertLikeSpark(ParquetRead(spark, p), p)
    assert(outcome(ParquetRead(spark, p)) == Right("struct<ts:bigint>"))
  }

  /** 2000 rows over the whole sky: a level-2 layout has at most 16
    * cell directories, under Spark's 32-path parallel-listing bar. */
  private lazy val sky: DataFrame = {
    val rnd = new scala.util.Random(11)
    (0L until 2000L).map(i => (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))))
      .toDF("obj_id", "lon", "lat")
  }

  test("SpatialWriter margin layout, and its readCells footprint read") {
    val p = s"${tmp("sky")}/sky.parquet"
    SpatialWriter.write(sky, "lon", "lat", level = 2, path = p,
      margin = Some(1.0))
    assertLikeSpark(ParquetRead(spark, p), p)
    val cells = new java.io.File(p).listFiles().map(_.getName)
      .filter(_.startsWith("cell=")).sorted.take(3).toSeq
    val dirs = cells.map(c => s"$p/$c")
    val want = spark.read.option("basePath", p).parquet(dirs: _*)
    assertLike(
      ParquetRead.reader(spark, dirs).option("basePath", p).parquet(dirs: _*),
      want)
    assertLike(SpatialWriter.readCells(spark, p,
      cells.map(_.stripPrefix("cell=").toLong)), want)
  }

  test("TimeWriter bucket layout") {
    val p = s"${tmp("time")}/orders.parquet"
    TimeWriter.write(LsdDb.table(spark, sfDir, "orders"), "o_orderdate",
      "year", p)
    assertLikeSpark(ParquetRead(spark, p), p)
  }

  test("snapshot table: multi-directory reads, then compact") {
    val p = s"${tmp("snap")}/t.parquet"
    val orders = LsdDb.table(spark, sfDir, "orders")
    Snapshots.append(orders.filter(col("o_orderkey") % 2 === 0), p,
      statsCols = Seq("o_totalprice"), bloomCols = Seq("o_custkey"))
    Snapshots.append(orders.filter(col("o_orderkey") % 2 === 1), p,
      statsCols = Seq("o_totalprice"), bloomCols = Seq("o_custkey"))
    assertLikeSpark(Snapshots.read(spark, p), s"$p/snap=1", s"$p/snap=2")
    val base = Snapshots.compact(spark, p)
    assertLikeSpark(Snapshots.read(spark, p), s"$p/snap=$base")
    assert(sameRows(Snapshots.read(spark, p), orders))
    // the compacted base keeps both pruning channels
    assert(Snapshots.entries(spark, p).last.stats.contains("o_totalprice"))
    assert(Snapshots.entries(spark, p).last.blooms.contains("o_custkey"))
  }

  test("directories of differing schemas: the schema of Spark's first file") {
    val p = s"${tmp("wide")}/t.parquet"
    for ((id, df) <- Seq(
        2L -> Seq((1L, "a")).toDF("k", "s"),
        10L -> Seq(2L).toDF("k"),
        1L -> Seq((3L, 4.5)).toDF("k", "d")))
      df.write.parquet(s"$p/snap=$id")
    for (ids <- Seq(Seq(2L, 10L), Seq(10L, 2L), Seq(2L, 10L, 1L))) {
      val dirs = ids.map(i => s"$p/snap=$i")
      assertLikeSpark(ParquetRead(spark, dirs: _*), dirs: _*)
    }
  }

  test("SnapshotSource schema is the head snapshot's") {
    val p = s"${tmp("src")}/t.parquet"
    Snapshots.append(Seq((1L, "a")).toDF("k", "s"), p)
    Snapshots.append(Seq((2L, "b", 0.5)).toDF("k", "s", "x"), p)
    val (stream, jobs) = jobsDuring(SnapshotSource.readStream(spark, p))
    assert(jobs.isEmpty, s"opening the stream ran ${jobs.size} job(s): $jobs")
    assert(stream.schema == spark.read.parquet(s"$p/snap=2").schema)
  }

  test("an empty directory fails as spark.read.parquet fails") {
    val p = tmp("empty")
    val want = intercept[Exception](spark.read.parquet(p))
    val got = intercept[Exception](ParquetRead(spark, p))
    assert(got.getClass == want.getClass)
    assert(got.getMessage == want.getMessage)
    val missing = s"$p/absent"
    assert(intercept[Exception](ParquetRead(spark, missing)).getClass ==
      intercept[Exception](spark.read.parquet(missing)).getClass)
  }
}
