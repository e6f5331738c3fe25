package graft.sources

import graft.{LsdDb, SpecBase}
import graft.spatial.{Bounds, SkyPix}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Footprint reads of a cell layout (`SpatialWriter.readCells`,
  * `LsdDb.tableFootprint`) list and open only the requested cells. */
class FootprintReadSpec extends SpecBase {
  import spark.implicits._

  /** Db root holding `cat`: 2000 rows over the whole sky in a level-3
    * margin layout, so nearly all 64 cells have a directory. */
  private lazy val root: String = {
    val rnd = new scala.util.Random(7)
    val cat = (0L until 2000L).map(i => (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))))
      .toDF("obj_id", "lon", "lat")
    val dir = Files.createTempDirectory("graft_fp").toString
    SpatialWriter.write(cat, "lon", "lat", level = 3,
      path = s"$dir/cat.parquet", margin = Some(0.5))
    dir
  }
  private def layout: String = s"$root/cat.parquet"

  private def cellDirs(path: String): Seq[Long] =
    new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("cell=")).map(_.stripPrefix("cell=").toLong)
      .toSeq.sorted

  /** A cell id with no directory: the layout is level 3. */
  private val missingCell = SkyPix.cellId(0.0, 0.0, 5)

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** File-listing jobs `body` starts (Spark names them "Listing leaf
    * files and directories for N paths"). */
  private def listingJobsDuring(body: => Unit): Int =
    jobsDuring(body)._2.count(_.startsWith("Listing leaf files"))

  test("footprint read rows equal the full scan filtered to the cells") {
    val full = spark.read.parquet(layout)
    val cells = cellDirs(layout).take(3) :+ missingCell
    assert(sameRows(SpatialWriter.readCells(spark, layout, cells),
      full.filter(col("cell").isin(cells: _*))))
    // no requested cell has a directory: empty, with the layout schema
    val none = SpatialWriter.readCells(spark, layout, Seq(missingCell))
    assert(none.schema == full.schema)
    assert(none.isEmpty)
    assert(SpatialWriter.readCells(spark, layout, Nil).isEmpty)
  }

  test("footprint read lists and opens only the requested cells") {
    val all = cellDirs(layout)
    assert(all.length > 32, s"layout has only ${all.length} cell dirs")
    val cells = all.take(4) :+ missingCell
    // the control: a read of the root lists every cell dir in a job
    assert(listingJobsDuring(spark.read.parquet(layout)) >= 1)
    assert(listingJobsDuring(SpatialWriter.readCells(spark, layout,
      cells)) == 0)
    val files = SpatialWriter.readCells(spark, layout, cells).inputFiles
    assert(files.nonEmpty)
    assert(files.forall(f => cells.exists(c => f.contains(s"/cell=$c/"))),
      s"files outside cells $cells:\n${files.mkString("\n")}")
  }

  test("tableFootprint lists no directories, rows as the full table") {
    val db = LsdDb(spark, root)
    val cells = cellDirs(layout).take(5) :+ missingCell
    assert(listingJobsDuring(db.tableFootprint("cat", cells)) == 0)
    assert(sameRows(db.tableFootprint("cat", cells),
      db.table("cat").filter(
        SkyPix.cell(col("lon"), col("lat"), 3).isin(cells: _*))))
  }

  test("q_ql_bounds opens only the cells its cone bound touches") {
    val root = graft.operators.Joins.ensureQlBoundsDb(spark, sfDir)
    val level = LsdDb(spark, root).spatialMeta("customer_sky").get._3
    val cells = Bounds.Cone(42.1234, 7.6543, 8.1234).cells(level)
    val files = graft.operators.Joins.qQlBounds.fn(spark, sfDir).inputFiles
    assert(files.nonEmpty)
    assert(files.forall(f => cells.exists(c => f.contains(s"/cell=$c/"))),
      s"q_ql_bounds read files outside its ${cells.length} cells:\n" +
        files.mkString("\n"))
  }
}
