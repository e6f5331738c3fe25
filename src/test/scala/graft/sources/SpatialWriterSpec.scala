package graft.sources

import graft.SpecBase
import graft.spatial.SkyPix
import org.apache.spark.sql.functions._

import java.nio.file.Files

class SpatialWriterSpec extends SpecBase {
  import spark.implicits._

  private lazy val cat = (0L until 2000L).map { i =>
    val rnd = new scala.util.Random(i)
    (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1)))
  }.toDF("obj_id", "lon", "lat")

  test("partitioned write round-trips and prunes by cell") {
    val path = Files.createTempDirectory("graft_sw").toString + "/cat"
    SpatialWriter.write(cat, "lon", "lat", level = 3, path = path)
    val back = SpatialWriter.readPrimary(spark, path)
    assert(back.count() == 2000)
    // partition pruning: a single-cell filter must scan one directory
    val one = back.filter(col("cell") ===
      SkyPix.cellId(10.0, 10.0, 3)).queryExecution.executedPlan.toString
    assert(one.contains("PartitionFilters") || one.contains("partitionFilters"))
    // directory layout is cell=<id>
    val dirs = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("cell="))
    assert(dirs.nonEmpty && dirs.length <= 64)
  }

  test("partitioned write: one file per cell, rows sorted by (lat, lon)") {
    val path = Files.createTempDirectory("graft_swo").toString + "/cat"
    SpatialWriter.write(cat, "lon", "lat", level = 3, path = path,
      margin = Some(0.5))
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(dirs.length > 4)
    dirs.foreach(d => assert(
      d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
      s"${d.getName} must hold exactly one data file"))
    val bad = SortedFiles.unsorted(spark, path, col("lat"), col("lon"))
    assert(bad.isEmpty, s"${bad.length} of ${dirs.length} cell files " +
      s"not sorted by (lat, lon):\n${bad.take(5).mkString("\n")}")
  }

  test("margin replication: primaries unique, margins flagged, probe view complete") {
    val path = Files.createTempDirectory("graft_swm").toString + "/cat"
    SpatialWriter.write(cat, "lon", "lat", level = 3, path = path,
      margin = Some(0.5))
    val primary = SpatialWriter.readPrimary(spark, path)
    val all = SpatialWriter.readWithMargins(spark, path)
    assert(primary.count() == 2000)          // each row once as primary
    assert(all.count() > primary.count())    // replicas exist
    // each primary row sits in its home cell
    val misplaced = primary.filter(
      SkyPix.cell(col("lon"), col("lat"), 3) =!= col("cell")).count()
    assert(misplaced == 0)
    // every replica's cell is one of its row's 9 neighbor cells
    val badReplica = all.filter(col("is_margin"))
      .filter(!array_contains(
        SkyPix.neighborCells(col("lon"), col("lat"), 3), col("cell"))).count()
    assert(badReplica == 0)
  }

  test("margin replicas are pruned to the boundary strip, not 8x") {
    val path = Files.createTempDirectory("graft_sws").toString + "/cat"
    SpatialWriter.write(cat, "lon", "lat", level = 3, path = path,
      margin = Some(0.5))
    val all = SpatialWriter.readWithMargins(spark, path)
    val replicas = all.filter(col("is_margin")).count()
    // flat 9-cell replication would emit ~8 replicas/row (minus polar
    // clamps); a 0.5-deg strip of a level-3 (45-deg-wide) cell covers a
    // few percent of its area — assert well under 30% replica fraction
    assert(replicas > 0, "strip must still produce some replicas")
    assert(replicas < 2000 * 0.30,
      s"strip pruning ineffective: $replicas replicas for 2000 rows")
    // strip soundness: every replica really is within margin of the
    // replica cell it was copied into (great-circle distance from the
    // row to SOME point of that cell <= margin is implied by the
    // boundary tests; here we check the inverse guard — no replica may
    // sit farther than margin from its cell in BOTH axes' lower bounds)
    val m = 0.5
    val inStrip = all.filter(col("is_margin"))
      .filter(array_contains(
        SkyPix.neighborCellsWithin(col("lon"), col("lat"), 3, m), col("cell")))
      .count()
    assert(inStrip == replicas)
  }

  test("append with mismatched spatial metadata refuses before writing") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_sw_append").toString + "/t.parquet"
    val cat = (0L until 100L).map(i => (i, i * 3.6 % 360, 0.0))
      .toDF("id", "lon", "lat")
    SpatialWriter.write(cat, "lon", "lat", level = 4, path)
    // same metadata appends fine
    SpatialWriter.write(cat, "lon", "lat", level = 4, path,
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(SpatialWriter.readPrimary(spark, path).count() == 200)
    // a DIFFERENT level must refuse (mixed cell keys would make
    // bounded reads silently drop rows) — and refuse BEFORE any data
    // lands, so the row count is unchanged
    val e = intercept[IllegalArgumentException] {
      SpatialWriter.write(cat, "lon", "lat", level = 6, path,
        mode = org.apache.spark.sql.SaveMode.Append)
    }
    assert(e.getMessage.contains("level=6") &&
      e.getMessage.contains("level=4"))
    assert(SpatialWriter.readPrimary(spark, path).count() == 200)
    // sidecar still records the original level
    assert(SpatialWriter.spatialMeta(spark, path)
      .contains(("lon", "lat", 4)))
  }

  test("append with mismatched MARGIN refuses before writing") {
    // the margin sidecar must describe EVERY row (the QL margin route
    // and the streaming xmatch trust it for the whole layout, r19):
    // appending margin-less rows to a margin layout — or with a
    // different marginDeg — would leave cross-cell pairs of the
    // appended rows silently dropped by a margin-routed join
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_sw_mappend").toString + "/t.parquet"
    val cat = (0L until 100L).map(i => (i, i * 3.6 % 360, 0.0))
      .toDF("id", "lon", "lat")
    SpatialWriter.write(cat, "lon", "lat", level = 4, path,
      margin = Some(0.1))
    // same margin appends fine
    SpatialWriter.write(cat, "lon", "lat", level = 4, path,
      margin = Some(0.1), mode = org.apache.spark.sql.SaveMode.Append)
    assert(SpatialWriter.readPrimary(spark, path).count() == 200)
    // margin-less append to a margin layout refuses
    val e1 = intercept[IllegalArgumentException] {
      SpatialWriter.write(cat, "lon", "lat", level = 4, path,
        mode = org.apache.spark.sql.SaveMode.Append)
    }
    assert(e1.getMessage.contains("margin"))
    // different-margin append refuses too
    val e2 = intercept[IllegalArgumentException] {
      SpatialWriter.write(cat, "lon", "lat", level = 4, path,
        margin = Some(0.2), mode = org.apache.spark.sql.SaveMode.Append)
    }
    assert(e2.getMessage.contains("0.2") && e2.getMessage.contains("0.1"))
    assert(SpatialWriter.readPrimary(spark, path).count() == 200)
    // the inverse: margined append to a MARGIN-LESS layout refuses
    val plain = java.nio.file.Files
      .createTempDirectory("graft_sw_mappend2").toString + "/t.parquet"
    SpatialWriter.write(cat, "lon", "lat", level = 4, plain)
    intercept[IllegalArgumentException] {
      SpatialWriter.write(cat, "lon", "lat", level = 4, plain,
        margin = Some(0.1), mode = org.apache.spark.sql.SaveMode.Append)
    }
  }

  test("clustered write: plain parquet, no cell dirs, bounded file count") {
    val path = Files.createTempDirectory("graft_swc").toString + "/cat"
    SpatialWriter.writeClustered(cat, "lon", "lat", level = 6, path = path,
      margin = Some(0.2))
    // no directory-per-cell: the layout is flat files
    val entries = new java.io.File(path).listFiles()
    assert(!entries.exists(f => f.isDirectory && f.getName.startsWith("cell=")),
      "clustered layout must not produce cell= directories")
    val parts = entries.count(_.getName.endsWith(".parquet"))
    val bound = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(parts <= bound, s"expected <= $bound data files, got $parts")
    // cell survives as a data column, primaries round-trip completely
    val back = SpatialWriter.readPrimary(spark, path)
    assert(back.columns.contains("cell"))
    assert(back.count() == 2000)
    val misplaced = back.filter(
      SkyPix.cell(col("lon"), col("lat"), 6) =!= col("cell")).count()
    assert(misplaced == 0)
  }
}

/** Data files of a parquet layout whose rows, in file order, are not
  * ascending in `keys` (each key must evaluate to a double). */
object SortedFiles {
  def unsorted(spark: org.apache.spark.sql.SparkSession, path: String,
               keys: org.apache.spark.sql.Column*): Seq[String] = {
    val rows = spark.read.parquet(path)
      .select(col("_metadata.file_path") +: col("_metadata.row_index") +:
        keys.map(_.cast("double")): _*)
      .collect()
    def le(a: org.apache.spark.sql.Row,
           b: org.apache.spark.sql.Row): Boolean =
      (2 until a.length).map(i => a.getDouble(i).compare(b.getDouble(i)))
        .find(_ != 0).forall(_ < 0)
    rows.groupBy(_.getString(0)).toSeq.collect {
      case (file, rs) if !rs.sortBy(_.getLong(1)).sliding(2)
        .forall(p => p.length < 2 || le(p(0), p(1))) => file
    }.sorted
  }
}
