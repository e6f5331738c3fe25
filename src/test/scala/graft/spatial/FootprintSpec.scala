package graft.spatial

import graft.SpecBase
import graft.sources.SpatialWriter
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.util.Random

class FootprintSpec extends SpecBase {
  import spark.implicits._

  private val rnd = new Random(9)
  private lazy val cat = (0L until 5000L).map { i =>
    (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1)))
  }.toDF("obj_id", "lon", "lat")

  test("cone predicate matches haversine membership") {
    val inside = cat.filter(Footprint.cone(col("lon"), col("lat"),
      120.0, 30.0, 10.0))
    val check = inside.withColumn("d",
      CrossMatch.distDeg(col("lon"), col("lat"), lit(120.0), lit(30.0)))
    assert(inside.count() > 0)
    assert(check.filter(col("d") > 10.0).count() == 0)
  }

  test("rect handles lon wraparound") {
    val wrapped = cat.filter(Footprint.rect(col("lon"), col("lat"),
      350, 10, -20, 20))
    assert(wrapped.count() > 0)
    assert(wrapped.filter(col("lon") > 10 && col("lon") < 350).count() == 0)
  }

  test("rect keeps rows sitting exactly on an in-range lon bound") {
    // normalising a bound by adding 360 rounds away its low bits (0.1
    // became 0.10000000000002274), which dropped the row at lon = 0.1
    val rows = Seq((1L, 0.1, 0.0), (2L, 5.0, 0.5), (3L, 10.1, -0.5))
    val kept = rows.toDF("id", "lon", "lat")
      .filter(Footprint.rect(col("lon"), col("lat"), 0.1, 10.1, -1, 1))
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L))
    for (level <- 0 to 12; (_, lon, lat) <- rows)
      assert(Footprint.rectCells(0.1, 10.1, -1, 1, level)
        .contains(SkyPix.cellId(lon, lat, level)),
        s"level $level: cell of ($lon, $lat) missing")
  }

  test("rectCells: a nearly-full wrap emits each cell once (a set)") {
    // review r20: lonMin=10.1 > lonMax=9.9 at level 0 emitted column 0
    // twice from the two wrap arms — harmless for isin pruning, wrong
    // for anyone counting coverage
    val cells = Footprint.rectCells(10.1, 9.9, -5.0, 5.0, 0)
    assert(cells == cells.distinct, s"duplicate cells: $cells")
    val lvl2 = Footprint.rectCells(10.1, 9.9, -5.0, 5.0, 2)
    assert(lvl2 == lvl2.distinct && lvl2.nonEmpty)
  }

  test("full-circle lon span means the whole ring, not an empty one") {
    // lonMin=0, lonMax=360 used to mod-collapse to a single cell
    // column / zero area; it must mean "all longitudes".
    val level = 4; val n = 1L << level
    val band = Footprint.rectCells(0.0, 360.0, -10.0, 10.0, level)
    def unIx(cell: Long): Long = { // de-interleave the even Morton bits
      var ix = 0L
      for (b <- 0 until level) ix |= ((cell >> (2 * b)) & 1L) << b
      ix
    }
    val ixs = band.map(unIx).distinct
    assert(ixs.size == n, s"expected all $n lon columns, got ${ixs.size}")
    val area = Footprint.rectAreaDeg2(0.0, 360.0, -90.0, 90.0)
    assert(math.abs(area - 360.0 * 360.0 / math.Pi) < 1e-6,
      s"full sphere expected, got $area")
    // the predicate too: everything is inside a full-ring rect
    assert(cat.filter(Footprint.rect(col("lon"), col("lat"),
      0, 360, -90, 90)).count() == cat.count())
  }

  // cover centres on the lon wrap edge: -0, the largest double below
  // 360, and whole turns
  private val wrapEdges = Seq(-0.0, 359.99999999999994, 360.0, 720.0, -360.0)

  test("coneCells is a superset of the cells of matching points") {
    for ((lon0, lat0, r) <- Seq((120.0, 30.0, 5.0), (0.5, -45.0, 2.0),
      (359.0, 88.0, 3.0), (180.0, -89.5, 1.0)) ++
      wrapEdges.zipWithIndex.map { case (lon, i) => (lon, 20.0 * i - 40, 6.0) }) {
      val level = 5
      val cells = Footprint.coneCells(lon0, lat0, r, level).toSet
      val pointCells = cat
        .filter(Footprint.cone(col("lon"), col("lat"), lon0, lat0, r))
        .select(SkyPix.cell(col("lon"), col("lat"), level))
        .collect().map(_.getLong(0)).toSet
      assert(pointCells.subsetOf(cells),
        s"cone($lon0,$lat0,$r): missing ${pointCells -- cells}")
      assert(cells.size < (1 << (2 * level)),
        "enumeration must actually prune")
    }
  }

  // Non-convex L-shape near (10, 0), ~2 deg across. Small enough that
  // great-circle edges deviate from planar lon/lat edges by < 1e-3 deg,
  // so a planar even-odd test on lon/lat is a valid oracle for points
  // kept > 0.05 deg away from every edge.
  private val lShape = Seq(
    (9.0, -1.0), (11.0, -1.0), (11.0, 0.0), (10.0, 0.0),
    (10.0, 1.0), (9.0, 1.0))

  private def planarInside(vs: Seq[(Double, Double)], lon: Double,
                           lat: Double): Boolean = {
    var in = false
    for (i <- vs.indices) {
      val (xi, yi) = vs(i)
      val (xj, yj) = vs((i + 1) % vs.size)
      if ((yi > lat) != (yj > lat) &&
        lon < xi + (xj - xi) * (lat - yi) / (yj - yi)) in = !in
    }
    in
  }

  private def edgeDist(vs: Seq[(Double, Double)], lon: Double,
                       lat: Double): Double =
    vs.indices.map { i =>
      val (xi, yi) = vs(i)
      val (xj, yj) = vs((i + 1) % vs.size)
      val (dx, dy) = (xj - xi, yj - yi)
      val t = math.max(0, math.min(1,
        ((lon - xi) * dx + (lat - yi) * dy) / (dx * dx + dy * dy)))
      math.hypot(lon - (xi + t * dx), lat - (yi + t * dy))
    }.min

  test("polygon predicate matches a planar oracle on a non-convex L-shape") {
    val pts = (0 until 4000).map { _ =>
      (8.5 + rnd.nextDouble() * 3, -1.5 + rnd.nextDouble() * 3)
    }.filter { case (lo, la) => edgeDist(lShape, lo, la) > 0.05 }
    assert(pts.size > 3000)
    val got = pts.toDF("lon", "lat")
      .filter(Footprint.polygon(col("lon"), col("lat"), lShape))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    val want = pts.filter { case (lo, la) => planarInside(lShape, lo, la) }.toSet
    assert(want.nonEmpty && want.size < pts.size)
    assert(got == want)
    // driver-side twin agrees everywhere
    assert(pts.forall { case (lo, la) =>
      Footprint.polygonContains(lShape)(lo, la) == want((lo, la)) })
  }

  test("inscribed 64-gon converges to the cone predicate") {
    val (lon0, lat0, r) = (200.0, -35.0, 6.0)
    // vertices on the circle of radius r around (lon0, lat0)
    val verts = (0 until 64).map { i =>
      val th = 2 * math.Pi * i / 64
      val lat = math.toDegrees(math.asin(
        math.sin(math.toRadians(lat0)) * math.cos(math.toRadians(r)) +
          math.cos(math.toRadians(lat0)) * math.sin(math.toRadians(r)) *
            math.cos(th)))
      val dlon = math.atan2(
        math.sin(th) * math.sin(math.toRadians(r)) *
          math.cos(math.toRadians(lat0)),
        math.cos(math.toRadians(r)) -
          math.sin(math.toRadians(lat0)) * math.sin(math.toRadians(lat)))
      (lon0 + math.toDegrees(dlon), lat)
    }
    val withD = cat.withColumn("d",
      CrossMatch.distDeg(col("lon"), col("lat"), lit(lon0), lit(lat0)))
    val in = withD.filter(col("d") < r * 0.99)
    val out = withD.filter(col("d") > r * 1.01)
    val poly = Footprint.polygon(col("lon"), col("lat"), verts)
    assert(in.count() > 0)
    assert(in.filter(!poly).count() == 0, "inside the shrunk cone ⇒ inside")
    assert(out.filter(poly).count() == 0, "outside the grown cone ⇒ outside")
  }

  test("polygonCells is a superset of the cells of contained points") {
    for ((verts, level) <- Seq((lShape, 6),
      (Seq((350.0, -5.0), (15.0, -8.0), (12.0, 10.0), (355.0, 6.0)), 5)) ++
      wrapEdges.map(c => (Seq((c - 5, -5.0), (c + 5, -5.0), (c + 5, 5.0),
        (c - 5, 5.0)), 5))) {
      val cells = Footprint.polygonCells(verts, level).toSet
      val pointCells = cat
        .filter(Footprint.polygon(col("lon"), col("lat"), verts))
        .select(SkyPix.cell(col("lon"), col("lat"), level))
        .collect().map(_.getLong(0)).toSet
      assert(pointCells.subsetOf(cells),
        s"polygon@$level: missing ${pointCells -- cells}")
      assert(cells.size < (1 << (2 * level)), "enumeration must prune")
    }
  }

  test("pole-containing polygon: predicate and cells handle all lons") {
    val capSquare = Seq((0.0, 80.0), (90.0, 80.0), (180.0, 80.0), (270.0, 80.0))
    assert(Footprint.polygonContains(capSquare)(123.4, 87.0))
    assert(!Footprint.polygonContains(capSquare)(50.0, 70.0))
    val level = 4
    val cells = Footprint.polygonCells(capSquare, level).toSet
    val pointCells = cat
      .filter(Footprint.polygon(col("lon"), col("lat"), capSquare))
      .select(SkyPix.cell(col("lon"), col("lat"), level))
      .collect().map(_.getLong(0)).toSet
    assert(pointCells.nonEmpty && pointCells.subsetOf(cells))
  }

  test("polygon rejects hemisphere-spanning and degenerate input") {
    intercept[IllegalArgumentException] {
      Footprint.polygon(col("lon"), col("lat"), Seq((0.0, 0.0), (10.0, 0.0)))
    }
    intercept[IllegalArgumentException] {
      // vertex 100 deg from the centroid of this sliver
      Footprint.polygon(col("lon"), col("lat"),
        Seq((0.0, 80.0), (180.0, 80.0), (0.0, -80.0)))
    }
  }

  test("cell pruning + exact predicate ≡ exact predicate alone") {
    val path = Files.createTempDirectory("graft_fp").toString + "/cat"
    SpatialWriter.write(cat, "lon", "lat", level = 4, path = path)
    val t = SpatialWriter.readPrimary(spark, path)
    val (lon0, lat0, r) = (200.0, -10.0, 8.0)
    val cells = Footprint.coneCells(lon0, lat0, r, 4)
    val pruned = t.filter(col("cell").isin(cells: _*))
      .filter(Footprint.cone(col("lon"), col("lat"), lon0, lat0, r))
    val full = t.filter(Footprint.cone(col("lon"), col("lat"), lon0, lat0, r))
    assert(pruned.count() == full.count())
  }

  test("oracle polygon: every synthetic-sky grid point decides stably") {
    // q_footprint_polygon / q_footprint_cells compare Spark and DuckDB
    // bit-for-bit, which is only safe if NO possible grid point of the
    // deterministic sky projection sits within libm-ulp distance of a
    // decision boundary (an edge line or the hemisphere d=0 surface).
    // The synthetic sky's FULL residue grid is lon = i/10 (i<3600),
    // lat = j/10 - 30 (j<600) — every sf draws from these 2.16M points,
    // so a pass here covers any scale factor, not just the tested sf.
    // Guard: the inside/outside verdict is invariant under ±1e-9 deg
    // perturbations of lon and lat — orders of magnitude larger than
    // the engines' few-ulp trig differences (~1e-16 relative).
    val verts = graft.operators.Joins.polyVerts // the declared queries' polygon
    val contains = Footprint.polygonContains(verts) _
    val eps = 1e-9
    var i = 0
    var unstable = 0
    var firstBad: String = null
    while (i < 3600) {
      val lon = i / 10.0
      var j = 0
      while (j < 600) {
        val lat = j / 10.0 - 30.0
        val base = contains(lon, lat)
        if (contains(lon + eps, lat) != base ||
          contains(lon - eps, lat) != base ||
          contains(lon, lat + eps) != base ||
          contains(lon, lat - eps) != base) {
          unstable += 1
          if (firstBad == null) firstBad = s"($lon, $lat)"
        }
        j += 1
      }
      i += 1
    }
    assert(unstable == 0,
      s"$unstable grid points decide unstably near the boundary, " +
        s"first at $firstBad — vertex tweak or sf bump could flip a row")
  }
}
