package graft.spatial

import graft.SpecBase
import org.apache.spark.sql.functions._

import scala.util.Random

class SkyPixSpec extends SpecBase {
  import spark.implicits._

  private def samples(n: Int, seed: Int): Seq[(Double, Double)] = {
    val rnd = new Random(seed)
    (1 to n).map(_ => (rnd.nextDouble() * 1440 - 720,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))))
  }

  test("Column expression and Scala twin agree") {
    val pts = Seq((0.0, 0.0), (359.9999, 89.9), (180.0, -89.9), (12.3, 45.6),
      (-10.0, 0.0), (360.0, 90.0), (720.5, -90.0)) ++ samples(200, 1)
    val df = pts.toDF("lon", "lat")
    for (level <- Seq(0, 1, 6, 12)) {
      val got = df.select(SkyPix.cell(col("lon"), col("lat"), level))
        .collect().map(_.getLong(0))
      val want = pts.map { case (lo, la) => SkyPix.cellId(lo, la, level) }
      assert(got.toSeq == want.toSeq)
    }
  }

  test("cell id is lon-periodic and level-tagged") {
    for ((lon, lat) <- samples(500, 2)) {
      val c = SkyPix.cellId(lon, lat, 6)
      assert(c == SkyPix.cellId(lon + 360, lat, 6))
      assert((c >> 58) == 6L)
      assert(SkyPix.cellId(lon, lat, 8) >> 58 == 8L)
    }
  }

  test("level k+1 cells nest inside level k (quadtree hierarchy)") {
    for ((lon, lat) <- samples(500, 3)) {
      val coarse = SkyPix.cellId(lon, lat, 5) & ~(31L << 58)
      val fine = SkyPix.cellId(lon, lat, 6) & ~(31L << 58)
      assert(fine >> 2 == coarse, s"($lon,$lat)")
    }
  }

  test("neighborCells contains the home cell, ≤9 entries, lon wraps") {
    val df = Seq((0.1, 0.1), (359.9, 0.1), (10.0, 89.0)).toDF("lon", "lat")
    val rows = df.select(col("lon"), col("lat"),
      SkyPix.cell(col("lon"), col("lat"), 6).as("home"),
      SkyPix.neighborCellsWithin(col("lon"), col("lat"), 6, 180.0).as("nbrs"))
      .collect()
    for (r <- rows) {
      val home = r.getLong(2)
      val nbrs = r.getSeq[Long](3)
      assert(nbrs.contains(home))
      assert(nbrs.size <= 9 && nbrs.size >= 6)
    }
    // wraparound: a point at lon=359.9 must neighbor the lon=0 column
    val wrapNbrs = rows(1).getSeq[Long](3)
    val zeroCol = SkyPix.cellId(0.05, 0.1, 6)
    assert(wrapNbrs.contains(zeroCol))
  }

  test("closure: nearby points appear in each other's neighborhoods") {
    val level = 6 // 5.625° of lon per cell
    val pts = samples(300, 4).filter { case (_, la) => math.abs(la) < 80 }
    val shifted = pts.flatMap { case (lo, la) =>
      Seq((lo, la, lo + 0.5, la), (lo, la, lo, la + 0.5),
        (lo, la, lo - 0.5, la - 0.5))
    }
    val df = shifted.toDF("lon1", "lat1", "lon2", "lat2")
    val bad = df.select(
      SkyPix.cell(col("lon1"), col("lat1"), level).as("c1"),
      SkyPix.neighborCellsWithin(col("lon2"), col("lat2"), level, 180.0)
        .as("nbrs"))
      .filter(!array_contains(col("nbrs"), col("c1")))
      .count()
    assert(bad == 0)
  }

  test("strip closure: points within margin share a strip-pruned cell") {
    // if dist(p1, p2) <= margin then p1's home cell must appear in
    // p2's strip-pruned neighborhood — the completeness property the
    // margin cache and the query-time explode both rely on
    val level = 6
    val margin = 0.4
    val rnd = new Random(9)
    val pairs = samples(400, 5).filter { case (_, la) => math.abs(la) < 80 }
      .map { case (lo, la) =>
        val d = margin * rnd.nextDouble()
        val ang = rnd.nextDouble() * 2 * math.Pi
        (lo, la,
          lo + d * math.cos(ang) / math.max(0.1, math.cos(math.toRadians(la))),
          math.max(-89.9, math.min(89.9, la + d * math.sin(ang))))
      }
    // keep only pairs truly within margin (the lon shift above is an
    // approximation that can overshoot near high |lat|)
    def hav(lo1: Double, la1: Double, lo2: Double, la2: Double): Double = {
      val dLat = math.toRadians(la2 - la1); val dLon = math.toRadians(lo2 - lo1)
      val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
        math.cos(math.toRadians(la1)) * math.cos(math.toRadians(la2)) *
          math.sin(dLon / 2) * math.sin(dLon / 2)
      math.toDegrees(2 * math.asin(math.sqrt(a)))
    }
    val within = pairs.filter { case (a, b, c, d) => hav(a, b, c, d) <= margin }
    assert(within.size > 100, "fixture must keep most pairs")
    val df = within.toDF("lon1", "lat1", "lon2", "lat2")
    val bad = df.select(
      SkyPix.cell(col("lon1"), col("lat1"), level).as("c1"),
      SkyPix.neighborCellsWithin(col("lon2"), col("lat2"), level, margin)
        .as("nbrs"))
      .filter(!array_contains(col("nbrs"), col("c1")))
      .count()
    assert(bad == 0)
    // and the strip list is a subset of the full 9-neighborhood
    val sup = df.select(
      SkyPix.neighborCellsWithin(col("lon2"), col("lat2"), level, 180.0)
        .as("all9"),
      SkyPix.neighborCellsWithin(col("lon2"), col("lat2"), level, margin)
        .as("strip"))
      .filter(size(array_except(col("strip"), col("all9"))) > 0)
      .count()
    assert(sup == 0)
  }

  test("strip Column expression and Scala twin agree") {
    // anchors NeighborCells.ids ≡ neighborCellsWithin on the local
    // (interpreted) path, so the pure-JVM ScalaCheck closure property
    // (PropertySuite.skypix.stripClosure) covers the expression too;
    // the edge-point case below covers the generated-code path
    val pts = samples(300, 6).filter { case (_, la) => math.abs(la) < 89 }
    val df = pts.toDF("lon", "lat")
    for ((level, margin) <- Seq((3, 2.0), (6, 0.4), (9, 0.05))) {
      val got = df.select(
        SkyPix.neighborCellsWithin(col("lon"), col("lat"), level, margin))
        .collect().map(_.getSeq[Long](0).sorted.toSeq)
      val want = pts.map { case (lo, la) =>
        NeighborCells.ids(lo, la, level, margin).toSeq.sorted }
      assert(got.toSeq == want)
    }
  }

  test("neighbor kernel at edge points: compact, distinct, holds the " +
    "Catalyst home cell; margin 180 is the whole in-range 3x3") {
    // lon/lat at the wrap, the poles, signed zeros and cell edges,
    // plus random points; every level the grid supports in practice
    val edgeLats = (0 to 16).map(k => math.toDegrees(math.asin(2.0 * k / 16 - 1)))
    val lons = Seq(0.0, -0.0, 360.0, 359.99999999999994, 720.0, -360.0,
      -720.5, 1e-300, -1e-300, 180.0, 22.5, 45.0, 337.5, 0.5)
    val lats = Seq(90.0, -90.0, 89.99999, -89.99999, 0.0, -0.0, 85.0,
      -85.0) ++ edgeLats
    val pts = (for (lo <- lons; la <- lats) yield (lo, la)) ++ samples(200, 6)
    val levels = 0 to 12
    val margins = Seq(0.01, 0.5, 2.0, 180.0)
    // the shuffle keeps the optimizer from folding the select into a
    // local relation, so the expressions run as generated code
    val df = pts.toDF("lon", "lat").repartition(3)
    val cols = levels.flatMap { lv =>
      SkyPix.cell(col("lon"), col("lat"), lv) +: margins.map(m =>
        SkyPix.neighborCellsWithin(col("lon"), col("lat"), lv, m))
    }
    val rows = df.select(col("lon") +: col("lat") +: cols: _*).collect()
    assert(rows.length == pts.size)
    // (ix, iy) of a packed id: the even and odd morton bits
    def unpack(c: Long, lv: Int): (Long, Long) =
      (0 until lv).foldLeft((0L, 0L)) { case ((x, y), b) =>
        (x | (((c >> (2 * b)) & 1L) << b), y | (((c >> (2 * b + 1)) & 1L) << b))
      }
    for (r <- rows; (lv, i) <- levels.zipWithIndex) {
      val (lo, la) = (r.getDouble(0), r.getDouble(1))
      val base = 2 + i * (1 + margins.size)
      val home = r.getLong(base)
      assert(SkyPix.cellId(lo, la, lv) == home, s"cellId ($lo, $la) L$lv")
      val n = 1L << lv
      val (ix, iy) = unpack(home, lv)
      val all = (for (dx <- -1 to 1; dy <- -1 to 1 if iy + dy >= 0 && iy + dy < n)
        yield SkyPix.mortonCellValue((ix + dx + n) % n, iy + dy, lv)).toSet
      for ((m, j) <- margins.zipWithIndex) {
        val arr = r.getSeq[Any](base + 1 + j)
        val what = s"($lo, $la) L$lv m$m: $arr"
        assert(!arr.contains(null), what)
        val ids = arr.map(_.asInstanceOf[Long])
        assert(ids.distinct == ids && ids.size <= 9 && ids.contains(home), what)
        assert(ids.toSet.subsetOf(all), what)
        assert(ids == NeighborCells.ids(lo, la, lv, m).toSeq, what)
        if (m == 180.0) assert(ids.toSet == all, what)
      }
    }
  }

  test("snapped grid matches cell() away from the 1e-6 snap band") {
    // ixSnapped/iySnapped may legitimately differ from cell()'s grid
    // only for points within ~1e-6 of a cell edge; everywhere else the
    // packed ids must agree exactly.
    val pts = samples(300, 17).filter { case (lo, la) =>
      val n = 64L
      def farFromEdge(f: Double) =
        math.abs(f * n - math.rint(f * n)) > 1e-4 * n
      farFromEdge((((lo % 360) + 360) % 360) / 360.0) &&
        farFromEdge((math.sin(math.toRadians(la)) + 1) / 2)
    }
    val df = pts.toDF("lon", "lat")
    val got = df.select(SkyPix.mortonCell(
      SkyPix.ixSnapped(col("lon"), 6), SkyPix.iySnapped(col("lat"), 6), 6))
      .collect().map(_.getLong(0))
    val want = pts.map { case (lo, la) => SkyPix.cellId(lo, la, 6) }
    assert(got.toSeq == want.toSeq)
  }

  test("snapped grid clamps the poles and lon=360 like cell()") {
    val pts = Seq((360.0, 90.0), (0.0, -90.0), (719.9999, 89.99999))
    val df = pts.toDF("lon", "lat")
    val rows = df.select(SkyPix.ixSnapped(col("lon"), 4),
      SkyPix.iySnapped(col("lat"), 4)).collect()
    for (r <- rows) {
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 15)
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 15)
    }
  }

  test("equal-area: level-3 occupancy of a uniform sphere sample is even") {
    val n = 200000
    val df = spark.range(n).select(
      (rand(seed = 7) * 360).as("lon"),
      degrees(asin(rand(seed = 11) * 2 - 1)).as("lat"))
    val counts = df.select(SkyPix.cell(col("lon"), col("lat"), 3).as("c"))
      .groupBy("c").count().select("count").as[Long].collect()
    assert(counts.length == 64) // all 4^3 cells hit
    val expected = n.toDouble / 64
    assert(counts.forall(c => c > expected * 0.8 && c < expected * 1.2))
  }

  test("NULL coordinates are handled at the BOUNDARIES, not the hot " +
    "path: layout writes refuse them loudly") {
    // review r20: least/greatest SKIP null args, so the raw grid maps
    // a NULL lon/lat to the top-corner cell. Gating inside the cell
    // math cost 2-4x on the xmatch bench family (CASE duplication +
    // nullable keys off codegen fast paths), so the contract is:
    // the import boundary REFUSES null coordinates, density streams
    // filter them, and cross-match channels are immune (NULL distance
    // never passes the refine).
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_nullcoord").toString
    val bad = Seq((1L, Some(10.0), Some(20.0)), (2L, None, Some(20.0)))
      .toDF("id", "lon", "lat")
    for (margin <- Seq(None, Some(0.05))) {
      val e = intercept[Exception] {
        graft.sources.SpatialWriter.write(bad, "lon", "lat", 4,
          s"$tmp/m_${margin.isDefined}", margin = margin)
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("NULL lon/lat")),
        s"margin=$margin: ${msgs(e).take(3)}")
    }
    // clean data still writes
    graft.sources.SpatialWriter.write(
      bad.filter("lon IS NOT NULL"), "lon", "lat", 4, s"$tmp/ok")
    assert(spark.read.parquet(s"$tmp/ok").count() == 1)
  }
}
