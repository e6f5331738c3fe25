package graft.spatial

import graft.SpecBase
import org.apache.spark.sql.functions._

import scala.util.Random

/** CrossMatch vs brute force on a fixed-seed synthetic catalog pair
  * (FIXTURES.md §B objects/detections analog). */
class CrossMatchSpec extends SpecBase {
  import spark.implicits._

  // clustered sky: objects, plus detections scattered around them
  private val rnd = new Random(42)
  private val objects: Seq[(Long, Double, Double)] = (0L until 300L).map { i =>
    (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1)))
  } ++ Seq((900L, 10.0, 89.5), (901L, 200.0, -89.2)) // polar cases
  private val detections: Seq[(Long, Double, Double)] =
    objects.flatMap { case (oid, lon, lat) =>
      (0 until 3).map { j =>
        val d = 0.03 * rnd.nextDouble()
        val ang = rnd.nextDouble() * 2 * math.Pi
        (oid * 10 + j,
          lon + d * math.cos(ang) / math.max(0.05, math.cos(math.toRadians(lat))),
          math.min(89.9, math.max(-89.9, lat + d * math.sin(ang))))
      }
    }

  private def haversineDeg(lon1: Double, lat1: Double,
                           lon2: Double, lat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.sin(dLon / 2) * math.sin(dLon / 2)
    math.toDegrees(2 * math.asin(math.sqrt(a)))
  }

  private def brute(radius: Double, nmax: Int): Set[(Long, Long, Int)] =
    detections.flatMap { case (did, dlon, dlat) =>
      objects.map { case (oid, olon, olat) =>
        (oid, haversineDeg(dlon, dlat, olon, olat)) }
        .filter(_._2 <= radius)
        .sortBy { case (oid, d) => (d, oid) }
        .take(nmax)
        .zipWithIndex
        .map { case ((oid, _), i) => (did, oid, i + 1) }
    }.toSet

  private lazy val detDf = detections.toDF("det_id", "lon", "lat")
  private lazy val objDf = objects.toDF("obj_id", "lon", "lat")

  test("matches brute force exactly (pairs + ranks), incl. polar caps") {
    for ((radius, nmax) <- Seq((0.05, 1), (0.05, 3), (0.2, 2))) {
      val got = CrossMatch.nearest(detDf, CrossMatch.Blocking(objDf),
        "det_id", "lon", "lat", "obj_id", "lon", "lat", radius, nmax)
        .select("a_id", "b_id", "match_rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == brute(radius, nmax), s"radius=$radius nmax=$nmax")
    }
  }

  test("distance bound holds and result is non-empty (radius 0.05)") {
    val got = CrossMatch.nearest(detDf, CrossMatch.Blocking(objDf),
      "det_id", "lon", "lat", "obj_id", "lon", "lat", 0.05, 1)
    assert(got.count() > 0)
    assert(got.filter(col("dist_deg") > 0.05).count() == 0)
  }

  test("skewSafe equals the plain plan, with and without a hot field") {
    // a dense clump makes several cells hot at tiny thresholds; the
    // answer must be row-identical either way (incl. polar rows going
    // through the cap channel and nmax tie-breaks)
    val clumped = detections ++ (0L until 500L).map { i =>
      (5000L + i, 100.0 + (i % 25) * 0.0004, 20.0 + (i / 25) * 0.0004)
    }
    val clumpObjs = objects ++ (0L until 60L).map { i =>
      (8000L + i, 100.0 + (i % 8) * 0.0011, 20.0 + (i / 8) * 0.0011)
    }
    val d = clumped.toDF("det_id", "lon", "lat")
    val o = clumpObjs.toDF("obj_id", "lon", "lat")
    for ((radius, nmax, hot, salts) <- Seq(
        (0.05, 2, 100L, 7), (0.05, 1, 100000L, 4) /* nothing hot */ )) {
      val plain = CrossMatch.nearest(d, CrossMatch.Blocking(o),
        "det_id", "lon", "lat", "obj_id", "lon", "lat", radius, nmax)
      val safe = CrossMatch.nearest(d, CrossMatch.Blocking(o),
        "det_id", "lon", "lat", "obj_id", "lon", "lat", radius, nmax,
        hotThreshold = Some(hot), salts = salts)
      assert(plain.exceptAll(safe).count() == 0 &&
        safe.exceptAll(plain).count() == 0,
        s"radius=$radius nmax=$nmax hot=$hot salts=$salts")
    }
  }

  test("skewSafe broadcast guard: shuffle fallback is still row-identical") {
    // Force the guard (maxBroadcastRows tiny) so the hot channel joins
    // by exchange instead of broadcast — the B-also-dense deep-field
    // regime where broadcasting salts× the probe slice would blow the
    // driver. Same rows must come back.
    val clumped = detections ++ (0L until 400L).map { i =>
      (5000L + i, 100.0 + (i % 20) * 0.0005, 20.0 + (i / 20) * 0.0005)
    }
    val clumpObjs = objects ++ (0L until 300L).map { i =>
      (8000L + i, 100.0 + (i % 17) * 0.0006, 20.0 + (i / 17) * 0.0006)
    }
    val d = clumped.toDF("det_id", "lon", "lat")
    val o = clumpObjs.toDF("obj_id", "lon", "lat")
    val plain = CrossMatch.nearest(d, CrossMatch.Blocking(o),
      "det_id", "lon", "lat", "obj_id", "lon", "lat", 0.05, 2)
    val guarded = CrossMatch.nearest(d, CrossMatch.Blocking(o),
      "det_id", "lon", "lat", "obj_id", "lon", "lat", 0.05, 2,
      hotThreshold = Some(100L), salts = 5,
      maxBroadcastRows = 10L) // anything real exceeds this
    assert(plain.exceptAll(guarded).count() == 0 &&
      guarded.exceptAll(plain).count() == 0)
    assert(guarded.count() > 0)
  }

  test("empty probe side yields empty result") {
    val empty = Seq.empty[(Long, Double, Double)].toDF("det_id", "lon", "lat")
    assert(CrossMatch.nearest(empty, CrossMatch.Blocking(objDf),
      "det_id", "lon", "lat", "obj_id", "lon", "lat", 0.1, 1).count() == 0)
  }

  test("pre-margined cache path matches brute force (incl. polar caps)") {
    val radius = 0.05
    val level = CrossMatch.levelFor(radius)
    val path = s"${sys.props("java.io.tmpdir")}/graft_test_margin_$level"
    graft.sources.SpatialWriter.write(objDf, "lon", "lat", level, path,
      margin = Some(radius))
    val bM = graft.sources.SpatialWriter.readWithMargins(spark, path)
    val got = CrossMatch.nearest(detDf, CrossMatch.Margined(bM, level),
      "det_id", "lon", "lat", "obj_id", "lon", "lat", radius, 3)
      .select("a_id", "b_id", "match_rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute(radius, 3))
    // a coarser-than-written level must be rejected (closure violated)
    intercept[IllegalArgumentException] {
      CrossMatch.nearest(detDf, CrossMatch.Margined(bM, level),
        "det_id", "lon", "lat", "obj_id", "lon", "lat", 0.9, 1)
    }
  }

  test("applyPreMarginedSnapped is row-identical to applySnapped") {
    // the QL margin route swaps the pair engine underneath a declared
    // snapD6 relation — the swap must be invisible in the ROWS (the
    // plan is what changes); margin must cover the SUPERSET blocking
    // radius (radius + snap headroom), like the route requires
    val radius = 0.05
    val headroom = math.max(radius * 1e-3, 1e-6)
    val level = CrossMatch.levelFor(radius + headroom)
    val path =
      s"${sys.props("java.io.tmpdir")}/graft_test_margin_snap_$level"
    graft.sources.SpatialWriter.write(objDf, "lon", "lat", level, path,
      margin = Some(radius + headroom))
    val bM = graft.sources.SpatialWriter.readWithMargins(spark, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "dist_deg", "match_rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val viaMargin = rows(CrossMatch.nearest(detDf,
      CrossMatch.Margined(bM, level),
      "det_id", "lon", "lat", "obj_id", "lon", "lat", radius, 3,
      snapped = true))
    val viaBlocking = rows(CrossMatch.nearest(detDf,
      CrossMatch.Blocking(objDf),
      "det_id", "lon", "lat", "obj_id", "lon", "lat", radius, 3,
      snapped = true))
    assert(viaMargin == viaBlocking,
      s"margin-routed snapped relation diverged: " +
        s"only-margin=${(viaMargin -- viaBlocking).take(5)} " +
        s"only-blocking=${(viaBlocking -- viaMargin).take(5)}")
  }

  test("applyPreMarginedSkew: hot driving cells salt against the stored " +
    "replicas; rows identical on broadcast AND shuffle arms") {
    // the r19 verdict composition: a deep DRIVING field over a CACHED
    // catalog previously fell all the way back to the blocking path,
    // paying the query-time explode AND the salting. Now the hot cells
    // salt against the stored slice; the answer must equal the plain
    // plan's bit for bit, on both probe transports.
    val radius = 0.05
    val level = CrossMatch.levelFor(radius)
    val clumped = detections ++ (0L until 500L).map { i =>
      (5000L + i, 100.0 + (i % 25) * 0.0004, 20.0 + (i / 25) * 0.0004)
    }
    val d = clumped.toDF("det_id", "lon", "lat")
    val path = s"${sys.props("java.io.tmpdir")}/graft_test_margin_skew"
    graft.sources.SpatialWriter.write(objDf, "lon", "lat", level, path,
      margin = Some(radius))
    val bM = graft.sources.SpatialWriter.readWithMargins(spark, path)
    val plain = CrossMatch.nearest(d, CrossMatch.Blocking(objDf),
      "det_id", "lon", "lat", "obj_id", "lon", "lat", radius, 2)
    for (maxB <- Seq(4L << 20, 1L)) { // broadcast arm, then forced shuffle
      val skew = CrossMatch.nearest(d, CrossMatch.Margined(bM, level),
        "det_id", "lon", "lat", "obj_id", "lon", "lat", radius, 2,
        hotThreshold = Some(100L), salts = 5, maxBroadcastRows = maxB)
      assert(plain.exceptAll(skew).count() == 0 &&
        skew.exceptAll(plain).count() == 0, s"maxBroadcastRows=$maxB")
      assert(skew.count() > 0)
    }
    // an all-cold threshold must degenerate to the unsalted plan exactly
    val cold = CrossMatch.nearest(d, CrossMatch.Margined(bM, level),
      "det_id", "lon", "lat", "obj_id", "lon", "lat", radius, 2,
      hotThreshold = Some(1000000L), salts = 5)
    assert(plain.exceptAll(cold).count() == 0 &&
      cold.exceptAll(plain).count() == 0)
  }

  test("applyPreMarginedSnappedSkew is row-identical to applySnapped") {
    // the full QL square: snapD6 semantics x skew mitigation x the
    // stored margin cache — every route must produce the same rows
    val radius = 0.05
    val headroom = math.max(radius * 1e-3, 1e-6)
    val level = CrossMatch.levelFor(radius + headroom)
    val clumped = detections ++ (0L until 500L).map { i =>
      (5000L + i, 100.0 + (i % 25) * 0.0004, 20.0 + (i / 25) * 0.0004)
    }
    val d = clumped.toDF("det_id", "lon", "lat")
    val path =
      s"${sys.props("java.io.tmpdir")}/graft_test_margin_snapskew"
    graft.sources.SpatialWriter.write(objDf, "lon", "lat", level, path,
      margin = Some(radius + headroom))
    val bM = graft.sources.SpatialWriter.readWithMargins(spark, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "dist_deg", "match_rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val viaSkewMargin = rows(CrossMatch.nearest(d,
      CrossMatch.Margined(bM, level),
      "det_id", "lon", "lat", "obj_id", "lon", "lat", radius, 3,
      snapped = true, hotThreshold = Some(100L), salts = 5))
    val viaBlocking = rows(CrossMatch.nearest(d, CrossMatch.Blocking(objDf),
      "det_id", "lon", "lat", "obj_id", "lon", "lat", radius, 3,
      snapped = true))
    assert(viaSkewMargin == viaBlocking,
      s"margin+salt snapped relation diverged: " +
        s"only-skew=${(viaSkewMargin -- viaBlocking).take(5)} " +
        s"only-blocking=${(viaBlocking -- viaSkewMargin).take(5)}")
  }

  test("radius validation") {
    // every route rejects every out-of-contract argument it takes;
    // each bad row breaks exactly one argument of a valid call
    val radius = 0.05
    val level = CrossMatch.levelFor(radius)
    val path = s"${sys.props("java.io.tmpdir")}/graft_test_margin_valid"
    graft.sources.SpatialWriter.write(objDf, "lon", "lat", level, path,
      margin = Some(radius))
    val bM = graft.sources.SpatialWriter.readWithMargins(spark, path)
    case class Args(radius: Double = radius, capLat: Double = 85.0,
                    nmax: Int = 1, salts: Int = 4, level: Int = level)
    def route(margined: Boolean, snapped: Boolean, skewed: Boolean)(
        x: Args): org.apache.spark.sql.DataFrame =
      CrossMatch.nearest(detDf,
        if (margined) CrossMatch.Margined(bM, x.level)
        else CrossMatch.Blocking(objDf),
        "det_id", "lon", "lat", "obj_id", "lon", "lat", x.radius, x.nmax,
        snapped = snapped, capLat = x.capLat,
        hotThreshold = if (skewed) Some(100L) else None, salts = x.salts)
    val bad = Seq(
      "radius 0" -> Args(radius = 0.0, level = 0),
      "radius < 0" -> Args(radius = -0.1, level = 0),
      "radius > 1" -> Args(radius = 2.0, level = 0),
      "capLat < radius" -> Args(radius = 0.5, capLat = 0.4, level = 0),
      "nmax < 1" -> Args(nmax = 0))
    for (margined <- Seq(false, true); snapped <- Seq(false, true);
         skewed <- Seq(false, true)) {
      val name = s"margined=$margined snapped=$snapped skewed=$skewed"
      val run = route(margined, snapped, skewed) _
      run(Args()) // the valid call builds
      val rows = bad ++
        (if (skewed) Seq("salts < 1" -> Args(salts = 0)) else Nil) ++
        (if (margined) Seq("level finer than levelFor" ->
          Args(level = CrossMatch.levelFor(radius) + 1)) else Nil) ++
        (if (snapped) Seq("no snap headroom" ->
          Args(radius = 0.9995, level = 0)) else Nil)
      for ((why, x) <- rows)
        withClue(s"$name, $why: ") {
          intercept[IllegalArgumentException](run(x))
        }
    }
  }

  test("applySnapped: membership and rank decided on the snapped distance") {
    // one driving source at (10, 0); candidates at controlled lat
    // offsets so dist == Δlat up to ~1e-16 relative fp error
    val a = Seq((1L, 10.0, 0.0)).toDF("oid", "olon", "olat")
    val b = Seq(
      (5L, 10.0, 0.0500004), // snaps to 0.050000 — ties with id 7
      (7L, 10.0, 0.0500002), // raw-closer than id 5, same snapped value
      (11L, 10.0, 0.1000004), // raw > r, snaps to 0.100000 → member
      (12L, 10.0, 0.1000006)) // snaps to 0.100001 → out
      .toDF("cid", "clon", "clat")
    val snapped = CrossMatch.nearest(a, CrossMatch.Blocking(b),
      "oid", "olon", "olat", "cid", "clon", "clat", radiusDeg = 0.1,
      nmax = 4, snapped = true)
      .orderBy("match_rank")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    // snapped ties (ids 5 and 7 both at 0.050000) order by b_id; the
    // raw-boundary row (id 11) is IN because its snapped value equals
    // the radius; id 12 is OUT one 1e-6 step above
    assert(snapped.toSeq == Seq((5L, 0.05, 1), (7L, 0.05, 2),
      (11L, 0.1, 3)), s"got ${snapped.toSeq}")
    // contrast: the raw relation drops id 11 and ranks id 7 first
    val raw = CrossMatch.nearest(a, CrossMatch.Blocking(b),
      "oid", "olon", "olat", "cid", "clon", "clat", 0.1, 4)
      .orderBy("match_rank").collect().map(_.getLong(1))
    assert(raw.toSeq == Seq(7L, 5L))
  }

  test("applySnapped: arcsecond-scale radius keeps snap-boundary members") {
    // regression (review r18): a purely RELATIVE superset margin is
    // smaller than the d6 half-step at tiny radii — a pair whose raw
    // distance snaps down to the radius was cut before snapping
    val a = Seq((1L, 10.0, 0.0)).toDF("oid", "olon", "olat")
    val b = Seq((5L, 10.0, 0.00010004)) // raw ~1.0004e-4 > r, snaps to r
      .toDF("cid", "clon", "clat")
    val got = CrossMatch.nearest(a, CrossMatch.Blocking(b),
      "oid", "olon", "olat", "cid", "clon", "clat", radiusDeg = 0.0001,
      nmax = 1, snapped = true).collect()
    assert(got.length == 1 && got.head.getDouble(2) == 0.0001,
      s"snap-boundary member lost at small radius: ${got.toSeq}")
    // and the blocking-cap headroom is a loud require, not silent loss
    intercept[IllegalArgumentException] {
      CrossMatch.nearest(a, CrossMatch.Blocking(b),
        "oid", "olon", "olat", "cid", "clon", "clat", radiusDeg = 1.0,
        nmax = 1, snapped = true)
    }
  }

  test("applySnapped: skew-composed path is row-identical") {
    def run(ht: Option[Long]) =
      CrossMatch.nearest(detDf, CrossMatch.Blocking(objDf),
        "det_id", "lon", "lat", "obj_id", "lon", "lat", 0.2, 2,
        snapped = true, hotThreshold = ht, salts = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    val plain = run(None)
    // threshold 1 forces every populated cell hot — the whole catalog
    // takes the salted superset pairs + re-snap path
    val viaSkew = run(Some(1L))
    assert(plain.nonEmpty && viaSkew == plain,
      s"diverged: ${(viaSkew diff plain).take(3)} / ${
        (plain diff viaSkew).take(3)}")
  }
}
