package graft.spatial

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Query-time spatial bounds — the reference's footprint system
  * (all-sky / rectangle / cone specs intersected with the cell
  * quadtree for partition pruning; SURVEY.md §1.1 "Bounds", ref
  * `lsd/bounds.py`, UNVERIFIED).
  *
  * Two layers, used together on a SpatialWriter-partitioned table:
  *   - an exact row predicate (`cone` / `rect`) — Catalyst pushes it
  *     to the scan;
  *   - a driver-side cell enumeration (`coneCells`) for the partition
  *     column — `col("cell").isin(...)` turns into directory-level
  *     partition pruning, LSD's bounds∩quadtree trick.
  */
object Footprint {

  /** Exact cone membership predicate (great-circle distance ≤ r). */
  def cone(lonCol: Column, latCol: Column,
           lon0: Double, lat0: Double, radiusDeg: Double): Column =
    CrossMatch.distDeg(lonCol, latCol, lit(lon0), lit(lat0)) <= radiusDeg

  /** Rectangle in lon/lat, wraparound-aware in lon. */
  def rect(lonCol: Column, latCol: Column, lonMin: Double, lonMax: Double,
           latMin: Double, latMax: Double): Column = {
    val lon = pmod(lonCol, lit(360.0))
    val (lo, hi) = (SkyPix.lonNorm(lonMin), SkyPix.lonNorm(lonMax))
    val lonPred =
      if (lonMax - lonMin >= 360.0) lit(true) // full ring
      else if (lo <= hi) lon >= lo && lon <= hi
      else lon >= lo || lon <= hi // wraps through 0
    lonPred && latCol >= latMin && latCol <= latMax
  }

  /** Cells at `level` that can contain points within `radiusDeg` of
    * (lon0, lat0): a conservative superset (bounding-box based, polar
    * rows included whole when the cone nears a pole). Small enough to
    * use as `col("cell").isin(coneCells(...): _*)` for directory
    * pruning at the levels used for partitioning (≤ ~10).
    */
  def coneCells(lon0: Double, lat0: Double, radiusDeg: Double,
                level: Int): Seq[Long] = {
    val n = 1L << level
    val latLo = lat0 - radiusDeg
    val latHi = lat0 + radiusDeg
    val iyLo = if (latLo <= -90 + 1e-12) 0L else rowOf(latLo, level)
    val iyHi = if (latHi >= 90 - 1e-12) n - 1 else rowOf(latHi, level)
    rowCover(iyLo, iyHi, lon0, level)(cosMin =>
      radiusDeg / (360.0 / n) / cosMin + 1)
  }

  /** Cells at `level` intersecting a lon/lat rectangle (wraparound-
    * aware in lon, like [[rect]]). Exact cell cover — the grid is
    * aligned to lon/lat, so unlike cone/polygon covers this is not a
    * superset but the precise set of touched cells. */
  def rectCells(lonMin: Double, lonMax: Double, latMin: Double,
                latMax: Double, level: Int): Seq[Long] = {
    require(latMin <= latMax, "latMin > latMax")
    val n = 1L << level
    val (lo, hi) = (SkyPix.lonNorm(lonMin), SkyPix.lonNorm(lonMax))
    val ixLo = SkyPix.colOf(lonMin, level)
    val ixHi = SkyPix.colOf(lonMax, level)
    val ixs: Seq[Long] =
      (if (lonMax - lonMin >= 360.0) 0L until n // full ring: every column
      else if (lo <= hi) ixLo to ixHi
      // wraps through lon=0 — the two arms can OVERLAP when both
      // endpoints land in the same/adjacent columns (a nearly-full
      // wrap), so dedup like the other enumerators (review r20)
      else ((ixLo until n) ++ (0L to ixHi)).distinct)
    for (iy <- rowOf(latMin, level) to rowOf(latMax, level); ix <- ixs)
      yield pack(ix, iy, level)
  }

  /** Area of one equal-area cell at `level`, in square degrees
    * (the whole sphere is 4π sr = 360²/π ≈ 41252.96 deg²). */
  def cellAreaDeg2(level: Int): Double = {
    val n = 1L << level
    (360.0 * 360.0 / math.Pi) / (n.toDouble * n.toDouble)
  }

  /** Exact spherical cap area in deg² (cone footprint). */
  def coneAreaDeg2(radiusDeg: Double): Double = {
    val sr = 2 * math.Pi * (1 - math.cos(math.toRadians(radiusDeg)))
    sr * math.pow(180.0 / math.Pi, 2)
  }

  /** Exact lon/lat-rectangle area in deg² (wraparound-aware). */
  def rectAreaDeg2(lonMin: Double, lonMax: Double, latMin: Double,
                   latMax: Double): Double = {
    val (lo, hi) = (SkyPix.lonNorm(lonMin), SkyPix.lonNorm(lonMax))
    val dLon =
      if (lonMax - lonMin >= 360.0) 360.0 // full ring, not an empty span
      else if (lo <= hi) hi - lo
      else 360 - lo + hi
    val sr = math.toRadians(dLon) *
      (math.sin(math.toRadians(latMax)) - math.sin(math.toRadians(latMin)))
    sr * math.pow(180.0 / math.Pi, 2)
  }

  // ---- Spherical polygon bounds (great-circle edges) ----

  /** Precomputed gnomonic frame: unit centroid `c`, local east/north
    * basis, and the projected vertex coordinates. Gnomonic projection
    * about `c` maps every great circle to a straight line, so planar
    * even-odd ray crossing in this plane IS spherical point-in-polygon
    * (with great-circle edges) for polygons inside the open hemisphere
    * around `c` — no small-angle approximation involved. */
  private[graft] final case class PolyFrame(
      cx: Double, cy: Double, cz: Double,
      ex: Double, ey: Double, // east (z component is 0 by construction)
      nx: Double, ny: Double, nz: Double,
      vx: Array[Double], vy: Array[Double],
      lonCDeg: Double)

  private def unitVec(lonDeg: Double, latDeg: Double): (Double, Double, Double) = {
    val lon = math.toRadians(lonDeg)
    val lat = math.toRadians(latDeg)
    (math.cos(lat) * math.cos(lon), math.cos(lat) * math.sin(lon),
      math.sin(lat))
  }

  /** Frame constants for oracle-SQL generation (the DuckDB twin of
    * [[polygon]] must be built from the SAME projected constants). */
  private[graft] def frameConstants(vertices: Seq[(Double, Double)]): PolyFrame =
    frameOf(vertices)

  private def frameOf(vertices: Seq[(Double, Double)]): PolyFrame = {
    require(vertices.size >= 3,
      s"polygon needs >= 3 vertices, got ${vertices.size}")
    val vs = vertices.map { case (lon, lat) => unitVec(lon, lat) }
    val (sx, sy, sz) = vs.foldLeft((0.0, 0.0, 0.0)) {
      case ((ax, ay, az), (x, y, z)) => (ax + x, ay + y, az + z)
    }
    val norm = math.sqrt(sx * sx + sy * sy + sz * sz)
    require(norm > 1e-9, "degenerate polygon: vertices cancel out")
    val (cx, cy, cz) = (sx / norm, sy / norm, sz / norm)
    val lonC = math.atan2(cy, cx)
    val latC = math.asin(math.max(-1, math.min(1, cz)))
    val (ex, ey) = (-math.sin(lonC), math.cos(lonC))
    val (nx, ny, nz) = (-math.sin(latC) * math.cos(lonC),
      -math.sin(latC) * math.sin(lonC), math.cos(latC))
    val px = new Array[Double](vs.size)
    val py = new Array[Double](vs.size)
    vs.zipWithIndex.foreach { case ((x, y, z), i) =>
      val d = x * cx + y * cy + z * cz
      require(d > 1e-6,
        "polygon must fit in the open hemisphere around its centroid " +
          s"(vertex $i is >= 90 deg away)")
      px(i) = (x * ex + y * ey) / d
      py(i) = (x * nx + y * ny + z * nz) / d
    }
    PolyFrame(cx, cy, cz, ex, ey, nx, ny, nz, px, py, math.toDegrees(lonC))
  }

  private def containsInFrame(f: PolyFrame, lonDeg: Double,
                              latDeg: Double): Boolean = {
    val (x, y, z) = unitVec(lonDeg, latDeg)
    val d = x * f.cx + y * f.cy + z * f.cz
    if (d <= 0) return false // beyond the hemisphere: outside
    val gx = (x * f.ex + y * f.ey) / d
    val gy = (x * f.nx + y * f.ny + z * f.nz) / d
    var inside = false
    val k = f.vx.length
    var i = 0
    while (i < k) {
      val j = (i + 1) % k
      val (xi, yi, xj, yj) = (f.vx(i), f.vy(i), f.vx(j), f.vy(j))
      if ((yi > gy) != (yj > gy) &&
        gx < xi + (xj - xi) * (gy - yi) / (yj - yi)) inside = !inside
      i += 1
    }
    inside
  }

  /** Exact spherical point-in-polygon predicate. `vertices` are
    * (lonDeg, latDeg) in boundary order (either winding,
    * non-self-intersecting, edges = great-circle arcs, polygon
    * contained in the open hemisphere around its vertex centroid —
    * validated). Compiles to a constant-folded arithmetic expression
    * tree (one term per non-horizontal edge), so it stays inside
    * whole-stage codegen and pushes to the scan like cone/rect. */
  def polygon(lonCol: Column, latCol: Column,
              vertices: Seq[(Double, Double)]): Column = {
    val f = frameOf(vertices)
    val lat = radians(latCol)
    val lon = radians(lonCol)
    val x = cos(lat) * cos(lon)
    val y = cos(lat) * sin(lon)
    val z = sin(lat)
    val d = x * f.cx + y * f.cy + z * f.cz
    val gx = (x * f.ex + y * f.ey) / d
    val gy = (x * f.nx + y * f.ny + z * f.nz) / d
    val k = f.vx.length
    val parity = (0 until k).foldLeft(lit(false)) { (acc, i) =>
      val j = (i + 1) % k
      val (xi, yi, xj, yj) = (f.vx(i), f.vy(i), f.vx(j), f.vy(j))
      if (yi == yj) acc // horizontal edge: never crossed by the +x ray test
      else {
        val slope = (xj - xi) / (yj - yi)
        val crosses = (lit(yi) > gy) =!= (lit(yj) > gy)
        val leftOf = gx < lit(xi) + lit(slope) * (gy - lit(yi))
        acc =!= (crosses && leftOf)
      }
    }
    d > 0.0 && parity
  }

  /** Driver-side twin of [[polygon]] (same frame, same arithmetic). */
  def polygonContains(vertices: Seq[(Double, Double)])(
      lonDeg: Double, latDeg: Double): Boolean =
    containsInFrame(frameOf(vertices), lonDeg, latDeg)

  /** Cells at `level` intersecting the polygon: a conservative
    * superset via densely-sampled boundary extents (the interior's
    * lon/lat range is contained in the boundary's — every meridian
    * through an interior point crosses the boundary), with explicit
    * pole-containment handling. Pair with [[polygon]] the same way
    * `coneCells` pairs with `cone`. */
  def polygonCells(vertices: Seq[(Double, Double)], level: Int,
                   samplesPerEdge: Int = 64): Seq[Long] = {
    require(samplesPerEdge >= 2, "samplesPerEdge must be >= 2")
    val f = frameOf(vertices)
    val vs = vertices.map { case (lon, lat) => unitVec(lon, lat) }
    val k = vs.size
    // boundary samples: slerp along each great-circle edge
    val samples = Seq.newBuilder[(Double, Double)]
    var maxStepDeg = 0.0
    for (i <- 0 until k) {
      val (x1, y1, z1) = vs(i)
      val (x2, y2, z2) = vs((i + 1) % k)
      val dot = math.max(-1, math.min(1, x1 * x2 + y1 * y2 + z1 * z2))
      val omega = math.acos(dot)
      maxStepDeg = math.max(maxStepDeg,
        math.toDegrees(omega) / samplesPerEdge)
      for (s <- 0 until samplesPerEdge) {
        val t = s.toDouble / samplesPerEdge
        val (w1, w2) =
          if (omega < 1e-9) (1 - t, t)
          else (math.sin((1 - t) * omega) / math.sin(omega),
            math.sin(t * omega) / math.sin(omega))
        val (x, y, z) = (w1 * x1 + w2 * x2, w1 * y1 + w2 * y2,
          w1 * z1 + w2 * z2)
        val r = math.sqrt(x * x + y * y + z * z)
        samples += ((math.toDegrees(math.atan2(y, x)),
          math.toDegrees(math.asin(math.max(-1, math.min(1, z / r))))))
      }
    }
    val pts = samples.result()
    val pad = maxStepDeg // sagitta between samples is < one step
    val northIn = containsInFrame(f, 0.0, 90.0)
    val southIn = containsInFrame(f, 0.0, -90.0)
    val latLo = if (southIn) -90.0 else pts.map(_._2).min - pad
    val latHi = if (northIn) 90.0 else pts.map(_._2).max + pad
    // lon extent as offsets from the centroid meridian, wrap-safe
    def off(lon: Double): Double = {
      val d = math.IEEEremainder(lon - f.lonCDeg, 360.0) // exact, in [-180, 180]
      if (d <= -180) d + 360 else d
    }
    val offs = pts.map(p => off(p._1))
    val (offLo, offHi) = (offs.min, offs.max)
    val allLons = northIn || southIn || (offHi - offLo) >= 360 - 1e-9
    val n = 1L << level
    rowCover(rowOf(latLo, level), rowOf(latHi, level),
      f.lonCDeg + (offLo + offHi) / 2, level)(cosMin =>
      if (allLons) n.toDouble
      else ((offHi - offLo) / 2 + pad / cosMin) / (360.0 / n) + 1)
  }

  /** Grid row of a latitude, clamped to [-90, 90] first: a cover's
    * lat ± pad can pass a pole, while [[SkyPix.rowOf]] (like the cell
    * id) takes sin of the raw latitude. */
  private def rowOf(lat: Double, level: Int): Long =
    SkyPix.rowOf(math.max(-90, math.min(90, lat)), level)

  /** The row walk of the cone and polygon covers: every column of
    * rows `iyLo..iyHi` within `halfWidthCells(cosMin)` columns of
    * `lon0`'s, where `cosMin` is the row's worst (smallest) cos(lat). A
    * row touching a pole, or one whose span reaches around, needs
    * every column. */
  private def rowCover(iyLo: Long, iyHi: Long, lon0: Double, level: Int)(
      halfWidthCells: Double => Double): Seq[Long] = {
    val n = 1L << level
    val ix0 = SkyPix.colOf(lon0, level)
    val cells = Seq.newBuilder[Long]
    for (iy <- iyLo to iyHi) {
      val rowLatMax = math.max(math.abs(latOfRowEdge(iy, n)),
        math.abs(latOfRowEdge(iy + 1, n)))
      val cosMin = math.cos(math.toRadians(math.min(89.999, rowLatMax)))
      val hw = halfWidthCells(cosMin)
      if (rowLatMax >= 89.9 || 2 * hw + 1 >= n) {
        for (ix <- 0L until n) cells += pack(ix, iy, level)
      } else {
        for (d <- -hw.toLong to hw.toLong)
          cells += pack(((ix0 + d) % n + n) % n, iy, level)
      }
    }
    cells.result().distinct
  }

  private def latOfRowEdge(iy: Long, n: Long): Double = {
    val sinLat = 2.0 * iy / n - 1.0
    math.toDegrees(math.asin(math.max(-1, math.min(1, sinLat))))
  }

  // one source of truth for the packed-id layout (review r20: this
  // was a byte-identical re-implementation)
  private def pack(ix: Long, iy: Long, level: Int): Long =
    SkyPix.mortonCellValue(ix, iy, level)
}

/** A query-time spatial bound — the value a caller hands to
  * `LsdQL.query(text, bounds)`, the engine's form of the reference's
  * `db.query(q, bounds=beam(...)/rectangle(...))` argument
  * (ref `lsd/bounds.py`, UNVERIFIED). Each bound is the PAIR of
  * [[Footprint]] layers: a driver-side cell enumeration (directory
  * pruning against a SpatialWriter layout) plus the exact row
  * predicate that refines inside the surviving cells.
  *
  * Determinism note: [[Bounds.Cone]]'s predicate snaps the great-
  * circle distance to the 1e-6-degree grid before the radius cut
  * (graft.functions.Det.d6), so membership at the boundary is
  * engine-exact — the q_xmatch discipline, built into the bound so
  * every bounded query inherits it. Rect/Polygon predicates are
  * already plain IEEE comparisons.
  */
sealed trait Bounds {
  /** Conservative superset of the cells at `level` the bound touches. */
  def cells(level: Int): Seq[Long]
  /** Exact membership predicate over coordinate columns (degrees). */
  def predicate(lon: Column, lat: Column): Column
}

/** Time-interval bound, half-open [fromIncl, toExcl) — the TEMPORAL
  * half of the reference's (space, time) bounds pairs (`lsd/bounds.py`
  * paired a footprint with an MJD interval set, UNVERIFIED). Passed to
  * `LsdQL.query(text, …)` alongside (or instead of) a spatial
  * [[Bounds]]; against a TimeWriter layout the bucket enumeration
  * prunes `t_bucket=` directories and this exact predicate refines.
  * Timestamps are `to_timestamp`-parseable strings, evaluated in the
  * session timezone (UTC everywhere in this engine). */
final case class TimeInterval(fromIncl: String, toExcl: String) {
  // loud-fail on an INVERTED interval — the `--time to,from` CLI slip
  // would otherwise return zero rows with no diagnostic, where the
  // spatial siblings (Rect latMin>latMax, Cone radius<=0) throw at
  // construction. A zero-width half-open interval (from == to) is a
  // LEGITIMATE empty query for programmatic callers — an incremental
  // "since last run" window with no elapsed time — so only inversion
  // is rejected here; the CLI's own --time parsing adds the strict
  // check where a typed-equal-endpoints query really is a slip
  // (review r19, ADVICE). Both standard endpoint spellings parse
  // here; an exotic-but-valid form skips the check and is decided (or
  // rejected, ANSI mode) by the engine's own to_timestamp.
  private def parsed(s: String): Option[java.time.LocalDateTime] =
    scala.util.Try(java.time.LocalDateTime.parse(s.trim.replace(' ', 'T')))
      .orElse(scala.util.Try(
        java.time.LocalDate.parse(s.trim).atStartOfDay))
      .toOption
  for (a <- parsed(fromIncl); b <- parsed(toExcl))
    require(!a.isAfter(b),
      s"inverted time interval: [$fromIncl, $toExcl) — fromIncl must " +
        "not be after toExcl")

  def predicate(ts: Column): Column =
    ts >= to_timestamp(lit(fromIncl)) && ts < to_timestamp(lit(toExcl))
}

object Bounds {
  /** Beam/cone: all sky within `radiusDeg` of (lon0, lat0). */
  final case class Cone(lon0: Double, lat0: Double, radiusDeg: Double)
      extends Bounds {
    require(radiusDeg > 0, "cone radius must be positive")
    def cells(level: Int): Seq[Long] =
      Footprint.coneCells(lon0, lat0, radiusDeg, level)
    def predicate(lon: Column, lat: Column): Column =
      graft.functions.Det.d6(
        CrossMatch.distDeg(lon, lat, lit(lon0), lit(lat0))) <= radiusDeg
  }

  /** Lon/lat rectangle, wraparound-aware in lon. */
  final case class Rect(lonMin: Double, lonMax: Double,
                        latMin: Double, latMax: Double) extends Bounds {
    require(latMin <= latMax, "latMin > latMax")
    def cells(level: Int): Seq[Long] =
      Footprint.rectCells(lonMin, lonMax, latMin, latMax, level)
    def predicate(lon: Column, lat: Column): Column =
      Footprint.rect(lon, lat, lonMin, lonMax, latMin, latMax)
  }

  /** Spherical polygon (great-circle edges, hemisphere-contained —
    * [[Footprint.polygon]]'s contract). */
  final case class Polygon(vertices: Seq[(Double, Double)]) extends Bounds {
    def cells(level: Int): Seq[Long] =
      Footprint.polygonCells(vertices, level)
    def predicate(lon: Column, lat: Column): Column =
      Footprint.polygon(lon, lat, vertices)
  }
}
