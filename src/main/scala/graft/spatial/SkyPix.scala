package graft.spatial

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{lit, pmod, radians, raise_error,
  shiftleft, shiftright, sin, when, concat}
import org.apache.spark.sql.types.LongType

/** Hierarchical equal-area sky pixelization — the engine's analog of
  * the reference's BHpix (butterfly HEALPix) spatial partitioning
  * (SURVEY.md §1.1, ref `lsd/bhpix.py`, UNVERIFIED; HEALPix itself:
  * Górski et al. 2005, ApJ 622, 759).
  *
  * Design: a z-order (Morton) quadtree over the cylindrical equal-area
  * projection (x = lon/360, y = (sin(lat)+1)/2). Like BHpix it is
  * hierarchical (level k+1 subdivides level k into 4), equal-area
  * (cells at a level cover equal sphere area, so row counts stay
  * balanced — the property that matters for partition skew), and
  * supports O(1) neighbor enumeration. Unlike true HEALPix the cells
  * are not iso-latitude diamonds; none of our operators depend on
  * cell shape, only on the grid being hierarchical + equal-area +
  * neighbor-closed, so the simpler math wins.
  *
  * The grid is written down once per form. The cell id is one raw
  * Catalyst builder ([[cellExpr]]): plain, non-nullable arithmetic
  * inside whole-stage codegen, shared by [[cell]], [[mortonCell]], the
  * SQL function `sky_cell` and [[CrossMatch]]'s channel builder. The
  * neighbor-cell array is one codegen'd expression ([[NeighborCells]])
  * over one JVM kernel that mirrors the Catalyst grid op for op;
  * [[cellId]] and [[mortonCellValue]] are that kernel's grid, and
  * [[Footprint]]'s cell covers index rows and columns through it.
  *
  * Cell id layout: (level << 58) | morton(ix, iy), supporting levels
  * 0..28. At level k there are 4^k cells (level 6 ≈ 4096 cells ≈ 10
  * deg²/cell; level 10 ≈ 1M cells ≈ 0.04 deg²/cell — the 100 TB
  * partitioning knob).
  */
object SkyPix {
  val MaxLevel = 28

  private def checkLevel(level: Int): Unit =
    require(level >= 0 && level <= MaxLevel, s"level $level out of range")

  // ---- Catalyst form ------------------------------------------------
  //
  // The cell id is built as raw Catalyst expressions, not through the
  // `functions._` Column API: the same tree then serves Column callers
  // ([[cell]], [[mortonCell]]), the SQL function `sky_cell` and
  // [[CrossMatch]]'s channel builder, whose plan the optimizer rule
  // [[graft.plans.AutoSpatialJoin]] injects without the analyzer. After analysis the
  // tree is plain, non-nullable arithmetic, which keeps `cell` on
  // codegen's primitive fast paths in hot joins and aggregations.
  //
  // NULL-COORDINATE CONTRACT: Spark's least/greatest SKIP
  // null arguments, so this grid math maps a NULL lon/lat to grid
  // index n-1 — the top-corner cell — NOT to null. The grid stays
  // null-UNAWARE on purpose: gating inside ix/iy wrapped every
  // subexpression in a CASE, and even ONE top-level when() makes
  // `cell` nullable, which knocks hot joins and aggregations off
  // codegen's primitive fast paths (measured 2x on q_tracklets). Null
  // handling therefore lives at the BOUNDARIES:
  // [[graft.sources.SpatialWriter]] refuses null coordinates loudly at
  // import (a catalog row needs a position),
  // [[graft.streaming.StreamOps.skymapStream]] filters them before
  // densities, and the cross-match channels are immune regardless — a
  // null-coordinate row's candidate pairs die at the exact haversine
  // refine (NULL distance never passes `<= r`).

  /** Grid index of a unit-square fraction at `level`, clamped into
    * [0, n-1] so lon = 360 and lat = ±90 stay in range. */
  private def gridIndexExpr(f: Expression, level: Int): Expression = {
    val n = 1L << level
    Greatest(Seq(Least(Seq(
      Cast(Floor(Multiply(f, Literal(n.toDouble))), LongType),
      Literal(n - 1))), Literal(0L)))
  }

  /** Morton-interleave the low `bits` bits of two coordinates, x on
    * the even bits and y on the odd (a shift/or chain,
    * codegen-friendly). Also the z-value of [[graft.sources
    * .ZOrderLayout]]. */
  private[graft] def interleaveExpr(ix: Expression, iy: Expression,
                                    bits: Int): Expression =
    (0 until bits).map { b =>
      val bx = ShiftLeft(BitwiseAnd(ShiftRight(ix, Literal(b)), Literal(1L)),
        Literal(2 * b))
      val by = ShiftLeft(BitwiseAnd(ShiftRight(iy, Literal(b)), Literal(1L)),
        Literal(2 * b + 1))
      BitwiseOr(bx, by)
    }.foldLeft(Literal(0L): Expression)(BitwiseOr(_, _))

  /** Packed cell id of grid coordinates: the interleave plus the
    * level tag. */
  private def mortonExpr(ix: Expression, iy: Expression,
                         level: Int): Expression =
    BitwiseOr(interleaveExpr(ix, iy, level), Literal(level.toLong << 58))

  /** Packed cell id of (lon_deg, lat_deg) at `level` as a Catalyst
    * expression — the one cell-id builder. NULL coordinates land in
    * the top-corner cell (see the null-coordinate contract above). */
  def cellExpr(lon: Expression, lat: Expression, level: Int): Expression = {
    checkLevel(level)
    val fx = Divide(Pmod(lon, Literal(360.0)), Literal(360.0))
    val fy = Divide(Add(Sin(ToRadians(lat)), Literal(1.0)), Literal(2.0))
    mortonExpr(gridIndexExpr(fx, level), gridIndexExpr(fy, level), level)
  }

  private def column(e: Expression): Column = GraftShims.column(e)
  private def expr(c: Column): Expression = GraftShims.expression(c)

  /** cell(lon_deg, lat_deg) → packed cell id at `level`. */
  def cell(lon: Column, lat: Column, level: Int): Column =
    column(cellExpr(expr(lon), expr(lat), level))

  /** The home cell plus only those neighbor cells whose shared
    * boundary lies within `marginDeg` of the point — the query-time
    * equivalent of the reference's neighbor-margin cache, and the
    * write-time replication of a margin layout. Strip pruning cuts
    * the replication (and the probe explode) from a flat 9× to
    * ~(1 + strip fraction)×; `marginDeg` = 180 keeps every in-range
    * 3×3 neighbor. One codegen'd expression over the
    * [[NeighborCells]] kernel: a compact array of distinct ids, no
    * null entries; null for a NULL coordinate (explode emits
    * nothing). Use with explode. */
  def neighborCellsWithin(lon: Column, lat: Column, level: Int,
                          marginDeg: Double): Column =
    column(NeighborCells(expr(lon), expr(lat), level, marginDeg))

  // ---- JVM form: the same grid, op for op ---------------------------

  /** `Pmod(lon, 360.0)` on Spark's double path:
    * `r = lon % 360; if (r < 0) (r + 360) % 360 else r`. */
  private[spatial] def lonNorm(lon: Double): Double = {
    val r = lon % 360.0
    if (r < 0) (r + 360.0) % 360.0 else r
  }

  /** JVM twin of [[gridIndexExpr]]. */
  private def gridIndex(f: Double, level: Int): Long = {
    val n = 1L << level
    math.max(math.min(math.floor(f * n.toDouble).toLong, n - 1L), 0L)
  }

  /** Grid column of a longitude at `level`, identical to [[cellExpr]]'s. */
  private[spatial] def colOf(lon: Double, level: Int): Long =
    gridIndex(lonNorm(lon) / 360.0, level)

  /** Grid row of a latitude at `level`, identical to [[cellExpr]]'s. */
  private[spatial] def rowOf(lat: Double, level: Int): Long =
    gridIndex((math.sin(math.toRadians(lat)) + 1.0) / 2.0, level)

  /** (ix, iy) of a point at `level`, identical to [[cellExpr]]'s. */
  private[spatial] def gridOf(lon: Double, lat: Double,
                              level: Int): (Long, Long) =
    (colOf(lon, level), rowOf(lat, level))

  /** Packed cell id of a point, equal to [[cell]]'s, for tests and
    * driver-side checks. */
  def cellId(lonDeg: Double, latDeg: Double, level: Int): Long = {
    val (ix, iy) = gridOf(lonDeg, latDeg, level)
    mortonCellValue(ix, iy, level)
  }

  /** Oracle-matchable grid coordinate: identical to the internal grid
    * math except the unit-square fraction is d6-snapped BEFORE
    * flooring. `sin` differs by ~1 ulp across libms (Java Math.sin vs
    * DuckDB's libm), so an unsnapped floor could disagree between
    * engines for points within a ulp of a cell boundary; the snap
    * collapses both to the same 1e-6 grid point first (a ≤1e-6 shift
    * of a bin edge is immaterial for density binning — and [[cell]]
    * consumers never compare cell ids across engines, only oracle
    * queries do). Keep textually in sync with [[sql.ixSnapped]]. */
  def ixSnapped(lon: Column, level: Int): Column = {
    checkLevel(level)
    column(gridIndexExpr(expr(
      graft.functions.Det.d6(pmod(lon, lit(360.0)) / 360.0)), level))
  }

  /** See [[ixSnapped]]; sin(lat) axis. */
  def iySnapped(lat: Column, level: Int): Column = {
    checkLevel(level)
    column(gridIndexExpr(expr(
      graft.functions.Det.d6((sin(radians(lat)) + 1.0) / 2.0)), level))
  }

  /** Public packed-cell constructor from grid coordinates — [[cell]]
    * = mortonCell(ixy). Exposed so queries that group by (ix, iy) can
    * emit the packed id without recomputing the projection. */
  def mortonCell(ix: Column, iy: Column, level: Int): Column = {
    checkLevel(level)
    column(mortonExpr(expr(ix), expr(iy), level))
  }

  /** JVM twin of [[mortonCell]], for the neighbor kernel, [[cellId]]
    * and driver-sized lookup tables (e.g. dust-map ingest) built
    * without a Spark job per cell. */
  def mortonCellValue(ix: Long, iy: Long, level: Int): Long = {
    checkLevel(level)
    var m = 0L
    var b = 0
    while (b < level) {
      m |= ((ix >> b) & 1L) << (2 * b)
      m |= ((iy >> b) & 1L) << (2 * b + 1)
      b += 1
    }
    m | (level.toLong << 58)
  }

  /** DuckDB SQL twins of the snapped grid + morton packing, for
    * oracle-checked queries that output cell ids. All-integer bit
    * arithmetic after the snap, so the generated SQL is exact. */
  object sql {
    private def d6(e: String): String =
      s"CAST(CAST(($e) AS DECIMAL(18,6)) AS DOUBLE)"

    def ixSnapped(lonExpr: String, level: Int): String = {
      val n = 1L << level
      val fx = d6(s"((($lonExpr) % 360.0 + 360.0) % 360.0) / 360.0")
      s"GREATEST(LEAST(CAST(floor($fx * $n) AS BIGINT), ${n - 1}), 0)"
    }

    def iySnapped(latExpr: String, level: Int): String = {
      val n = 1L << level
      val fy = d6(s"(sin(radians($latExpr)) + 1.0) / 2.0")
      s"GREATEST(LEAST(CAST(floor($fy * $n) AS BIGINT), ${n - 1}), 0)"
    }

    def mortonCell(ixExpr: String, iyExpr: String, level: Int): String = {
      val bits = (0 until level).flatMap { b =>
        Seq(s"(((($ixExpr) >> $b) & 1) << ${2 * b})",
          s"(((($iyExpr) >> $b) & 1) << ${2 * b + 1})")
      }
      (Seq(s"(CAST(${level.toLong} AS BIGINT) << 58)") ++ bits)
        .mkString("(", " | ", ")")
    }
  }

  /** Packed row id — the engine's `_ID` pseudo-column (the
    * reference's packed object id: cell bits ‖ row-within-cell;
    * SURVEY.md §2B P8, ref `lsd/table.py` id assignment, UNVERIFIED).
    * Layout: (level << 58) | (morton << rowBits) | row, so ids sort
    * by cell (spatial locality) and `idCell` recovers the exact
    * SkyPix cell id without a lookup. Overflow of either the morton
    * bits (2·level + rowBits > 58) or the row counter raises at
    * runtime rather than corrupting ids. */
  def packId(cellCol: Column, rowCol: Column, rowBits: Int = 24): Column = {
    require(rowBits >= 1 && rowBits <= 40, s"rowBits $rowBits out of range")
    val mask58 = (1L << 58) - 1
    val level = shiftright(cellCol, 58)
    val morton = cellCol.bitwiseAND(lit(mask58))
    val packed = shiftleft(level, 58)
      .bitwiseOR(shiftleft(morton, rowBits))
      .bitwiseOR(rowCol)
    when(rowCol >= 0 && rowCol < (1L << rowBits) &&
      morton < (1L << (58 - rowBits)), packed)
      .otherwise(raise_error(concat(lit("packId overflow: row="), rowCol,
        lit(s" rowBits=$rowBits cell="), cellCol)))
  }

  /** Recover the SkyPix cell id from a packed `_ID`. */
  def idCell(idCol: Column, rowBits: Int = 24): Column = {
    val mask58 = (1L << 58) - 1
    shiftleft(shiftright(idCol, 58), 58)
      .bitwiseOR(shiftright(idCol.bitwiseAND(lit(mask58)), rowBits))
  }

  /** Recover the row-within-cell counter from a packed `_ID`. */
  def idRow(idCol: Column, rowBits: Int = 24): Column =
    idCol.bitwiseAND(lit((1L << rowBits) - 1))
}
