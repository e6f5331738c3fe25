package graft.spatial

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression, ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  LongType}

/** `sky_neighbor_cells(lon, lat)` at a plan-time (level, marginDeg):
  * the home cell plus the neighbor cells whose boundary lies within
  * `marginDeg` of the point, as a compact array — distinct ids,
  * in-range and strip-kept only, no null entries. NULL for a NULL
  * coordinate, so explode emits nothing for it. The one neighbor-cell
  * implementation: [[SkyPix.neighborCellsWithin]], the SQL function
  * and [[graft.plans.AutoSpatialJoin]] all build this expression.
  *
  * Why one expression over a JVM kernel and not a Catalyst tree: the
  * tree form (9 CaseWhen slots, each re-inlining the morton interleave
  * and the four strip predicates; no common-subexpression elimination
  * runs inside a Generate's generator) codegens to ~19k lines and
  * Janino fails with "Code grows beyond 64 KB", and the compact form
  * of it needs `filter(isNotNull)`, which is interpreted-only
  * (`ArrayFilter` is `CodegenFallback`). This form codegens to one
  * static call. */
case class NeighborCells(lon: Expression, lat: Expression,
                         level: Int, marginDeg: Double)
    extends BinaryExpression with ImplicitCastInputTypes {
  require(level >= 0 && level <= SkyPix.MaxLevel,
    s"level $level out of range")
  require(marginDeg >= 0 && !marginDeg.isInfinite,
    s"marginDeg must be finite and >= 0, got $marginDeg")

  override def left: Expression = lon
  override def right: Expression = lat
  override def inputTypes = Seq(DoubleType, DoubleType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sky_neighbor_cells"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(NeighborCells.ids(
      a.asInstanceOf[Double], b.asInstanceOf[Double], level, marginDeg))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, b) =>
      s"${ev.value} = ${classOf[UnsafeArrayData].getName}" +
        s".fromPrimitiveArray(graft.spatial.NeighborCells.ids(" +
        s"$l, $b, $level, ${marginDeg}D));")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(lon = newLeft, lat = newRight)
}

object NeighborCells {
  /** The neighbor-cell kernel: the cells of the 3×3 neighborhood of
    * (lon, lat) at `level` that lie in range (lon wraps, lat clamps)
    * and within `marginDeg` of the point, in (dx, dy) order, each id
    * once. The grid is [[SkyPix.cellExpr]]'s, op for op, so the home
    * cell is always the Catalyst `SkyPix.cell`.
    *
    * The per-edge distance tests are exact LOWER bounds on the
    * great-circle distance to the neighbor cell, so pruning on them is
    * conservative (never drops a replica a radius-`marginDeg` match
    * could need):
    *   - meridian (east/west edge): any geodesic into the neighbor
    *     crosses the edge meridian, and the point-to-meridian distance
    *     d satisfies sin d = sin(Δlon)·cos(lat) (cross-track formula,
    *     exact; both sides are in [0°, 90°] for cells ≤ 90° wide,
    *     coarser cells make sin non-monotone, which only
    *     over-replicates);
    *   - parallel (north/south edge): point-to-parallel distance is
    *     exactly |Δlat|;
    *   - diagonal neighbors must cross BOTH boundaries, so both tests
    *     apply (dist ≥ max of the two lower bounds).
    * `marginDeg` = 180 passes every test. */
  def ids(lon: Double, lat: Double, level: Int,
          marginDeg: Double): Array[Long] = {
    val n = 1L << level
    val w = 360.0 / n
    val lonNorm = SkyPix.lonNorm(lon)
    val (ix, iy) = SkyPix.gridOf(lon, lat, level)
    val cosLat = math.cos(math.toRadians(lat))
    val sinMargin = math.sin(math.toRadians(math.min(90.0, marginDeg)))
    val dLonE = (ix + 1L).toDouble * w - lonNorm
    val dLonW = lonNorm - ix.toDouble * w
    val eastNear = math.sin(math.toRadians(dLonE)) * cosLat <= sinMargin
    val westNear = math.sin(math.toRadians(dLonW)) * cosLat <= sinMargin
    val latEdgeN = math.toDegrees(math.asin(
      (iy + 1L).toDouble * (2.0 / n) - 1.0))
    val latEdgeS = math.toDegrees(math.asin(iy.toDouble * (2.0 / n) - 1.0))
    val northNear = latEdgeN - lat <= marginDeg
    val southNear = lat - latEdgeS <= marginDeg
    val out = new Array[Long](9)
    var k = 0
    var dx = -1
    while (dx <= 1) {
      val lonKept = dx == 0 || (if (dx < 0) westNear else eastNear)
      var dy = -1
      while (dy <= 1) {
        val latKept = dy == 0 || (if (dy < 0) southNear else northNear)
        val ny = iy + dy
        if (lonKept && latKept && ny >= 0 && ny < n) {
          // at levels 0 and 1 the wrap and the clamp alias neighbors
          // onto one cell: keep each id once
          val id = SkyPix.mortonCellValue((ix + dx + n) % n, ny, level)
          var j = 0
          while (j < k && out(j) != id) j += 1
          if (j == k) { out(k) = id; k += 1 }
        }
        dy += 1
      }
      dx += 1
    }
    java.util.Arrays.copyOf(out, k)
  }
}
