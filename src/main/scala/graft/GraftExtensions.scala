package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** One-line engine integration for ANY SparkSession — the
  * `SparkSessionExtensions` registration point the builder brief asks
  * custom operators to ship behind:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions   // config, or
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  * }}}
  *
  * Injects:
  *  - the [[plans.AutoSpatialJoin]] optimizer rule (naive
  *    `crossJoin + sky_dist(...) <= r` rewrites to the cell-blocked
  *    two-channel join — the rewrite that turns O(|A|·|B|) into one
  *    shuffle join at 100 TB);
  *  - the [[plans.TopKPerGroupStrategy]] planner strategy (grouped
  *    top-k as partial/final heaps — shuffles k·groups rows, never
  *    sorts the input);
  *  - SQL functions, so the engine surface works from plain
  *    `spark.sql(...)` without Scala imports:
  *      `sky_dist(lon1, lat1, lon2, lat2)` — great-circle degrees
  *        (codegen'd; doubles as the AutoSpatialJoin marker),
  *      `sky_cell(lon, lat, level)` — packed equal-area cell id
  *        (the SkyPix grid; level must be a foldable int),
  *      `sky_neighbor_cells(lon, lat, level, marginDeg)` — the
  *        strip-pruned neighbor cells as a compact array (distinct
  *        ids, home cell included, no null entries),
  *      `snap6(x)` — the determinism snap (decimal(18,6) round trip,
  *        codegen'd fast path).
  *
  * Everything injected here is also reachable programmatically
  * ([[plans.sky.skyDist]], [[spatial.SkyPix]], [[functions.Det]]) —
  * this class only REGISTERS, it holds no logic.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // SQL literal spellings are forgiving: `4` parses as INT but `4L`
  // as BIGINT, and `0.1` as DECIMAL(1,1) — accept every exact-integer
  // / numeric foldable form rather than forcing the `0.1D` spelling.
  private def foldableInt(e: Expression, what: String): Int =
    if (e.foldable) e.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      // DECIMAL spellings like `4.0` — accept when the value is an
      // exact int (mirrors foldableDouble's Decimal widening)
      case dec: org.apache.spark.sql.types.Decimal
          if dec.toBigDecimal.isValidInt => dec.toBigDecimal.toIntExact
      case v => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $v")
    } else throw new IllegalArgumentException(
      s"$what must be a foldable integer literal")
  private def foldableDouble(e: Expression, what: String): Double =
    if (e.foldable) e.eval() match {
      case d: Double => d
      case f: Float => f.toDouble
      case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case v => throw new IllegalArgumentException(
        s"$what must be a numeric literal, got $v")
    } else throw new IllegalArgumentException(
      s"$what must be a foldable numeric literal")

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "",
      "built-in")

  /** The injected SQL functions, exposed so the spec can exercise
    * each builder directly (the full fresh-session registration path
    * runs in tools.ExtensionsSmoke — extensions only apply at session
    * CREATION, so it needs its own JVM). */
  val sqlFunctions: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (new FunctionIdentifier("sky_dist"),
        info("sky_dist",
          "sky_dist(lon1, lat1, lon2, lat2) - great-circle distance " +
            "in degrees"),
        (args: Seq[Expression]) => {
          require(args.length == 4, "sky_dist(lon1, lat1, lon2, lat2)")
          plans.SkyDist(args(0), args(1), args(2), args(3))
        }),
      (new FunctionIdentifier("sky_cell"),
        info("sky_cell",
          "sky_cell(lon, lat, level) - packed equal-area sky cell id"),
        (args: Seq[Expression]) => {
          require(args.length == 3, "sky_cell(lon, lat, level)")
          spatial.SkyPix.cellExpr(args(0), args(1),
            foldableInt(args(2), "sky_cell level"))
        }),
      (new FunctionIdentifier("sky_neighbor_cells"),
        info("sky_neighbor_cells",
          "sky_neighbor_cells(lon, lat, level, marginDeg) - " +
            "strip-pruned neighbor cell ids (compact, home cell included)"),
        (args: Seq[Expression]) => {
          require(args.length == 4,
            "sky_neighbor_cells(lon, lat, level, marginDeg)")
          spatial.NeighborCells(args(0), args(1),
            foldableInt(args(2), "sky_neighbor_cells level"),
            foldableDouble(args(3), "sky_neighbor_cells marginDeg"))
        }),
      (new FunctionIdentifier("snap6"),
        info("snap6",
          "snap6(x) - snap a double to the 1e-6 decimal grid " +
            "(oracle-determinism helper)"),
        (args: Seq[Expression]) => {
          require(args.length == 1, "snap6(x)")
          functions.SnapDecimal6(args(0))
        }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => plans.AutoSpatialJoin)
    ext.injectPlannerStrategy(_ => plans.TopKPerGroupStrategy)
    sqlFunctions.foreach(ext.injectFunction)
  }
}
