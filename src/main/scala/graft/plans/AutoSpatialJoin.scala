package graft.plans

import graft.spatial.CrossMatch
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `sky_dist(lon1, lat1, lon2, lat2)` — great-circle distance in
  * degrees (haversine), as a first-class expression. Works anywhere a
  * Column works (codegen'd, same java.lang.Math calls as the
  * functions-API tree, so numerically identical to
  * [[CrossMatch.distDeg]]); additionally serves as the MARKER the
  * [[AutoSpatialJoin]] optimizer rule pattern-matches to turn a naive
  * cross join + radius filter into the cell-blocked plan.
  */
case class SkyDist(lon1: Expression, lat1: Expression,
                   lon2: Expression, lat2: Expression)
    extends QuaternaryExpression {
  override def first: Expression = lon1
  override def second: Expression = lat1
  override def third: Expression = lon2
  override def fourth: Expression = lat2
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (children.forall(_.dataType == DoubleType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure("sky_dist requires four DOUBLE arguments")
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "sky_dist"

  @inline private def hav(l1: Double, b1: Double,
                          l2: Double, b2: Double): Double = {
    val dLat = math.toRadians(b2 - b1)
    val dLon = math.toRadians(l2 - l1)
    val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
      math.cos(math.toRadians(b1)) * math.cos(math.toRadians(b2)) *
        math.sin(dLon / 2) * math.sin(dLon / 2)
    math.toDegrees(2 * math.asin(math.sqrt(a)))
  }

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    hav(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (l1, b1, l2, b2) => {
      val dLat = ctx.freshName("dLat")
      val dLon = ctx.freshName("dLon")
      val h = ctx.freshName("h")
      s"""
         |double $dLat = java.lang.Math.toRadians($b2 - $b1);
         |double $dLon = java.lang.Math.toRadians($l2 - $l1);
         |double $h = java.lang.Math.sin($dLat / 2) * java.lang.Math.sin($dLat / 2)
         |  + java.lang.Math.cos(java.lang.Math.toRadians($b1))
         |    * java.lang.Math.cos(java.lang.Math.toRadians($b2))
         |    * java.lang.Math.sin($dLon / 2) * java.lang.Math.sin($dLon / 2);
         |${ev.value} = java.lang.Math.toDegrees(
         |  2 * java.lang.Math.asin(java.lang.Math.sqrt($h)));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(lon1 = newFirst, lat1 = newSecond, lon2 = newThird,
      lat2 = newFourth)
}

/** Optimizer rule: rewrite `Filter(sky_dist(al, aa, bl, bb) <= r,
  * Join(A, B, inner/cross, no condition))` — the plan a user gets from
  * the NAIVE `a.crossJoin(b).where(skyDist(...) <= r)` — into the
  * cell-blocked two-channel join of [[CrossMatch.pairs]], built by
  * CrossMatch's one channel builder ([[CrossMatch.explodeCells]] and
  * [[CrossMatch.channels]]): a cell channel below the polar cap (A
  * keyed by its home SkyPix cell, B exploded strip-pruned into the
  * neighbor cells within r) and the broadcast polar-cap channel.
  *
  * The original filter (including the exact sky_dist refine and any
  * other conjuncts) is re-applied above the union, so the rewrite is
  * semantics-preserving BY CONSTRUCTION — it changes O(|A|·|B|) into
  * one shuffle join, which is the difference between a query that
  * runs at 100 TB and one that never finishes. Enable with
  * `spark.experimental.extraOptimizations ++= Seq(AutoSpatialJoin)`.
  *
  * Scope: fires only for radius ≤ 1°, distance arguments split one
  * side each, join without an existing condition. Anything else is
  * left untouched (sky_dist still evaluates directly — the marker is
  * a real expression, not a placeholder).
  */
object AutoSpatialJoin extends Rule[LogicalPlan] with PredicateHelper {

  private val CapLat = CrossMatch.CapLat

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // post-pushdown shape: extraOptimizations run AFTER the main
    // batches, so PushPredicateThroughJoin has already folded the
    // user's Filter into the join condition
    case j @ Join(left, right, jt, Some(cond), _)
        if jt == Inner || jt == Cross =>
      rewrite(left, right, cond).getOrElse(j)
    // pre-pushdown shape (rule applied manually on an analyzed plan)
    case f @ Filter(cond, Join(left, right, jt, None, _))
        if jt == Inner || jt == Cross =>
      rewrite(left, right, cond).getOrElse(f)
  }

  /** If `cond` carries a `sky_dist(...) <= r` conjunct with sides
    * split across the join, return the blocked rewrite (full `cond`
    * re-applied above the union — semantics-preserving superset +
    * exact refine).
    *
    * IDEMPOTENCE GUARD (load-bearing for SparkSessionExtensions):
    * `injectOptimizerRule` places this rule in the main FIXED-POINT
    * operator-optimization batch together with
    * PushPredicateThroughJoin, which pushes the re-applied sky_dist
    * refine INTO the generated joins — without the guard the rule
    * re-matches its own output every iteration and the plan doubles
    * until the iteration cap (observed as a spin in ExtensionsSmoke).
    * The guard recognizes the rule's OWN output by its generated
    * signature — the cell-channel key `_graft_ca = _graft_cb` or the
    * cap channel's `signum(lat1) = signum(lat2)` over EXACTLY the lat
    * expressions of the sky_dist conjunct (semanticEquals, either
    * orientation — a user's incidental signum equality on other
    * columns is not rule output and must not suppress the rewrite) —
    * rather than by the presence of any cross-side equality: a user join that carries an
    * incidental low-cardinality equality (e.g. `a.source = b.source`)
    * alongside `sky_dist <= r` still deserves the blocked rewrite
    * (the hash join on such a key is near-cartesian), and the full
    * original condition, equality included, is re-applied above the
    * union so semantics are preserved. Cost bound for the converse
    * case — a SELECTIVE (high-cardinality) user equality that alone
    * would hash-join well: pushdown folds that equality into the
    * generated cell join too, so the join stays keyed on
    * (cell, user key); the rewrite's overhead is the strip-pruned
    * neighbor explode (≤9× one side's rows, map-side) plus the cap-channel
    * arm — bounded linear work, never a blow-up. Cardinality-aware
    * skipping would need reliable row-count stats the rule cannot
    * assume; the sky_dist marker is treated as declared spatial
    * intent. A TreeNodeTag would not
    * survive here: PushPredicateThroughJoin constructs FRESH Join
    * nodes when folding filters in, and `transformDown` copies tags
    * from the matched Filter, not the replaced Join — the condition
    * conjuncts are the only signature guaranteed to persist. */
  private def rewrite(left: LogicalPlan, right: LogicalPlan,
                      cond: Expression): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // NormalizeFloatingNumbers (a late optimizer batch) wraps float
    // join keys as KnownFloatingPointNormalized(NormalizeNaNAndZero(
    // signum(...))) — a SECOND optimizer execute (cached-plan re-
    // optimization, a test's explicit re-run) presents the cap
    // channel's signum equality in that dress, so the signature match
    // must strip the wrappers or the cap join gets re-rewritten.
    def stripNorm(e: Expression): Expression = e match {
      case KnownFloatingPointNormalized(x) => stripNorm(x)
      case org.apache.spark.sql.catalyst.optimizer
        .NormalizeNaNAndZero(x) => stripNorm(x)
      case x => x
    }
    conjuncts.collectFirst {
      case LessThanOrEqual(sd: SkyDist, Literal(r: Double, DoubleType))
          if r > 0 && r <= 1.0 && sidesSplit(left, right, sd) => (sd, r)
    }.flatMap { case (sd, r) =>
      val isOwnOutput = conjuncts.exists {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          (a.name == CrossMatch.CellA && b.name == CrossMatch.CellB) ||
            (a.name == CrossMatch.CellB && b.name == CrossMatch.CellA)
        case EqualTo(l, rr) =>
          // the cap channel's EXACT generated signature: signum over
          // the SAME lat expressions the sky_dist conjunct matches on,
          // one per side (either orientation). A user join carrying an
          // incidental signum(x)=signum(y) on OTHER columns must NOT
          // be mistaken for rule output — that would silently skip the
          // blocked rewrite and execute the cartesian (r17 advice).
          (stripNorm(l), stripNorm(rr)) match {
            case (Signum(x), Signum(y)) =>
              (x.semanticEquals(sd.lat1) && y.semanticEquals(sd.lat2)) ||
                (x.semanticEquals(sd.lat2) && y.semanticEquals(sd.lat1))
            case _ => false
          }
        case _ => false
      }
      if (isOwnOutput) None
      else Some(Filter(cond, blocked(left, right, sd, r)))
    }
  }

  /** lon1/lat1 must come entirely from one side and lon2/lat2 from
    * the other (either orientation). */
  private def sidesSplit(left: LogicalPlan, right: LogicalPlan,
                         sd: SkyDist): Boolean = {
    val aRefs = sd.lon1.references ++ sd.lat1.references
    val bRefs = sd.lon2.references ++ sd.lat2.references
    (aRefs.subsetOf(left.outputSet) && bRefs.subsetOf(right.outputSet)) ||
      (aRefs.subsetOf(right.outputSet) && bRefs.subsetOf(left.outputSet))
  }

  /** CrossMatch's channels with A = `left`, B = `right`, so the union
    * keeps the join's output order. */
  private def blocked(left: LogicalPlan, right: LogicalPlan,
                      sd: SkyDist, radius: Double): LogicalPlan = {
    // orient: (aLon, aLat) on the left plan, (bLon, bLat) on the right
    val leftFirst =
      (sd.lon1.references ++ sd.lat1.references).subsetOf(left.outputSet)
    val (aLon, aLat) = if (leftFirst) (sd.lon1, sd.lat1) else (sd.lon2, sd.lat2)
    val (bLon, bLat) = if (leftFirst) (sd.lon2, sd.lat2) else (sd.lon1, sd.lat1)
    val level = CrossMatch.levelFor(radius, CapLat)
    val (bCells, cellB) =
      CrossMatch.explodeCells(right, bLon, bLat, level, radius, CapLat)
    CrossMatch.channels(left, aLon, aLat, level, bCells, cellB, right, bLat,
      radius, CapLat)
  }
}

/** User-facing Column constructor for [[SkyDist]]. */
object sky {
  import org.apache.spark.sql.Column
  def skyDist(lon1: Column, lat1: Column,
              lon2: Column, lat2: Column): Column =
    GraftShims.column(SkyDist(GraftShims.expression(lon1),
      GraftShims.expression(lat1), GraftShims.expression(lon2),
      GraftShims.expression(lat2)))
}
