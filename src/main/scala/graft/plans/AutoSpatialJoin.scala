package graft.plans

import graft.spatial.CrossMatch
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

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

/** 9-slot strip-pruned neighbor-cell array as ONE compact expression —
  * `sky_neighbor_cells(lon, lat)` for a plan-time (level, margin).
  *
  * Why an expression and not a raw Catalyst tree: the tree form
  * (9 CaseWhen slots, each re-inlining the morton interleave and the
  * four strip predicates — no common-subexpression elimination runs
  * inside a Generate's generator) codegens to ~19k lines and Janino
  * dies with "Code grows beyond 64 KB" in generate_doConsume_0, so
  * the whole stage silently fell back to interpreted eval — an
  * interpreted-path tax on every probe row of the signature operator.
  * This form codegens to a single static call.
  *
  * Semantics are bit-identical to the old tree: every step mirrors
  * the Catalyst operator it replaces (Pmod's double path is
  * `r = a % n; if (r < 0) (r + n) % n else r` — verified against the
  * compiled class), and the interpreted and codegen paths share
  * [[NeighborCells.compute]]. Null slots mark pruned neighbors; the
  * downstream null-rejecting equi-join drops them. A null lon/lat
  * makes the whole array null (explode emits nothing) where the old
  * tree emitted 9 null slots — identical after the join. */
case class NeighborCells(lon: Expression, lat: Expression,
                         level: Int, marginDeg: Double)
    extends BinaryExpression {
  override def left: Expression = lon
  override def right: Expression = lat
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = lon.nullable || lat.nullable
  override def prettyName: String = "sky_neighbor_cells"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (children.forall(_.dataType == DoubleType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure("sky_neighbor_cells requires DOUBLE lon, lat")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NeighborCells.compute(a.asInstanceOf[Double], b.asInstanceOf[Double],
      level, marginDeg)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (l, b) =>
      s"${ev.value} = graft.plans.NeighborCells.compute(" +
        s"$l, $b, $level, ${marginDeg}D);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(lon = newLeft, lat = newRight)
}

object NeighborCells {
  /** Shared interpreted/codegen kernel. Arithmetic mirrors, op for
    * op, the Catalyst tree it replaced (ixy / morton / strip
    * predicates in [[AutoSpatialJoin]]'s comments) so the candidate
    * set is bit-identical. */
  def compute(lon: Double, lat: Double, level: Int,
              marginDeg: Double): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = 1L << level
    val w = 360.0 / n
    // Pmod(lon, 360.0) — Spark's exact double path
    val r0 = lon % 360.0
    val lonNorm = if (r0 < 0) (r0 + 360.0) % 360.0 else r0
    val fx = lonNorm / 360.0
    val fy = (math.sin(math.toRadians(lat)) + 1.0) / 2.0
    // Greatest(Least(cast(floor(f*n) as long), n-1), 0)
    def clamp(f: Double): Long =
      math.max(math.min(math.floor(f * n.toDouble).toLong, n - 1L), 0L)
    val ix = clamp(fx)
    val iy = clamp(fy)
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
    def morton(x: Long, y: Long): Long = {
      var acc = 0L
      var b = 0
      while (b < level) {
        acc |= ((x >> b) & 1L) << (2 * b)
        acc |= ((y >> b) & 1L) << (2 * b + 1)
        b += 1
      }
      acc
    }
    val tag = level.toLong << 58
    val slots = new Array[Any](9)
    var i = 0
    var dx = -1
    while (dx <= 1) {
      var dy = -1
      while (dy <= 1) {
        val strip = (dx, dy) match {
          case (0, 0)   => true
          case (-1, 0)  => westNear
          case (1, 0)   => eastNear
          case (0, -1)  => southNear
          case (0, 1)   => northNear
          case (-1, -1) => westNear && southNear
          case (-1, 1)  => westNear && northNear
          case (1, -1)  => eastNear && southNear
          case _        => eastNear && northNear // (1, 1)
        }
        val ny = iy + dy
        if (strip && ny >= 0 && ny < n) {
          // Pmod on longs: both operands positive here (ix+dx >= -1,
          // + n keeps it positive before the mod)
          val nx = (ix + dx + n) % n
          slots(i) = java.lang.Long.valueOf(morton(nx, ny) | tag)
        } // else null slot
        i += 1
        dy += 1
      }
      dx += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(slots)
  }
}

/** Optimizer rule: rewrite `Filter(sky_dist(al, aa, bl, bb) <= r,
  * Join(A, B, inner/cross, no condition))` — the plan a user gets from
  * the NAIVE `a.crossJoin(b).where(skyDist(...) <= r)` — into the
  * cell-blocked two-channel join [[CrossMatch.pairs]] builds by
  * hand:
  *
  *   - cell channel: both sides filtered below the polar cap, A keyed
  *     by its home SkyPix cell, B exploded (strip-pruned) into the
  *     neighbor cells within r, equi-join on cell;
  *   - cap channel: rows with either side above `capLat`, joined with
  *     the disjoint-hemisphere predicates (tiny by equal-area
  *     construction — Catalyst broadcasts it on its own).
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

  // Generated cell-key column names — the idempotence-guard signature
  // in [[rewrite]] and the key names emitted by [[blocked]] must stay
  // in lockstep, so both read from here.
  private val GenCellA = "_graft_ca"
  private val GenCellB = "_graft_cb"

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
    * (cell, user key); the rewrite's overhead is the 9-slot neighbor
    * explode (≤9× one side's rows, map-side) plus the cap-channel
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
          (a.name == GenCellA && b.name == GenCellB) ||
            (a.name == GenCellB && b.name == GenCellA)
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

  // ---- raw catalyst expression builders ----------------------------
  //
  // Rule-injected expressions never pass through the analyzer, and in
  // Spark 4 the `functions._` Column API builds ColumnNodes whose
  // conversion to resolved Expressions IS an analyzer step — so the
  // grid math here is spelled out with concrete catalyst classes
  // (numerically identical trees to SkyPix's Column builders; the
  // AutoSpatialJoinSpec brute-force equivalence pins the semantics).

  private def dbl(e: Expression): Expression = Cast(e, DoubleType)
  private def L(v: Long): Literal = Literal(v)
  private def D(v: Double): Literal = Literal(v)

  /** (ix, iy) grid coordinates — raw form of SkyPix.ixy. */
  private def ixy(lon: Expression, lat: Expression,
                  level: Int): (Expression, Expression) = {
    val n = 1L << level
    val fx = Divide(Pmod(lon, D(360.0)), D(360.0))
    val fy = Divide(Add(Sin(ToRadians(lat)), D(1.0)), D(2.0))
    def clamp(f: Expression) = Greatest(Seq(
      Least(Seq(Cast(Floor(Multiply(f, D(n.toDouble))), LongType),
        L(n - 1))), L(0L)))
    (clamp(fx), clamp(fy))
  }

  /** Morton interleave — raw form of SkyPix.morton. */
  private def morton(ix: Expression, iy: Expression,
                     level: Int): Expression =
    (0 until level).map { b =>
      val bx = ShiftLeft(BitwiseAnd(ShiftRight(ix, Literal(b)), L(1L)),
        Literal(2 * b))
      val by = ShiftLeft(BitwiseAnd(ShiftRight(iy, Literal(b)), L(1L)),
        Literal(2 * b + 1))
      BitwiseOr(bx, by)
    }.foldLeft(L(0L): Expression)(BitwiseOr(_, _))

  /** Packed cell id — raw form of SkyPix.cell. `private[graft]` so
    * [[graft.GraftExtensions]] can expose it as the SQL function
    * `sky_cell(lon, lat, level)`. */
  private[graft] def cellExpr(lon: Expression, lat: Expression,
                              level: Int): Expression = {
    val (ix, iy) = ixy(lon, lat, level)
    BitwiseOr(morton(ix, iy, level), L(level.toLong << 58))
  }

  private def blocked(left: LogicalPlan, right: LogicalPlan,
                      sd: SkyDist, radius: Double): LogicalPlan = {
    // orient: (aLon, aLat) on the left plan, (bLon, bLat) on the right
    val leftFirst =
      (sd.lon1.references ++ sd.lat1.references).subsetOf(left.outputSet)
    val (aLon, aLat) = if (leftFirst) (sd.lon1, sd.lat1) else (sd.lon2, sd.lat2)
    val (bLon, bLat) = if (leftFirst) (sd.lon2, sd.lat2) else (sd.lon1, sd.lat1)

    val level = CrossMatch.levelFor(radius, CapLat)
    // NeighborCells emits the raw 9-slot (dx,dy) array with NO
    // array_distinct: slot distinctness relies on the grid having
    // >= 4 columns and >= 4 rows (at level l the grid is 2^l × 2^l),
    // i.e. level >= 2 — at level <= 1, wraparound aliases east/west
    // (or north/south) slots onto the same cell and the join would
    // emit duplicate pairs. levelFor(r <= 1 deg) >= 4 today; this
    // guard makes a future radius-scope widening fail loudly instead
    // of silently corrupting results.
    require(level >= 2,
      s"AutoSpatialJoin: blocking level $level < 2 would alias " +
        "neighbor slots (duplicate pairs); widen levelFor or dedup " +
        "the neighbor array before lowering the level")

    // --- cell channel (both sides below the cap) ---
    val aBelow = Filter(LessThanOrEqual(Abs(aLat), D(CapLat)), left)
    val cellA = Alias(cellExpr(aLon, aLat, level), GenCellA)()
    val aKeyed = Project(left.output :+ cellA, aBelow)

    val bBelow = Filter(LessThanOrEqual(Abs(bLat), D(CapLat)), right)
    val explode = Explode(NeighborCells(bLon, bLat, level, radius))
    val elemField = explode.elementSchema.fields.head
    val cellB = AttributeReference(GenCellB, elemField.dataType,
      elemField.nullable)()
    val bKeyed = Generate(explode, unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Seq(cellB), child = bBelow)

    val cellJoin = Join(aKeyed, bKeyed, Inner,
      Some(EqualTo(cellA.toAttribute, cellB)), JoinHint.NONE)
    val cellChannel = Project(left.output ++ right.output, cellJoin)

    // --- polar cap channel (disjoint from the cell channel: requires
    // at least one side strictly above the cap) ---
    val capEdge = D(CapLat - radius)
    val aCap = Filter(GreaterThan(Abs(aLat), capEdge), left)
    val bCap = Filter(GreaterThan(Abs(bLat), capEdge), right)
    val capCond = And(
      Or(GreaterThan(Abs(aLat), D(CapLat)), GreaterThan(Abs(bLat), D(CapLat))),
      EqualTo(Signum(aLat), Signum(bLat)))
    val capJoin = Join(aCap, bCap, Inner, Some(capCond), JoinHint.NONE)
    val capChannel = Project(left.output ++ right.output, capJoin)

    Union(Seq(cellChannel, capChannel))
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
