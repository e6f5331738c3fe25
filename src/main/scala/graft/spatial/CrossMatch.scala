package graft.spatial

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{Abs, Alias, And, Attribute,
  AttributeReference, EqualTo, Explode, Expression, GreaterThan,
  LessThanOrEqual, Literal, Or, Signum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter,
  Generate, HintInfo, Join, JoinHint, LogicalPlan, Project, Union}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spatial nearest-neighbor cross-match — the reference's signature
  * operator (`lsd-xmatch` + neighbor-margin cache; SURVEY.md §2C J6,
  * UNVERIFIED).
  *
  * For every row of A, find the B rows within `radiusDeg` great-circle
  * distance, keep the `nmax` nearest (ties broken by lowest B id).
  *
  * Spark-native two-phase plan (no custom physical operator needed):
  *
  *   1. blocking — B is exploded to its cell's ≤9-cell neighborhood at
  *      a radius-derived SkyPix level (the query-time equivalent of
  *      LSD's write-time margin replication: the *probe* set is
  *      duplicated into adjacent cells instead of the stored rows),
  *      then equi-joined to A on cell id. One shuffle, each side
  *      hashed by a well-distributed equal-area key. A [[Margined]]
  *      probe reads the replicas from a write-time margin layout
  *      instead ([[pairs]]).
  *   2. refine — exact haversine distance filter + per-A-row
  *      `row_number` window for the nmax-nearest ranking ([[nearest]]).
  *
  * Polar caps: the cylindrical grid loses lon-adjacency closure above
  * |lat| ≈ 85°, so pairs with either side in the cap region are
  * matched through a separate broadcast join of the (by equal-area
  * construction, tiny) polar slices. The two channels are disjoint,
  * so no dedup pass is needed.
  *
  * The channel decomposition is written once, as logical-plan
  * builders ([[explodeCells]], [[channels]], [[capChannel]]): [[pairs]]
  * wraps their plan into a DataFrame, and the optimizer rule
  * [[graft.plans.AutoSpatialJoin]] injects the same plan in place of a
  * naive cross join.
  *
  * At 100 TB: phase 1 is a plain shuffle join on a balanced key;
  * nothing is driver-side, the window in phase 2 shuffles by A id
  * only for rows that had candidates, and the cap channel stays a
  * broadcast as long as the catalog isn't polar-concentrated.
  */
object CrossMatch {
  val CapLat = 85.0

  /** Great-circle distance in degrees (haversine, built-ins only). */
  def distDeg(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = sin(dLat / 2) * sin(dLat / 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dLon / 2) * sin(dLon / 2)
    degrees(lit(2) * asin(sqrt(a)))
  }

  /** DuckDB/Spark-portable SQL text of [[distDeg]], for oracle queries. */
  object sql {
    /** Haversine distance in degrees from (lonA, latA) to (lonB, latB),
      * each a SQL expression. One text for every oracle distance: a
      * transposed term in a hand-inlined copy would give an oracle that
      * only fails at a boundary row. */
    def distDeg(lonA: String, latA: String,
                lonB: String, latB: String): String =
      "degrees(2 * asin(sqrt(" +
        s"sin(radians(($latB) - ($latA)) / 2) * " +
        s"sin(radians(($latB) - ($latA)) / 2)" +
        s" + cos(radians($latA)) * cos(radians($latB))" +
        s" * sin(radians(($lonB) - ($lonA)) / 2)" +
        s" * sin(radians(($lonB) - ($lonA)) / 2))))"
  }

  /** Finest level whose 3×3 neighborhood is closure-complete for
    * radius-r matching below `capLat`, from the exact grid geometry
    * (10% safety margin on the small-angle approximations):
    *
    *   y: a radius-r disc spans Δ(sin lat)/2 ≤ r·π/360 in fy, which
    *      must fit within one cell (1/2^l) → 2^l ≤ 360/(π·r).
    *   x: at latitude `capLat` the disc spans Δlon ≈ r/cos(capLat),
    *      i.e. Δfx ≤ r/(360·cos capLat) → 2^l ≤ 360·cos(capLat)/r.
    *
    * `capLat` is a perf knob WITHIN its legal range [radiusDeg, 85°]
    * (enforced in [[pairs]]): rows above it are routed through the
    * broadcast cap channel regardless, but below radiusDeg the
    * channel decomposition stops being complete (cross-equator pairs
    * with one side above the cap would be dropped). Catalogs confined
    * to low latitudes should pass their actual extent — e.g. an
    * equatorial band at r=0.95° blocks at level 6 (≈2k live cells)
    * instead of the polar-safe level 4. */
  def levelFor(radiusDeg: Double, capLat: Double = CapLat): Int = {
    val r = radiusDeg * 1.1
    val ly = math.floor(math.log(360.0 / (math.Pi * r)) / math.log(2)).toInt
    val lx = math.floor(
      math.log(360.0 * math.cos(math.toRadians(capLat)) / r) / math.log(2)).toInt
    math.max(0, math.min(12, math.min(ly, lx)))
  }

  /** Superset headroom of snapped matching: candidates are blocked and
    * raw-refined at `radiusDeg + snapHeadroom(radiusDeg)` before the d6
    * snap decides membership. The headroom must dominate BOTH libm ulps
    * (0.1% relative) and the d6 snap half-step (absolute: a raw
    * distance up to r + 5e-7 still snaps to <= r, so a purely relative
    * margin would lose members at arcsecond-scale radii). */
  def snapHeadroom(radiusDeg: Double): Double = math.max(radiusDeg * 1e-3, 1e-6)

  /** Where B's neighbor replicas come from. */
  sealed trait Probe

  /** B exploded at query time: each B row visits its strip-pruned
    * neighbor cells at the radius-derived level [[levelFor]]. */
  final case class Blocking(b: DataFrame) extends Probe

  /** B read back WITH margins from a write-time margin layout —
    * LSD's signature storage trick: `SpatialWriter.write(margin =
    * Some(r), level)` already replicated each B row into its 9-cell
    * neighborhood (columns `cell`, `is_margin`), so the cell channel is
    * a plain equi-join of A's home cell against the stored replicas —
    * NO query-time explode, which at 100 TB removes a 9× row
    * amplification (and its shuffle write) from every query against
    * the catalog. `level` is the level the layout was WRITTEN at; it
    * must be ≤ levelFor(radiusDeg, capLat) or neighbor closure fails.
    * The written margin must cover the blocking radius (callers check
    * with `SpatialWriter.requireMargin`). */
  final case class Margined(bMargined: DataFrame, level: Int) extends Probe

  /** All pairs within `radiusDeg`: columns a_id, b_id, dist_deg, then
    * a_lon, a_lat, b_lon, b_lat when `keepCoords`, then `carryA` and
    * `carryB`.
    *
    * Channel decomposition: the cell channel joins A rows at or below
    * `capLat` on their home cell against B's replicas (exploded or
    * stored, per `probe`); the polar-cap channel ([[capChannel]])
    * matches pairs with a side above it by broadcast, over B's PRIMARY
    * rows only (margin replicas would duplicate cap pairs).
    *
    * `carryA`/`carryB` name caller columns to pass through unchanged —
    * the form epoch-aware matching needs: per-pair refinement against
    * PROPAGATED positions must see each side's payload in the
    * candidate relation, not re-join it afterwards (an extra shuffle
    * of the big side at survey scale). They must not collide with
    * a_id/a_lon/a_lat/b_id/b_lon/b_lat/cell/dist_deg. Candidates are
    * refined to `radiusDeg` at the GIVEN coordinates.
    *
    * `hotThreshold` turns on deep-field skew mitigation — the survey
    * reality where one pointing is observed 100× more than the rest
    * of the sky, so one blocking cell funnels |A_cell| × |B_cell|
    * candidate work through a single task. One count aggregation finds
    * the cells whose A-side population exceeds it (driver-sized: a
    * deep field is a handful of cells). Cold rows take the plain plan
    * untouched. Hot rows are SALTED into `salts` sub-buckets on a hash
    * of the A id, while the hot cells' B replicas (a spatially bounded
    * slice) replicate per salt ([[graft.operators.Skew]]'s
    * salted-broadcast shape): the one monster task becomes `salts`
    * even tasks. The cap channel re-attaches for the hot rows, so the
    * pairs are EXACTLY the plain plan's. When B is ALSO dense at the
    * deep field (probe rows × salts > `maxBroadcastRows`) the hot
    * channel joins on (cell, salt) by shuffle instead of broadcast —
    * same rows, no driver/broadcast-memory cliff. Asserted against the
    * plain plan on a 100× deep field, with the per-bucket work bound
    * checked, by tools/ScaleSmoke as of commit 1372bdc. */
  def pairs(a: DataFrame, probe: Probe,
            aId: String, aLon: String, aLat: String,
            bId: String, bLon: String, bLat: String,
            radiusDeg: Double, capLat: Double = CapLat,
            hotThreshold: Option[Long] = None, salts: Int = 16,
            maxBroadcastRows: Long = 4L << 20,
            carryA: Seq[String] = Nil, carryB: Seq[String] = Nil,
            keepCoords: Boolean = false): DataFrame = {
    require(radiusDeg > 0 && radiusDeg <= 1.0,
      s"radiusDeg must be in (0, 1], got $radiusDeg")
    // capLat >= radiusDeg is a CORRECTNESS bound, not a perf knob: the
    // two channels are only jointly complete when any cross-hemisphere
    // pair (signum filter in the cap channel) is provably farther than
    // radiusDeg apart, i.e. when the caps are >= radiusDeg from the
    // equator. Below that, a sub-cap row could match an above-cap row
    // of the opposite sign and both channels would drop the pair.
    require(capLat >= radiusDeg && capLat <= CapLat,
      s"capLat must be in [$radiusDeg (radiusDeg), $CapLat], got $capLat")
    val reserved = Set("a_id", "a_lon", "a_lat", "b_id", "b_lon", "b_lat",
      "cell", "dist_deg")
    require((carryA ++ carryB).forall(c => !reserved(c)),
      s"carry columns may not collide with $reserved")
    require(hotThreshold.forall(ht => ht >= 1 && salts >= 1),
      s"salts, hotThreshold >= 1, got $salts, $hotThreshold")

    val aSel = a.select(col(aId).as("a_id") +: col(aLon).as("a_lon") +:
      col(aLat).as("a_lat") +: carryA.map(col): _*)
    def bSel(df: DataFrame, extra: Column*): DataFrame =
      df.select((col(bId).as("b_id") +: col(bLon).as("b_lon") +:
        col(bLat).as("b_lat") +: carryB.map(col)) ++ extra: _*)
    def plan(df: DataFrame): LogicalPlan = GraftShims.analyzed(df)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).get
    // B's cell-channel rows (B's primary columns plus `CellB`), the
    // cell attribute, and B's primary rows
    val (level, bCells, cellB, bPrim) = probe match {
      case Blocking(b) =>
        // strip-pruned explode: a B row only visits neighbor cells
        // whose boundary is within radiusDeg (exact lower-bound tests
        // — see SkyPix.neighborCellsWithin), so the explode factor is
        // 1 + strip fraction, not a flat 9×
        val level = levelFor(radiusDeg, capLat)
        val bs = plan(bSel(b))
        val (cells, cellB) = explodeCells(bs, attr(bs, "b_lon"),
          attr(bs, "b_lat"), level, radiusDeg, capLat)
        (level, cells, cellB, bs)
      case Margined(bM, level) =>
        require(level <= levelFor(radiusDeg, capLat),
          s"margin cache written at level $level is too fine for radius " +
            s"$radiusDeg below lat $capLat (max " +
            s"${levelFor(radiusDeg, capLat)})")
        val bs = bSel(bM, col("cell").as(CellB), col("is_margin"))
        val cells = plan(bs.filter(abs(col("b_lat")) <= capLat)
          .drop("is_margin"))
        (level, cells, attr(cells, CellB),
          plan(bs.filter(!col("is_margin")).drop(CellB, "is_margin")))
    }
    val bLatPrim = attr(bPrim, "b_lat")
    val spark = a.sparkSession
    val coords = if (keepCoords) Seq("a_lon", "a_lat", "b_lon", "b_lat")
    else Nil
    val refined = refine(radiusDeg, coords ++ carryA ++ carryB) _
    def channelsOf(aPart: DataFrame): DataFrame = {
      val ap = plan(aPart)
      GraftShims.ofRows(spark, channels(ap, attr(ap, "a_lon"),
        attr(ap, "a_lat"), level, bCells, cellB, bPrim, bLatPrim,
        radiusDeg, capLat)).transform(refined)
    }

    lazy val aCelled = aSel.withColumn("cell",
      SkyPix.cell(col("a_lon"), col("a_lat"), level))
    val hot = hotThreshold.toSeq.flatMap { ht =>
      aCelled.filter(abs(col("a_lat")) <= capLat)
        .groupBy("cell").count().filter(col("count") > ht)
        .select("cell").collect().map(_.getLong(0)).toSeq
    }
    if (hot.isEmpty) channelsOf(aSel)
    else {
      val isHot = col("cell").isin(hot: _*) && abs(col("a_lat")) <= capLat
      val aHot = aCelled.filter(isHot)
        .withColumn("_salt", pmod(xxhash64(col("a_id")), lit(salts.toLong)))
      // the probe slice is the hot cells' replicas; counted first so
      // the replicated set never outgrows the broadcast cap
      val bProbeBase = GraftShims.ofRows(spark, bCells)
        .withColumnRenamed(CellB, "cell").filter(col("cell").isin(hot: _*))
      val probeRows = bProbeBase.count()
      val bProbe = bProbeBase
        .withColumn("_salt", explode(sequence(lit(0L), lit(salts - 1L))))
      val probeSide =
        if (probeRows * salts <= maxBroadcastRows) broadcast(bProbe)
        else bProbe.hint("shuffle_hash")
      val aHotPrim = plan(aHot.drop("cell", "_salt"))
      val hotPairs = aHot.join(probeSide, Seq("cell", "_salt"))
        .drop("cell", "_salt")
        .unionByName(GraftShims.ofRows(spark, capChannel(aHotPrim,
          attr(aHotPrim, "a_lat"), bPrim, bLatPrim, radiusDeg, capLat)))
        .transform(refined)
      channelsOf(aCelled.filter(!isHot).drop("cell")).unionByName(hotPairs)
    }
  }

  /** For every row of A, the `nmax` nearest [[pairs]] within
    * `radiusDeg`, ties broken by lowest B id: columns a_id, b_id,
    * dist_deg, match_rank (1 = nearest). The window shuffles by A id
    * only for rows that had candidates.
    *
    * `snapped = true` decides boundary membership and the ranking on
    * the d6-SNAPPED distance — the q_xmatch oracle-determinism
    * discipline built into the relation itself, so a QL spatial join
    * declared with it is hash-checkable against an engine that
    * computes its own haversine, and produces IDENTICAL rows on every
    * probe and skew setting. Candidates are blocked and raw-refined
    * at the superset radius `radiusDeg + snapHeadroom(radiusDeg)`, so
    * a pair whose raw distance sits within libm ulps OR one snap
    * half-step of `radiusDeg` is never lost to one engine's rounding;
    * the snap is monotone, so every superset candidate that outranks a
    * survivor survives too — the re-rank is exact. `dist_deg` is then
    * the snapped value, and the superset radius must stay within the
    * 1-degree blocking cap. */
  def nearest(a: DataFrame, probe: Probe,
              aId: String, aLon: String, aLat: String,
              bId: String, bLon: String, bLat: String,
              radiusDeg: Double, nmax: Int, snapped: Boolean = false,
              capLat: Double = CapLat,
              hotThreshold: Option[Long] = None, salts: Int = 16,
              maxBroadcastRows: Long = 4L << 20): DataFrame = {
    require(nmax >= 1, s"nmax must be >= 1, got $nmax")
    val headroom = if (snapped) snapHeadroom(radiusDeg) else 0.0
    require(!snapped || radiusDeg > 0 && radiusDeg + headroom <= 1.0,
      s"snapped-semantics radius must leave superset headroom under " +
        s"the 1-degree blocking cap: radiusDeg in (0, ~0.999], got " +
        s"$radiusDeg")
    val cand = pairs(a, probe, aId, aLon, aLat, bId, bLon, bLat,
      radiusDeg + headroom, capLat, hotThreshold, salts, maxBroadcastRows)
    val cut = if (!snapped) cand
    else cand.withColumn("dist_deg", graft.functions.Det.d6(col("dist_deg")))
      .filter(col("dist_deg") <= radiusDeg)
    val w = Window.partitionBy("a_id")
      .orderBy(col("dist_deg").asc, col("b_id").asc)
    cut.withColumn("match_rank", row_number().over(w))
      .filter(col("match_rank") <= nmax)
      .select("a_id", "b_id", "dist_deg", "match_rank")
  }

  // ---- The channel builder ----------------------------------------
  //
  // Logical plans built from plans and expressions only, so the same
  // tree serves [[pairs]] (analyzed as a DataFrame) and
  // [[graft.plans.AutoSpatialJoin]] (injected inside the optimizer).

  /** Generated cell-key names of the cell channel: A's home cell and
    * B's probe cell. AutoSpatialJoin's idempotence guard recognizes
    * the channel by them. */
  private[graft] val CellA = "_graft_ca"
  private[graft] val CellB = "_graft_cb"

  /** B's query-time probe rows: each B row at or below `capLat`,
    * exploded to its strip-pruned neighbor cells within `radiusDeg` at
    * `level` ([[NeighborCells]]). Returns the plan, whose output is
    * `b.output` plus the cell attribute `CellB`, and that attribute. */
  private[graft] def explodeCells(b: LogicalPlan, bLon: Expression,
                                  bLat: Expression, level: Int,
                                  radiusDeg: Double, capLat: Double)
      : (LogicalPlan, Attribute) = {
    val explode = Explode(NeighborCells(bLon, bLat, level, radiusDeg))
    val elem = explode.elementSchema.fields.head
    val cellB = AttributeReference(CellB, elem.dataType, elem.nullable)()
    (Generate(explode, unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Seq(cellB),
      child = Filter(LessThanOrEqual(Abs(bLat), Literal(capLat)), b)),
      cellB)
  }

  /** The candidate relation of the two channels, output
    * `a.output ++ bPrim.output`:
    *   - cell channel: A rows at or below `capLat`, keyed by their home
    *     cell at `level` (`CellA`), equi-joined on `cellB` to `bCells`
    *     — B's rows at or below the cap, carrying `bPrim`'s attributes
    *     plus `cellB` (exploded by [[explodeCells]], or stored
    *     replicas);
    *   - polar-cap channel ([[capChannel]]) over B's primary rows.
    * `aLon`/`aLat` are over `a`, `bLat` over `bPrim`. */
  private[graft] def channels(a: LogicalPlan, aLon: Expression,
                              aLat: Expression, level: Int,
                              bCells: LogicalPlan, cellB: Attribute,
                              bPrim: LogicalPlan, bLat: Expression,
                              radiusDeg: Double,
                              capLat: Double): LogicalPlan = {
    val cellA = Alias(SkyPix.cellExpr(aLon, aLat, level), CellA)()
    val aKeyed = Project(a.output :+ cellA,
      Filter(LessThanOrEqual(Abs(aLat), Literal(capLat)), a))
    val cellJoin = Join(aKeyed, bCells, Inner,
      Some(EqualTo(cellA.toAttribute, cellB)), JoinHint.NONE)
    Union(Seq(Project(a.output ++ bPrim.output, cellJoin),
      capChannel(a, aLat, bPrim, bLat, radiusDeg, capLat)))
  }

  /** Polar-cap channel: pairs with at least one side ABOVE the cap,
    * output `a.output ++ bPrim.output`. The strict >capLat requirement
    * makes the two channels disjoint (the cell channel requires both
    * sides ≤ capLat), so no dedup pass is needed — a dropDuplicates
    * over the candidate set was the dominant shuffle at the
    * multi-million-row scale. B's cap slice is broadcast through the
    * join's own hint, so the plan means the same before the optimizer
    * and inside it. */
  private[graft] def capChannel(a: LogicalPlan, aLat: Expression,
                                bPrim: LogicalPlan, bLat: Expression,
                                radiusDeg: Double,
                                capLat: Double): LogicalPlan = {
    val (cap, capEdge) = (Literal(capLat), Literal(capLat - radiusDeg))
    Join(Filter(GreaterThan(Abs(aLat), capEdge), a),
      Filter(GreaterThan(Abs(bLat), capEdge), bPrim), Inner,
      Some(And(Or(GreaterThan(Abs(aLat), cap), GreaterThan(Abs(bLat), cap)),
        // only pair within the same hemisphere's cap neighborhood
        EqualTo(Signum(aLat), Signum(bLat)))),
      JoinHint(None, Some(HintInfo(Some(BROADCAST)))))
  }

  /** Exact-distance refinement over a candidate relation. */
  private def refine(radiusDeg: Double, carry: Seq[String])(
      cand: DataFrame): DataFrame =
    cand
      // lossless prefilter: great-circle distance ≥ |Δlat|, so this
      // culls most candidates before the trig-heavy haversine
      .filter(abs(col("a_lat") - col("b_lat")) <= radiusDeg)
      .withColumn("dist_deg",
        distDeg(col("a_lon"), col("a_lat"), col("b_lon"), col("b_lat")))
      .filter(col("dist_deg") <= radiusDeg)
      .select(("a_id" +: "b_id" +: "dist_deg" +: carry).map(col): _*)
}
