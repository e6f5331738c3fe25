package graft.spatial

import org.apache.spark.sql.{Column, DataFrame}
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
  *      hashed by a well-distributed equal-area key.
  *   2. refine — exact haversine distance filter + per-A-row
  *      `row_number` window for the nmax-nearest ranking.
  *
  * Polar caps: the cylindrical grid loses lon-adjacency closure above
  * |lat| ≈ 85°, so pairs with either side in the cap region are
  * matched through a separate broadcast join of the (by equal-area
  * construction, tiny) polar slices. Candidates from both channels are
  * deduplicated before ranking.
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
    * (enforced in allPairs): rows above it are routed through the
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

  /** @param a        left catalog (each row gets its nmax matches)
    * @param b        right catalog (probed)
    * @param aId,aLon,aLat / bId,bLon,bLat  column names
    * @param radiusDeg match radius (≤ 1°)
    * @param nmax     keep this many nearest matches per A row
    * @return columns: a_id, b_id, dist_deg, match_rank (1 = nearest)
    */
  def apply(a: DataFrame, b: DataFrame,
            aId: String, aLon: String, aLat: String,
            bId: String, bLon: String, bLat: String,
            radiusDeg: Double, nmax: Int,
            capLat: Double = CapLat): DataFrame = {
    require(nmax >= 1, s"nmax must be >= 1, got $nmax")
    val w = Window.partitionBy("a_id")
      .orderBy(col("dist_deg").asc, col("b_id").asc)
    allPairs(a, b, aId, aLon, aLat, bId, bLon, bLat, radiusDeg, capLat)
      .withColumn("match_rank", row_number().over(w))
      .filter(col("match_rank") <= nmax)
      .select("a_id", "b_id", "dist_deg", "match_rank")
  }

  /** [[apply]] with boundary membership and nearest-k ordering decided
    * on the d6-SNAPPED distance — the q_xmatch oracle-determinism
    * discipline built into the relation itself, so a QL spatial join
    * declared with it is hash-checkable against an engine that computes
    * its own haversine. Candidates are blocked and raw-refined at a
    * superset radius — 0.1% relative, floored at the 1e-6-degree snap
    * step — so a pair whose raw distance sits within libm ulps OR one
    * snap half-step of `radiusDeg` is never lost to one engine's
    * rounding; then
    * membership (`snapped <= radiusDeg`) and the ranking (snapped dist,
    * then b_id) are computed on the snapped value. The snap is
    * monotone, so every superset candidate that outranks a survivor
    * survives too — the re-rank is exact, not approximate.
    * `hotThreshold` routes the superset candidate generation through
    * [[skewSafe]] (rank-all, then the same snap/cut/re-rank): deep-
    * field skew handling composes with snapped semantics at the cost
    * of skewSafe's internal (discarded) ranking pass. */
  def applySnapped(a: DataFrame, b: DataFrame,
                   aId: String, aLon: String, aLat: String,
                   bId: String, bLon: String, bLat: String,
                   radiusDeg: Double, nmax: Int,
                   capLat: Double = CapLat,
                   hotThreshold: Option[Long] = None,
                   salts: Int = 16): DataFrame = {
    require(nmax >= 1, s"nmax must be >= 1, got $nmax")
    // the superset margin must dominate BOTH libm ulps (relative) and
    // the d6 snap half-step (absolute: a raw distance up to r + 5e-7
    // still snaps to <= r, so a purely relative margin would lose
    // legitimate members at arcsecond-scale radii — review r18); the
    // blocking layer caps at 1.0°, hence the radius headroom require
    val margin = math.max(radiusDeg * 1e-3, 1e-6)
    require(radiusDeg > 0 && radiusDeg + margin <= 1.0,
      s"snapped-semantics radius must leave superset headroom under " +
        s"the 1-degree blocking cap: radiusDeg in (0, ~0.999], got " +
        s"$radiusDeg")
    val sup = radiusDeg + margin
    val cand = hotThreshold match {
      case Some(ht) =>
        skewSafe(a, b, aId, aLon, aLat, bId, bLon, bLat, sup,
          Int.MaxValue, ht, salts, capLat).drop("match_rank")
      case None =>
        allPairs(a, b, aId, aLon, aLat, bId, bLon, bLat, sup, capLat)
    }
    val w = Window.partitionBy("a_id")
      .orderBy(col("dist_deg").asc, col("b_id").asc)
    cand.withColumn("dist_deg", graft.functions.Det.d6(col("dist_deg")))
      .filter(col("dist_deg") <= radiusDeg)
      .withColumn("match_rank", row_number().over(w))
      .filter(col("match_rank") <= nmax)
      .select("a_id", "b_id", "dist_deg", "match_rank")
  }

  /** All pairs within `radiusDeg` (no nmax ranking — the raw match
    * relation; columns a_id, b_id, dist_deg). */
  def allPairs(a: DataFrame, b: DataFrame,
               aId: String, aLon: String, aLat: String,
               bId: String, bLon: String, bLat: String,
               radiusDeg: Double, capLat: Double = CapLat): DataFrame =
    allPairsCarry(a, b, aId, aLon, aLat, bId, bLon, bLat, radiusDeg, capLat,
      Nil, Nil, keepCoords = false)

  /** [[allPairs]] with payload columns carried through the blocked
    * join — the form epoch-aware matching needs: per-pair refinement
    * against PROPAGATED positions (proper motion × Δepoch) must see
    * each side's payload (epochs, motions) and coordinates in the
    * candidate relation, not re-join them onto the pair table
    * afterwards (an extra shuffle of the big side at survey scale).
    *
    * `carryA`/`carryB` name caller columns to pass through unchanged
    * (must not collide with a_id/a_lon/a_lat/b_id/b_lon/b_lat/cell/
    * dist_deg); `keepCoords` additionally emits a_lon/a_lat/b_lon/
    * b_lat. Candidates are still refined to `radiusDeg` at the GIVEN
    * coordinates — callers doing propagated matching pass an inflated
    * radius (match radius + max displacement) and re-refine. */
  def allPairsCarry(a: DataFrame, b: DataFrame,
                    aId: String, aLon: String, aLat: String,
                    bId: String, bLon: String, bLat: String,
                    radiusDeg: Double, capLat: Double,
                    carryA: Seq[String], carryB: Seq[String],
                    keepCoords: Boolean): DataFrame = {
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
    val level = levelFor(radiusDeg, capLat)

    val aSel = a.select(col(aId).as("a_id") +: col(aLon).as("a_lon") +:
      col(aLat).as("a_lat") +: carryA.map(col): _*)
    val bSel = b.select(col(bId).as("b_id") +: col(bLon).as("b_lon") +:
      col(bLat).as("b_lat") +: carryB.map(col): _*)

    // channel 1: cell-local candidates below the cap. The B-side probe
    // explode is strip-pruned: a B row only visits neighbor cells whose
    // boundary is within radiusDeg (exact lower-bound tests — see
    // SkyPix.neighborCellsWithin), so the explode factor is
    // 1 + strip fraction, not a flat 9×.
    val aCells = aSel.filter(abs(col("a_lat")) <= capLat)
      .withColumn("cell", SkyPix.cell(col("a_lon"), col("a_lat"), level))
    val bCells = bSel.filter(abs(col("b_lat")) <= capLat)
      .withColumn("cell", explode(
        SkyPix.neighborCellsWithin(col("b_lon"), col("b_lat"), level,
          radiusDeg)))
    val cellPairs = aCells.join(bCells, "cell").drop("cell")

    val coords = if (keepCoords) Seq("a_lon", "a_lat", "b_lon", "b_lat")
    else Nil
    cellPairs.unionByName(capChannel(aSel, bSel, radiusDeg, capLat))
      .transform(refine(radiusDeg, coords ++ carryA ++ carryB))
  }

  /** Cross-match consuming a write-time margin cache — LSD's signature
    * storage trick. B must come from `SpatialWriter.write(margin =
    * Some(r), level)` read back WITH margins: each B row was already
    * replicated into its 9-cell neighborhood at write time (columns
    * `cell`, `is_margin`), so the query is a plain equi-join of A's
    * home cell against B's stored cell — NO query-time explode, which
    * at 100 TB removes a 9× row amplification (and its shuffle write)
    * from every query against the catalog.
    *
    * @param bMargined margin-cache dataset with bId/bLon/bLat plus
    *   `cell` (write-time partition column) and `is_margin`
    * @param level the SkyPix level the cache was WRITTEN at; must be
    *   ≤ levelFor(radiusDeg, capLat) or neighbor closure fails
    * @return columns: a_id, b_id, dist_deg, match_rank (1 = nearest)
    */
  def applyPreMargined(a: DataFrame, bMargined: DataFrame,
                       aId: String, aLon: String, aLat: String,
                       bId: String, bLon: String, bLat: String,
                       radiusDeg: Double, nmax: Int, level: Int,
                       capLat: Double = CapLat): DataFrame = {
    require(nmax >= 1, s"nmax must be >= 1, got $nmax")
    val w = Window.partitionBy("a_id")
      .orderBy(col("dist_deg").asc, col("b_id").asc)
    allPairsPreMargined(a, bMargined, aId, aLon, aLat, bId, bLon, bLat,
      radiusDeg, level, capLat)
      .withColumn("match_rank", row_number().over(w))
      .filter(col("match_rank") <= nmax)
      .select("a_id", "b_id", "dist_deg", "match_rank")
  }

  /** [[applyPreMargined]] with [[applySnapped]]'s d6 semantics —
    * boundary membership and nearest-k order decided on the SNAPPED
    * distance, candidates blocked at the same superset radius — so a
    * QL relation declared `snapD6` produces IDENTICAL rows whether it
    * routes through the on-the-fly blocking join or the stored margin
    * cache. The cache must have been written with marginDeg >= the
    * superset radius (radiusDeg + max(1e-3·r, 1e-6)); callers verify
    * via `SpatialWriter.requireMargin` at that superset value. */
  def applyPreMarginedSnapped(a: DataFrame, bMargined: DataFrame,
                              aId: String, aLon: String, aLat: String,
                              bId: String, bLon: String, bLat: String,
                              radiusDeg: Double, nmax: Int, level: Int,
                              capLat: Double = CapLat): DataFrame = {
    require(nmax >= 1, s"nmax must be >= 1, got $nmax")
    val margin = math.max(radiusDeg * 1e-3, 1e-6)
    require(radiusDeg > 0 && radiusDeg + margin <= 1.0,
      s"snapped-semantics radius must leave superset headroom under " +
        s"the 1-degree blocking cap: radiusDeg in (0, ~0.999], got " +
        s"$radiusDeg")
    val w = Window.partitionBy("a_id")
      .orderBy(col("dist_deg").asc, col("b_id").asc)
    allPairsPreMargined(a, bMargined, aId, aLon, aLat, bId, bLon, bLat,
      radiusDeg + margin, level, capLat)
      .withColumn("dist_deg", graft.functions.Det.d6(col("dist_deg")))
      .filter(col("dist_deg") <= radiusDeg)
      .withColumn("match_rank", row_number().over(w))
      .filter(col("match_rank") <= nmax)
      .select("a_id", "b_id", "dist_deg", "match_rank")
  }

  /** All-pairs form of [[applyPreMargined]] (columns a_id, b_id,
    * dist_deg). */
  def allPairsPreMargined(a: DataFrame, bMargined: DataFrame,
                          aId: String, aLon: String, aLat: String,
                          bId: String, bLon: String, bLat: String,
                          radiusDeg: Double, level: Int,
                          capLat: Double = CapLat): DataFrame = {
    require(radiusDeg > 0 && radiusDeg <= 1.0,
      s"radiusDeg must be in (0, 1], got $radiusDeg")
    require(capLat >= radiusDeg && capLat <= CapLat,
      s"capLat must be in [$radiusDeg (radiusDeg), $CapLat], got $capLat")
    require(level <= levelFor(radiusDeg, capLat),
      s"margin cache written at level $level is too fine for radius " +
        s"$radiusDeg below lat $capLat (max ${levelFor(radiusDeg, capLat)})")

    val aSel = a.select(col(aId).as("a_id"), col(aLon).as("a_lon"),
      col(aLat).as("a_lat"))
    // channel 1: A's home cell against the stored replicas (primaries
    // + margins). The B-side explode already happened at write time.
    val aCells = aSel.filter(abs(col("a_lat")) <= capLat)
      .withColumn("cell", SkyPix.cell(col("a_lon"), col("a_lat"), level))
    val bCells = bMargined
      .select(col(bId).as("b_id"), col(bLon).as("b_lon"),
        col(bLat).as("b_lat"), col("cell"))
      .filter(abs(col("b_lat")) <= capLat)
    val cellPairs = aCells.join(bCells, "cell").drop("cell")

    // channel 2 probes PRIMARY rows only (margin replicas would
    // duplicate cap pairs)
    val bPrim = bMargined.filter(!col("is_margin"))
      .select(col(bId).as("b_id"), col(bLon).as("b_lon"),
        col(bLat).as("b_lat"))
    cellPairs.unionByName(capChannel(aSel, bPrim, radiusDeg, capLat))
      .transform(refine(radiusDeg))
  }

  /** [[applyPreMargined]] with [[skewSafe]]'s deep-field mitigation —
    * the composition the r19 verdict flagged as missing: a declared
    * `hotThreshold` used to force the blocking path even over a
    * cached catalog, paying BOTH the query-time explode and the
    * salting. Here the hot DRIVING cells salt against the STORED
    * replicas: cold rows take [[applyPreMargined]]'s plan untouched;
    * hot rows split into `salts` sub-buckets on a hash of the A id
    * while the hot cells' stored slice (primaries + margins — the
    * neighbor replication already happened at write time, so no
    * explode here either) replicates per salt — broadcast when small,
    * shuffled (cell, salt) equi-join past `maxBroadcastRows`. The
    * polar-cap channel re-attaches for the hot rows over PRIMARY
    * stored rows, so the channel decomposition — and therefore the
    * answer, nmax ranking included — is EXACTLY applyPreMargined's
    * (the A-row partition is disjoint, ranking is per A row). */
  def applyPreMarginedSkew(a: DataFrame, bMargined: DataFrame,
                           aId: String, aLon: String, aLat: String,
                           bId: String, bLon: String, bLat: String,
                           radiusDeg: Double, nmax: Int, level: Int,
                           hotThreshold: Long, salts: Int,
                           capLat: Double = CapLat,
                           maxBroadcastRows: Long = 4L << 20): DataFrame = {
    require(nmax >= 1, s"nmax must be >= 1, got $nmax")
    val w = Window.partitionBy("a_id")
      .orderBy(col("dist_deg").asc, col("b_id").asc)
    allPairsPreMarginedSkew(a, bMargined, aId, aLon, aLat, bId, bLon, bLat,
      radiusDeg, level, hotThreshold, salts, capLat, maxBroadcastRows)
      .withColumn("match_rank", row_number().over(w))
      .filter(col("match_rank") <= nmax)
      .select("a_id", "b_id", "dist_deg", "match_rank")
  }

  /** [[applyPreMarginedSkew]] with [[applySnapped]]'s d6 semantics —
    * so a QL relation declared `snapD6` WITH skew mitigation produces
    * identical rows on every route (blocking, blocking+salt, margin,
    * margin+salt); the route-agnosticism property in LsdQLSpec
    * exercises exactly this square. */
  def applyPreMarginedSnappedSkew(a: DataFrame, bMargined: DataFrame,
                                  aId: String, aLon: String, aLat: String,
                                  bId: String, bLon: String, bLat: String,
                                  radiusDeg: Double, nmax: Int, level: Int,
                                  hotThreshold: Long, salts: Int,
                                  capLat: Double = CapLat,
                                  maxBroadcastRows: Long = 4L << 20)
      : DataFrame = {
    require(nmax >= 1, s"nmax must be >= 1, got $nmax")
    val margin = math.max(radiusDeg * 1e-3, 1e-6)
    require(radiusDeg > 0 && radiusDeg + margin <= 1.0,
      s"snapped-semantics radius must leave superset headroom under " +
        s"the 1-degree blocking cap: radiusDeg in (0, ~0.999], got " +
        s"$radiusDeg")
    val w = Window.partitionBy("a_id")
      .orderBy(col("dist_deg").asc, col("b_id").asc)
    allPairsPreMarginedSkew(a, bMargined, aId, aLon, aLat, bId, bLon, bLat,
      radiusDeg + margin, level, hotThreshold, salts, capLat,
      maxBroadcastRows)
      .withColumn("dist_deg", graft.functions.Det.d6(col("dist_deg")))
      .filter(col("dist_deg") <= radiusDeg)
      .withColumn("match_rank", row_number().over(w))
      .filter(col("match_rank") <= nmax)
      .select("a_id", "b_id", "dist_deg", "match_rank")
  }

  /** All-pairs engine of the two skew-composed forms above (columns
    * a_id, b_id, dist_deg). One cheap count aggregation finds the hot
    * DRIVING cells (driver-sized by construction — a deep field is a
    * handful of cells); everything else is [[allPairsPreMargined]]'s
    * decomposition with the hot slice salted. */
  def allPairsPreMarginedSkew(a: DataFrame, bMargined: DataFrame,
                              aId: String, aLon: String, aLat: String,
                              bId: String, bLon: String, bLat: String,
                              radiusDeg: Double, level: Int,
                              hotThreshold: Long, salts: Int,
                              capLat: Double = CapLat,
                              maxBroadcastRows: Long = 4L << 20)
      : DataFrame = {
    require(radiusDeg > 0 && radiusDeg <= 1.0,
      s"radiusDeg must be in (0, 1], got $radiusDeg")
    require(capLat >= radiusDeg && capLat <= CapLat,
      s"capLat must be in [$radiusDeg (radiusDeg), $CapLat], got $capLat")
    require(level <= levelFor(radiusDeg, capLat),
      s"margin cache written at level $level is too fine for radius " +
        s"$radiusDeg below lat $capLat (max ${levelFor(radiusDeg, capLat)})")
    require(salts >= 1 && hotThreshold >= 1, "salts, hotThreshold >= 1")
    val aSel = a.select(col(aId).as("a_id"), col(aLon).as("a_lon"),
      col(aLat).as("a_lat"))
    val aCelled = aSel.withColumn("cell",
      SkyPix.cell(col("a_lon"), col("a_lat"), level))
    val hot = aCelled.filter(abs(col("a_lat")) <= capLat)
      .groupBy("cell").count().filter(col("count") > hotThreshold)
      .select("cell").collect().map(_.getLong(0)).toSeq
    if (hot.isEmpty)
      return allPairsPreMargined(a, bMargined, aId, aLon, aLat,
        bId, bLon, bLat, radiusDeg, level, capLat)
    val isHot = col("cell").isin(hot: _*) && abs(col("a_lat")) <= capLat
    val cold = allPairsPreMargined(aCelled.filter(!isHot), bMargined,
      "a_id", "a_lon", "a_lat", bId, bLon, bLat, radiusDeg, level, capLat)
    val aHot = aCelled.filter(isHot)
      .withColumn("_salt", pmod(xxhash64(col("a_id")), lit(salts.toLong)))
    // the probe slice is the hot cells' STORED rows (primaries +
    // write-time replicas) — spatially bounded, and no query-time
    // explode: the 3x3 replication is already on disk
    val bProbeBase = bMargined
      .select(col(bId).as("b_id"), col(bLon).as("b_lon"),
        col(bLat).as("b_lat"), col("cell"))
      .filter(abs(col("b_lat")) <= capLat && col("cell").isin(hot: _*))
    // same broadcast guard as skewSafe: when B is ALSO dense at the
    // deep field, keep the salted split but let the (cell, _salt)
    // equi-join shuffle instead of broadcasting past memory
    val probeRows = bProbeBase.count()
    val bProbe = bProbeBase
      .withColumn("_salt", explode(sequence(lit(0L), lit(salts - 1L))))
    val probeSide =
      if (probeRows * salts <= maxBroadcastRows) broadcast(bProbe)
      else bProbe.hint("shuffle_hash")
    val hotCellPairs = aHot.join(probeSide, Seq("cell", "_salt"))
      .drop("cell", "_salt")
    val bPrim = bMargined.filter(!col("is_margin"))
      .select(col(bId).as("b_id"), col(bLon).as("b_lon"),
        col(bLat).as("b_lat"))
    val hotPairs = hotCellPairs
      .unionByName(capChannel(aHot.select("a_id", "a_lon", "a_lat"),
        bPrim, radiusDeg, capLat))
      .transform(refine(radiusDeg))
    cold.unionByName(hotPairs)
  }

  /** [[apply]] with deep-field skew mitigation — the survey reality
    * where one pointing is observed 100× more than the rest of the
    * sky, so one blocking cell funnels |A_cell| × |B_neighborhood|
    * candidate work through a single task while every other task
    * finishes in seconds.
    *
    * One cheap count aggregation finds the cells whose A-side
    * population exceeds `hotThreshold` (driver-sized by construction:
    * a deep field is a handful of cells). Cold rows take [[apply]]'s
    * plan untouched. Hot rows are SALTED into `salts` sub-buckets on
    * a hash of the A id, while their B-side probe set — only the hot
    * cells' neighbor-explosions, a spatially bounded slice —
    * broadcast-replicates per salt ([[graft.operators.Skew]]'s
    * salted-broadcast shape applied to the spatial join): the one
    * monster task becomes `salts` even tasks. The polar-cap channel
    * is re-attached for the hot rows, so the channel decomposition
    * (and therefore the answer, nmax ranking included) is EXACTLY
    * [[apply]]'s — the A-row partition is disjoint and ranking is
    * per A row. Asserted against [[apply]] on a 100× deep field, with
    * the per-bucket work bound checked, by tools/ScaleSmoke as of
    * commit 1372bdc.
    *
    * When the replicated probe set would itself be large (B dense at
    * the same deep field: probeRows × salts > maxBroadcastRows), the
    * hot channel falls back from broadcast to a shuffled equi-join on
    * (cell, salt) — same salted split of the monster task, same rows,
    * no driver/broadcast-memory cliff. */
  def skewSafe(a: DataFrame, b: DataFrame,
               aId: String, aLon: String, aLat: String,
               bId: String, bLon: String, bLat: String,
               radiusDeg: Double, nmax: Int,
               hotThreshold: Long, salts: Int,
               capLat: Double = CapLat,
               maxBroadcastRows: Long = 4L << 20): DataFrame = {
    require(nmax >= 1, s"nmax must be >= 1, got $nmax")
    require(salts >= 1 && hotThreshold >= 1, "salts, hotThreshold >= 1")
    val level = levelFor(radiusDeg, capLat)
    val aSel = a.select(col(aId).as("a_id"), col(aLon).as("a_lon"),
      col(aLat).as("a_lat"))
    val aCelled = aSel.withColumn("cell",
      SkyPix.cell(col("a_lon"), col("a_lat"), level))
    val hot = aCelled.filter(abs(col("a_lat")) <= capLat)
      .groupBy("cell").count().filter(col("count") > hotThreshold)
      .select("cell").collect().map(_.getLong(0)).toSeq
    if (hot.isEmpty)
      return apply(a, b, aId, aLon, aLat, bId, bLon, bLat, radiusDeg,
        nmax, capLat)
    val isHot = col("cell").isin(hot: _*) && abs(col("a_lat")) <= capLat
    val cold = apply(aCelled.filter(!isHot), b,
      "a_id", "a_lon", "a_lat", bId, bLon, bLat, radiusDeg, nmax, capLat)
    // hot channel: salted A × per-salt-replicated broadcast probe set
    val aHot = aCelled.filter(isHot)
      .withColumn("_salt", pmod(xxhash64(col("a_id")), lit(salts.toLong)))
    val bSel = b.select(col(bId).as("b_id"), col(bLon).as("b_lon"),
      col(bLat).as("b_lat"))
    val bProbeBase = bSel.filter(abs(col("b_lat")) <= capLat)
      .withColumn("cell", explode(SkyPix.neighborCellsWithin(
        col("b_lon"), col("b_lat"), level, radiusDeg)))
      .filter(col("cell").isin(hot: _*))
    // Broadcast guard: when B is ALSO dense at the deep field, the
    // probe set replicated ×salts can exceed driver/broadcast memory
    // — a hard failure, strictly worse than the slow task it was
    // meant to fix. Count the slice first (cheap: one agg over the
    // already-filtered neighbor explosion); past the cap, keep the
    // same salted plan but let the (cell, _salt) equi-join SHUFFLE:
    // the monster task still splits into `salts` even tasks, the
    // replicated probe rows just travel by exchange instead of
    // broadcast. Row identity with [[apply]] is unchanged either way
    // (same candidate relation, different physical transport).
    val probeRows = bProbeBase.count()
    val bProbe = bProbeBase
      .withColumn("_salt", explode(sequence(lit(0L), lit(salts - 1L))))
    val probeSide =
      if (probeRows * salts <= maxBroadcastRows) broadcast(bProbe)
      else bProbe.hint("shuffle_hash")
    val hotCellPairs = aHot.join(probeSide, Seq("cell", "_salt"))
      .drop("cell", "_salt")
    val w = Window.partitionBy("a_id")
      .orderBy(col("dist_deg").asc, col("b_id").asc)
    val hotRanked = hotCellPairs
      .unionByName(capChannel(aHot.select("a_id", "a_lon", "a_lat"),
        bSel, radiusDeg, capLat))
      .transform(refine(radiusDeg))
      .withColumn("match_rank", row_number().over(w))
      .filter(col("match_rank") <= nmax)
      .select("a_id", "b_id", "dist_deg", "match_rank")
    cold.unionByName(hotRanked)
  }

  /** Polar-cap channel: pairs with at least one side ABOVE the cap,
    * matched via broadcast. The strict >capLat requirement makes the
    * two channels disjoint (the cell channel requires both sides ≤
    * capLat), so no dedup pass is needed — a dropDuplicates over the
    * candidate set was the dominant shuffle at the multi-million-row
    * scale. */
  private def capChannel(aSel: DataFrame, bSel: DataFrame,
                         radiusDeg: Double, capLat: Double): DataFrame = {
    val capEdge = capLat - radiusDeg
    val aCap = aSel.filter(abs(col("a_lat")) > capEdge)
    val bCap = bSel.filter(abs(col("b_lat")) > capEdge)
    aCap.crossJoin(broadcast(bCap))
      .filter(abs(col("a_lat")) > capLat || abs(col("b_lat")) > capLat)
      // only pair within the same hemisphere's cap neighborhood
      .filter(signum(col("a_lat")) === signum(col("b_lat")))
  }

  /** Exact-distance refinement over a candidate relation. */
  private def refine(radiusDeg: Double, carry: Seq[String] = Nil)(
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
