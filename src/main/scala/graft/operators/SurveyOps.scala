package graft.operators

import graft.{LsdDb, QuerySpec}
import graft.functions.Det
import graft.functions.{Det => D}
import graft.spatial.CrossMatch
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Survey-astronomy operator family, round 5 wave 2 — the remaining
  * workload shapes a sky-survey engine runs over its detection stream
  * (SURVEY.md §1 "time-series of detections", UNVERIFIED — reference
  * checkout empty): sigma-clipped photometric statistics, sky density
  * maps over the equal-area pixelization, proper-motion-aware
  * cross-matching, and ordered event-run compression.
  *
  * Determinism discipline as everywhere: exact decimal sums for every
  * aggregate that feeds a comparison, d6 snapping for transcendentals,
  * fixed IEEE expression trees mirrored textually into the DuckDB
  * oracle twins.
  */
object SurveyOps {

  /** A11b — sigma-clipped per-object photometry: the robust-mean
    * reduction every survey pipeline applies to repeat flux
    * measurements before catalog publication (outlier epochs — cosmic
    * rays, clouds — are dropped at k·σ and the mean recomputed).
    *
    * Shape: ONE shuffle. Per-object μ and σ come from decimal-exact
    * window sums over the object key (no join-back of a stats table —
    * the window reuses the same hash partitioning the final aggregate
    * needs), the keep mask is a row-local comparison of
    * IEEE-identical doubles, and the clipped re-aggregation
    * partial-aggregates map-side. At 100 TB the window sort is
    * per-object-partition and spills; nothing is driver-side.
    *
    * No d6 snapping anywhere: every number here is division/sqrt of
    * exact decimal sums, and IEEE-754 requires divide and sqrt to be
    * correctly rounded — both engines produce bit-identical doubles.
    * (A d6 snap would actually BREAK this query: means of 2-decimal
    * data are rationals that can land exactly on 0.5e-6 midpoints,
    * where Spark rounds half-up and DuckDB half-even — observed live
    * on user 146 of this corpus.)
    *
    * σ guard: single-epoch objects (n=1) have no sample stddev — the
    * mask is forced false and the clipped mean NULL rather than
    * letting 0/0 NaNs diverge between engines.
    */
  val qSigmaClip: QuerySpec = QuerySpec(
    "q_sigma_clip",
    s"""WITH w AS (
       |  SELECT user_id, value,
       |    count(*) OVER pw AS n,
       |    CAST(sum(CAST(value AS DECIMAL(18,8))) OVER pw AS DOUBLE) AS s,
       |    CAST(sum(CAST(value * value AS DECIMAL(38,8))) OVER pw AS DOUBLE)
       |      AS sxx
       |  FROM events
       |  WINDOW pw AS (PARTITION BY user_id)),
       |m AS (
       |  SELECT user_id, value, n,
       |    s / n AS mu,
       |    CASE WHEN n > 1 THEN
       |      sqrt(GREATEST((sxx - (s * s) / n) / (n - 1.0), 0.0))
       |    END AS sd
       |  FROM w),
       |k AS (
       |  SELECT user_id, value, mu,
       |    (n > 1 AND abs(value - mu) <= 3.0 * sd) AS keep
       |  FROM m)
       |SELECT user_id,
       |  count(*) AS n_total,
       |  count(CASE WHEN keep THEN 1 END) AS n_kept,
       |  ${D.sql.davg("value")} AS mean_raw,
       |  CAST(sum(CASE WHEN keep THEN CAST(value AS DECIMAL(18,8)) END)
       |    AS DOUBLE) / count(CASE WHEN keep THEN 1 END) AS mean_clipped
       |FROM k GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    val pw = Window.partitionBy("user_id")
    val n = count(lit(1)).over(pw)
    val sm = sum(col("value").cast(Det.M)).over(pw).cast(DoubleType)
    val sxx = sum((col("value") * col("value")).cast(Det.M38)).over(pw)
      .cast(DoubleType)
    val mu = sm / n
    val sd = when(n > 1,
      sqrt(greatest((sxx - (sm * sm) / n) / (n - lit(1.0)), lit(0.0))))
    val keep = n > 1 && abs(col("value") - mu) <= lit(3.0) * sd
    LsdDb.table(s, dir, "events")
      .select(col("user_id"), col("value"), mu.as("mu"), keep.as("keep"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("keep"), lit(1))).as("n_kept"),
        Det.davg(col("value")).as("mean_raw"),
        (sum(when(col("keep"), col("value")).cast(Det.M))
          .cast(DoubleType) / count(when(col("keep"), lit(1))))
          .as("mean_clipped"))
      .orderBy("user_id")
  }

  /** O9 — run-length encoding of ordered event streams: collapse each
    * object's time-ordered event sequence into maximal runs of equal
    * type (the survey form: consecutive same-band detections; the
    * pipeline form: compressing clickstreams before sessionization).
    *
    * Shape: one shuffle on the series key; lag + running sum share a
    * single window sort, and the run aggregation reuses the same
    * partitioning. Tie-safe ordering (ts, event_id) makes run
    * boundaries deterministic. */
  val qEventRuns: QuerySpec = QuerySpec(
    "q_event_runs",
    """WITH o AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tsu,
      |    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |      THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP),
      |    event_id)),
      |r AS (
      |  SELECT user_id, event_type, tsu,
      |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS run_id
      |  FROM o)
      |SELECT user_id, run_id, event_type,
      |  count(*) AS run_len, min(tsu) AS run_start
      |FROM r GROUP BY user_id, run_id, event_type
      |ORDER BY user_id, run_id""".stripMargin) { (s, dir) =>
    eventRuns(LsdDb.table(s, dir, "events"))
  }

  /** The q_event_runs pipeline over any (user_id, event_id,
    * event_type, ts) frame — factored out so edge tests can drive the
    * REAL path with injected data (e.g. NULL event_type, which the
    * testdata never exercises). */
  def eventRuns(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prev = lag(col("event_type"), 1).over(w)
    // Null-safe boundary to mirror the oracle's IS DISTINCT FROM:
    // consecutive NULL types continue a run; non-null→NULL starts one.
    val chg = when(!(prev <=> col("event_type")), 1L).otherwise(0L)
    events
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
        chg.as("chg"))
      .withColumn("run_id", sum(col("chg")).over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_id", "event_type")
      .agg(count(lit(1)).as("run_len"), min(col("ts")).as("run_start"))
      .orderBy("user_id", "run_id")
  }

  /** Skymap resolution: level 4 → 256 equal-area cells (the synthetic
    * sky spans |lat| ≤ 30 → ~128 populated). At survey scale the same
    * query runs at level 8-12; the plan shape is identical (one
    * partial-aggregated groupBy on the packed cell). */
  private val skymapLevel = 4

  /** SC2f — sky density map: per-cell source counts + mean scalar over
    * the SkyPix equal-area grid, the reference engine's headline
    * interactive workload (density/mean maps over billions of rows;
    * SURVEY.md §1 "sky maps", UNVERIFIED). ONE map-side-combined
    * groupBy on a packed BIGINT — the 100-TB shape (4^level cells
    * bound the reduce side regardless of input rows).
    *
    * Cell ids use the d6-SNAPPED grid (SkyPix.ixSnapped) so the
    * engines' 1-ulp sin() disagreement cannot flip a boundary floor;
    * cell centers are exact grid arithmetic (lon) and one d6-snapped
    * asin (lat). */
  val qSkymap: QuerySpec = {
    val lv = skymapLevel
    val n = 1L << lv
    val wLon = 360.0 / n  // exact: power-of-two division
    val hSin = 2.0 / n    // exact
    QuerySpec(
      "q_skymap",
      s"""WITH c AS (SELECT c_custkey AS id,
         |    CAST(c_custkey * 13 % 3600 AS DOUBLE) / 10.0 AS lon,
         |    CAST(c_custkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS lat,
         |    c_acctbal
         |  FROM customer),
         |g AS (SELECT ${graft.spatial.SkyPix.sql.ixSnapped("lon", lv)} AS ix,
         |    ${graft.spatial.SkyPix.sql.iySnapped("lat", lv)} AS iy,
         |    c_acctbal
         |  FROM c)
         |SELECT ${graft.spatial.SkyPix.sql.mortonCell("ix", "iy", lv)} AS cell,
         |  count(*) AS n_src,
         |  ${D.sql.davg("c_acctbal")} AS mean_bal,
         |  (CAST(ix AS DOUBLE) + 0.5) * $wLon AS lon_center,
         |  ${D.sql.d6(
            s"degrees(asin((CAST(iy AS DOUBLE) + 0.5) * $hSin - 1.0))")}
         |    AS lat_center
         |FROM g GROUP BY ix, iy ORDER BY cell""".stripMargin) { (s, dir) =>
      import graft.spatial.SkyPix
      LsdDb.table(s, dir, "customer")
        .select(
          ((col("c_custkey") * 13) % 3600).cast(DoubleType)./(10.0).as("lon"),
          (((col("c_custkey") * 7) % 600).cast(DoubleType) / 10.0 - 30.0)
            .as("lat"),
          col("c_acctbal"))
        .select(SkyPix.ixSnapped(col("lon"), lv).as("ix"),
          SkyPix.iySnapped(col("lat"), lv).as("iy"), col("c_acctbal"))
        .groupBy("ix", "iy")
        .agg(count(lit(1)).as("n_src"),
          Det.davg(col("c_acctbal")).as("mean_bal"))
        .select(
          SkyPix.mortonCell(col("ix"), col("iy"), lv).as("cell"),
          col("n_src"), col("mean_bal"),
          ((col("ix").cast(DoubleType) + 0.5) * wLon).as("lon_center"),
          Det.d6(degrees(asin((col("iy").cast(DoubleType) + 0.5) * hSin
            - 1.0))).as("lat_center"))
        .orderBy("cell")
    }
  }

  /** q_xmatch_pm geometry: match radius 0.5°, catalog proper motions
    * ≤ 0.005°/yr per axis, detection epochs 2010–2020 (Δt ≤ 20 yr from
    * the 2000.0 catalog epoch) → max coordinate displacement 0.1°/axis
    * → max angular displacement √2·0.1 ≈ 0.142°. Blocking radius must
    * cover dist(a, b₂₀₀₀) ≤ 0.5 + 5e-7 (d6 slack) + 0.142 < 0.65 —
    * 0.7 leaves margin. */
  private val pmMatchR = 0.5
  private val pmBlockR = 0.7

  /** J6e — proper-motion-aware cross-match (epoch propagation): each
    * detection (epoch 2010–2020) matches the catalog at the DETECTION
    * epoch — catalog positions are propagated by pm·Δt per candidate
    * pair before the radius cut. The reference engine matched
    * detections against a moving-object catalog the same way
    * (SURVEY.md §1 xmatch, UNVERIFIED).
    *
    * Scale shape: block once at the catalog's reference epoch with the
    * radius inflated by the maximum possible displacement (CrossMatch.pairs
    * at 0.7°, a conservative superset — proof at [[pmBlockR]]), then
    * refine row-locally on the propagated distance. Candidates never
    * re-join their payload (pm, epoch ride through the blocked join),
    * and the blocking plan is identical to q_xmatch's strip-pruned
    * two-channel join. */
  val qXmatchPm: QuerySpec = QuerySpec(
    "q_xmatch_pm",
    s"""WITH a AS (SELECT o_orderkey AS a_id,
       |    CAST(o_orderkey * 13 % 3600 AS DOUBLE) / 10.0 AS a_lon,
       |    CAST(o_orderkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS a_lat,
       |    CAST(2010 + o_orderkey % 11 AS DOUBLE) AS ep
       |  FROM orders),
       |b AS (SELECT s_suppkey AS b_id,
       |    CAST(s_suppkey * 13 % 3600 AS DOUBLE) / 10.0 AS b_lon,
       |    CAST(s_suppkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS b_lat,
       |    (CAST(s_suppkey * 11 % 21 AS DOUBLE) - 10) / 2000.0 AS pm_lon,
       |    (CAST(s_suppkey * 19 % 21 AS DOUBLE) - 10) / 2000.0 AS pm_lat
       |  FROM supplier),
       |t AS (SELECT a_id, b_id, a_lon, a_lat,
       |    b_lon + pm_lon * (ep - 2000.0) AS bx,
       |    b_lat + pm_lat * (ep - 2000.0) AS by
       |  FROM a CROSS JOIN b),
       |p AS (SELECT a_id, b_id,
       |    ${D.sql.d6(
          CrossMatch.sql.distDeg("a_lon", "a_lat", "bx", "by"))} AS dist_deg
       |  FROM t)
       |SELECT a_id, b_id, dist_deg, CAST(rn AS INT) AS match_rank FROM (
       |  SELECT a_id, b_id, dist_deg,
       |    row_number() OVER (PARTITION BY a_id
       |                       ORDER BY dist_deg, b_id) AS rn
       |  FROM p WHERE dist_deg <= $pmMatchR)
       |WHERE rn <= 2 ORDER BY a_id, match_rank""".stripMargin) { (s, dir) =>
    val a = LsdDb.table(s, dir, "orders").select(
      col("o_orderkey").as("a_id"),
      ((col("o_orderkey") * 13) % 3600).cast(DoubleType)./(10.0).as("a_lon"),
      (((col("o_orderkey") * 7) % 600).cast(DoubleType) / 10.0 - 30.0)
        .as("a_lat"),
      (lit(2010) + col("o_orderkey") % 11).cast(DoubleType).as("ep"))
    val b = LsdDb.table(s, dir, "supplier").select(
      col("s_suppkey").as("b_id"),
      ((col("s_suppkey") * 13) % 3600).cast(DoubleType)./(10.0).as("b_lon"),
      (((col("s_suppkey") * 7) % 600).cast(DoubleType) / 10.0 - 30.0)
        .as("b_lat"),
      (((col("s_suppkey") * 11) % 21).cast(DoubleType) - 10)./(2000.0)
        .as("pm_lon"),
      (((col("s_suppkey") * 19) % 21).cast(DoubleType) - 10)./(2000.0)
        .as("pm_lat"))
    val dt = col("ep") - lit(2000.0)
    val bx = col("b_lon") + col("pm_lon") * dt
    val by = col("b_lat") + col("pm_lat") * dt
    val w = Window.partitionBy("a_id")
      .orderBy(col("dist_deg").asc, col("b_id").asc)
    graft.spatial.CrossMatch
      .pairs(a, graft.spatial.CrossMatch.Blocking(b),
        "a_id", "a_lon", "a_lat", "b_id", "b_lon", "b_lat",
        pmBlockR, capLat = 31.0, // data lies in |lat| ≤ 30
        carryA = Seq("ep"), carryB = Seq("pm_lon", "pm_lat"),
        keepCoords = true)
      .withColumn("dist_deg", Det.d6(graft.spatial.CrossMatch.distDeg(
        col("a_lon"), col("a_lat"), bx, by)))
      .filter(col("dist_deg") <= pmMatchR)
      .withColumn("match_rank", row_number().over(w))
      .filter(col("match_rank") <= 2)
      .select("a_id", "b_id", "dist_deg", "match_rank")
      .orderBy("a_id", "match_rank")
  }

  /** P10b — oracle-checked galactic coordinate transform. The P10
    * contract row was smoke-only ("libm-sensitive in the last ulp"),
    * but the q_xmatch discipline upgrades it: the ROTATION CONSTANTS
    * are embedded as identical 64-bit literals on both sides (Java's
    * toRadians divides by 180 then multiplies by π — a different ulp
    * than DuckDB's radians(); printing the Scala double into the SQL
    * text removes that divergence), and the final angles are
    * d6-snapped, absorbing the ≤ few-ulp sin/cos/atan2 spread.
    * Map-only expression tree; no shuffle but the presentation sort. */
  val qCoordGal: QuerySpec = {
    import graft.functions.AstroCoords._
    // full-precision literals: %.17g round-trips any double exactly
    def f(d: Double) = "%.17g".format(d)
    val (aG, dG, lNcp) = (math.toRadians(NgpRaDeg), math.toRadians(NgpDecDeg),
      math.toRadians(LonNcpDeg))
    QuerySpec(
      "q_coord_gal",
      s"""WITH c AS (SELECT p_partkey AS id,
         |    CAST(p_partkey * 29 % 3600 AS DOUBLE) / 10.0 AS ra,
         |    CAST(p_partkey * 23 % 1700 AS DOUBLE) / 10.0 - 85.0 AS dec
         |  FROM part),
         |r AS (SELECT id, ra, dec,
         |    radians(ra) AS a, radians(dec) AS d FROM c),
         |g AS (SELECT id, ra, dec,
         |    sin(d) * ${f(math.sin(dG))} + cos(d) * ${f(math.cos(dG))}
         |      * cos(a - ${f(aG)}) AS sinb,
         |    cos(d) * sin(a - ${f(aG)}) AS y,
         |    sin(d) * ${f(math.cos(dG))} - cos(d) * ${f(math.sin(dG))}
         |      * cos(a - ${f(aG)}) AS x
         |  FROM r)
         |SELECT id, ra, dec,
         |  ${D.sql.d6(s"((degrees(${f(lNcp)} - atan2(y, x)) % 360.0" +
            ") + 360.0) % 360.0")} AS gal_l,
         |  ${D.sql.d6("degrees(asin(sinb))")} AS gal_b
         |FROM g ORDER BY id""".stripMargin) { (s, dir) =>
      val a = radians(col("ra"))
      val d = radians(col("dec"))
      val sinb = sin(d) * math.sin(dG) + cos(d) * math.cos(dG) *
        cos(a - aG)
      val y = cos(d) * sin(a - aG)
      val x = sin(d) * math.cos(dG) - cos(d) * math.sin(dG) * cos(a - aG)
      LsdDb.table(s, dir, "part")
        .select(col("p_partkey").as("id"),
          ((col("p_partkey") * 29) % 3600).cast(DoubleType)./(10.0).as("ra"),
          (((col("p_partkey") * 23) % 1700).cast(DoubleType) / 10.0 - 85.0)
            .as("dec"))
        .withColumn("gal_l",
          Det.d6(pmod(degrees(lit(lNcp) - atan2(y, x)), lit(360.0))))
        .withColumn("gal_b", Det.d6(degrees(asin(sinb))))
        .orderBy("id")
    }
  }

  /** P10b — dust-map lookup + dereddening: the reference's other
    * coordinate-adjacent builtin, `ebv(l, b)` (ref `lsd/sfd.py`,
    * UNVERIFIED; SFD98 is the public source). Equatorial positions →
    * galactic (the q_coord_gal rotation, d6-snapped) → packed SkyPix
    * cell → BROADCAST join against the sampled dust grid
    * ([[graft.functions.DustMap]]) → extinction-corrected magnitude
    * (A_r = 2.751·E(B−V), the SFD98 r-band coefficient). The corpus
    * side never shuffles — the 100 TB dereddening shape. */
  val qEbvLookup: QuerySpec = {
    import graft.functions.{AstroCoords, DustMap}
    def f(d: Double) = "%.17g".format(d)
    val (aG, dG, lNcp) = (math.toRadians(AstroCoords.NgpRaDeg),
      math.toRadians(AstroCoords.NgpDecDeg),
      math.toRadians(AstroCoords.LonNcpDeg))
    val lv = DustMap.Level
    QuerySpec(
      "q_ebv_lookup",
      s"""WITH c AS (SELECT p_partkey AS id,
         |    CAST(p_partkey * 29 % 3600 AS DOUBLE) / 10.0 AS ra,
         |    CAST(p_partkey * 23 % 1700 AS DOUBLE) / 10.0 - 85.0 AS dec,
         |    15.0 + CAST(p_partkey % 700 AS DOUBLE) / 100.0 AS mag_r
         |  FROM part),
         |r AS (SELECT id, mag_r, radians(ra) AS a, radians(dec) AS d FROM c),
         |g AS (SELECT id, mag_r,
         |    sin(d) * ${f(math.sin(dG))} + cos(d) * ${f(math.cos(dG))}
         |      * cos(a - ${f(aG)}) AS sinb,
         |    cos(d) * sin(a - ${f(aG)}) AS y,
         |    sin(d) * ${f(math.cos(dG))} - cos(d) * ${f(math.sin(dG))}
         |      * cos(a - ${f(aG)}) AS x
         |  FROM r),
         |gl AS (SELECT id, mag_r,
         |    ${D.sql.d6(s"((degrees(${f(lNcp)} - atan2(y, x)) % 360.0" +
            ") + 360.0) % 360.0")} AS l6,
         |    ${D.sql.d6("degrees(asin(sinb))")} AS b6
         |  FROM g),
         |grid AS (${DustMap.gridSql}),
         |k AS (SELECT id, mag_r,
         |    ${graft.spatial.SkyPix.sql.mortonCell(
              graft.spatial.SkyPix.sql.ixSnapped("l6", lv),
              graft.spatial.SkyPix.sql.iySnapped("b6", lv), lv)} AS cell
         |  FROM gl)
         |SELECT id, ebv, mag_r - 2.751 * ebv AS mag_r_corr
         |FROM k JOIN grid USING (cell) ORDER BY id""".stripMargin) { (s, dir) =>
      val a = radians(col("ra"))
      val d = radians(col("dec"))
      val sinb = sin(d) * math.sin(dG) + cos(d) * math.cos(dG) * cos(a - aG)
      val y = cos(d) * sin(a - aG)
      val x = sin(d) * math.cos(dG) - cos(d) * math.sin(dG) * cos(a - aG)
      val src = LsdDb.table(s, dir, "part")
        .select(col("p_partkey").as("id"),
          ((col("p_partkey") * 29) % 3600).cast(DoubleType)./(10.0).as("ra"),
          (((col("p_partkey") * 23) % 1700).cast(DoubleType) / 10.0 - 85.0)
            .as("dec"),
          (lit(15.0) + (col("p_partkey") % 700).cast(DoubleType) / 100.0)
            .as("mag_r"))
        .withColumn("l6",
          Det.d6(pmod(degrees(lit(lNcp) - atan2(y, x)), lit(360.0))))
        .withColumn("b6", Det.d6(degrees(asin(sinb))))
      DustMap.withEbv(src, col("l6"), col("b6"))
        .select(col("id"), col("ebv"),
          (col("mag_r") - col("ebv") * 2.751).as("mag_r_corr"))
        .orderBy("id")
    }
  }

  /** P10c — the canonical LSD kernel use-case composed END TO END: a
    * DEREDDENED color-magnitude diagram (the query the reference's
    * docs open with — per-star E(B−V) from the dust map, extinction-
    * corrected g−r vs r, binned into a 2-D histogram). Everything is
    * the q_ebv_lookup pipeline (galactic rotation → d6 snap → packed
    * cell → BROADCAST grid join — corpus never shuffles) plus one
    * partial-aggregated groupBy on the two bin keys: reduce state is
    * O(color bins × mag bins) regardless of star count, the 100 TB
    * CMD shape. Bin assignment floors identical IEEE doubles on both
    * engines (all inputs are integer-derived or 1e-3-grid ebv values
    * flowing through the same expression tree), so the histogram is
    * hash-exact. SFD98 extinction coefficients: A_g = 3.793·E(B−V),
    * A_r = 2.751·E(B−V). */
  val qCmd: QuerySpec = {
    import graft.functions.{AstroCoords, DustMap}
    def f(d: Double) = "%.17g".format(d)
    val (aG, dG, lNcp) = (math.toRadians(AstroCoords.NgpRaDeg),
      math.toRadians(AstroCoords.NgpDecDeg),
      math.toRadians(AstroCoords.LonNcpDeg))
    val lv = DustMap.Level
    QuerySpec(
      "q_cmd",
      s"""WITH c AS (SELECT p_partkey AS id,
         |    CAST(p_partkey * 29 % 3600 AS DOUBLE) / 10.0 AS ra,
         |    CAST(p_partkey * 23 % 1700 AS DOUBLE) / 10.0 - 85.0 AS dec,
         |    15.0 + CAST(p_partkey % 700 AS DOUBLE) / 100.0 AS mag_r,
         |    15.2 + CAST(p_partkey * 13 % 900 AS DOUBLE) / 100.0 AS mag_g
         |  FROM part),
         |r AS (SELECT id, mag_r, mag_g,
         |    radians(ra) AS a, radians(dec) AS d FROM c),
         |g AS (SELECT id, mag_r, mag_g,
         |    sin(d) * ${f(math.sin(dG))} + cos(d) * ${f(math.cos(dG))}
         |      * cos(a - ${f(aG)}) AS sinb,
         |    cos(d) * sin(a - ${f(aG)}) AS y,
         |    sin(d) * ${f(math.cos(dG))} - cos(d) * ${f(math.sin(dG))}
         |      * cos(a - ${f(aG)}) AS x
         |  FROM r),
         |gl AS (SELECT id, mag_r, mag_g,
         |    ${D.sql.d6(s"((degrees(${f(lNcp)} - atan2(y, x)) % 360.0" +
            ") + 360.0) % 360.0")} AS l6,
         |    ${D.sql.d6("degrees(asin(sinb))")} AS b6
         |  FROM g),
         |grid AS (${DustMap.gridSql}),
         |k AS (SELECT id, mag_r, mag_g,
         |    ${graft.spatial.SkyPix.sql.mortonCell(
              graft.spatial.SkyPix.sql.ixSnapped("l6", lv),
              graft.spatial.SkyPix.sql.iySnapped("b6", lv), lv)} AS cell
         |  FROM gl),
         |der AS (SELECT
         |    (mag_g - 3.793 * ebv) - (mag_r - 2.751 * ebv) AS color,
         |    mag_r - 2.751 * ebv AS r_corr
         |  FROM k JOIN grid USING (cell))
         |SELECT CAST(floor((color + 1.0) / 0.05) AS BIGINT) AS color_bin,
         |  CAST(floor((r_corr - 12.0) / 0.25) AS BIGINT) AS mag_bin,
         |  count(*) AS n_stars,
         |  ${D.sql.dsum("color")} AS sum_color
         |FROM der GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val a = radians(col("ra"))
      val d = radians(col("dec"))
      val sinb = sin(d) * math.sin(dG) + cos(d) * math.cos(dG) * cos(a - aG)
      val y = cos(d) * sin(a - aG)
      val x = sin(d) * math.cos(dG) - cos(d) * math.sin(dG) * cos(a - aG)
      val src = LsdDb.table(s, dir, "part")
        .select(col("p_partkey").as("id"),
          ((col("p_partkey") * 29) % 3600).cast(DoubleType)./(10.0).as("ra"),
          (((col("p_partkey") * 23) % 1700).cast(DoubleType) / 10.0 - 85.0)
            .as("dec"),
          (lit(15.0) + (col("p_partkey") % 700).cast(DoubleType) / 100.0)
            .as("mag_r"),
          (lit(15.2) + ((col("p_partkey") * 13) % 900).cast(DoubleType)
            / 100.0).as("mag_g"))
        .withColumn("l6",
          Det.d6(pmod(degrees(lit(lNcp) - atan2(y, x)), lit(360.0))))
        .withColumn("b6", Det.d6(degrees(asin(sinb))))
      DustMap.withEbv(src, col("l6"), col("b6"))
        .select(
          ((col("mag_g") - lit(3.793) * col("ebv")) -
            (col("mag_r") - lit(2.751) * col("ebv"))).as("color"),
          (col("mag_r") - lit(2.751) * col("ebv")).as("r_corr"))
        .groupBy(
          floor((col("color") + 1.0) / 0.05).cast(LongType).as("color_bin"),
          floor((col("r_corr") - 12.0) / 0.25).cast(LongType).as("mag_bin"))
        .agg(count(lit(1)).as("n_stars"),
          Det.dsum(col("color")).as("sum_color"))
        .orderBy("color_bin", "mag_bin")
    }
  }

  /** A13b — variability CATALOG: the phase-folding period search
    * (q_phase_fold) joined BACK to the object catalog — the
    * round-trip a survey user actually runs ("which of my objects are
    * periodic variables, at what period and amplitude?"). Per-series
    * work is the q_phase_fold aggregate (explode by constant trial
    * periods, two keyed partial aggs, one argmin window); amplitude
    * stats ride the SAME first aggregation pass (no extra scan of
    * events); the final attach is an equi-join to the catalog —
    * BROADCAST-able whenever the variable-candidate list is small
    * (here by construction; at 100 TB the period search output is
    * one row per OBJECT, already reduced by orders of magnitude).
    * Everything decimal-exact end to end, so the argmin and the
    * emitted statistics hash-match DuckDB bit for bit. */
  val qVariabilityCatalog: QuerySpec = QuerySpec(
    "q_variability_catalog",
    s"""WITH ev AS (SELECT user_id,
       |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
       |      / 86400.0 AS td,
       |    value FROM events),
       |folded AS (SELECT user_id, p,
       |    CAST(least(floor((td / p - floor(td / p)) * 8), 7) AS INT)
       |      AS bin,
       |    value
       |  FROM ev CROSS JOIN
       |    (SELECT unnest([0.5, 1.0, 2.0, 3.0, 5.0]) AS p)),
       |ba AS (SELECT user_id, p, bin, count(*) AS n,
       |    CAST(sum(CAST(value AS DECIMAL(18,8))) AS DOUBLE) AS sv,
       |    CAST(sum(CAST(value * value AS DECIMAL(38,8))) AS DOUBLE)
       |      AS sq,
       |    min(value) AS mn, max(value) AS mx
       |  FROM folded GROUP BY user_id, p, bin),
       |st AS (SELECT user_id, p,
       |    CAST(sum(CAST(sq - sv * sv / n AS DECIMAL(38,8))) AS DOUBLE)
       |      AS stat,
       |    CAST(sum(n) AS BIGINT) AS n_obs,
       |    max(mx) - min(mn) AS amplitude
       |  FROM ba GROUP BY user_id, p),
       |r AS (SELECT user_id, p, stat, n_obs, amplitude,
       |    row_number() OVER (PARTITION BY user_id ORDER BY stat, p)
       |      AS rn
       |  FROM st)
       |SELECT user_id, c_name, best_period, stat, n_obs, amplitude
       |FROM (SELECT user_id, p AS best_period, stat, n_obs, amplitude
       |      FROM r WHERE rn = 1) v
       |JOIN customer ON user_id = c_custkey
       |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val periods = Seq(0.5, 1.0, 2.0, 3.0, 5.0)
    val td = unix_timestamp(col("ts")) / 86400.0
    val phase = col("td") / col("p") - floor(col("td") / col("p"))
    val folded = LsdDb.table(s, dir, "events")
      .select(col("user_id"), td.as("td"), col("value"))
      .withColumn("p", explode(typedLit(periods)))
      .select(col("user_id"), col("p"),
        least(floor(phase * 8), lit(7.0)).cast("int").as("bin"),
        col("value"))
    val ba = folded.groupBy("user_id", "p", "bin").agg(
      count(lit(1)).as("n"),
      Det.dsum(col("value")).as("sv"),
      sum((col("value") * col("value"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 8)))
        .cast(DoubleType).as("sq"),
      min(col("value")).as("mn"), max(col("value")).as("mx"))
    val resid = col("sq") - col("sv") * col("sv") / col("n")
    val st = ba.groupBy("user_id", "p").agg(
      sum(resid.cast(org.apache.spark.sql.types.DecimalType(38, 8)))
        .cast(DoubleType).as("stat"),
      sum(col("n")).as("n_obs"),
      (max(col("mx")) - min(col("mn"))).as("amplitude"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("stat").asc, col("p").asc)
    val best = st.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("p").as("best_period"), col("stat"),
        col("n_obs"), col("amplitude"))
    val cust = LsdDb.table(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
    best.join(broadcast(cust), best("user_id") === cust("c_custkey"))
      .select("user_id", "c_name", "best_period", "stat", "n_obs",
        "amplitude")
      .orderBy("user_id")
  }

  /** A14 — spatiotemporal cube: detection counts + mean flux per
    * (sky cell × night) — the survey's nightly-coverage / cadence
    * bookkeeping query (SURVEY.md §1 sky×time tabulation, UNVERIFIED).
    * ONE partial-aggregated groupBy on (packed cell, date-truncated
    * night); the reduce side is bounded by cells × nights regardless
    * of detection count. */
  val qCubeSkytime: QuerySpec = {
    val lv = 3
    QuerySpec(
      "q_cube_skytime",
      s"""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS tsu, value,
         |    CAST(event_id * 13 % 3600 AS DOUBLE) / 10.0 AS lon,
         |    CAST(event_id * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS lat
         |  FROM events),
         |g AS (SELECT ${graft.spatial.SkyPix.sql.ixSnapped("lon", lv)} AS ix,
         |    ${graft.spatial.SkyPix.sql.iySnapped("lat", lv)} AS iy,
         |    date_trunc('day', tsu) AS night, value
         |  FROM e)
         |SELECT ${graft.spatial.SkyPix.sql.mortonCell("ix", "iy", lv)}
         |    AS cell,
         |  night, count(*) AS n_det, ${D.sql.davg("value")} AS mean_val
         |FROM g GROUP BY ix, iy, night
         |ORDER BY cell, night""".stripMargin) { (s, dir) =>
      import graft.spatial.SkyPix
      LsdDb.table(s, dir, "events")
        .select(col("value"),
          ((col("event_id") * 13) % 3600).cast(DoubleType)./(10.0).as("lon"),
          (((col("event_id") * 7) % 600).cast(DoubleType) / 10.0 - 30.0)
            .as("lat"),
          date_trunc("day", col("ts")).as("night"))
        .select(SkyPix.ixSnapped(col("lon"), lv).as("ix"),
          SkyPix.iySnapped(col("lat"), lv).as("iy"),
          col("night"), col("value"))
        .groupBy("ix", "iy", "night")
        .agg(count(lit(1)).as("n_det"), Det.davg(col("value")).as("mean_val"))
        .select(SkyPix.mortonCell(col("ix"), col("iy"), lv).as("cell"),
          col("night"), col("n_det"), col("mean_val"))
        .orderBy("cell", "night")
    }
  }

  /** Epoch origin for trend fitting: 2024-01-01 00:00 UTC. Centering
    * the regressor near the data keeps n·Σx² − (Σx)² conditioned
    * (raw epoch seconds ~1.7e9 would cancel ~12 of double's 16
    * digits; offsets ≤ a few 1e6 cancel ~2). The slope is
    * offset-invariant; the intercept is AT THE ORIGIN, documented. */
  private val trendEpoch0 = 1704067200L

  /** A15 — per-object linear trend fit (OLS slope/intercept): the
    * survey's secular-variability screen (is this source brightening?)
    * and the pipeline's per-key regression primitive. ONE two-phase
    * hash aggregate: Σx/Σx² exact in BIGINT, Σy/Σxy exact via the
    * decimal route, then a fixed double expression. The compound
    * products (a·b − c·d) are NOT engine-identical — DuckDB's
    * vectorized kernels may FMA-contract them (observed: last-ulp
    * slope spread on 9/150 objects) — so the degenerate-variance
    * guard uses EXACT BIGINT arithmetic (n·Σx² − (Σx)², ≤2e17 here)
    * and the emitted numbers are d6-snapped, with the slope scaled
    * to per-day so the 1e-6 grid keeps ~6 significant digits. */
  val qTrendFit: QuerySpec = QuerySpec(
    "q_trend_fit",
    s"""WITH ev AS (SELECT user_id,
       |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
       |      - $trendEpoch0 AS x,
       |    value AS y
       |  FROM events),
       |a AS (SELECT user_id,
       |    count(*) AS n,
       |    CAST(sum(x) AS BIGINT) AS sxb,
       |    CAST(sum(x * x) AS BIGINT) AS sxxb,
       |    ${D.sql.dsum("y")} AS sy,
       |    ${D.sql.sprod("x", "y")} AS sxy
       |  FROM ev GROUP BY user_id HAVING count(*) >= 3),
       |f AS (SELECT user_id, n, sy, sxb,
       |    CASE WHEN n * sxxb - sxb * sxb <> 0 THEN
       |      (n * sxy - CAST(sxb AS DOUBLE) * sy)
       |        / CAST(n * sxxb - sxb * sxb AS DOUBLE) END AS slope
       |  FROM a)
       |SELECT user_id AS object_id, n AS n_obs,
       |  ${D.sql.d6("slope * 86400.0")} AS slope_per_day,
       |  ${D.sql.d6("(sy - slope * CAST(sxb AS DOUBLE)) / n")} AS intercept
       |FROM f ORDER BY object_id""".stripMargin) { (s, dir) =>
    val x = (unix_timestamp(col("ts")) - trendEpoch0).as("x")
    val agg = LsdDb.table(s, dir, "events")
      .select(col("user_id"), x, col("value").as("y"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sxb"),
        sum(col("x") * col("x")).as("sxxb"),
        Det.dsum(col("y")).as("sy"),
        Det.dsumProd(col("x"), col("y")).as("sxy"))
      .filter(col("n") >= 3)
    val idenom = col("n") * col("sxxb") - col("sxb") * col("sxb") // exact
    agg
      .withColumn("slope", when(idenom =!= 0,
        (col("n") * col("sxy") - col("sxb").cast(DoubleType) * col("sy")) /
          idenom.cast(DoubleType)))
      .select(col("user_id").as("object_id"), col("n").as("n_obs"),
        Det.d6(col("slope") * 86400.0).as("slope_per_day"),
        Det.d6((col("sy") - col("slope") * col("sxb").cast(DoubleType)) /
          col("n")).as("intercept"))
      .orderBy("object_id")
  }

  /** A16 — nearest-neighbor distance histogram (bounded radius): the
    * clustering statistic surveys run over their own catalog (NN
    * distances vs a Poisson field). Self cross-match at 0.9°, self
    * pairs excluded, nearest per object by (dist, id), distances
    * histogrammed in 0.1° bins. Objects whose NN lies beyond the
    * radius are absent by contract (bounded-radius NN — at survey
    * density the radius covers the distribution's support). The Spark
    * side is the cell-blocked self-join — candidates scale with
    * density × area, never catalog²; the oracle pays the true
    * cross-join price with a lossless Δlat prefilter.
    *
    * Positions use a Knuth multiplicative-hash scatter (0.01° grid),
    * NOT the shared ×13/×7 lattice: that lattice's minimum nonzero
    * spacing exceeds 0.9°, which would make every in-radius NN a
    * zero-distance duplicate and the histogram a single bin. The
    * catalog is a FIXED deterministic subsample (o_orderkey ≤ 60000,
    * spatially unbiased under the hash scatter): an NN-distance
    * statistic needs a fair sample at a fixed density, not the whole
    * catalog — without the cap, growing SF shrinks every NN below one
    * bin while the blocked self-join pays for the full density. */
  /** J6g — moving-object TRACKLET linking (the MOPS shape: Kubica et
    * al. 2007, Denneau et al. 2013 — public): pairs of detections
    * close in time AND whose implied angular motion sits in the
    * asteroid band — slow enough to be real (v ≤ 0.95 °/d, leaving
    * 0.1° of blocking headroom over the d6 snap) and fast enough to
    * not be a stationary re-detection (v ≥ 0.05 °/d). The probe
    * batch ("tonight's detections", event_id < 500) links FORWARD in
    * time against the whole stream.
    *
    * The detection field is a genuine MOVING-OBJECT model, in exact
    * integer arithmetic so both engines agree bit-for-bit: each
    * user_id is an object on a linear track — per-object base
    * position and (lon, lat) rates in integer MILLIDEGREES PER HOUR
    * (up to ±18 ⇒ ≤ 0.43 °/d), stepped at integer epoch-hours and
    * double-mod-wrapped into [0,360)×[−20,20). Same-object pairs
    * move coherently through the velocity band; near-stationary
    * objects (small rates) fall to the vmin cut; cross-object
    * coincidences are the confusion pairs a real linker must carry
    * to verification. No float multiply-add ever touches a
    * coordinate (the Det FMA rule) — doubles appear only at the
    * final /1000.
    *
    * Blocking is the q_xmatch_temporal (sky × time) product grid
    * with radius vmax·Δtmax = 2°: the bounded probe side carries the
    * ~9× cell×bucket replication and broadcasts; the corpus keys on
    * its ONE (home cell, own day-bucket) and never shuffles —
    * map-only at any corpus size. Refines are exact: integer-µs
    * Δt ∈ (0, 2 d], d6-snapped distance, and the velocity ratio of
    * those two engine-identical values. */
  val qTracklets: QuerySpec = QuerySpec(
    "q_tracklets",
    s"""WITH e0 AS (SELECT event_id AS id, user_id,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS thr
       |  FROM events),
       |e AS (SELECT id, tus,
       |    CAST(((user_id * 2654435761 + (user_id * 7919 % 37 - 18) * thr)
       |      % 360000 + 360000) % 360000 AS DOUBLE) / 1000.0 AS lon,
       |    CAST(((user_id * 40503 + (user_id * 104729 % 13 - 6) * thr)
       |      % 40000 + 40000) % 40000 AS DOUBLE) / 1000.0 - 20.0 AS lat
       |  FROM e0),
       |a AS (SELECT * FROM e WHERE id < 500),
       |p AS (SELECT a.id AS a_id, b.id AS b_id,
       |    ${D.sql.d6(
          CrossMatch.sql.distDeg("a.lon", "a.lat", "b.lon", "b.lat"))} AS dist_deg,
       |    (b.tus - a.tus) / 86400000000.0 AS dt_days
       |  FROM a CROSS JOIN e b
       |  WHERE b.tus > a.tus AND b.tus - a.tus <= 172800000000)
       |SELECT a_id, b_id, dt_days, dist_deg,
       |  ${D.sql.d6("dist_deg / dt_days")} AS v_deg_day
       |FROM p
       |WHERE dist_deg >= 0.05 * dt_days AND dist_deg <= 0.95 * dt_days
       |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
    val winUs = 172800000000L // Δtmax 2 days; bucket width == window
    val thr = expr("unix_micros(ts) DIV 3600000000") // integer hours
    val rLon = (col("user_id") * 7919) % 37 - 18 // mdeg/hr, ±18
    val rLat = (col("user_id") * 104729) % 13 - 6 // mdeg/hr, ±6
    val e = LsdDb.table(s, dir, "events")
      .select(col("event_id").as("id"),
        pmod(col("user_id") * 2654435761L + rLon * thr, lit(360000L))
          .cast(DoubleType)./(1000.0).as("lon"),
        (pmod(col("user_id") * 40503L + rLat * thr, lit(40000L))
          .cast(DoubleType) / 1000.0 - 20.0).as("lat"),
        unix_micros(col("ts")).as("tus"))
    val level = graft.spatial.CrossMatch.levelFor(2.0, 21.0)
    val a = e.filter(col("id") < 500)
      .select(col("id").as("a_id"), col("lon").as("a_lon"),
        col("lat").as("a_lat"), col("tus").as("a_tus"))
      .withColumn("cell", explode(graft.spatial.SkyPix
        .neighborCellsWithin(col("a_lon"), col("a_lat"), level, 2.0)))
      .withColumn("a0", floor(col("a_tus") / winUs))
      // forward-in-time window with bucket width == window: a match
      // needs b_tus ∈ (a_tus, a_tus + win], which floors into bucket
      // a0 or a0+1 only — replicating into a0-1 would be dead weight
      // (symmetric-window queries like q_xmatch_temporal keep 3)
      .withColumn("bucket", explode(array(col("a0"), col("a0") + 1)))
      .drop("a0")
    val b = e
      .select(col("id").as("b_id"), col("lon").as("b_lon"),
        col("lat").as("b_lat"), col("tus").as("b_tus"))
      .withColumn("cell",
        graft.spatial.SkyPix.cell(col("b_lon"), col("b_lat"), level))
      .withColumn("bucket", floor(col("b_tus") / winUs))
    val dt = (col("b_tus") - col("a_tus")).cast(DoubleType) / 86400000000.0
    broadcast(a).join(b, Seq("cell", "bucket"))
      .filter(col("b_tus") > col("a_tus") &&
        col("b_tus") - col("a_tus") <= winUs)
      .withColumn("dist_deg", Det.d6(graft.spatial.CrossMatch.distDeg(
        col("a_lon"), col("a_lat"), col("b_lon"), col("b_lat"))))
      .withColumn("dt_days", dt)
      // division-free band cut: ANSI mode + Catalyst conjunct
      // reordering means a ratio predicate can meet a dt=0 self-pair
      .filter(col("dist_deg") >= lit(0.05) * col("dt_days") &&
        col("dist_deg") <= lit(0.95) * col("dt_days"))
      .select(col("a_id"), col("b_id"), col("dt_days"), col("dist_deg"),
        Det.d6(col("dist_deg") / col("dt_days")).as("v_deg_day"))
      .orderBy("a_id", "b_id")
  }

  /** J6h — tracklet CHAINING into 3-detection tracks (MOPS stage 2):
    * two velocity-band pairs sharing their middle detection, kept
    * when the segment velocity VECTORS agree within 0.05 °/d per
    * component — a linear-motion consistency test, the filter that
    * separates a real moving object from chance pair coincidences.
    * All three detections come from the 3-night linking window
    * (event_id < 1500). Segments need Δt ≥ 0.5 d so the hourly
    * stepping of the synthetic tracks cannot push a true object's
    * velocity estimate outside the tolerance.
    *
    * Plan: the pair relation is the same broadcast-probe blocked
    * join as q_tracklets (map-only over the corpus); the chain step
    * is a self-join of that SMALL candidate relation on the shared
    * detection — at survey scale pairs ≪ detections, so the
    * expensive geometry never runs on anything bigger than the
    * tracklet set. Velocity components are wrapped-Δlon/Δt and
    * Δlat/Δt — single-op IEEE chains (fmod is exact), d6-snapped
    * before the consistency compare and the emitted mean. */
  val qTracks: QuerySpec = QuerySpec(
    "q_tracks",
    s"""WITH e0 AS (SELECT event_id AS id, user_id,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS thr
       |  FROM events),
       |e AS (SELECT id, tus,
       |    CAST(((user_id * 2654435761 + (user_id * 7919 % 37 - 18) * thr)
       |      % 360000 + 360000) % 360000 AS DOUBLE) / 1000.0 AS lon,
       |    CAST(((user_id * 40503 + (user_id * 104729 % 13 - 6) * thr)
       |      % 40000 + 40000) % 40000 AS DOUBLE) / 1000.0 - 20.0 AS lat
       |  FROM e0 WHERE id < 1500),
       |p AS (SELECT a.id AS a_id, b.id AS b_id,
       |    a.lon AS alon, a.lat AS alat, b.lon AS blon, b.lat AS blat,
       |    ${D.sql.d6(
          CrossMatch.sql.distDeg("a.lon", "a.lat", "b.lon", "b.lat"))} AS dist_deg,
       |    (b.tus - a.tus) / 86400000000.0 AS dt_days
       |  FROM e a CROSS JOIN e b
       |  WHERE b.tus > a.tus AND b.tus - a.tus <= 172800000000),
       |pr AS (SELECT a_id, b_id,
       |    ${D.sql.d6(
          "((blon - alon + 540.0) % 360.0 - 180.0) / dt_days")} AS vlon,
       |    ${D.sql.d6("(blat - alat) / dt_days")} AS vlat
       |  FROM p WHERE dt_days >= 0.5
       |    AND dist_deg >= 0.05 * dt_days AND dist_deg <= 0.95 * dt_days)
       |SELECT p1.a_id, p1.b_id, p2.b_id AS c_id,
       |  CAST(CAST((p1.vlon + p2.vlon) / 2 AS DECIMAL(18,7)) AS DOUBLE)
       |    AS v_lon,
       |  CAST(CAST((p1.vlat + p2.vlat) / 2 AS DECIMAL(18,7)) AS DOUBLE)
       |    AS v_lat
       |FROM pr p1 JOIN pr p2 ON p1.b_id = p2.a_id
       |WHERE abs(p1.vlon - p2.vlon) <= 0.05
       |  AND abs(p1.vlat - p2.vlat) <= 0.05
       |ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    val winUs = 172800000000L
    val thr = expr("unix_micros(ts) DIV 3600000000")
    val rLon = (col("user_id") * 7919) % 37 - 18
    val rLat = (col("user_id") * 104729) % 13 - 6
    val e = LsdDb.table(s, dir, "events")
      .filter(col("event_id") < 1500)
      .select(col("event_id").as("id"),
        pmod(col("user_id") * 2654435761L + rLon * thr, lit(360000L))
          .cast(DoubleType)./(1000.0).as("lon"),
        (pmod(col("user_id") * 40503L + rLat * thr, lit(40000L))
          .cast(DoubleType) / 1000.0 - 20.0).as("lat"),
        unix_micros(col("ts")).as("tus"))
    val level = graft.spatial.CrossMatch.levelFor(2.0, 21.0)
    val a = e
      .select(col("id").as("a_id"), col("lon").as("a_lon"),
        col("lat").as("a_lat"), col("tus").as("a_tus"))
      .withColumn("cell", explode(graft.spatial.SkyPix
        .neighborCellsWithin(col("a_lon"), col("a_lat"), level, 2.0)))
      .withColumn("a0", floor(col("a_tus") / winUs))
      // forward-only window ⇒ b can floor only into a0 or a0+1 (see
      // q_tracklets for the bound)
      .withColumn("bucket", explode(array(col("a0"), col("a0") + 1)))
      .drop("a0")
    val b = e
      .select(col("id").as("b_id"), col("lon").as("b_lon"),
        col("lat").as("b_lat"), col("tus").as("b_tus"))
      .withColumn("cell",
        graft.spatial.SkyPix.cell(col("b_lon"), col("b_lat"), level))
      .withColumn("bucket", floor(col("b_tus") / winUs))
    val dt = (col("b_tus") - col("a_tus")).cast(DoubleType) / 86400000000.0
    val pairs = broadcast(a).join(b, Seq("cell", "bucket"))
      .filter(col("b_tus") > col("a_tus") &&
        col("b_tus") - col("a_tus") <= winUs)
      .withColumn("dist_deg", Det.d6(graft.spatial.CrossMatch.distDeg(
        col("a_lon"), col("a_lat"), col("b_lon"), col("b_lat"))))
      .withColumn("dt_days", dt)
      .filter(col("dt_days") >= 0.5 &&
        col("dist_deg") >= lit(0.05) * col("dt_days") &&
        col("dist_deg") <= lit(0.95) * col("dt_days"))
      // The when-guard is semantically inert (dt_days >= 0.5 by the
      // filter above) but load-bearing under ANSI: the chain filter's
      // abs(vlon1 - vlon2) constraint makes Catalyst INFER
      // isnotnull(vlon), inline this definition into it, and push the
      // copy into the blocked join's condition — where it would run
      // on dt = 0 self-pairs before the b_tus > a_tus conjunct and
      // throw DIVIDE_BY_ZERO. Guarded, any relocated copy is
      // null-safe.
      .select(col("a_id"), col("b_id"),
        Det.d6(when(col("dt_days") > 0.0,
          ((col("b_lon") - col("a_lon") + 540.0) % 360.0 - 180.0)
            / col("dt_days"))).as("vlon"),
        Det.d6(when(col("dt_days") > 0.0,
          (col("b_lat") - col("a_lat")) / col("dt_days"))).as("vlat"))
    val p1 = pairs.select(col("a_id"), col("b_id"),
      col("vlon").as("vlon1"), col("vlat").as("vlat1"))
    val p2 = pairs.select(col("a_id").as("b2_id"), col("b_id").as("c_id"),
      col("vlon").as("vlon2"), col("vlat").as("vlat2"))
    p1.join(p2, col("b_id") === col("b2_id"))
      .filter(abs(col("vlon1") - col("vlon2")) <= 0.05 &&
        abs(col("vlat1") - col("vlat2")) <= 0.05)
      // d7, not d6: the mean of two 1e-6-grid values sits EXACTLY on
      // the 1e-7 grid (never a decimal midpoint), while at d6 it can
      // land on a 0.5e-6 midpoint where Spark rounds half-up and
      // DuckDB half-even — observed live on this corpus
      .select(col("a_id"), col("b_id"), col("c_id"),
        ((col("vlon1") + col("vlon2")) / 2)
          .cast(org.apache.spark.sql.types.DecimalType(18, 7))
          .cast(DoubleType).as("v_lon"),
        ((col("vlat1") + col("vlat2")) / 2)
          .cast(org.apache.spark.sql.types.DecimalType(18, 7))
          .cast(DoubleType).as("v_lat"))
      .orderBy("a_id", "b_id", "c_id")
  }

  val qNnHist: QuerySpec = QuerySpec(
    "q_nn_hist",
    s"""WITH c AS (SELECT o_orderkey AS id,
       |    CAST(o_orderkey * 2654435761 % 36000 AS DOUBLE) / 100.0 AS lon,
       |    CAST(o_orderkey * 40503 % 6000 AS DOUBLE) / 100.0 - 30.0 AS lat
       |  FROM orders WHERE o_orderkey <= 60000),
       |p AS (SELECT a.id AS a_id, b.id AS b_id,
       |    ${D.sql.d6(
          CrossMatch.sql.distDeg("a.lon", "a.lat", "b.lon", "b.lat"))} AS dist_deg
       |  FROM c a JOIN c b
       |    ON a.id <> b.id AND abs(a.lat - b.lat) <= 0.9000005),
       |nn AS (SELECT a_id, dist_deg,
       |    row_number() OVER (PARTITION BY a_id
       |                       ORDER BY dist_deg, b_id) AS rn
       |  FROM p WHERE dist_deg <= 0.9)
       |SELECT CAST(floor(dist_deg * 10) AS BIGINT) AS bin_01deg,
       |  count(*) AS n_objects
       |FROM nn WHERE rn = 1
       |GROUP BY bin_01deg ORDER BY bin_01deg""".stripMargin) { (s, dir) =>
    // spread (r21): the one-row-group orders scan single-tasked both
    // the neighbor-cells broadcast build (1.3 s on one core) and the
    // window-limit stage; conditional, no-op on parallel layouts
    val c = LsdDb.spread(LsdDb.table(s, dir, "orders")
      .filter(col("o_orderkey") <= 60000)
      .select(
      col("o_orderkey").as("id"),
      ((col("o_orderkey") * 2654435761L) % 36000).cast(DoubleType)./(100.0)
        .as("lon"),
      (((col("o_orderkey") * 40503) % 6000).cast(DoubleType) / 100.0 - 30.0)
        .as("lat")), col("id"))
    val w = Window.partitionBy("a_id")
      .orderBy(col("dist_deg").asc, col("b_id").asc)
    graft.spatial.CrossMatch
      // block at 0.95 > 0.9 + d6 slack: a pair whose RAW distance is
      // 0.9000004 snaps to 0.900000 and must survive the block (the
      // q_xmatch pattern)
      .pairs(c, graft.spatial.CrossMatch.Blocking(c),
        "id", "lon", "lat", "id", "lon", "lat", 0.95,
        capLat = 31.0) // data lies in |lat| ≤ 30
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("dist_deg", Det.d6(col("dist_deg")))
      .filter(col("dist_deg") <= 0.9)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(floor(col("dist_deg") * 10).cast(LongType).as("bin_01deg"))
      .agg(count(lit(1)).as("n_objects"))
      .orderBy("bin_01deg")
  }

  /** q_pm_fit epoch origin, in integer HOURS (trendEpoch0 / 3600 —
    * 1704067200 is divisible by 3600, so this is exact). Centering the
    * regressor shrinks every OLS accumulator far below the BIGINT
    * overflow line (worst case here: n·Σxy ≲ 1e16 ≪ 2^63). */
  private val pmFitT0Hours = 1704067200L / 3600L

  /** A17 — per-object PROPER-MOTION fit over the multi-epoch detection
    * stream: the PS1-era reference's flagship derived catalog (Jurić's
    * LSD built the 3π proper-motion catalog this way — SURVEY.md §0,
    * UNVERIFIED) — fit lon(t), lat(t) per object by least squares and
    * publish (μ_lon, μ_lat, position at epoch, n_obs).
    *
    * Input is the same exact-integer moving-object field as
    * q_tracklets (per-object linear tracks in integer mdeg/hour,
    * stepped at integer epoch-hours), so the WHOLE fit is exact
    * BIGINT arithmetic: Σx, Σx², Σy, Σxy are integer sums, the slope
    * is one correctly-rounded division of two exact BIGINTs, and both
    * engines agree bit-for-bit before the d6 courtesy snap. Objects
    * whose track mod-wraps inside the window (lon span > 180°, lat
    * span > half-range) are excluded by an EXACT integer span
    * predicate — the analog of RA unwrapping, decided identically by
    * both engines.
    *
    * Shape: ONE partial-aggregated groupBy on the object key — O(1)
    * accumulator state per object, no window, no join. At 100 TB
    * (billions of detections → hundreds of millions of objects) this
    * is a single shuffle keyed on object id; the catalog emerges
    * map-side-combined. The canonical "derived catalog" reduction. */
  /** SQL CTE chain of the proper-motion fit (shared by q_pm_fit and
    * q_cpm_pairs — the derived catalog and its consumers must be the
    * SAME text or the compositions drift). Ends with `pmcat`. */
  private val pmFitSqlCtes: String =
    s"""e0 AS (SELECT user_id,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS thr
       |  FROM events),
       |e AS (SELECT user_id, thr - $pmFitT0Hours AS x,
       |    ((user_id * 2654435761 + (user_id * 7919 % 37 - 18) * thr)
       |      % 360000 + 360000) % 360000 AS lon_m,
       |    ((user_id * 40503 + (user_id * 104729 % 13 - 6) * thr)
       |      % 40000 + 40000) % 40000 AS lat_m
       |  FROM e0),
       |a AS (SELECT user_id, count(*) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(lon_m) AS BIGINT) AS sy1,
       |    CAST(sum(x * lon_m) AS BIGINT) AS sxy1,
       |    CAST(sum(lat_m) AS BIGINT) AS sy2,
       |    CAST(sum(x * lat_m) AS BIGINT) AS sxy2
       |  FROM e GROUP BY user_id
       |  HAVING count(*) >= 3
       |    AND max(lon_m) - min(lon_m) <= 180000
       |    AND max(lat_m) - min(lat_m) <= 20000),
       |f AS (SELECT user_id, n, sx, sy1, sy2,
       |    CAST(n * sxy1 - sx * sy1 AS DOUBLE)
       |      / CAST(n * sxx - sx * sx AS DOUBLE) AS sl1,
       |    CAST(n * sxy2 - sx * sy2 AS DOUBLE)
       |      / CAST(n * sxx - sx * sx AS DOUBLE) AS sl2
       |  FROM a WHERE n * sxx - sx * sx <> 0),
       |pmcat AS (SELECT user_id AS object_id, n AS n_obs,
       |  ${D.sql.d6("sl1 * 0.024")} AS pm_lon_deg_day,
       |  ${D.sql.d6("sl2 * 0.024")} AS pm_lat_deg_day,
       |  ${D.sql.d6(
          "(CAST(sy1 AS DOUBLE) - sl1 * CAST(sx AS DOUBLE)) / n / 1000.0")}
       |    AS lon0_deg,
       |  ${D.sql.d6("(CAST(sy2 AS DOUBLE) - sl2 * CAST(sx AS DOUBLE))" +
          " / n / 1000.0 - 20.0")} AS lat0_deg
       |FROM f)""".stripMargin

  /** The proper-motion catalog DataFrame (q_pm_fit minus the
    * presentation sort) — the reusable derived-catalog builder. */
  private def pmCatalog(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame = {
    val thr = expr("unix_micros(ts) DIV 3600000000")
    val rLon = (col("user_id") * 7919) % 37 - 18
    val rLat = (col("user_id") * 104729) % 13 - 6
    val e = LsdDb.table(s, dir, "events").select(
      col("user_id"),
      (thr - pmFitT0Hours).as("x"),
      pmod(col("user_id") * 2654435761L + rLon * thr, lit(360000L))
        .as("lon_m"),
      pmod(col("user_id") * 40503L + rLat * thr, lit(40000L)).as("lat_m"))
    val a = e.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("lon_m")).as("sy1"),
        sum(col("x") * col("lon_m")).as("sxy1"),
        sum(col("lat_m")).as("sy2"),
        sum(col("x") * col("lat_m")).as("sxy2"),
        (max(col("lon_m")) - min(col("lon_m"))).as("span1"),
        (max(col("lat_m")) - min(col("lat_m"))).as("span2"))
      .filter(col("n") >= 3 && col("span1") <= 180000 &&
        col("span2") <= 20000)
    val den = col("n") * col("sxx") - col("sx") * col("sx") // exact BIGINT
    a.filter(den =!= 0)
      .withColumn("sl1",
        (col("n") * col("sxy1") - col("sx") * col("sy1")).cast(DoubleType)
          / den.cast(DoubleType))
      .withColumn("sl2",
        (col("n") * col("sxy2") - col("sx") * col("sy2")).cast(DoubleType)
          / den.cast(DoubleType))
      .select(col("user_id").as("object_id"), col("n").as("n_obs"),
        Det.d6(col("sl1") * 0.024).as("pm_lon_deg_day"),
        Det.d6(col("sl2") * 0.024).as("pm_lat_deg_day"),
        Det.d6((col("sy1").cast(DoubleType)
          - col("sl1") * col("sx").cast(DoubleType)) / col("n") / 1000.0)
          .as("lon0_deg"),
        Det.d6((col("sy2").cast(DoubleType)
          - col("sl2") * col("sx").cast(DoubleType)) / col("n") / 1000.0
          - 20.0).as("lat0_deg"))
  }

  val qPmFit: QuerySpec = QuerySpec(
    "q_pm_fit",
    s"""WITH $pmFitSqlCtes
       |SELECT * FROM pmcat ORDER BY object_id""".stripMargin) { (s, dir) =>
    pmCatalog(s, dir).orderBy("object_id")
  }

  /** J6k — COMOVING (common-proper-motion) pairs mined from the
    * DERIVED catalog: the reference's derived-catalog story — build
    * the PM catalog once (q_pm_fit), then run catalog-level science
    * on it. Moving groups are found in VELOCITY space (objects
    * sharing a velocity NEIGHBORHOOD are dynamically associated
    * wherever they sit on the sky — the disk-moving-group method,
    * with the bucket width playing the group's velocity dispersion),
    * so the blocking key IS the velocity cell: the fitted d6 PM
    * divides back to the exact integer rate (round() lands on the
    * same integer in both engines — the value sits ~1e-7 from it,
    * never near a half), the rate buckets into a dispersion cell by
    * exact integer division, and pairs come from an EQUI-join on
    * that cell — one shuffle on the velocity key, candidate count
    * Σ cell², never catalog². The angular separation rides along as
    * a descriptive column. */
  val qCpmPairs: QuerySpec = QuerySpec(
    "q_cpm_pairs",
    s"""WITH $pmFitSqlCtes,
       |v AS (SELECT object_id, lon0_deg, lat0_deg,
       |    pm_lon_deg_day, pm_lat_deg_day,
       |    greatest(0, CAST(round(pm_lon_deg_day / 0.024) AS BIGINT) + 18)
       |      // 6 AS vlon,
       |    greatest(0, CAST(round(pm_lat_deg_day / 0.024) AS BIGINT) + 6)
       |      // 3 AS vlat
       |  FROM pmcat)
       |SELECT a.object_id AS a_id, b.object_id AS b_id,
       |  a.pm_lon_deg_day AS pm_lon, a.pm_lat_deg_day AS pm_lat,
       |  ${D.sql.d6(
          CrossMatch.sql.distDeg("a.lon0_deg", "a.lat0_deg",
            "b.lon0_deg", "b.lat0_deg"))} AS dist_deg
       |FROM v a JOIN v b
       |  ON a.vlon = b.vlon AND a.vlat = b.vlat
       |  AND a.object_id < b.object_id
       |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
    val pm = pmCatalog(s, dir)
    def side(p: String) = pm.select(
      col("object_id").as(s"${p}_id"),
      col("lon0_deg").as(s"${p}_lon"), col("lat0_deg").as(s"${p}_lat"),
      col("pm_lon_deg_day").as(s"${p}_pml"),
      col("pm_lat_deg_day").as(s"${p}_pmb"),
      // +18/+6 shifts the expected rate band nonnegative so integer
      // division is floor-identical in both engines (DuckDB // floors,
      // Spark DIV truncates — they agree only above zero); greatest(0,_)
      // pins any out-of-band fitted slope to cell 0 on BOTH sides, so
      // the engines can never disagree on a negative operand
      expr("CAST(greatest(0, CAST(round(pm_lon_deg_day / 0.024) AS BIGINT)" +
        s" + 18) DIV 6 AS BIGINT)").as(s"${p}_vlon"),
      expr("CAST(greatest(0, CAST(round(pm_lat_deg_day / 0.024) AS BIGINT)" +
        s" + 6) DIV 3 AS BIGINT)").as(s"${p}_vlat"))
    side("a").join(side("b"),
      col("a_vlon") === col("b_vlon") && col("a_vlat") === col("b_vlat")
        && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        col("a_pml").as("pm_lon"), col("a_pmb").as("pm_lat"),
        Det.d6(graft.spatial.CrossMatch.distDeg(
          col("a_lon"), col("a_lat"), col("b_lon"), col("b_lat")))
          .as("dist_deg"))
      .orderBy("a_id", "b_id")
  }

  /** SC2g — neighborhood-smoothed sky map (overdensity screen): the
    * 3×3 box filter over the equal-area grid — each cell's own count
    * next to its neighborhood total, with the density contrast
    * 9·n_own/n_3×3 that a cluster/dwarf-galaxy search thresholds on
    * (the matched-filter shape run over star-count maps; SURVEY.md §1
    * sky maps, UNVERIFIED). Cells adjacent to populated cells appear
    * with n_own = 0: the filter's support, not just its input.
    *
    * Shape: the corpus reduces FIRST (one map-side-combined groupBy
    * to O(4^level) cells, exactly q_skymap), and the 9× neighbor
    * explode runs on the REDUCED relation — at 100 TB the kernel
    * costs 9·cells rows, independent of the detection count. lon
    * wraps mod n; lat clamps at the poles (rows beyond the last ring
    * are dropped). All-integer arithmetic end to end: counts,
    * neighbor indices, and the contrast's single correctly-rounded
    * division are engine-identical with no snapping. */
  val qSkymapSmooth: QuerySpec = {
    val lv = skymapLevel
    val n = 1L << lv
    QuerySpec(
      "q_skymap_smooth",
      s"""WITH c AS (SELECT
         |    CAST(c_custkey * 13 % 3600 AS DOUBLE) / 10.0 AS lon,
         |    CAST(c_custkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS lat
         |  FROM customer),
         |g AS (SELECT ${graft.spatial.SkyPix.sql.ixSnapped("lon", lv)} AS ix,
         |    ${graft.spatial.SkyPix.sql.iySnapped("lat", lv)} AS iy,
         |    count(*) AS n_src
         |  FROM c GROUP BY 1, 2),
         |o AS (SELECT unnest([-1, 0, 1]) AS d),
         |nb AS (SELECT ((g.ix + ox.d) % $n + $n) % $n AS jx,
         |    g.iy + oy.d AS jy, g.n_src, ox.d AS dx, oy.d AS dy
         |  FROM g CROSS JOIN o ox CROSS JOIN o oy),
         |sm AS (SELECT jx, jy,
         |    CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN n_src ELSE 0 END)
         |      AS BIGINT) AS n_own,
         |    CAST(sum(n_src) AS BIGINT) AS n_3x3
         |  FROM nb WHERE jy >= 0 AND jy < $n
         |  GROUP BY jx, jy)
         |SELECT ${graft.spatial.SkyPix.sql.mortonCell("jx", "jy", lv)}
         |    AS cell,
         |  n_own, n_3x3,
         |  CAST(9 * n_own AS DOUBLE) / CAST(n_3x3 AS DOUBLE) AS contrast
         |FROM sm ORDER BY cell""".stripMargin) { (s, dir) =>
      import graft.spatial.SkyPix
      val g = LsdDb.table(s, dir, "customer")
        .select(
          ((col("c_custkey") * 13) % 3600).cast(DoubleType)./(10.0)
            .as("lon"),
          (((col("c_custkey") * 7) % 600).cast(DoubleType) / 10.0 - 30.0)
            .as("lat"))
        .select(SkyPix.ixSnapped(col("lon"), lv).as("ix"),
          SkyPix.iySnapped(col("lat"), lv).as("iy"))
        .groupBy("ix", "iy")
        .agg(count(lit(1)).as("n_src"))
      g.withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .select(pmod(col("ix") + col("dx"), lit(n)).as("jx"),
          (col("iy") + col("dy")).as("jy"), col("n_src"),
          col("dx"), col("dy"))
        .filter(col("jy") >= 0 && col("jy") < n)
        .groupBy("jx", "jy")
        .agg(sum(when(col("dx") === 0 && col("dy") === 0, col("n_src"))
          .otherwise(0L)).as("n_own"),
          sum(col("n_src")).as("n_3x3"))
        .select(SkyPix.mortonCell(col("jx"), col("jy"), lv).as("cell"),
          col("n_own"), col("n_3x3"),
          ((col("n_own") * 9).cast(DoubleType)
            / col("n_3x3").cast(DoubleType)).as("contrast"))
        .orderBy("cell")
    }
  }

  /** A18 — Stetson J variability index (Stetson 1996, PASP 108 —
    * public): the robust correlated-variability statistic surveys
    * compute per object — time-ADJACENT pairs of normalized residuals
    * δᵢ = (vᵢ−μ)/σ multiplied, then sgn(P)·√|P| averaged. True
    * variables (correlated excursions) score high; uncorrelated noise
    * cancels. Complements q_trend_fit (secular), q_phase_fold
    * (periodic), q_outlier_mad (robust screen).
    *
    * Determinism: μ/σ from decimal-exact window sums over the SAME
    * object-key partitioning the final aggregate uses (the
    * q_sigma_clip pattern — divide/sqrt of identical doubles are
    * correctly rounded, so δ is engine-identical); the pair products
    * and their sgn·√ are single IEEE ops; each pair TERM is
    * d6-snapped BEFORE the associative decimal sum (the BM25
    * order-free-score rule) because a double sum over an unordered
    * group is merge-order-dependent. Zero-variance objects drop on an
    * exact comparison of identical doubles.
    *
    * Shape: one hash partitioning on the object key serves the stats
    * window, the lag window, and the final aggregate — no join, no
    * second shuffle of the detection stream. O(1) reduce state per
    * object; at 100 TB the per-object sort is partition-local. */
  val qStetson: QuerySpec = QuerySpec(
    "q_stetson",
    s"""WITH w AS (
       |  SELECT user_id, value, event_id,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
       |    count(*) OVER pw AS n,
       |    CAST(sum(CAST(value AS DECIMAL(18,8))) OVER pw AS DOUBLE) AS s,
       |    CAST(sum(CAST(value * value AS DECIMAL(38,8))) OVER pw AS DOUBLE)
       |      AS sxx
       |  FROM events
       |  WINDOW pw AS (PARTITION BY user_id)),
       |d AS (
       |  SELECT user_id, tus, event_id,
       |    (value - s / n)
       |      / sqrt((sxx - (s * s) / n) / (n - 1.0)) AS delta
       |  FROM w WHERE n >= 2 AND (sxx - (s * s) / n) > 0),
       |p AS (
       |  SELECT user_id, delta * lag(delta) OVER
       |      (PARTITION BY user_id ORDER BY tus, event_id) AS pk
       |  FROM d),
       |t AS (
       |  SELECT user_id, ${D.sql.d6(
          "CASE WHEN pk >= 0 THEN sqrt(pk) ELSE -sqrt(-pk) END")} AS term
       |  FROM p WHERE pk IS NOT NULL)
       |SELECT user_id AS object_id, count(*) AS n_pairs,
       |  ${D.sql.dsum("term")} / count(*) AS stetson_j
       |FROM t GROUP BY user_id ORDER BY object_id""".stripMargin) { (s, dir) =>
    val pw = Window.partitionBy("user_id")
    val n = count(lit(1)).over(pw)
    val sm = sum(col("value").cast(Det.M)).over(pw).cast(DoubleType)
    val sxx = sum((col("value") * col("value")).cast(Det.M38)).over(pw)
      .cast(DoubleType)
    val varNum = sxx - (sm * sm) / n
    val d = LsdDb.table(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"), col("value"),
        n.as("n"), sm.as("s"), varNum.as("vn"))
      .filter(col("n") >= 2 && col("vn") > 0)
      .select(col("user_id"), col("tus"), col("event_id"),
        ((col("value") - col("s") / col("n"))
          / sqrt(col("vn") / (col("n") - lit(1.0)))).as("delta"))
    val lw = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    d.select(col("user_id"),
      (col("delta") * lag(col("delta"), 1).over(lw)).as("pk"))
      .filter(col("pk").isNotNull)
      .select(col("user_id"), Det.d6(
        when(col("pk") >= 0, sqrt(col("pk")))
          .otherwise(-sqrt(-col("pk")))).as("term"))
      .groupBy("user_id")
      // NO final snap: the decimal term sum and the count are engine-
      // identical, so their double quotient is bit-identical — while
      // a d6 of it CAN hit an exact decimal midpoint (a 1e-6-grid sum
      // over n pairs divides to a terminating expansion whenever the
      // odd part of n divides the scaled sum — observed live:
      // -13.412455/70 = -0.1916065 exactly, Spark half-even vs DuckDB
      // half-up). The q_tracks d7 rule generalizes: never snap a
      // ratio of already-deterministic values.
      .agg(count(lit(1)).as("n_pairs"),
        (Det.dsum(col("term")) / count(lit(1))).as("stetson_j"))
      .select(col("user_id").as("object_id"), col("n_pairs"),
        col("stetson_j"))
      .orderBy("object_id")
  }

  /** A19 — STRUCTURE FUNCTION of the detection stream: SF(τ) =
    * mean[(v(t₂)−v(t₁))²] over all same-object epoch pairs binned by
    * time lag — the stochastic-variability characterization (AGN
    * damped-random-walk fitting, quasar selection) that complements
    * the deterministic statistics (q_trend_fit secular, q_phase_fold
    * periodic, q_stetson correlated).
    *
    * Shape: ONE shuffle — the self-join pairs epochs within each
    * object key (both sides hash-partition on user_id; pair count is
    * Σ n_obj², bounded per object by the epoch count, never
    * catalog²), then a partial-aggregated groupBy on the O(lags)
    * bucket key. Determinism: Δv² is a single IEEE multiply of
    * identical doubles, lag buckets are exact integer day
    * arithmetic, per-bucket mass is a decimal-exact sum, and the
    * mean is UNSNAPPED (the snap-of-ratio rule — its inputs are
    * already engine-identical). */
  val qStructureFn: QuerySpec = QuerySpec(
    "q_structure_fn",
    s"""WITH e AS (SELECT user_id, value,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
       |    event_id FROM events),
       |p AS (SELECT b.d - a.d AS lag_days,
       |    (b.value - a.value) * (b.value - a.value) AS dv2
       |  FROM e a JOIN e b ON a.user_id = b.user_id
       |  WHERE b.d > a.d OR (b.d = a.d AND b.event_id > a.event_id))
       |SELECT lag_days, count(*) AS n_pairs,
       |  ${D.sql.dsum("dv2")} / count(*) AS sf
       |FROM p GROUP BY lag_days ORDER BY lag_days""".stripMargin) {
    (s, dir) =>
    // spread (r21): the one-row-group events scan runs as ONE task,
    // and the planner fuses the broadcast self-join + pair compute +
    // partial agg INTO that scan stage — StageProfile showed the whole
    // query as a single-task 2.8 s stage. The conditional exchange on
    // user_id re-parallelizes the Σ n_obj² pair work (and is the key
    // both join sides need anyway); no-op on any parallel layout.
    val e = LsdDb.spread(LsdDb.table(s, dir, "events")
        .select(col("user_id"), col("value"),
          expr("unix_micros(ts) DIV 86400000000").as("d"),
          col("event_id")), col("user_id"))
    val a = e.select(col("user_id"), col("value").as("v1"),
      col("d").as("d1"), col("event_id").as("id1"))
    val b = e.select(col("user_id"), col("value").as("v2"),
      col("d").as("d2"), col("event_id").as("id2"))
    a.join(b, Seq("user_id"))
      // canonical time order with id tie-break: every unordered epoch
      // pair counted exactly once, lag always >= 0
      .filter(col("d2") > col("d1") ||
        (col("d2") === col("d1") && col("id2") > col("id1")))
      .select((col("d2") - col("d1")).as("lag_days"),
        ((col("v2") - col("v1")) * (col("v2") - col("v1"))).as("dv2"))
      .groupBy("lag_days")
      .agg(count(lit(1)).as("n_pairs"),
        (Det.dsum(col("dv2")) / count(lit(1))).as("sf"))
      .orderBy("lag_days")
  }

  /** A20 — angular TWO-POINT CORRELATION function (Landy–Szalay
    * 1993, public): THE large-scale-structure statistic — excess
    * pair counts of the data catalog D over a same-footprint
    * comparison catalog R, per angular-separation bin:
    * w(θ) = (DD − 2DR + RR)/RR with each count normalized by its
    * total pair budget. Positions are deterministic hash scatters
    * (two different multiplicative hashes ⇒ mutually uncorrelated
    * fields, so w(θ) ≈ 0 — the null test a correct estimator must
    * pass; the VALUE is not the point, the pair-count machinery is).
    *
    * Shape: three cell-blocked pair joins (DD, RR with a<b dedup;
    * DR ordered) — candidates scale with density × area like every
    * blocked xmatch, never catalog²; each reduces to an O(bins)
    * partial-aggregated groupBy, then the three tiny bin relations
    * full-outer-merge driver-free. The oracle pays three true cross
    * joins with the lossless Δlat prefilter. Normalized ratios are
    * single divisions of exact integers (bit-identical); the LS
    * combination reuses the proven subtract-of-products pattern. */
  val qTwoPoint: QuerySpec = {
    val rMax = 0.5
    val blockR = 0.55 // covers the d6 snap slack over 0.5
    QuerySpec(
      "q_two_point",
      s"""WITH ${twoPointCatSql("d", 2654435761L)},
         |${twoPointCatSql("r", 7919L)},
         |nn AS (SELECT count(*) AS n FROM d),
         |dd AS (SELECT CAST(floor(${twoPointDistSql("a", "b")} * 10)
         |      AS BIGINT) AS bin, count(*) AS dd
         |  FROM d a JOIN d b ON a.id < b.id
         |    AND abs(a.lat - b.lat) <= $blockR
         |  WHERE ${twoPointDistSql("a", "b")} <= $rMax GROUP BY 1),
         |rr AS (SELECT CAST(floor(${twoPointDistSql("a", "b")} * 10)
         |      AS BIGINT) AS bin, count(*) AS rr
         |  FROM r a JOIN r b ON a.id < b.id
         |    AND abs(a.lat - b.lat) <= $blockR
         |  WHERE ${twoPointDistSql("a", "b")} <= $rMax GROUP BY 1),
         |dr AS (SELECT CAST(floor(${twoPointDistSql("a", "b")} * 10)
         |      AS BIGINT) AS bin, count(*) AS dr
         |  FROM d a JOIN r b ON abs(a.lat - b.lat) <= $blockR
         |  WHERE ${twoPointDistSql("a", "b")} <= $rMax GROUP BY 1),
         |m AS (SELECT COALESCE(dd.bin, rr.bin, dr.bin) AS bin,
         |    COALESCE(dd, 0) AS dd, COALESCE(rr, 0) AS rr,
         |    COALESCE(dr, 0) AS dr
         |  FROM dd FULL JOIN rr ON dd.bin = rr.bin
         |          FULL JOIN dr ON COALESCE(dd.bin, rr.bin) = dr.bin)
         |SELECT bin AS bin_01deg, dd AS n_dd, dr AS n_dr, rr AS n_rr,
         |  CASE WHEN rr > 0 THEN
         |    (CAST(dd AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1) / 2)
         |     - 2 * (CAST(dr AS DOUBLE) / (CAST(n AS DOUBLE) * n))
         |     + CAST(rr AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1) / 2))
         |    / (CAST(rr AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1) / 2))
         |  END AS w_ls
         |FROM m CROSS JOIN nn ORDER BY bin_01deg""".stripMargin) { (s, dir) =>
      // xorshift-style scramble: linear congruences alone compose to
      // a LATTICE whose minimum spacing can exceed the whole radius
      // (observed live: the ×2654435761 scatter had NO pairs ≤ 0.5°
      // at sf0.01 while its lattice constant parked every RR pair in
      // one bin) — the interleaved xor-shift breaks linearity and
      // yields the Poisson-like annulus fill (counts ∝ 2k+1) the
      // estimator needs. Integer-exact and textually mirrored in the
      // oracle; x ≥ 0 makes `>> n` ≡ `// 2^n`.
      def cat(seed: Long) = {
        val M = 4294967296L // 2^32
        val x1 = (col("o_orderkey") * seed) % M
        val x3 = (x1.bitwiseXOR(shiftright(x1, 16)) * 40503L) % M
        val x4 = x3.bitwiseXOR(shiftright(x3, 16))
        val x5 = (x4 * 104729L) % M
        val x6 = x5.bitwiseXOR(shiftright(x5, 17))
        LsdDb.table(s, dir, "orders")
          .filter(col("o_orderkey") <= 30000)
          .select(col("o_orderkey").as("id"),
            (x4 % 3600000L).cast(DoubleType)./(10000.0).as("lon"),
            ((x6 % 600000L).cast(DoubleType) / 10000.0 - 30.0).as("lat"))
      }
      // materialize the two 30k-row catalogs once: each feeds two
      // pair joins plus the normalizer count (4 re-derivations of the
      // scan + scramble otherwise — the dedup-family lineage lever).
      // spread BEFORE the checkpoint (r21): the one-row-group scan
      // pins the checkpoint to ONE partition, which single-tasked all
      // three broadcast-build Generates downstream (StageProfile:
      // 3 × ~0.8 s, 1 task each, of the 3.4 s total)
      val d = LsdDb.spread(cat(2654435761L), col("id")).localCheckpoint()
      val r = LsdDb.spread(cat(7919L), col("id")).localCheckpoint()
      def pairBins(a: org.apache.spark.sql.DataFrame,
                   b: org.apache.spark.sql.DataFrame,
                   dedup: Boolean, cnt: String) = {
        val p = graft.spatial.CrossMatch
          .pairs(a, graft.spatial.CrossMatch.Blocking(b),
            "id", "lon", "lat", "id", "lon", "lat", blockR,
            capLat = 31.0) // data lies in |lat| ≤ 30
        val q = if (dedup) p.filter(col("a_id") < col("b_id")) else p
        q.withColumn("dist_deg", Det.d6(col("dist_deg")))
          .filter(col("dist_deg") <= rMax)
          .groupBy(floor(col("dist_deg") * 10).cast(LongType).as("bin"))
          .agg(count(lit(1)).as(cnt))
      }
      val dd = pairBins(d, d, dedup = true, "n_dd")
      val rr = pairBins(r, r, dedup = true, "n_rr")
      val dr = pairBins(d, r, dedup = false, "n_dr")
      val n = d.count().toDouble // driver scalar: one tiny count
      val pSelf = n * (n - 1) / 2
      val pCross = n * n
      val merged = dd.join(rr, Seq("bin"), "full")
        .join(dr, Seq("bin"), "full")
        .na.fill(0L, Seq("n_dd", "n_rr", "n_dr"))
      val ddn = col("n_dd").cast(DoubleType) / pSelf
      val drn = col("n_dr").cast(DoubleType) / pCross
      val rrn = col("n_rr").cast(DoubleType) / pSelf
      merged.select(col("bin").as("bin_01deg"), col("n_dd"),
        col("n_dr"), col("n_rr"),
        when(col("n_rr") > 0, (ddn - lit(2) * drn + rrn) / rrn)
          .as("w_ls"))
        .orderBy("bin_01deg")
    }
  }

  /** Oracle twin of the q_two_point xorshift scatter (one CTE per
    * catalog; `//` on nonnegative ints ≡ the Spark `shiftright`). */
  private def twoPointCatSql(name: String, seed: Long): String =
    s"""$name AS (SELECT id,
       |    CAST(x4 % 3600000 AS DOUBLE) / 10000.0 AS lon,
       |    CAST(xor(x4 * 104729 % 4294967296,
       |             (x4 * 104729 % 4294967296) // 131072) % 600000
       |      AS DOUBLE) / 10000.0 - 30.0 AS lat
       |  FROM (SELECT id, xor(x3, x3 // 65536) AS x4 FROM
       |    (SELECT id, (xor(x1, x1 // 65536) * 40503) % 4294967296 AS x3
       |     FROM (SELECT o_orderkey AS id,
       |         (o_orderkey * $seed) % 4294967296 AS x1
       |       FROM orders WHERE o_orderkey <= 30000) t1) t2) t3)""".stripMargin

  /** d6-snapped haversine between aliased catalogs — shared text of
    * the q_two_point oracle (kept in one place so the three pair
    * CTEs stay literally identical). */
  private def twoPointDistSql(a: String, b: String): String = D.sql.d6(
    CrossMatch.sql.distDeg(s"$a.lon", s"$a.lat", s"$b.lon", s"$b.lat"))

  /** A21 — classical (Schuster/DFT) PERIODOGRAM: per object and
    * trial frequency, the spectral power P(f) = (C² + S²)/n with
    * C = Σ(v−v̄)cos 2πft, S = Σ(v−v̄)sin 2πft — the frequency-domain
    * period search next to q_phase_fold's phase-dispersion method
    * (different nulls: PDM favors non-sinusoidal shapes, the
    * periodogram resolves close sinusoids).
    *
    * Shape: the mean rides a window on the SAME object-key
    * partitioning the final aggregate needs (q_sigma_clip pattern),
    * the frequency grid is a bounded explode (6×), and each (object,
    * frequency) reduces map-side to two decimal sums — O(freqs)
    * state per object. Determinism: each trig TERM is d6-snapped
    * AFTER the (v−v̄)·cos product (one multiply on the libm value —
    * the snap absorbs the 1-ulp trig spread), sums are decimal,
    * the power combines exact sums with the proven mul/add/divide
    * pattern, and the final d6 guards the transcendental-derived
    * value; argmax tie-breaks on (power DESC, f). */
  val qPeriodogram: QuerySpec = QuerySpec(
    "q_periodogram",
    s"""WITH ev AS (SELECT user_id,
       |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
       |      / 86400.0 AS td,
       |    value,
       |    CAST(sum(CAST(value AS DECIMAL(18,8))) OVER pw AS DOUBLE)
       |      / count(*) OVER pw AS mu
       |  FROM events
       |  WINDOW pw AS (PARTITION BY user_id)),
       |t AS (SELECT user_id, f,
       |    ${D.sql.d6("(value - mu) * cos(2 * pi() * f * td)")} AS ct,
       |    ${D.sql.d6("(value - mu) * sin(2 * pi() * f * td)")} AS st
       |  FROM ev CROSS JOIN
       |    (SELECT unnest([0.25, 0.5, 1.0, 1.5, 2.0, 3.0]) AS f)),
       |ps AS (SELECT user_id, f, count(*) AS n,
       |    ${D.sql.dsum("ct")} AS c, ${D.sql.dsum("st")} AS s
       |  FROM t GROUP BY user_id, f),
       |pw2 AS (SELECT user_id, f,
       |    ${D.sql.d6("(c * c + s * s) / n")} AS power
       |  FROM ps),
       |r AS (SELECT user_id, f, power,
       |    row_number() OVER (PARTITION BY user_id
       |                       ORDER BY power DESC, f) AS rn
       |  FROM pw2)
       |SELECT user_id AS object_id, f AS best_freq_per_day, power
       |FROM r WHERE rn = 1 ORDER BY object_id""".stripMargin) { (s, dir) =>
    val freqs = Seq(0.25, 0.5, 1.0, 1.5, 2.0, 3.0)
    val pw = Window.partitionBy("user_id")
    val mu = (sum(col("value").cast(Det.M)).over(pw).cast(DoubleType)
      / count(lit(1)).over(pw))
    val omega = lit(2) * lit(math.Pi) * col("f") * col("td")
    // spread (r21) on the WINDOW's own key: the pinned 32-partition
    // exchange satisfies the mu-window's required distribution, so no
    // extra shuffle appears and the 6-frequency trig stage runs
    // cluster-wide instead of on the AQE-coalesced 2-task read
    val t = LsdDb.spread(LsdDb.table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("value")), col("user_id"))
      .select(col("user_id"),
        (unix_timestamp(col("ts")) / 86400.0).as("td"),
        col("value"), mu.as("mu"))
      .withColumn("f", explode(typedLit(freqs)))
      .select(col("user_id"), col("f"),
        Det.d6((col("value") - col("mu")) * cos(omega)).as("ct"),
        Det.d6((col("value") - col("mu")) * sin(omega)).as("st"))
    val ps = t.groupBy("user_id", "f")
      .agg(count(lit(1)).as("n"),
        Det.dsum(col("ct")).as("c"), Det.dsum(col("st")).as("s"))
      .withColumn("power",
        Det.d6((col("c") * col("c") + col("s") * col("s")) / col("n")))
    val w = Window.partitionBy("user_id")
      .orderBy(col("power").desc, col("f").asc)
    ps.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id").as("object_id"),
        col("f").as("best_freq_per_day"), col("power"))
      .orderBy("object_id")
  }

  /** A22 — per-object observation CADENCE: epoch count, time span,
    * median and maximum inter-epoch gap — the survey-planning /
    * detectability statistic (a median gap longer than a transient's
    * timescale means the survey cannot see it). Gaps are exact
    * integer second differences over the (ts, event_id) order; the
    * median runs through ExactQuantiles (O(bins) executor state,
    * quantile_cont-bit-identical), attaching to the span aggregate by
    * one O(objects) join. One corpus shuffle on the object key feeds
    * both the lag window and the aggregates. */
  val qCadence: QuerySpec = QuerySpec(
    "q_cadence",
    s"""WITH ev AS (SELECT user_id,
       |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t,
       |    event_id FROM events),
       |g AS (SELECT user_id,
       |    CAST(t - lag(t) OVER (PARTITION BY user_id
       |      ORDER BY t, event_id) AS DOUBLE) / 86400.0 AS gap
       |  FROM ev),
       |gg AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
       |sp AS (SELECT user_id, count(*) + 1 AS n_obs,
       |    max(gap) AS max_gap_days,
       |    quantile_cont(gap, 0.50) AS median_gap_days,
       |    CAST(sum(CAST(gap AS DECIMAL(18,8))) AS DOUBLE) AS span_days
       |  FROM gg GROUP BY user_id)
       |SELECT user_id AS object_id, n_obs, span_days,
       |  median_gap_days, max_gap_days
       |FROM sp ORDER BY object_id""".stripMargin) { (s, dir) =>
    val lw = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    val g = LsdDb.table(s, dir, "events")
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
        col("event_id"))
      .select(col("user_id"),
        ((col("t") - lag(col("t"), 1).over(lw)).cast(DoubleType)
          / 86400.0).as("gap"))
      .filter(col("gap").isNotNull)
    // NO d6 anywhere: every value here is arithmetic on engine-
    // identical doubles (integer-second diffs / 86400, their decimal
    // sum, max, and the quantile_cont-identical median) — and gaps
    // of the form k/86400 CAN land exactly on 1e-7-grid points where
    // a d6 snap hits the midpoint tie-break (observed live:
    // span 29.4315625). The snap-of-ratio rule, third sighting.
    //
    // The median is Spark's buffering exact `percentile`: per-OBJECT
    // gap multisets are tiny (epochs per object), which is exactly
    // the many-groups × few-rows regime that aggregate handles and
    // ExactQuantiles' contract forbids (its driver state is
    // O(groups × bins) — unbounded here). Interpolation: for p=0.5
    // on even counts DuckDB's quantile_cont empirically returns
    // (lo+hi)/2, bit-identical to Percentile's
    // (ceil−pos)·lo + (pos−floor)·hi = 0.5·lo + 0.5·hi (200/200
    // probed pairs where formulas diverge) — do NOT "fix" this to the
    // textbook lerp lo + (hi−lo)·0.5, which differs by 1 ulp on ~6%
    // of pairs and breaks the hash. One shuffle, no join, no driver
    // state.
    g.groupBy("user_id")
      .agg((count(lit(1)) + 1).as("n_obs"),
        max(col("gap")).as("max_gap_days"),
        Det.dsum(col("gap")).as("span_days"),
        percentile(col("gap"), lit(0.5)).as("median_gap_days"))
      .select(col("user_id").as("object_id"), col("n_obs"),
        col("span_days"), col("median_gap_days"), col("max_gap_days"))
      .orderBy("object_id")
  }

  /** P8 — the `_ID` pseudo-column under the ORACLE: the packed object
    * id `(level << 58) | (morton << rowBits) | row-within-cell`
    * ([[graft.spatial.SkyPix.packId]]; the reference packed object
    * ids as cell bits ‖ row, ref `lsd/table.py`, UNVERIFIED) built
    * under the DECLARED UNIQUE-KEY ordering (row_number per cell
    * ordered by c_custkey — the determinism contract that lets the
    * oracle construct the identical BIGINT with its own row_number).
    * Cell ids use the d6-snapped grid (same reasoning as
    * [[qSkymap]]); everything after the snap is integer bit
    * arithmetic, exact in both engines. Closes the last §2 row that
    * could move from spec-only to oracle-gated (A4/HLL legitimately
    * cannot). 100-TB: one shuffle on cell — the same key the catalog
    * is stored under, so in a stored-table pipeline the window is
    * partition-local; ids are assigned without any global sort or
    * driver sequence ([[org.apache.spark.sql.functions
    * .monotonically_increasing_id]] is scheduling-dependent and never
    * used). */
  val qRowid: QuerySpec = {
    val lv = 6
    val rowBits = 24
    val mask58 = (1L << 58) - 1
    QuerySpec(
      "q_rowid",
      s"""WITH c AS (SELECT c_custkey,
         |    CAST(c_custkey * 13 % 3600 AS DOUBLE) / 10.0 AS lon,
         |    CAST(c_custkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS lat
         |  FROM customer),
         |i AS (SELECT c_custkey,
         |    ${graft.spatial.SkyPix.sql.ixSnapped("lon", lv)} AS ix,
         |    ${graft.spatial.SkyPix.sql.iySnapped("lat", lv)} AS iy
         |  FROM c),
         |g AS (SELECT c_custkey,
         |    ${graft.spatial.SkyPix.sql.mortonCell("ix", "iy", lv)} AS cell
         |  FROM i)
         |SELECT c_custkey, cell,
         |  (((cell >> 58) << 58)
         |    | ((cell & $mask58) << $rowBits)
         |    | (row_number() OVER (PARTITION BY cell ORDER BY c_custkey)
         |       - 1)) AS "_ID"
         |FROM g ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      import graft.spatial.SkyPix
      val w = Window.partitionBy("cell").orderBy("c_custkey")
      LsdDb.table(s, dir, "customer")
        .select(col("c_custkey"),
          ((col("c_custkey") * 13) % 3600).cast(DoubleType)./(10.0).as("lon"),
          (((col("c_custkey") * 7) % 600).cast(DoubleType) / 10.0 - 30.0)
            .as("lat"))
        .withColumn("cell", SkyPix.mortonCell(
          SkyPix.ixSnapped(col("lon"), lv),
          SkyPix.iySnapped(col("lat"), lv), lv))
        .withColumn("_ID", SkyPix.packId(col("cell"),
          (row_number().over(w) - 1).cast(LongType), rowBits))
        .select("c_custkey", "cell", "_ID")
        .orderBy("c_custkey")
    }
  }

  /** J7 capstone — FRIENDS-OF-FRIENDS OBJECT CATALOG under the oracle:
    * the reference's `lsd-make-object-catalog` ([H], SURVEY §0 item 5;
    * ref `lsd/join_ops.py` make_object_catalog, UNVERIFIED) — group
    * multi-epoch detections into static-sky objects by single-linkage
    * clustering at a match radius, emit per-detection object ids plus
    * per-object spherical-mean positions and member counts.
    *
    * Detections are customer rows lifted onto a deterministic
    * CLUSTERED sky: 120 lattice "sources" (0.5°-grid centers) each
    * scattered by a 0.01°-grid jitter box of side 0.4° — so real FoF
    * structure exists (members chain to one object through hops ≤ the
    * 0.12° radius; the box diagonal 0.57° exceeds it, so transitive
    * closure is genuinely exercised, not just pairwise matching), and
    * distinct sources stay ≥ 0.6° apart (never accidentally merge).
    *
    * Spark plan = the real [[graft.spatial.ObjectCatalog]] engine:
    * cell-blocked candidate pairs ([[graft.spatial.CrossMatch]] at a
    * superset radius — level-8 SkyPix blocking, no cartesian), the
    * shared min-label component engine, one groupBy for the spherical
    * means. The oracle rebuilds the identical relation: brute-force
    * pair cross join (O(n²) is fine at oracle SF; the Spark side is
    * the shape that survives 100 TB) + recursive-CTE transitive
    * closure (the q_dedup_clusters precedent).
    *
    * Determinism: edges cut on the d6-SNAPPED haversine (the q_xmatch
    * rule — blocking at 0.15 raw keeps the prefilter lossless for the
    * 0.12 snapped cut); component labels are integer min — exact; mean
    * positions d6-snap each unit-vector term, sum in exact decimal
    * ([[Det.davg]]), and d6-snap the final atan2 outputs (absorbs
    * libm last-ulp + any mx²+my² FMA contraction divergence). */
  val qObjectCatalog: QuerySpec = {
    val distSql = D.sql.d6(
      CrossMatch.sql.distDeg("a.lon", "a.lat", "b.lon", "b.lat"))
    QuerySpec(
      "q_object_catalog",
      s"""WITH RECURSIVE dets AS MATERIALIZED (
         |  SELECT c_custkey AS det_id,
         |    CAST(c_custkey % 120 * 89 % 360 AS DOUBLE)
         |      + CAST(c_custkey * 31 % 41 AS DOUBLE) / 100.0 + 0.1 AS lon,
         |    CAST(c_custkey % 120 * 53 % 100 AS DOUBLE) / 2.0 - 25.0
         |      + CAST(c_custkey * 17 % 41 AS DOUBLE) / 100.0 AS lat
         |  FROM customer),
         |pairs AS MATERIALIZED (
         |  SELECT a.det_id AS src, b.det_id AS dst
         |  FROM dets a JOIN dets b ON a.det_id <> b.det_id
         |  WHERE $distSql <= 0.12),
         |comp(det_id, lbl) AS (
         |  SELECT det_id, det_id FROM dets
         |  UNION
         |  SELECT p.dst, c.lbl FROM comp c JOIN pairs p ON p.src = c.det_id),
         |lab AS MATERIALIZED (
         |  SELECT det_id, min(lbl) AS obj_id FROM comp GROUP BY det_id),
         |xyz AS MATERIALIZED (
         |  SELECT l.obj_id,
         |    ${D.sql.d6("cos(radians(d.lat)) * cos(radians(d.lon))")} AS x,
         |    ${D.sql.d6("cos(radians(d.lat)) * sin(radians(d.lon))")} AS y,
         |    ${D.sql.d6("sin(radians(d.lat))")} AS z
         |  FROM lab l JOIN dets d ON d.det_id = l.det_id),
         |obj AS MATERIALIZED (
         |  SELECT obj_id, ${D.sql.davg("x")} AS mx, ${D.sql.davg("y")} AS my,
         |    ${D.sql.davg("z")} AS mz, count(*) AS n_det
         |  FROM xyz GROUP BY obj_id)
         |SELECT l.det_id, l.obj_id, o.n_det,
         |  ${D.sql.d6( // Spark pmod is r<0 ? r+n : r, NOT ((r+n)%n) — the
            // +n then %n round-trip is lossy for r>0; mirror exactly
            "CASE WHEN degrees(atan2(o.my, o.mx)) % 360.0 < 0.0" +
              " THEN degrees(atan2(o.my, o.mx)) % 360.0 + 360.0" +
              " ELSE degrees(atan2(o.my, o.mx)) % 360.0 END")}
         |    AS obj_lon,
         |  ${D.sql.d6(
            "degrees(atan2(o.mz, sqrt(o.mx * o.mx + o.my * o.my)))")}
         |    AS obj_lat
         |FROM lab l JOIN obj o ON o.obj_id = l.obj_id
         |ORDER BY det_id""".stripMargin) { (s, dir) =>
      import graft.spatial.{CrossMatch, ObjectCatalog}
      // spread (r21): d feeds BOTH sides of the blocked self-match —
      // off the one-row-group scan the neighbor-explode broadcast
      // build ran 0.7 s on one task (StageProfile); conditional,
      // no-op on parallel layouts
      val d = LsdDb.spread(LsdDb.table(s, dir, "customer")
        .select(col("c_custkey").as("det_id"),
          ((col("c_custkey") % 120 * 89 % 360).cast(DoubleType)
            + (col("c_custkey") * 31 % 41).cast(DoubleType) / 100.0 + 0.1)
            .as("lon"),
          ((col("c_custkey") % 120 * 53 % 100).cast(DoubleType) / 2.0 - 25.0
            + (col("c_custkey") * 17 % 41).cast(DoubleType) / 100.0)
            .as("lat")), col("det_id"))
      // blocking at 0.15 raw ⊇ 0.12 snapped cut; data |lat| ≤ 25 →
      // capLat 26 gives level-8 cells (fine blocking, no cap traffic)
      val edges = CrossMatch.pairs(d, CrossMatch.Blocking(d),
          "det_id", "lon", "lat", "det_id", "lon", "lat",
          radiusDeg = 0.15, capLat = 26.0)
        .filter(col("a_id") =!= col("b_id"))
        .filter(Det.d6(col("dist_deg")) <= 0.12)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      val lab = ObjectCatalog.assign(d, edges)
      val objects = ObjectCatalog
        .summarize(d, lab, snap = Det.d6, exactSum = true)
        .select(col("obj_id"), col("n_det"),
          col("lon").as("obj_lon"), col("lat").as("obj_lat"))
      lab.join(objects, "obj_id")
        .select("det_id", "obj_id", "n_det", "obj_lon", "obj_lat")
        .orderBy("det_id")
    }
  }

  def specs: Seq[QuerySpec] = Seq(qSigmaClip, qEventRuns, qSkymap, qXmatchPm,
    qCoordGal, qCubeSkytime, qTrendFit, qNnHist, qEbvLookup, qCmd,
    qVariabilityCatalog, qTracklets, qTracks, qPmFit, qSkymapSmooth,
    qStetson, qStructureFn, qTwoPoint, qPeriodogram, qCadence, qCpmPairs,
    qRowid, qObjectCatalog)
}
