package graft.operators

import graft.{LsdDb, QuerySpec}
import graft.functions.Det
import graft.functions.Det.{sql => D}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** §2C — joins.
  *
  * Reference surface: the LSD query language joined tables through
  * pre-computed xmatch pair tables and neighbor-margin caches so every
  * join stayed cell-local (SURVEY.md §2C/§3, ref `lsd/join_ops.py`
  * JoinRelation, UNVERIFIED). Spark-native: declare the join and let
  * Catalyst/AQE pick broadcast vs sort-merge; smallness of the dim
  * tables (region/nation/customer/supplier) makes the TPC-H-ish chains
  * broadcast joins with zero shuffle of the fact table. The two
  * operators Spark lacks natively — bounded range join and as-of
  * nearest — are built as banded equi-joins and ordered windows, the
  * patterns that survive 100 TB (no nested-loop cross products, no
  * driver-side state).
  */
object Joins {

  /** J1 — equi inner join (dim side auto-broadcasts under AQE). */
  val qJoinInner: QuerySpec = QuerySpec(
    "q_join_inner",
    """SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "orders")
      .join(LsdDb.table(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_custkey", "c_name", "c_mktsegment",
        "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** J2 — left outer join (reference: `FROM a, b(outer)`). */
  val qJoinLeft: QuerySpec = QuerySpec(
    "q_join_left",
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice
      |FROM customer LEFT JOIN orders
      |  ON o_custkey = c_custkey AND o_totalprice > 400000
      |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "customer")
      .join(LsdDb.table(s, dir, "orders"),
        col("o_custkey") === col("c_custkey") && col("o_totalprice") > 400000,
        "left_outer")
      .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
      .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
  }

  /** J3 — multi-way join along the dim chain; fact table shuffles at
    * most once (dims broadcast), then a partial+final hash agg. */
  val qJoinMulti: QuerySpec = QuerySpec(
    "q_join_multi",
    s"""SELECT r_name, n_name,
       |  ${D.dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
       |  count(*) AS n_items
       |FROM region
       |JOIN nation ON n_regionkey = r_regionkey
       |JOIN customer ON c_nationkey = n_nationkey
       |JOIN orders ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |GROUP BY r_name, n_name
       |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
    val db = LsdDb(s, dir)
    // dims chain is broadcast end-to-end so the fact table (lineitem)
    // never shuffles for the join — only the 25-group partial agg moves
    val dims = broadcast(db.table("region")
      .join(db.table("nation"), col("n_regionkey") === col("r_regionkey"))
      .join(db.table("customer"), col("c_nationkey") === col("n_nationkey"))
      .select("r_name", "n_name", "c_custkey"))
    val ordDims = broadcast(db.table("orders").select("o_orderkey", "o_custkey")
      .join(dims, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "r_name", "n_name"))
    db.table("lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(ordDims, col("l_orderkey") === col("o_orderkey"))
      .groupBy("r_name", "n_name")
      .agg(
        Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** J4a — left semi join (existence filter; no row duplication). */
  val qJoinSemi: QuerySpec = QuerySpec(
    "q_join_semi",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "customer")
      .join(LsdDb.table(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** J4b — left anti join. */
  val qJoinAnti: QuerySpec = QuerySpec(
    "q_join_anti",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "customer")
      .join(LsdDb.table(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** J1x — Bloom-prefiltered join: the explicit runtime-filter form of
    * "filtered dim ⋈ huge fact". The build side (parts with p_size ≤ 5,
    * ~10% of part) is collected into a Bloom filter of xxhash64(key)
    * and applied to lineitem BEFORE the join via Spark's own codegen'd
    * `might_contain` predicate (functions/BloomPrefilter.scala) — at
    * 100 TB this is what keeps the fact-side shuffle proportional to
    * the join selectivity instead of the corpus. The bloom is a
    * superset gate; the exact join after it removes false positives,
    * so the result — and the oracle — is the plain inner join.
    * At the test SF the planner broadcasts the dim anyway; the bloom's
    * value shows when the build side is 100M keys (rows too big to
    * broadcast, key-bits small enough to ship). */
  val qJoinBloom: QuerySpec = QuerySpec(
    "q_join_bloom",
    s"""SELECT p_brand, ${D.dsum("l_extendedprice")} AS revenue,
       |  count(*) AS n_items
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE p_size <= 5
       |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
    val build = LsdDb.table(s, dir, "part")
      .filter(col("p_size") <= 5)
      .select(col("p_partkey"), col("p_brand"))
    val probe = graft.functions.BloomPrefilter.prefilter(
      LsdDb.table(s, dir, "lineitem").select("l_partkey", "l_extendedprice"),
      col("l_partkey"), build, col("p_partkey"))
    probe.join(build, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(Det.dsum(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")
  }

  /** J5 — range (theta) join, banded. A naive `a.join(b, between)` is
    * a nested-loop cross product — O(|A|·|B|), dead at scale. Instead
    * both sides are bucketed on the range dimension (width 50k) and
    * joined on bucket equality + the precise predicate: each customer
    * expands to the ≤5 buckets its [lo,hi] interval covers, turning
    * the theta join into an equi shuffle join. Same trick LSD's
    * neighbor-margin cache plays for spatial joins: coarse-cell
    * equality first, exact predicate second.
    */
  /* Bench envelope (r15): floor 2.78 s; full-bench 4.67 s (1.7x
   * flag) vs isolated 3.32-3.84 s warm on identical code — inside
   * the gate (4.47 s); sibling-load variance. */
  val qJoinRange: QuerySpec = QuerySpec(
    "q_join_range",
    s"""SELECT c_custkey,
       |  count(*) AS n_orders,
       |  ${D.dsum("o_totalprice")} AS sum_price
       |FROM customer JOIN orders
       |  ON o_totalprice >= c_acctbal * 30
       | AND o_totalprice <  c_acctbal * 30 + 1000
       |GROUP BY c_custkey
       |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    // bucket width == window width ⇒ each interval covers ≤2 buckets
    // and candidate count stays ~2× the true match count at any scale
    val bw = 1000
    val c = LsdDb.table(s, dir, "customer")
      .select(col("c_custkey"), (col("c_acctbal") * 30).as("lo"))
      .withColumn("hi", col("lo") + bw)
      .withColumn("bucket",
        explode(sequence(floor(col("lo") / bw), floor(col("hi") / bw))))
    // spread (r21): the banded join + its partial aggregation fuse
    // into the probe-side scan stage, which the one-row-group orders
    // file pins to ONE task (StageProfile: a single 2.5 s stage was
    // the whole query); conditional exchange, no-op on parallel
    // layouts
    val o = LsdDb.spread(LsdDb.table(s, dir, "orders"), col("o_orderkey"))
      .withColumn("bucket", floor(col("o_totalprice") / bw))
    c.join(o, c("bucket") === o("bucket") &&
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("c_custkey")
      .agg(count(lit(1)).as("n_orders"),
        Det.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("c_custkey")
  }

  /** J6 — as-of nearest join (1-D analog of the reference's signature
    * spatial nearest-neighbor xmatch; `lsd-xmatch` + neighbor cache,
    * UNVERIFIED). For each event: the latest 'purchase' event of the
    * same user at-or-before it. One shuffle by user_id, then an
    * ordered window scan — the time-series equivalent of LSD's
    * cell-local probe; no per-row subquery, no cross product.
    */
  val qAsofNearest: QuerySpec = QuerySpec(
    "q_asof_nearest",
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |  last_value(CASE WHEN event_type = 'purchase'
      |                  THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS prev_purchase_ts,
      |  last_value(CASE WHEN event_type = 'purchase' THEN event_id END
      |             IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS prev_purchase_id
      |FROM events
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    LsdDb.table(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        last(when(col("event_type") === "purchase", col("ts")), true)
          .over(w).as("prev_purchase_ts"),
        last(when(col("event_type") === "purchase", col("event_id")), true)
          .over(w).as("prev_purchase_id"))
      .orderBy("event_id")
  }

  /** J7 — self join (reference analog: detection↔detection grouping in
    * `lsd-make-object-catalog`): co-occurring suppliers per part.
    * Both sides shuffle on the same key → co-partitioned sort-merge. */
  val qJoinSelf: QuerySpec = QuerySpec(
    "q_join_self",
    """SELECT a.l_partkey AS partkey, count(*) AS n_pairs
      |FROM lineitem a JOIN lineitem b
      |  ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      |GROUP BY a.l_partkey
      |ORDER BY partkey""".stripMargin) { (s, dir) =>
    // shuffle-hash beats sort-merge here: high key duplication makes
    // the SMJ inner loop buffer+re-sort heavy, while a hash relation
    // per partition streams the probe side straight through
    val li = LsdDb.table(s, dir, "lineitem").select("l_partkey", "l_suppkey")
    val a = li.as("a")
    val b = li.hint("shuffle_hash").as("b")
    a.join(b, col("a.l_partkey") === col("b.l_partkey") &&
        col("a.l_suppkey") < col("b.l_suppkey"))
      .groupBy(col("a.l_partkey").as("partkey"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("partkey")
  }

  /** Scalar subquery — rows above the global mean (kernel-expressible
    * in the reference: fetch-aggregate-refilter). DataFrame form: the
    * 1-row aggregate broadcast-cross-joins the fact scan, so the
    * "subquery" costs one extra pass, no shuffle. */
  val qScalarSubq: QuerySpec = QuerySpec(
    "q_scalar_subq",
    s"""SELECT l_orderkey, l_linenumber, l_quantity
       |FROM lineitem
       |WHERE l_quantity > (SELECT ${D.davg("l_quantity")} FROM lineitem) + 20
       |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    val li = LsdDb.table(s, dir, "lineitem")
    val avgQty = li.agg(Det.davg(col("l_quantity")).as("avg_qty"))
    li.crossJoin(broadcast(avgQty))
      .filter(col("l_quantity") > col("avg_qty") + 20)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** J6 — spatial nearest-neighbor cross-match, the reference's
    * signature operator (`lsd-xmatch`; SURVEY.md §2C J6, ref
    * `lsd/join_ops.py` + neighbor cache, UNVERIFIED), oracle-checked.
    *
    * Both catalogs get deterministic sky positions derived from their
    * integer keys with exact modular arithmetic (identical in both
    * engines), so the DuckDB oracle can brute-force the same match
    * relation with a cross join. The Spark side runs the real
    * [[graft.spatial.CrossMatch]] cell-blocked plan: SkyPix blocking
    * join + haversine refine — the shape that survives 100 TB, where
    * the oracle's O(|A|·|B|) cross join cannot.
    *
    * Determinism: great-circle trig differs from DuckDB's libm in the
    * last ulp, so distances are snapped to the 1e-6 grid (Det.d6)
    * BEFORE the radius cut and the nearest-rank ordering; rank ties
    * break by b_id. The blocking phase uses radius 1.0 (a superset)
    * and the snapped cut is 0.95, keeping the raw prefilter lossless.
    */
  val qXmatch: QuerySpec = QuerySpec(
    "q_xmatch",
    s"""WITH a AS (SELECT o_orderkey AS a_id,
       |    CAST(o_orderkey * 13 % 3600 AS DOUBLE) / 10.0 AS a_lon,
       |    CAST(o_orderkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS a_lat
       |  FROM orders),
       |b AS (SELECT s_suppkey AS b_id,
       |    CAST(s_suppkey * 13 % 3600 AS DOUBLE) / 10.0 AS b_lon,
       |    CAST(s_suppkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS b_lat
       |  FROM supplier),
       |p AS (SELECT a_id, b_id,
       |    ${D.d6(
          "degrees(2 * asin(sqrt(" +
            "sin(radians(b_lat - a_lat) / 2) * sin(radians(b_lat - a_lat) / 2)" +
            " + cos(radians(a_lat)) * cos(radians(b_lat))" +
            " * sin(radians(b_lon - a_lon) / 2)" +
            " * sin(radians(b_lon - a_lon) / 2))))")} AS dist_deg
       |  FROM a CROSS JOIN b)
       |SELECT a_id, b_id, dist_deg, CAST(rn AS INT) AS match_rank FROM (
       |  SELECT a_id, b_id, dist_deg,
       |    row_number() OVER (PARTITION BY a_id
       |                       ORDER BY dist_deg, b_id) AS rn
       |  FROM p WHERE dist_deg <= 0.95)
       |WHERE rn <= 2 ORDER BY a_id, match_rank""".stripMargin) { (s, dir) =>
    def sky(df: org.apache.spark.sql.DataFrame, key: String, id: String,
            lon: String, lat: String) =
      df.select(col(key).as(id),
        ((col(key) * 13) % 3600).cast(DoubleType)./(10.0).as(lon),
        (((col(key) * 7) % 600).cast(DoubleType) / 10.0 - 30.0).as(lat))
    val a = sky(LsdDb.table(s, dir, "orders"), "o_orderkey",
      "a_id", "a_lon", "a_lat")
    val b = sky(LsdDb.table(s, dir, "supplier"), "s_suppkey",
      "b_id", "b_lon", "b_lat")
    val w = Window.partitionBy("a_id")
      .orderBy(col("dist_deg").asc, col("b_id").asc)
    graft.spatial.CrossMatch
      .allPairs(a, b, "a_id", "a_lon", "a_lat", "b_id", "b_lon", "b_lat", 1.0,
        capLat = 31.0) // data lies in |lat| ≤ 30 → level-6 blocking
      .withColumn("dist_deg", Det.d6(col("dist_deg")))
      .filter(col("dist_deg") <= 0.95)
      .withColumn("match_rank", row_number().over(w))
      .filter(col("match_rank") <= 2)
      .orderBy("a_id", "match_rank")
  }

  /** J6f — spatial ANTI cross-match: sources with NO counterpart
    * within the match radius — the orphan/transient screen (a
    * detection matching nothing in the reference catalog is the
    * alert-worthy row), and the complement of q_xmatch under the
    * same blocking. Plan: the cell-blocked candidate join finds every
    * MATCHED a_id (distinct — partial-aggregating, so the build side
    * of the anti join is O(|matched ids|), not O(|pairs|)), then one
    * left_anti equi-join keeps the orphans. The corpus A is scanned
    * twice but never cartesian'd; at 100 TB both passes are the same
    * blocked shape as q_xmatch. Determinism: the radius cut uses the
    * same d6-snapped distance as q_xmatch, so the match relation —
    * and hence its complement — is engine-identical. */
  val qXmatchAnti: QuerySpec = QuerySpec(
    "q_xmatch_anti",
    s"""WITH a AS (SELECT o_orderkey AS a_id,
       |    CAST(o_orderkey * 13 % 3600 AS DOUBLE) / 10.0 AS a_lon,
       |    CAST(o_orderkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS a_lat
       |  FROM orders),
       |b AS (SELECT s_suppkey AS b_id,
       |    CAST(s_suppkey * 13 % 3600 AS DOUBLE) / 10.0 AS b_lon,
       |    CAST(s_suppkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS b_lat
       |  FROM supplier)
       |SELECT a_id, a_lon, a_lat FROM a
       |WHERE NOT EXISTS (SELECT 1 FROM b WHERE ${D.d6(
          "degrees(2 * asin(sqrt(" +
            "sin(radians(b_lat - a_lat) / 2) * sin(radians(b_lat - a_lat) / 2)" +
            " + cos(radians(a_lat)) * cos(radians(b_lat))" +
            " * sin(radians(b_lon - a_lon) / 2)" +
            " * sin(radians(b_lon - a_lon) / 2))))")} <= 0.95)
       |ORDER BY a_id""".stripMargin) { (s, dir) =>
    val a = skyFrom(LsdDb.table(s, dir, "orders"), "o_orderkey",
      "a_id", "a_lon", "a_lat")
    val b = skyFrom(LsdDb.table(s, dir, "supplier"), "s_suppkey",
      "b_id", "b_lon", "b_lat")
    val matched = graft.spatial.CrossMatch
      .allPairs(a, b, "a_id", "a_lon", "a_lat", "b_id", "b_lon", "b_lat",
        1.0, capLat = xmatchCapLat)
      .filter(Det.d6(col("dist_deg")) <= 0.95)
      .select("a_id").distinct()
    a.join(matched, Seq("a_id"), "left_anti").orderBy("a_id")
  }

  /** Deterministic sky projection shared by q_xmatch and
    * q_xmatch_margin (exact integer modular arithmetic → identical in
    * both engines). */
  private def skyFrom(df: org.apache.spark.sql.DataFrame, key: String,
                      id: String, lon: String, lat: String,
                      keep: String*) =
    df.select(col(key).as(id) +:
      ((col(key) * 13) % 3600).cast(DoubleType)./(10.0).as(lon) +:
      (((col(key) * 7) % 600).cast(DoubleType) / 10.0 - 30.0).as(lat) +:
      keep.map(col): _*)

  private val xmatchCapLat = 31.0 // data lies in |lat| ≤ 30

  /** Write-once margin cache of the supplier sky catalog (the
    * `SpatialWriter.writeClustered(margin=…)` product q_xmatch_margin
    * consumes). Keyed by a content fingerprint of the source table
    * (CacheKeys), so a regenerated sf dir gets a fresh cache; contents
    * are deterministic, so reuse across Verify/Bench runs in one JVM —
    * and across queries — is exactly the write-once/query-many
    * economics the cache exists for.
    *
    * Layout: PLAIN parquet clustered by cell (writeClustered), NOT
    * directory-per-cell — the xmatch join needs `cell` only as an
    * equi-join column, and a level-6+ partitionBy produced ~2k one-file
    * directories whose listing overhead made the cached path slower
    * than the query-time explode it exists to beat. */
  def ensureXmatchMarginCache(s: org.apache.spark.sql.SparkSession,
                              dir: String): (String, Int) = synchronized {
    val level = graft.spatial.CrossMatch.levelFor(1.0, xmatchCapLat)
    val path = graft.sources.CacheKeys.path(
      s"graft_margin_cache_l$level", s"$dir/supplier.parquet")
    // rebuild if absent OR written before the _MARGIN sidecar existed
    // (requireMargin below rejects un-annotated layouts)
    if (!graft.sources.CacheKeys.isComplete(path) ||
        graft.sources.SpatialWriter.marginMeta(s, path).isEmpty) {
      val b = skyFrom(LsdDb.table(s, dir, "supplier"), "s_suppkey",
        "b_id", "b_lon", "b_lat")
      graft.sources.SpatialWriter.writeClustered(b, "b_lon", "b_lat", level,
        path, margin = Some(1.0))
    }
    (path, level)
  }

  /** J6b — the same cross-match as q_xmatch, but consuming the
    * WRITE-TIME neighbor-margin cache (LSD's signature storage trick;
    * SURVEY.md §1.1 "Neighbor/margin cache", UNVERIFIED): B's 9-cell
    * replication happened once in `SpatialWriter.write(margin=…)`, so
    * the query joins A's home cell straight against the stored
    * replicas — no query-time explode, no 9× shuffle amplification of
    * the probe side. Same oracle relation as q_xmatch (the cache is a
    * physical layout choice, not a semantic one). */
  val qXmatchMargin: QuerySpec = QuerySpec(
    "q_xmatch_margin",
    qXmatch.oracle.get) { (s, dir) =>
    val (path, level) = ensureXmatchMarginCache(s, dir)
    // contract check: the written margin must cover this query radius
    // (a larger radius would silently lose cross-cell pairs)
    graft.sources.SpatialWriter.requireMargin(s, path, 1.0)
    val a = skyFrom(LsdDb.table(s, dir, "orders"), "o_orderkey",
      "a_id", "a_lon", "a_lat")
    val bM = graft.sources.SpatialWriter.readWithMargins(s, path)
    val w = Window.partitionBy("a_id")
      .orderBy(col("dist_deg").asc, col("b_id").asc)
    graft.spatial.CrossMatch
      .allPairsPreMargined(a, bM, "a_id", "a_lon", "a_lat",
        "b_id", "b_lon", "b_lat", 1.0, level, capLat = xmatchCapLat)
      .withColumn("dist_deg", Det.d6(col("dist_deg")))
      .filter(col("dist_deg") <= 0.95)
      .withColumn("match_rank", row_number().over(w))
      .filter(col("match_rank") <= 2)
      .orderBy("a_id", "match_rank")
  }

  /** Non-convex L-shaped spherical polygon for q_footprint_polygon.
    * Off-grid vertex decimals keep every great-circle edge far
    * (>> 1e-6 deg) from the 0.1-deg synthetic sky grid, so the
    * engines' few-ulp libm differences can never flip a row across
    * the boundary. */
  private[graft] val polyVerts = Seq(
    (100.0037, -25.0041), (140.0093, -25.0077), (140.0041, 0.0067),
    (120.0031, 0.0013), (120.0089, 20.0091), (100.0011, 20.0047))

  /** DuckDB twin of Footprint.polygon: the same gnomonic frame
    * constants (shortest-round-trip double literals parse back to the
    * identical IEEE value) and the same even-odd parity chain, term
    * for term, in the same evaluation order. */
  private def polygonOracleSql(vertices: Seq[(Double, Double)]): String = {
    val f = graft.spatial.Footprint.frameConstants(vertices)
    def lit(d: Double): String = {
      val s = java.lang.Double.toString(d)
      if (d < 0) s"($s)" else s
    }
    val dExpr = s"x*${lit(f.cx)} + y*${lit(f.cy)} + z*${lit(f.cz)}"
    val parity = f.vx.indices.foldLeft("FALSE") { (acc, i) =>
      val j = (i + 1) % f.vx.length
      val (xi, yi, xj, yj) = (f.vx(i), f.vy(i), f.vx(j), f.vy(j))
      if (yi == yj) acc
      else {
        val slope = (xj - xi) / (yj - yi)
        s"($acc <> (((${lit(yi)} > gy) <> (${lit(yj)} > gy)) AND " +
          s"(gx < ${lit(xi)} + ${lit(slope)} * (gy - ${lit(yi)}))))"
      }
    }
    s"""WITH c AS (SELECT c_custkey AS id,
       |    CAST(c_custkey * 13 % 3600 AS DOUBLE) / 10.0 AS lon,
       |    CAST(c_custkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS lat
       |  FROM customer),
       |g AS (SELECT id, lon, lat,
       |    cos(radians(lat)) * cos(radians(lon)) AS x,
       |    cos(radians(lat)) * sin(radians(lon)) AS y,
       |    sin(radians(lat)) AS z FROM c),
       |p AS (SELECT id, lon, lat, $dExpr AS d,
       |    (x*${lit(f.ex)} + y*${lit(f.ey)}) / ($dExpr) AS gx,
       |    (x*${lit(f.nx)} + y*${lit(f.ny)} + z*${lit(f.nz)}) / ($dExpr) AS gy
       |  FROM g)
       |SELECT id, lon, lat FROM p WHERE d > 0 AND $parity
       |ORDER BY id""".stripMargin
  }

  /** SC2c/P10b — spatial footprint as a first-class query: exact
    * spherical point-in-polygon (great-circle edges, non-convex OK)
    * over the deterministic sky projection. The predicate is a pure
    * constant-folded expression tree (Footprint.polygon), so it
    * whole-stage-codegens and would push straight onto a
    * SpatialWriter layout's scan + polygonCells directory pruning at
    * scale. */
  val qFootprintPolygon: QuerySpec = QuerySpec(
    "q_footprint_polygon",
    polygonOracleSql(polyVerts)) { (s, dir) =>
    skyFrom(LsdDb.table(s, dir, "customer"), "c_custkey", "id", "lon", "lat")
      .filter(graft.spatial.Footprint.polygon(col("lon"), col("lat"),
        polyVerts))
      .orderBy("id")
  }

  /** SkyPix level of the customer sky layout. Coarse on purpose: each
    * directory must hold file-sized data or listing overhead dominates
    * (at 100 TB the knob moves up — level l gives 4^l dirs, sized to
    * the catalog volume; level 4's 256 dirs suit a ~100 GB–1 TB
    * catalog and are the demo shape at test scale). */
  private val skyLayoutLevel = 4

  /** Write-once sky-partitioned copy of the customer sky projection
    * (SpatialWriter DIRECTORY layout — `cell=<id>/` dirs), the
    * substrate for footprint-pruned scans. Content-fingerprint keyed
    * like the other write-once layouts. */
  def ensureSkyPartitionedCustomer(s: org.apache.spark.sql.SparkSession,
                                   dir: String): (String, Int) = synchronized {
    // the layout lives at `<cache-root>/customer_sky.parquet` — the
    // `<dbRoot>/<table>.parquet` shape LsdDb resolves — so ONE
    // write-once layout serves both the DataFrame footprint queries
    // (path consumers) and the bounded-QL db root (ensureQlBoundsDb
    // returns the parent); review r18 removed the byte-identical
    // second copy the QL path used to build.
    val root = graft.sources.CacheKeys.path(
      s"graft_customer_sky_l$skyLayoutLevel", s"$dir/customer.parquet")
    val path = s"$root/customer_sky.parquet"
    // sidecar check too: _SPATIAL lands AFTER Spark's _SUCCESS (an
    // Overwrite write deletes the dir, so the sidecar can't go first),
    // and a crash in that window would otherwise leave a permanently
    // "complete" layout every bounded read rejects (review r18)
    if (!graft.sources.CacheKeys.isComplete(path) ||
        graft.sources.SpatialWriter.spatialMeta(s, path).isEmpty) {
      val c = skyFrom(LsdDb.table(s, dir, "customer"), "c_custkey",
        "id", "lon", "lat")
      graft.sources.SpatialWriter.write(c, "lon", "lat", skyLayoutLevel, path)
    }
    (path, skyLayoutLevel)
  }

  /** SC2c — the polygon footprint as a PRUNED scan: the same exact
    * spherical predicate as q_footprint_polygon, but against the
    * SpatialWriter directory layout with `Footprint.polygonCells`
    * enumerating the candidate cells — so the `cell` predicate becomes
    * directory-level `PartitionFilters` (pinned in PlanQualitySpec)
    * and untouched sky is never opened. This is LSD's bounds∩quadtree
    * pruning end-to-end on SKY (q_partition_prune is the same shape on
    * time). Same oracle relation as q_footprint_polygon: the layout is
    * physical, not semantic. */
  val qFootprintCells: QuerySpec = QuerySpec(
    "q_footprint_cells",
    polygonOracleSql(polyVerts)) { (s, dir) =>
    val (path, level) = ensureSkyPartitionedCustomer(s, dir)
    val cells = graft.spatial.Footprint.polygonCells(polyVerts, level)
    graft.sources.SpatialWriter.readCells(s, path, cells)
      .filter(!col("is_margin"))
      .filter(graft.spatial.Footprint.polygon(col("lon"), col("lat"),
        polyVerts))
      .select("id", "lon", "lat")
      .orderBy("id")
  }

  /** Off-grid cone center/radius (same discipline as polyVerts'
    * decimals); the d6 snap before the radius cut makes the boundary
    * decision identical in both engines regardless (q_xmatch's trick). */
  private val (coneLon, coneLat, coneR) = (123.4567, -12.3456, 9.0123)

  /** SC2d — cone footprint over the sky-partitioned layout:
    * `Footprint.coneCells` prunes directories, the exact great-circle
    * predicate (d6-snapped) refines — the cone form of LSD's
    * bounds∩quadtree, completing the footprint family next to
    * q_footprint_cells (polygon) and q_footprint_rect. */
  val qFootprintCone: QuerySpec = QuerySpec(
    "q_footprint_cone",
    s"""WITH c AS (SELECT c_custkey AS id,
       |    CAST(c_custkey * 13 % 3600 AS DOUBLE) / 10.0 AS lon,
       |    CAST(c_custkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS lat
       |  FROM customer),
       |d AS (SELECT id, lon, lat,
       |    ${D.d6(
          s"degrees(2 * asin(sqrt(" +
            s"sin(radians(lat - ($coneLat)) / 2) * sin(radians(lat - ($coneLat)) / 2)" +
            s" + cos(radians($coneLat)) * cos(radians(lat))" +
            s" * sin(radians(lon - $coneLon) / 2)" +
            s" * sin(radians(lon - $coneLon) / 2))))")} AS dist_deg
       |  FROM c)
       |SELECT id, lon, lat, dist_deg FROM d
       |WHERE dist_deg <= $coneR ORDER BY id""".stripMargin) { (s, dir) =>
    val (path, level) = ensureSkyPartitionedCustomer(s, dir)
    val cells = graft.spatial.Footprint.coneCells(coneLon, coneLat, coneR,
      level)
    graft.sources.SpatialWriter.readCells(s, path, cells)
      .filter(!col("is_margin"))
      .withColumn("dist_deg", Det.d6(graft.spatial.CrossMatch.distDeg(
        col("lon"), col("lat"), lit(coneLon), lit(coneLat))))
      .filter(col("dist_deg") <= coneR)
      .select("id", "lon", "lat", "dist_deg")
      .orderBy("id")
  }

  /** DB ROOT holding the shared customer sky layout under a TABLE
    * name — the directory shape LsdQL's table resolution expects, so
    * bounded QL queries exercise the real `query(text, bounds)` path
    * end-to-end (sidecar lookup → cell enumeration →
    * PartitionFilters). Reuses [[ensureSkyPartitionedCustomer]]'s
    * write-once layout (its parent IS the db root) — no second copy. */
  def ensureQlBoundsDb(s: org.apache.spark.sql.SparkSession,
                       dir: String): String = {
    val (path, _) = ensureSkyPartitionedCustomer(s, dir)
    new java.io.File(path).getParent
  }

  /** Off-grid center/radius for the bounded-QL cone, distinct from
    * q_footprint_cone's so the two lines cannot mask each other. */
  private val (qlbLon, qlbLat, qlbR) = (42.1234, 7.6543, 8.1234)

  /** SC2f/QL — QUERY-TIME BOUNDS AT THE QL SURFACE: the reference's
    * `db.query(q, bounds=beam(...))` ([H] — the documented query API
    * took a bounds argument; ref `lsd/bounds.py`, UNVERIFIED). The
    * QL text itself carries NO spatial predicate — the cone arrives
    * as a [[graft.spatial.Bounds.Cone]] ARGUMENT, and the evaluator
    * (a) prunes the layout's `cell=` directories through the
    * footprint enumeration (PartitionFilters, pinned in
    * PlanQualitySpec) and (b) refines with the d6-snapped exact
    * predicate built into the bound. The oracle recomputes cone
    * membership from the raw positions — so what is hash-checked is
    * the bound's SEMANTICS (pruning is invisible), same discipline as
    * q_footprint_cells. */
  val qQlBounds: QuerySpec = QuerySpec(
    "q_ql_bounds",
    s"""WITH c AS (SELECT c_custkey AS id,
       |    CAST(c_custkey * 13 % 3600 AS DOUBLE) / 10.0 AS lon,
       |    CAST(c_custkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS lat
       |  FROM customer),
       |d AS (SELECT id, lon, lat,
       |    ${D.d6(
          s"degrees(2 * asin(sqrt(" +
            s"sin(radians(lat - ($qlbLat)) / 2) * sin(radians(lat - ($qlbLat)) / 2)" +
            s" + cos(radians($qlbLat)) * cos(radians(lat))" +
            s" * sin(radians(lon - $qlbLon) / 2)" +
            s" * sin(radians(lon - $qlbLon) / 2))))")} AS dist_deg
       |  FROM c)
       |SELECT id, lon, lat FROM d
       |WHERE dist_deg <= $qlbR ORDER BY id""".stripMargin) { (s, dir) =>
    val root = ensureQlBoundsDb(s, dir)
    val ql = graft.ql.LsdQL(graft.LsdDb(s, root), Nil)
    ql.query("SELECT id, lon, lat FROM customer_sky ORDER BY id",
      graft.spatial.Bounds.Cone(qlbLon, qlbLat, qlbR))
  }

  /** SC2f2/QL — RECT bound at the QL surface, WRAPPING through lon=0:
    * the Bounds.Rect lowering (wraparound-aware cell enumeration +
    * exact disjunction predicate) under the oracle, next to the cone
    * form. Off-grid edges per the footprint-family discipline. */
  val qQlBoundsRect: QuerySpec = QuerySpec(
    "q_ql_bounds_rect",
    """WITH c AS (SELECT c_custkey AS id,
      |    CAST(c_custkey * 13 % 3600 AS DOUBLE) / 10.0 AS lon,
      |    CAST(c_custkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS lat
      |  FROM customer)
      |SELECT id, lon, lat FROM c
      |WHERE (lon >= 355.0011 OR lon <= 15.0022)
      |  AND lat >= -10.0033 AND lat <= 20.0044
      |ORDER BY id""".stripMargin) { (s, dir) =>
    val root = ensureQlBoundsDb(s, dir)
    val ql = graft.ql.LsdQL(graft.LsdDb(s, root), Nil)
    ql.query("SELECT id, lon, lat FROM customer_sky ORDER BY id",
      graft.spatial.Bounds.Rect(355.0011, 15.0022, -10.0033, 20.0044))
  }

  /** DuckDB/Spark-portable haversine text (degrees) between two
    * (lon, lat) expression pairs — ONE source for the round's oracle
    * distance strings (a transposed term in a hand-inlined copy would
    * produce a subtly wrong oracle that only fails at a boundary
    * row). Same term order as the historical inline copies, so the
    * IEEE evaluation tree is unchanged. */
  private[operators] def havSqlAB(lonA: String, latA: String,
                                  lonB: String, latB: String): String =
    "degrees(2 * asin(sqrt(" +
      s"sin(radians(($latB) - ($latA)) / 2) * " +
      s"sin(radians(($latB) - ($latA)) / 2)" +
      s" + cos(radians($latA)) * cos(radians($latB))" +
      s" * sin(radians(($lonB) - ($lonA)) / 2)" +
      s" * sin(radians(($lonB) - ($lonA)) / 2))))"

  /** SQL twin of [[skyFrom]]: the deterministic sky-lattice
    * projection of an integer key, as a SELECT-list fragment. */
  private def skySqlCols(key: String, id: String, lon: String,
                         lat: String): String =
    s"$key AS $id,\n" +
      s"    CAST($key * 13 % 3600 AS DOUBLE) / 10.0 AS $lon,\n" +
      s"    CAST($key * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS $lat"

  /** Non-convex L-shape for the POLYGON bound at the QL surface —
    * deliberately a different sky region than q_footprint_polygon's
    * `polyVerts` so the two lines cannot mask each other; same
    * off-grid-decimal discipline (every great-circle edge sits far
    * from the 0.1-deg synthetic lattice). */
  private val qlPolyVerts = Seq(
    (60.0023, -20.0017), (95.0041, -20.0073), (95.0011, 5.0061),
    (80.0057, 5.0013), (80.0019, 25.0087), (60.0049, 25.0031))

  /** SC2f3/QL — POLYGON bound at the QL surface, completing the
    * reference's footprint-shape set as query ARGUMENTS (all-sky =
    * no bound, beam = q_ql_bounds, rect = q_ql_bounds_rect, polygon =
    * here; ref `lsd/bounds.py`, UNVERIFIED). Bounds.Polygon pairs
    * `Footprint.polygonCells` directory pruning with the exact
    * even-odd gnomonic predicate; the oracle replays the identical
    * parity chain term for term (polygonOracleSql), so membership is
    * engine-exact without any snap. */
  val qQlBoundsPoly: QuerySpec = QuerySpec(
    "q_ql_bounds_poly",
    polygonOracleSql(qlPolyVerts)) { (s, dir) =>
    val root = ensureQlBoundsDb(s, dir)
    val ql = graft.ql.LsdQL(graft.LsdDb(s, root), Nil)
    ql.query("SELECT id, lon, lat FROM customer_sky ORDER BY id",
      graft.spatial.Bounds.Polygon(qlPolyVerts))
  }

  /** Write-once QL database builder — the ONE shape behind every
    * ensureQl*Db (4 copies before the r19 verdict asked for the
    * factoring): a fingerprint-keyed root (CacheKeys — keyed on the
    * WHOLE sf dir when more than one source table feeds the db, the
    * ensureQlSurveyDb rule: a single-source key would serve a stale
    * sibling when the other source regenerates), ONE `synchronized`
    * build section (bench and verify share the process — correct
    * under their single-process contract), per-table completeness =
    * `_SUCCESS` AND the layout sidecar when one is expected (sidecars
    * land after Spark's commit), and relations re-declared
    * idempotently on every call (JoinRegistry upserts). */
  private def ensureDb(tag: String, key: String)
                      (tables: (String, String => Boolean,
                        String => Unit)*)
                      (declare: String => Unit): String = synchronized {
    val root = graft.sources.CacheKeys.path(tag, key)
    for ((name, complete, build) <- tables) {
      val p = s"$root/$name.parquet"
      if (!complete(p)) build(p)
    }
    declare(root)
    root
  }

  /** Standard completeness of a parquet dataset under [[ensureDb]]:
    * Spark's `_SUCCESS` marker AND the expected layout sidecar
    * (sidecars land after the commit). Snapshot tables use their
    * commit log instead — the log IS the completion protocol. */
  private def pq(extra: String => Boolean = _ => true)
               (p: String): Boolean =
    graft.sources.CacheKeys.isComplete(p) && extra(p)

  /** Events lifted onto the synthetic sky lattice — the detection
    * table every QL survey db stores (optionally keeping `ts` for the
    * time-bound substrates). */
  private def skyDetections(s: org.apache.spark.sql.SparkSession,
                            dir: String, keep: String*) =
    skyFrom(LsdDb.table(s, dir, "events"), "event_id",
      "id", "lon", "lat", keep: _*)

  /** Write-once db root holding a DETECTION table — events lifted
    * onto the synthetic sky lattice, stored as a SpatialWriter layout
    * that KEEPS its timestamp column. The substrate for the combined
    * (space, time) bounds pair: sky cells prune directories, the time
    * interval refines by predicate (a layout partitions one way; the
    * reference's full sky×time grid is the `partitionBy(cell,
    * t_bucket)` composition, exercised at the writer level). */
  private[graft] def ensureQlDetectionsDb(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    ensureDb("graft_ql_det_db", s"$dir/events.parquet")(
      ("detections",
        pq(p => graft.sources.SpatialWriter.spatialMeta(s, p).isDefined),
        p => graft.sources.SpatialWriter.write(
          skyDetections(s, dir, "ts"), "lon", "lat", skyLayoutLevel, p))
    )(_ => ())

  /** SC2f4/QL — the (SPACE, TIME) bounds PAIR on a detection table:
    * the reference's bread-and-butter multi-epoch query ("this patch
    * of sky, these nights") as two query ARGUMENTS — `query(text,
    * bounds, time)`. The cone prunes the layout's cell directories
    * and refines d6-exact; the half-open interval refines on the
    * declared time column (timeKeys registration, the IdSpec-style
    * fallback for a table whose one physical partitioning is spatial).
    * Off-grid cone constants and non-midnight-aligned endpoints per
    * the family discipline. */
  val qQlBoundsPair: QuerySpec = QuerySpec(
    "q_ql_bounds_pair",
    s"""WITH d AS (SELECT ${skySqlCols("event_id", "id", "lon", "lat")},
       |    CAST(ts AS TIMESTAMP) AS ts
       |  FROM events),
       |p AS (SELECT id, lon, lat, ts,
       |    ${D.d6(havSqlAB("120.4321", "(-3.2109)", "lon", "lat"))}
       |      AS dist_deg
       |  FROM d)
       |SELECT id, lon, lat, ts FROM p
       |WHERE dist_deg <= 24.1234
       |  AND ts >= TIMESTAMP '2024-01-08 06:30:00'
       |  AND ts < TIMESTAMP '2024-01-21 18:45:00'
       |ORDER BY id""".stripMargin) { (s, dir) =>
    val root = ensureQlDetectionsDb(s, dir)
    val ql = graft.ql.LsdQL(graft.LsdDb(s, root), Nil,
      timeKeys = Map("detections" -> "ts"))
    ql.query("SELECT id, lon, lat, ts FROM detections ORDER BY id",
      graft.spatial.Bounds.Cone(120.4321, -3.2109, 24.1234),
      graft.spatial.TimeInterval("2024-01-08 06:30:00",
        "2024-01-21 18:45:00"))
  }

  /** Self-contained two-table survey database — a detections layout
    * (events on the sky lattice, keeping ts) plus an OBJECTS catalog
    * (supplier on the same lattice) — for the flagship bounded-
    * xmatch-aggregate query. Keyed on the WHOLE sf dir fingerprint:
    * the two tables derive from two different sources, so a
    * single-source key would silently serve stale data when the
    * other source regenerates (review r18); over-keying on sibling
    * tables merely rebuilds a small cache. */
  private[graft] def ensureQlSurveyDb(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    ensureDb("graft_ql_survey_db", dir)(
      ("detections",
        pq(p => graft.sources.SpatialWriter.spatialMeta(s, p).isDefined),
        p => graft.sources.SpatialWriter.write(
          skyDetections(s, dir, "ts"), "lon", "lat", skyLayoutLevel, p)),
      ("objects", pq(),
        p => skyFrom(LsdDb.table(s, dir, "supplier"), "s_suppkey",
          "obj_id", "olon", "olat").write.mode("overwrite").parquet(p))
    )(_ => ())

  /** J6/QL(overrides) — PER-QUERY MATCH PARAMETERS: the FROM item's
    * `(nmax=…, dmax=…)` override the declared relation's defaults for
    * this query only — the reference's FROM-item match arguments
    * (`FROM obj, det(nmax=…, dmax=…)`, ref `lsd/join_ops.py` query
    * args, UNVERIFIED). Same declared relation as q_ql_xmatch
    * (radius 0.87, nmax 2, snapD6); the query narrows it to the
    * single nearest neighbor within 0.5432 — the oracle recomputes
    * THAT relation, so a silently-ignored override cannot pass. */
  val qQlXmatchDmax: QuerySpec = QuerySpec(
    "q_ql_xmatch_dmax",
    s"""$qlXmatchPairsSql
       |SELECT a_id, b_id, dist_deg FROM (
       |  SELECT a_id, b_id, dist_deg,
       |    row_number() OVER (PARTITION BY a_id
       |                       ORDER BY dist_deg, b_id) AS rn
       |  FROM p WHERE dist_deg <= 0.5432)
       |WHERE rn = 1 ORDER BY a_id""".stripMargin) { (s, dir) =>
    qlXmatchSession(s, dir).query(
      """SELECT oid AS a_id, sid AS b_id, _DIST AS dist_deg
        |FROM orders_sky, supplier_sky(nmax=1, dmax=0.5432)
        |ORDER BY a_id""".stripMargin)
  }

  /** J6g/QL — THE FLAGSHIP COMPOSITION: query-time bounds + the
    * declared xmatch relation + aggregation in ONE QL query — the
    * reference's headline use ("summarize the matched detections on
    * this patch of sky": `db.query("SELECT … FROM dets, objs …",
    * bounds=beam(…))`, ref `lsd/join_ops.py` + `lsd/bounds.py`,
    * UNVERIFIED). Lowering composes the round's pieces: the cone
    * prunes the detection layout's cell directories and refines
    * d6-exact BEFORE the join (the bounded driving set is what
    * shuffles), the snapD6 relation nearest-matches cell-blocked (no
    * cartesian), and the per-object aggregate uses the decimal-exact
    * mean over the already-snapped distances (snap before
    * aggregation; the quotient emits raw — the Det.davg rule). */
  val qQlSurvey: QuerySpec = QuerySpec(
    "q_ql_survey",
    s"""WITH d AS (SELECT ${skySqlCols("event_id", "id", "lon", "lat")}
       |  FROM events),
       |bd AS (SELECT id, lon, lat FROM d
       |  WHERE ${D.d6(havSqlAB("7.4321", "(-26.2109)", "lon", "lat"))}
       |    <= 9.8765),
       |o AS (SELECT ${skySqlCols("s_suppkey", "obj_id", "olon", "olat")}
       |  FROM supplier),
       |p AS (SELECT bd.id, o.obj_id,
       |    ${D.d6(havSqlAB("lon", "lat", "olon", "olat"))} AS dist_deg
       |  FROM bd CROSS JOIN o),
       |m AS (SELECT id, obj_id, dist_deg FROM (
       |    SELECT id, obj_id, dist_deg,
       |      row_number() OVER (PARTITION BY id
       |                         ORDER BY dist_deg, obj_id) AS rn
       |    FROM p WHERE dist_deg <= 0.3456)
       |  WHERE rn = 1)
       |SELECT obj_id, count(*) AS n_det,
       |  ${D.davg("dist_deg")} AS mean_dist,
       |  min(dist_deg) AS best_dist
       |FROM m GROUP BY obj_id ORDER BY obj_id""".stripMargin) { (s, dir) =>
    val root = ensureQlSurveyDb(s, dir)
    val ql = graft.ql.LsdQL(graft.LsdDb(s, root), Nil,
      spatialJoins = Seq(graft.ql.SpatialJoinDef(
        "detections", "id", "lon", "lat",
        "objects", "obj_id", "olon", "olat",
        radiusDeg = 0.3456, nmax = 1, snapD6 = true)))
    ql.query(
      s"""SELECT obj_id, count(*) AS n_det,
         |  ${D.davg("_DIST")} AS mean_dist,
         |  min(_DIST) AS best_dist
         |FROM detections, objects
         |GROUP BY obj_id ORDER BY obj_id""".stripMargin,
      graft.spatial.Bounds.Cone(7.4321, -26.2109, 9.8765))
  }

  /** Write-once db root holding the orders/supplier sky projections
    * as STORED tables (`oid/olon/olat`, `sid/slon/slat`) — the
    * substrate for the QL xmatch-join lines, shaped like a real LSD
    * database directory (catalogs are tables, not inline SELECTs).
    * Keyed on the WHOLE sf dir: the two projections derive from two
    * source tables, and a single-source key would serve a stale
    * supplier_sky when only supplier regenerates (review r20 — the
    * r18 rule, applied here too). */
  private[graft] def ensureQlXmatchDb(
      s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    ensureDb("graft_ql_xmatch_db", dir)(
      ("orders_sky", pq(),
        p => skyFrom(LsdDb.table(s, dir, "orders"), "o_orderkey",
          "oid", "olon", "olat").write.mode("overwrite").parquet(p)),
      ("supplier_sky", pq(),
        p => skyFrom(LsdDb.table(s, dir, "supplier"), "s_suppkey",
          "sid", "slon", "slat").write.mode("overwrite").parquet(p))
    )(_ => ())

  /** Shared DuckDB relation for the QL xmatch oracles: every pair's
    * d6-snapped haversine on the oid/sid sky projections. Cut radius
    * 0.87 (distinct from q_xmatch's 0.95 so the lines cannot mask
    * each other); the engine side blocks at a superset and decides
    * membership/rank on the snapped value (CrossMatch.applySnapped),
    * so both engines evaluate the identical relation. */
  /** The ONE declared QL xmatch relation (orders_sky ↷ supplier_sky,
    * radius 0.87, nmax 2, snapD6) as a ready session over the
    * write-once db — shared by every q_ql_xmatch* spec so the
    * relation can never desynchronize between them. `nmax`/`radius`
    * variations happen at the QUERY surface (FROM-item overrides),
    * exactly like the reference. */
  private def qlXmatchSession(s: org.apache.spark.sql.SparkSession,
                              dir: String): graft.ql.LsdQL = {
    val root = ensureQlXmatchDb(s, dir)
    graft.ql.LsdQL(graft.LsdDb(s, root), Nil, spatialJoins = Seq(
      graft.ql.SpatialJoinDef("orders_sky", "oid", "olon", "olat",
        "supplier_sky", "sid", "slon", "slat",
        radiusDeg = 0.87, nmax = 2, snapD6 = true)))
  }

  // lazy: referenced by QuerySpec vals that precede it in declaration
  // order (object init would capture null otherwise)
  private lazy val qlXmatchPairsSql: String =
    s"""WITH a AS (SELECT ${skySqlCols("o_orderkey", "a_id", "a_lon",
        "a_lat")}
       |  FROM orders),
       |b AS (SELECT ${skySqlCols("s_suppkey", "b_id", "b_lon", "b_lat")}
       |  FROM supplier),
       |p AS (SELECT a_id, b_id,
       |    ${D.d6(havSqlAB("a_lon", "a_lat", "b_lon", "b_lat"))}
       |      AS dist_deg
       |  FROM a CROSS JOIN b)""".stripMargin

  /** J6/QL — THE REFERENCE'S SIGNATURE QUERY SHAPE, oracle-gated at
    * the QL surface: `SELECT … FROM obj, cat` where the comma-join
    * resolves through a DECLARED radius relation (no pre-materialized
    * pair table), attaching the matched rows plus the `_DIST`/`_NR`
    * pseudo-columns — LSD's `FROM ps1_obj, sdss` UX (ref
    * `lsd/join_ops.py` xmatch joins, UNVERIFIED). The relation is
    * declared `snapD6`, so the boundary cut and the nearest-2 ranking
    * are engine-exact against the oracle's recomputed distances. The
    * plan underneath is the cell-blocked CrossMatch (one shuffle on
    * the blocking key + one rank window — no cartesian), the same
    * shape q_xmatch pins. */
  val qQlXmatch: QuerySpec = QuerySpec(
    "q_ql_xmatch",
    s"""$qlXmatchPairsSql
       |SELECT a_id, b_id, dist_deg, CAST(rn AS INT) AS match_rank FROM (
       |  SELECT a_id, b_id, dist_deg,
       |    row_number() OVER (PARTITION BY a_id
       |                       ORDER BY dist_deg, b_id) AS rn
       |  FROM p WHERE dist_deg <= 0.87)
       |WHERE rn <= 2 ORDER BY a_id, match_rank""".stripMargin) { (s, dir) =>
    qlXmatchSession(s, dir).query(
      """SELECT oid AS a_id, sid AS b_id, _DIST AS dist_deg,
        |  _NR AS match_rank
        |FROM orders_sky, supplier_sky
        |ORDER BY a_id, match_rank""".stripMargin)
  }

  /** J6/QL(outer) — the `(outer)` FROM item over the spatial relation:
    * unmatched driving rows survive with NULL match columns — LSD's
    * `FROM obj, sdss(outer)` (the form every "which sources have no
    * counterpart" screen used). nmax=1 keeps the result keyed by a_id;
    * the oracle is the LEFT JOIN against the rank-1 snapped relation. */
  val qQlXmatchOuter: QuerySpec = QuerySpec(
    "q_ql_xmatch_outer",
    s"""$qlXmatchPairsSql,
       |m AS (SELECT a_id, b_id, dist_deg FROM (
       |    SELECT a_id, b_id, dist_deg,
       |      row_number() OVER (PARTITION BY a_id
       |                         ORDER BY dist_deg, b_id) AS rn
       |    FROM p WHERE dist_deg <= 0.87)
       |  WHERE rn = 1)
       |SELECT a.a_id, m.b_id, m.dist_deg
       |FROM a LEFT JOIN m ON a.a_id = m.a_id ORDER BY a.a_id""".stripMargin) {
    (s, dir) =>
    // the shared nmax=2 relation narrowed to nearest-1 AT THE QUERY
    // (FROM-item override) — one declared relation, per-query modes
    qlXmatchSession(s, dir).query(
      """SELECT oid AS a_id, sid AS b_id, _DIST AS dist_deg
        |FROM orders_sky, supplier_sky(outer, nmax=1)
        |ORDER BY a_id""".stripMargin)
  }

  /** Write-once survey db in FULL LSD shape: detections as a
    * DIRECTORY cell layout (bounds prune `cell=` dirs) and objects as
    * a CLUSTERED MARGIN layout (declared xmatches route shuffle-free)
    * — the two write-time layouts an LSD database kept, plus the
    * relation declared in `_JOINS`. Keyed on the whole sf dir
    * fingerprint (two source tables — the ensureQlSurveyDb rule). */
  private[graft] def ensureQlSurveyMarginDb(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    ensureDb("graft_ql_survey_mdb", dir)(
      ("detections",
        pq(p => graft.sources.SpatialWriter.spatialMeta(s, p).isDefined),
        p => graft.sources.SpatialWriter.write(
          skyDetections(s, dir), "lon", "lat", skyLayoutLevel, p)),
      ("objects",
        pq(p => graft.sources.SpatialWriter.marginMeta(s, p).isDefined),
        p => graft.sources.SpatialWriter.writeClustered(
          skyFrom(LsdDb.table(s, dir, "supplier"), "s_suppkey",
            "obj_id", "olon", "olat"),
          "olon", "olat", skyLayoutLevel, p, margin = Some(1.0)))
    )(root => graft.ql.JoinRegistry.declareSpatial(s, root,
      graft.ql.SpatialJoinDef("detections", "id", "lon", "lat",
        "objects", "obj_id", "olon", "olat",
        radiusDeg = 0.2468, nmax = 1, snapD6 = true)))

  /** J6h/QL — THE FULL LSD UX IN ONE ORACLE-GATED QUERY: a cone-
    * bounded survey aggregation over a STORED database whose
    * detection table is a directory cell layout (the bound prunes
    * `cell=` dirs) and whose object catalog carries the WRITE-TIME
    * neighbor cache (the declared xmatch routes through the margin
    * cache — no query-time explode, no shuffle of the catalog). This
    * is q_ql_survey's composition upgraded to the stored-margin-db
    * substrate: `db.query("SELECT … FROM dets, objs …", bounds=…)`
    * where BOTH of LSD's write-time tricks are live in one plan.
    * Constants differ from every sibling (cone, radius) so the lines
    * cannot mask each other. */
  val qQlSurveyMargin: QuerySpec = QuerySpec(
    "q_ql_survey_margin",
    s"""WITH d AS (SELECT ${skySqlCols("event_id", "id", "lon", "lat")}
       |  FROM events),
       |bd AS (SELECT id, lon, lat FROM d
       |  WHERE ${D.d6(havSqlAB("8.7654", "(-25.4321)", "lon", "lat"))}
       |    <= 9.3456),
       |o AS (SELECT ${skySqlCols("s_suppkey", "obj_id", "olon", "olat")}
       |  FROM supplier),
       |p AS (SELECT bd.id, o.obj_id,
       |    ${D.d6(havSqlAB("lon", "lat", "olon", "olat"))} AS dist_deg
       |  FROM bd CROSS JOIN o),
       |m AS (SELECT id, obj_id, dist_deg FROM (
       |    SELECT id, obj_id, dist_deg,
       |      row_number() OVER (PARTITION BY id
       |                         ORDER BY dist_deg, obj_id) AS rn
       |    FROM p WHERE dist_deg <= 0.2468)
       |  WHERE rn = 1)
       |SELECT obj_id, count(*) AS n_det,
       |  ${D.davg("dist_deg")} AS mean_dist,
       |  min(dist_deg) AS best_dist
       |FROM m GROUP BY obj_id ORDER BY obj_id""".stripMargin) { (s, dir) =>
    val root = ensureQlSurveyMarginDb(s, dir)
    graft.ql.LsdQL.forDb(graft.LsdDb(s, root)).query(
      s"""SELECT obj_id, count(*) AS n_det,
         |  ${D.davg("_DIST")} AS mean_dist,
         |  min(_DIST) AS best_dist
         |FROM detections, objects
         |GROUP BY obj_id ORDER BY obj_id""".stripMargin,
      graft.spatial.Bounds.Cone(8.7654, -25.4321, 9.3456))
  }

  /** Write-once db whose matched catalog is a STORED MARGIN LAYOUT —
    * the substrate for q_ql_xmatch_margin: supplier_sky written via
    * `SpatialWriter.writeClustered(margin = Some(1.0))` (primaries +
    * write-time neighbor replicas, `_MARGIN` sidecar), orders_sky a
    * plain catalog, and the radius relation DECLARED in the db's
    * `_JOINS` registry — so the query surface is exactly the
    * reference's stored-database flow: run lsd-xmatch once, then
    * every `FROM a, b` just works, and works SHUFFLE-FREE on the
    * stored catalog. Level is the coarse skyLayoutLevel (4): well
    * under levelFor's bound for this radius, and clustered-plain
    * parquet (cell as a data column) because the join consumes cell
    * as an equi key — the directory-per-cell form pays listing
    * overhead for pruning this query never does. */
  private[graft] def ensureQlMarginDb(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    ensureDb("graft_ql_margin_db", dir)(
      ("orders_sky", pq(),
        p => skyFrom(LsdDb.table(s, dir, "orders"), "o_orderkey",
          "oid", "olon", "olat").write.mode("overwrite").parquet(p)),
      ("supplier_sky",
        pq(p => graft.sources.SpatialWriter.marginMeta(s, p).isDefined),
        p => graft.sources.SpatialWriter.writeClustered(
          skyFrom(LsdDb.table(s, dir, "supplier"), "s_suppkey",
            "sid", "slon", "slat"),
          "slon", "slat", skyLayoutLevel, p, margin = Some(1.0)))
    )(root => graft.ql.JoinRegistry.declareSpatial(s, root,
      graft.ql.SpatialJoinDef("orders_sky", "oid", "olon", "olat",
        "supplier_sky", "sid", "slon", "slat",
        radiusDeg = 0.7939, nmax = 2, snapD6 = true)))

  /** J6/QL(margin) — the DECLARED QL xmatch routed through the STORED
    * margin cache: `FROM orders_sky, supplier_sky` where supplier_sky
    * is a `SpatialWriter(margin=…)` layout, so the lowering
    * (LsdQL margin route) joins the driving rows straight against the
    * stored primaries+replicas — NO query-time neighbor explode and
    * NO shuffle of the stored catalog (the write-time replication IS
    * the shuffle, paid once; LSD's signature economics, SURVEY §1.1
    * neighbor cache, UNVERIFIED). The oracle recomputes the full
    * snapped relation from the raw tables, so a silent fallback to
    * the blocking path would still be correct — the PLAN is pinned in
    * PlanQualitySpec (margin scan present, no Generate/explode, no
    * exchange under the corpus scan) so the route itself is tested. */
  val qQlXmatchMargin: QuerySpec = QuerySpec(
    "q_ql_xmatch_margin",
    s"""$qlXmatchPairsSql
       |SELECT a_id, b_id, dist_deg, CAST(rn AS INT) AS match_rank FROM (
       |  SELECT a_id, b_id, dist_deg,
       |    row_number() OVER (PARTITION BY a_id
       |                       ORDER BY dist_deg, b_id) AS rn
       |  FROM p WHERE dist_deg <= 0.7939)
       |WHERE rn <= 2 ORDER BY a_id, match_rank""".stripMargin) { (s, dir) =>
    val root = ensureQlMarginDb(s, dir)
    // registry-declared relation: forDb loads _JOINS, so the query
    // text carries no join declaration at all — the stored-db UX
    graft.ql.LsdQL.forDb(graft.LsdDb(s, root)).query(
      """SELECT oid AS a_id, sid AS b_id, _DIST AS dist_deg,
        |  _NR AS match_rank
        |FROM orders_sky, supplier_sky
        |ORDER BY a_id, match_rank""".stripMargin)
  }

  /** Write-once db whose OBJECT catalog is a LIVE snapshot table (two
    * committed appends — the nightly-ingest shape) carrying a
    * point-in-time margin cache stamped at its head
    * (`MarginCache.build --from-snapshot`, the r19 verdict's top
    * item): the continuously-updated table the reference built
    * neighbor caches for, taking the shuffle-free route between
    * refreshes. The driving table is the customer sky projection
    * (distinct from every sibling's orders/events driving sets). */
  private[graft] def ensureQlSnapMarginDb(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    ensureDb("graft_ql_snapmdb", dir)(
      ("dets", pq(),
        p => skyFrom(LsdDb.table(s, dir, "customer"), "c_custkey",
          "cid", "clon", "clat").write.mode("overwrite").parquet(p)),
      ("objects",
        // a snapshot table's commit log IS its completion protocol
        // (torn writes are invisible); exactly 2 committed appends
        p => graft.sources.Snapshots.entries(s, p).length == 2,
        p => {
          val fs = org.apache.hadoop.fs.FileSystem.get(
            new java.net.URI(p), s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(p), true)
          val objs = skyFrom(LsdDb.table(s, dir, "supplier"),
            "s_suppkey", "obj_id", "olon", "olat")
          graft.sources.Snapshots.append(
            objs.filter(col("obj_id") % 3 === 0), p)
          graft.sources.Snapshots.append(
            objs.filter(col("obj_id") % 3 =!= 0), p)
        }),
      ("_margincache/objects",
        p => graft.sources.CacheKeys.isComplete(p) &&
          graft.sources.SpatialWriter.marginSourceSnap(s, p)
            .contains(2L),
        // the db root is the path minus the cache suffix — re-deriving
        // it via CacheKeys.path would re-digest the (mtime-sensitive)
        // source dir and could diverge from the root whose
        // completeness was just checked (review r20)
        p => graft.sources.MarginCache.build(s,
          p.stripSuffix(s"/${graft.sources.MarginCache.CacheDir}" +
            "/objects.parquet"),
          "objects", "olon", "olat", skyLayoutLevel, 1.0,
          clustered = true, fromSnapshot = Some(None)))
    )(root => graft.ql.JoinRegistry.declareSpatial(s, root,
      graft.ql.SpatialJoinDef("dets", "cid", "clon", "clat",
        "objects", "obj_id", "olon", "olat",
        radiusDeg = 0.6827, nmax = 1, snapD6 = true)))

  /** J6s/QL — THE LIVE-CATALOG MARGIN ROUTE, oracle-gated: the object
    * catalog is a SNAPSHOT table (two committed appends), its margin
    * cache a point-in-time materialization stamped snap=2, and the
    * declared `FROM dets, objects` routes through the cache — the
    * reference's workflow for a nightly-updated object catalog (build
    * the cache once per refresh, every query between refreshes is
    * shuffle-free; SURVEY §1.1, UNVERIFIED). The oracle recomputes the
    * snapped relation from the RAW customer/supplier tables — equal to
    * the snapshot head because the two appends partition the supplier
    * rows — so a silent fallback would still be correct; the ROUTE is
    * pinned in PlanQualitySpec, and staleness behavior is spec'd in
    * CliSpec (commit past the stamp → loud blocking fallback). */
  val qQlSnapshotMargin: QuerySpec = QuerySpec(
    "q_ql_snapshot_margin",
    s"""WITH a AS (SELECT ${skySqlCols("c_custkey", "a_id", "a_lon",
          "a_lat")}
       |  FROM customer),
       |b AS (SELECT ${skySqlCols("s_suppkey", "b_id", "b_lon", "b_lat")}
       |  FROM supplier),
       |p AS (SELECT a_id, b_id,
       |    ${D.d6(havSqlAB("a_lon", "a_lat", "b_lon", "b_lat"))}
       |      AS dist_deg
       |  FROM a CROSS JOIN b)
       |SELECT a_id, b_id, dist_deg FROM (
       |  SELECT a_id, b_id, dist_deg,
       |    row_number() OVER (PARTITION BY a_id
       |                       ORDER BY dist_deg, b_id) AS rn
       |  FROM p WHERE dist_deg <= 0.6827)
       |WHERE rn = 1 ORDER BY a_id""".stripMargin) { (s, dir) =>
    val root = ensureQlSnapMarginDb(s, dir)
    graft.ql.LsdQL.forDb(graft.LsdDb(s, root)).query(
      """SELECT cid AS a_id, obj_id AS b_id, _DIST AS dist_deg
        |FROM dets, objects
        |ORDER BY a_id""".stripMargin)
  }

  /** SC2e — rectangle footprint WRAPPING through lon=0 (the case that
    * breaks naive BETWEEN filters): pure comparisons on exact doubles,
    * wraparound handled by Footprint.rect's disjunction; bounds use
    * off-grid decimals so no synthetic-sky point sits on an edge. */
  val qFootprintRect: QuerySpec = QuerySpec(
    "q_footprint_rect",
    """WITH c AS (SELECT c_custkey AS id,
      |    CAST(c_custkey * 13 % 3600 AS DOUBLE) / 10.0 AS lon,
      |    CAST(c_custkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS lat
      |  FROM customer)
      |SELECT id, lon, lat FROM c
      |WHERE (lon >= 350.0037 OR lon <= 10.0093)
      |  AND lat >= -20.0041 AND lat <= 5.0067
      |ORDER BY id""".stripMargin) { (s, dir) =>
    skyFrom(LsdDb.table(s, dir, "customer"), "c_custkey", "id", "lon", "lat")
      .filter(graft.spatial.Footprint.rect(col("lon"), col("lat"),
        350.0037, 10.0093, -20.0041, 5.0067))
      .orderBy("id")
  }

  private val havSql =
    "degrees(2 * asin(sqrt(" +
      "sin(radians(b_lat - a_lat) / 2) * sin(radians(b_lat - a_lat) / 2)" +
      " + cos(radians(a_lat)) * cos(radians(b_lat))" +
      " * sin(radians(b_lon - a_lon) / 2)" +
      " * sin(radians(b_lon - a_lon) / 2))))"

  /** J6c — the DECLARATIVE cross-match: the query is written as the
    * naive `crossJoin + skyDist <= r` a user would type, and the
    * [[graft.plans.AutoSpatialJoin]] optimizer rule (enabled on the
    * session) rewrites it into the cell-blocked plan — LSD's "write
    * WHERE dist < r, get a survey-scale join" UX, oracle-checked.
    * Boundary determinism: the marker filter blocks at radius 1.0 (a
    * superset) and the d6-snapped cut at 0.95 decides membership, so
    * engine libm ulps can't flip a row (same discipline as q_xmatch).
    */
  val qXmatchAuto: QuerySpec = QuerySpec(
    "q_xmatch_auto",
    s"""WITH a AS (SELECT o_orderkey AS a_id,
       |    CAST(o_orderkey * 13 % 3600 AS DOUBLE) / 10.0 AS a_lon,
       |    CAST(o_orderkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS a_lat
       |  FROM orders),
       |b AS (SELECT s_suppkey AS b_id,
       |    CAST(s_suppkey * 13 % 3600 AS DOUBLE) / 10.0 AS b_lon,
       |    CAST(s_suppkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS b_lat
       |  FROM supplier)
       |SELECT a_id, b_id, ${D.d6(havSql)} AS dist_deg
       |FROM a CROSS JOIN b
       |WHERE $havSql <= 1.0 AND ${D.d6(havSql)} <= 0.95
       |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
    if (!s.experimental.extraOptimizations.contains(
      graft.plans.AutoSpatialJoin))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.AutoSpatialJoin
    val a = skyFrom(LsdDb.table(s, dir, "orders"), "o_orderkey",
      "a_id", "a_lon", "a_lat")
    val b = skyFrom(LsdDb.table(s, dir, "supplier"), "s_suppkey",
      "b_id", "b_lon", "b_lat")
    val d = graft.plans.sky.skyDist(col("a_lon"), col("a_lat"),
      col("b_lon"), col("b_lat"))
    a.crossJoin(b)
      .where(d <= 1.0 && Det.d6(d) <= 0.95)
      .select(col("a_id"), col("b_id"), Det.d6(d).as("dist_deg"))
      .orderBy("a_id", "b_id")
  }

  /** J6d — TEMPORAL cross-match: pairs within BOTH a sky radius and a
    * time window — the query shape LSD's per-epoch temporal sub-cells
    * existed for (SURVEY §1.1: each spatial cell splits into MJD
    * ranges). Blocking is the (sky × time) product grid — and the
    * REPLICATION RIDES THE SMALL SIDE: the bounded probe batch A
    * explodes to (strip-pruned neighbor cells of a) × (bucket−1,
    * bucket, bucket+1) and is broadcast (~9× of 500 rows); the corpus
    * B is keyed by its ONE (home cell, own day-bucket) and never
    * replicates, never shuffles — a pure map-side pass no matter the
    * corpus size. Coverage: a pair within 0.95° puts b's home cell
    * inside a's strip-pruned neighbor set (the strip bounds are
    * point-to-boundary distances, valid from either side), and
    * |Δt| ≤ W with bucket width W means bucket indices differ by ≤1.
    * Each qualifying pair meets on EXACTLY one key — B has one key
    * and A's replicas are pairwise distinct — so no dedup pass
    * exists, the same disjointness discipline as the cap channel.
    * Refines are exact: d6-snapped great-circle ≤ 0.95° and an
    * integer microsecond |Δt| ≤ 7 days. Probe side restricted to event_id < 500 so the
    * DuckDB oracle's cross join stays feasible; the Spark plan never
    * builds that product. */
  val qXmatchTemporal: QuerySpec = QuerySpec(
    "q_xmatch_temporal",
    s"""WITH e AS (SELECT event_id AS id,
       |    CAST(event_id * 13 % 720 AS DOUBLE) / 2.0 AS lon,
       |    CAST(event_id * 7 % 120 AS DOUBLE) / 2.0 - 30.0 AS lat,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus
       |  FROM events),
       |a AS (SELECT * FROM e WHERE id < 500),
       |p AS (SELECT a.id AS a_id, b.id AS b_id,
       |    ${D.d6(
          "degrees(2 * asin(sqrt(" +
            "sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)" +
            " + cos(radians(a.lat)) * cos(radians(b.lat))" +
            " * sin(radians(b.lon - a.lon) / 2)" +
            " * sin(radians(b.lon - a.lon) / 2))))")} AS dist_deg,
       |    b.tus - a.tus AS dt_us
       |  FROM a CROSS JOIN e b WHERE a.id <> b.id)
       |SELECT a_id, b_id, dist_deg, dt_us FROM p
       |WHERE dist_deg <= 0.95 AND abs(dt_us) <= 604800000000
       |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
    val winUs = 604800000000L // 7 days: bucket width == window width
    val e = LsdDb.table(s, dir, "events")
      .select(col("event_id").as("id"),
        ((col("event_id") * 13) % 720).cast(DoubleType)./(2.0).as("lon"),
        (((col("event_id") * 7) % 120).cast(DoubleType) / 2.0 - 30.0)
          .as("lat"),
        unix_micros(col("ts")).as("tus"))
    val level = graft.spatial.CrossMatch.levelFor(0.95, 31.0)
    val a = e.filter(col("id") < 500)
      .select(col("id").as("a_id"), col("lon").as("a_lon"),
        col("lat").as("a_lat"), col("tus").as("a_tus"))
      .withColumn("cell", explode(graft.spatial.SkyPix
        .neighborCellsWithin(col("a_lon"), col("a_lat"), level, 0.95)))
      .withColumn("a0", floor(col("a_tus") / winUs))
      .withColumn("bucket",
        explode(array(col("a0") - 1, col("a0"), col("a0") + 1)))
      .drop("a0")
    val b = e
      .select(col("id").as("b_id"), col("lon").as("b_lon"),
        col("lat").as("b_lat"), col("tus").as("b_tus"))
      .withColumn("cell",
        graft.spatial.SkyPix.cell(col("b_lon"), col("b_lat"), level))
      .withColumn("bucket", floor(col("b_tus") / winUs))
    // the probe batch is bounded (id < 500) → IT carries the ~9×
    // cell×bucket replication and is broadcast; the corpus side keeps
    // one key per row and never shuffles: one map-side pass
    broadcast(a).join(b, Seq("cell", "bucket"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("dist_deg", Det.d6(graft.spatial.CrossMatch.distDeg(
        col("a_lon"), col("a_lat"), col("b_lon"), col("b_lat"))))
      .filter(col("dist_deg") <= 0.95 &&
        abs(col("b_tus") - col("a_tus")) <= winUs)
      .select(col("a_id"), col("b_id"), col("dist_deg"),
        (col("b_tus") - col("a_tus")).as("dt_us"))
      .orderBy("a_id", "b_id")
  }

  /** Write-once bucketed twins of customer/orders: 8 buckets on the
    * join key, bucket-sorted. The bucket layout IS the shuffle, paid
    * once at write time — every later join or aggregation keyed on
    * custkey reads co-located buckets and plans ZERO exchanges. The
    * data lands once per source fingerprint (CacheKeys); the
    * in-memory catalog entry is re-registered per JVM by rewriting
    * (cheap at dim-table size; on a real cluster the metastore
    * persists and this is write-once, full stop). */
  def ensureBucketedTables(s: org.apache.spark.sql.SparkSession,
                           dir: String): (String, String) = synchronized {
    val cPath = graft.sources.CacheKeys.path(
      "graft_bucket_customer", s"$dir/customer.parquet")
    val oPath = graft.sources.CacheKeys.path(
      "graft_bucket_orders", s"$dir/orders.parquet")
    val suffix = cPath.takeRight(16)
    val (cName, oName) =
      (s"graft_b_customer_$suffix", s"graft_b_orders_$suffix")
    if (!s.catalog.tableExists(cName))
      LsdDb.table(s, dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment")
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", cPath).mode("overwrite").saveAsTable(cName)
    if (!s.catalog.tableExists(oName))
      LsdDb.table(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", oPath).mode("overwrite").saveAsTable(oName)
    (cName, oName)
  }

  /** J1b — co-located join on pre-bucketed tables: both sides were
    * written `bucketBy(8, custkey)`, so the sort-merge join consumes
    * the buckets' hash partitioning directly and the follow-on
    * per-customer aggregate reuses it too — the whole join+agg plans
    * zero data exchanges (pinned; only the presentation sort
    * shuffles). This is the physical-design answer for a join too big
    * to broadcast at 100 TB: pay the shuffle once in the layout, not
    * in every query. */
  val qJoinBucketed: QuerySpec = QuerySpec(
    "q_join_bucketed",
    s"""SELECT c_custkey, count(*) AS n_orders,
       |  ${D.dsum("o_totalprice")} AS total
       |FROM customer JOIN orders ON o_custkey = c_custkey
       |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val (cName, oName) = ensureBucketedTables(s, dir)
    s.table(cName).hint("merge")
      .join(s.table(oName), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey")
      .agg(count(lit(1)).as("n_orders"),
        Det.dsum(col("o_totalprice")).as("total"))
      .orderBy("c_custkey")
  }

  /** J8 — TWO-TABLE backward as-of join (the "latest calibration ≤ t"
    * join): each event picks the user's most recent order at or
    * before the event time. Implemented as the UNION-WINDOW shape —
    * tag both streams, one shuffle on the key, one ordered scan with
    * last(...) IGNORE NULLS — never a per-row subquery or range
    * cross-product: at 100 TB the cost is one sort of |events|+|orders|
    * per key partition, and the same plan serves any asof direction
    * by flipping the frame. Tie policy: at equal t the order row
    * sorts BEFORE the event (src 0 < 1 → "at or before" inclusive),
    * equal-t orders resolve to the max key (last in (t, src, key)
    * order). Events before any order keep NULL (tested path). Order
    * times are synthesized onto the events' January-2024 axis
    * (integer-hour arithmetic — exact in both engines); o_orderdate
    * itself lies decades earlier, which would make every as-of
    * degenerate. */
  val qAsofJoin: QuerySpec = QuerySpec(
    "q_asof_join",
    """WITH o AS (SELECT o_custkey % 150 AS u,
      |    TIMESTAMP '2024-01-01 00:00:00'
      |      + INTERVAL (o_orderkey % 720) HOUR AS t,
      |    o_orderkey AS k
      |  FROM orders),
      |e AS (SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS t, event_id
      |  FROM events),
      |un AS (
      |  SELECT u, t, 0 AS src, k, CAST(NULL AS BIGINT) AS event_id FROM o
      |  UNION ALL
      |  SELECT u, t, 1 AS src, CAST(NULL AS BIGINT) AS k, event_id FROM e),
      |w AS (SELECT u, t, src, event_id,
      |    last_value(CASE WHEN src = 0 THEN k END IGNORE NULLS) OVER win
      |      AS asof_orderkey,
      |    last_value(CASE WHEN src = 0 THEN t END IGNORE NULLS) OVER win
      |      AS asof_order_t
      |  FROM un
      |  WINDOW win AS (PARTITION BY u ORDER BY t, src, COALESCE(k, event_id)
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, u AS user_id, asof_orderkey, asof_order_t
      |FROM w WHERE src = 1 ORDER BY event_id""".stripMargin) { (s, dir) =>
    val o = LsdDb.table(s, dir, "orders").select(
      (col("o_custkey") % 150).as("u"),
      expr("timestamp'2024-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, 0, cast(o_orderkey % 720 as int), 0, 0)")
        .as("t"),
      col("o_orderkey").as("k"),
      lit(0).as("src"),
      lit(null).cast("long").as("event_id"))
    val e = LsdDb.table(s, dir, "events").select(
      col("user_id").as("u"), col("ts").as("t"),
      lit(null).cast("long").as("k"),
      lit(1).as("src"), col("event_id"))
    val win = Window.partitionBy("u")
      .orderBy(col("t"), col("src"), coalesce(col("k"), col("event_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select("u", "t", "src", "k", "event_id")
      .unionByName(e.select("u", "t", "src", "k", "event_id"))
      .withColumn("asof_orderkey",
        last(when(col("src") === 0, col("k")), ignoreNulls = true).over(win))
      .withColumn("asof_order_t",
        last(when(col("src") === 0, col("t")), ignoreNulls = true).over(win))
      .filter(col("src") === 1)
      .select(col("event_id"), col("u").as("user_id"),
        col("asof_orderkey"), col("asof_order_t"))
      .orderBy("event_id")
  }

  /** J6i — OUTER spatial cross-match: EVERY source row survives,
    * carrying its nearest counterpart ≤ 0.95° (deterministic
    * (dist, id) tie-break) or NULLs when isolated — the "augment the
    * catalog, lose nothing" form that completes the family (q_xmatch
    * inner-nearest, q_xmatch_anti complement, this one their union).
    * The reference's xmatch exposed exactly this outer mode
    * (SURVEY.md §2C J6, UNVERIFIED).
    *
    * Plan: the nearest-match relation comes from the same cell-
    * blocked candidate join as q_xmatch (never a cartesian; the
    * oracle pays the true cross-join price), reduced to one row per
    * matched source by a partial WindowGroupLimit; the outer join
    * back to the source is a plain left join on the source key —
    * at 100 TB both sides of that join are keyed on the same id, and
    * the match relation is ≤ the source in rows. */
  val qXmatchOuter: QuerySpec = QuerySpec(
    "q_xmatch_outer",
    s"""WITH a AS (SELECT o_orderkey AS a_id,
       |    CAST(o_orderkey * 13 % 3600 AS DOUBLE) / 10.0 AS a_lon,
       |    CAST(o_orderkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS a_lat
       |  FROM orders),
       |b AS (SELECT s_suppkey AS b_id,
       |    CAST(s_suppkey * 13 % 3600 AS DOUBLE) / 10.0 AS b_lon,
       |    CAST(s_suppkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS b_lat
       |  FROM supplier),
       |p AS (SELECT a_id, b_id,
       |    ${D.d6(
          "degrees(2 * asin(sqrt(" +
            "sin(radians(b_lat - a_lat) / 2) * sin(radians(b_lat - a_lat) / 2)" +
            " + cos(radians(a_lat)) * cos(radians(b_lat))" +
            " * sin(radians(b_lon - a_lon) / 2)" +
            " * sin(radians(b_lon - a_lon) / 2))))")} AS dist_deg
       |  FROM a CROSS JOIN b),
       |m AS (SELECT a_id, b_id, dist_deg FROM (
       |    SELECT a_id, b_id, dist_deg,
       |      row_number() OVER (PARTITION BY a_id
       |                         ORDER BY dist_deg, b_id) AS rn
       |    FROM p WHERE dist_deg <= 0.95)
       |  WHERE rn = 1)
       |SELECT a.a_id, a.a_lon, a.a_lat, m.b_id, m.dist_deg
       |FROM a LEFT JOIN m USING (a_id)
       |ORDER BY a_id""".stripMargin) { (s, dir) =>
    val a = skyFrom(LsdDb.table(s, dir, "orders"), "o_orderkey",
      "a_id", "a_lon", "a_lat")
    val b = skyFrom(LsdDb.table(s, dir, "supplier"), "s_suppkey",
      "b_id", "b_lon", "b_lat")
    val w = Window.partitionBy("a_id")
      .orderBy(col("dist_deg").asc, col("b_id").asc)
    val m = graft.spatial.CrossMatch
      .allPairs(a, b, "a_id", "a_lon", "a_lat", "b_id", "b_lon", "b_lat",
        1.0, capLat = xmatchCapLat)
      .withColumn("dist_deg", Det.d6(col("dist_deg")))
      .filter(col("dist_deg") <= 0.95)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("a_id", "b_id", "dist_deg")
    a.join(m, Seq("a_id"), "left")
      .select(col("a_id"), col("a_lon"), col("a_lat"),
        col("b_id"), col("dist_deg"))
      .orderBy("a_id")
  }

  /** J6j — THREE-WAY chained cross-match (the multi-survey join:
    * detections → survey-2 counterpart → survey-3 counterpart, each
    * hop nearest-within-radius): the reference's precomputed xmatch
    * tables chained across catalogs. Each hop is the standard
    * cell-blocked candidate join + WindowGroupLimit nearest-1 —
    * crucially the SECOND hop's left side is the already-matched
    * (a,b) relation (≤ |a| rows), so survey-3 blocks against a
    * relation no bigger than the first survey; no hop ever sees a
    * cartesian, and each emits one shuffle pair. The oracle pays two
    * true cross joins with nearest-by-window semantics. */
  val qXmatch3way: QuerySpec = QuerySpec(
    "q_xmatch_3way",
    s"""WITH a AS (SELECT o_orderkey AS a_id,
       |    CAST(o_orderkey * 13 % 3600 AS DOUBLE) / 10.0 AS a_lon,
       |    CAST(o_orderkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS a_lat
       |  FROM orders),
       |b AS (SELECT s_suppkey AS b_id,
       |    CAST(s_suppkey * 13 % 3600 AS DOUBLE) / 10.0 AS b_lon,
       |    CAST(s_suppkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS b_lat
       |  FROM supplier),
       |c AS (SELECT c_custkey AS c_id,
       |    CAST(c_custkey * 13 % 3600 AS DOUBLE) / 10.0 AS c_lon,
       |    CAST(c_custkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS c_lat
       |  FROM customer),
       |p1 AS (SELECT a_id, b_id, b_lon, b_lat, dist_ab FROM (
       |    SELECT a.a_id, b.b_id, b.b_lon, b.b_lat,
       |      ${D.d6(
          "degrees(2 * asin(sqrt(" +
            "sin(radians(b_lat - a_lat) / 2) * sin(radians(b_lat - a_lat) / 2)" +
            " + cos(radians(a_lat)) * cos(radians(b_lat))" +
            " * sin(radians(b_lon - a_lon) / 2)" +
            " * sin(radians(b_lon - a_lon) / 2))))")} AS dist_ab,
       |      row_number() OVER (PARTITION BY a.a_id
       |        ORDER BY ${D.d6(
          "degrees(2 * asin(sqrt(" +
            "sin(radians(b_lat - a_lat) / 2) * sin(radians(b_lat - a_lat) / 2)" +
            " + cos(radians(a_lat)) * cos(radians(b_lat))" +
            " * sin(radians(b_lon - a_lon) / 2)" +
            " * sin(radians(b_lon - a_lon) / 2))))")}, b.b_id) AS rn
       |    FROM a CROSS JOIN b) WHERE rn = 1 AND dist_ab <= 0.95),
       |p2 AS (SELECT a_id, b_id, dist_ab, c_id, dist_bc FROM (
       |    SELECT p1.a_id, p1.b_id, p1.dist_ab, c.c_id,
       |      ${D.d6(
          "degrees(2 * asin(sqrt(" +
            "sin(radians(c_lat - b_lat) / 2) * sin(radians(c_lat - b_lat) / 2)" +
            " + cos(radians(b_lat)) * cos(radians(c_lat))" +
            " * sin(radians(c_lon - b_lon) / 2)" +
            " * sin(radians(c_lon - b_lon) / 2))))")} AS dist_bc,
       |      row_number() OVER (PARTITION BY p1.a_id
       |        ORDER BY ${D.d6(
          "degrees(2 * asin(sqrt(" +
            "sin(radians(c_lat - b_lat) / 2) * sin(radians(c_lat - b_lat) / 2)" +
            " + cos(radians(b_lat)) * cos(radians(c_lat))" +
            " * sin(radians(c_lon - b_lon) / 2)" +
            " * sin(radians(c_lon - b_lon) / 2))))")}, c.c_id) AS rn
       |    FROM p1 CROSS JOIN c) WHERE rn = 1 AND dist_bc <= 0.95)
       |SELECT a_id, b_id, c_id, dist_ab, dist_bc
       |FROM p2 ORDER BY a_id""".stripMargin) { (s, dir) =>
    val a = skyFrom(LsdDb.table(s, dir, "orders"), "o_orderkey",
      "a_id", "a_lon", "a_lat")
    val b = skyFrom(LsdDb.table(s, dir, "supplier"), "s_suppkey",
      "b_id", "b_lon", "b_lat")
    val c = skyFrom(LsdDb.table(s, dir, "customer"), "c_custkey",
      "c_id", "c_lon", "c_lat")
    val w = Window.partitionBy("a_id")
      .orderBy(col("dist_deg").asc, col("b_id").asc)
    // hop 1 KEEPS the matched b coordinates (allPairsCarry keepCoords)
    // so hop 2's geometry needs no join-back onto b — and hop 2
    // CARRIES (b_id, dist_ab) through its blocked join so the final
    // output needs no join-back onto hop 1 (r22: both re-attach joins
    // of the r21 shape eliminated; same candidate sets, same window
    // rank keys ⇒ identical rows). Carried names are prefixed (hb_*)
    // because allPairsCarry reserves a_*/b_* for the hop's own sides.
    val hop1 = graft.spatial.CrossMatch
      .allPairsCarry(a, b, "a_id", "a_lon", "a_lat",
        "b_id", "b_lon", "b_lat", 1.0, capLat = xmatchCapLat,
        carryA = Nil, carryB = Nil, keepCoords = true)
      .withColumn("dist_deg", Det.d6(col("dist_deg")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("dist_deg") <= 0.95)
      .select(col("a_id"), col("b_id").as("hb_id"),
        col("dist_deg").as("hb_dist"), col("b_lon").as("hb_lon"),
        col("b_lat").as("hb_lat"))
    graft.spatial.CrossMatch
      .allPairsCarry(hop1, c, "a_id", "hb_lon", "hb_lat",
        "c_id", "c_lon", "c_lat", 1.0, capLat = xmatchCapLat,
        carryA = Seq("hb_id", "hb_dist"), carryB = Nil,
        keepCoords = false)
      .withColumn("dist_deg", Det.d6(col("dist_deg")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("dist_deg") <= 0.95)
      .select(col("a_id"), col("hb_id").as("b_id"),
        col("b_id").as("c_id"), col("hb_dist").as("dist_ab"),
        col("dist_deg").as("dist_bc"))
      .orderBy("a_id")
  }

  /** J5b — INTERVAL OVERLAP join (temporal): which user sessions
    * intersect which maintenance windows, with the exact overlap
    * duration. The second classic non-equi shape next to the banded
    * scalar-in-interval join (q_join_range): interval × interval,
    * `w_start < s_end AND s_start < w_end`.
    *
    * Relations: sessions from the native session_window gap logic
    * (the q_window_session machinery, 30-min gap, end = last + gap);
    * maintenance windows synthesized deterministically from order
    * keys (start minute = key·9973 mod 30 days, length 30–389 min) —
    * integer-minute timestamp arithmetic, exact on both engines.
    *
    * Scale shape: NO theta join. Windows are ≤ 390 min < 1 day, so
    * each window registers in ONE day bucket and each session probes
    * its covered days plus one predecessor — any overlapping pair
    * provably shares a probed bucket (w_start ∈ (s_start − len,
    * s_end) ⊆ the probed day span), each pair meets at most once (a
    * window lives in exactly one bucket — no post-join distinct),
    * and candidates scale with windows-per-day × session-days, not
    * |sessions|×|windows|. The overlap length is pure BIGINT µs
    * arithmetic — no float anywhere. */
  val qJoinInterval: QuerySpec = QuerySpec(
    "q_join_interval",
    s"""WITH e AS (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu FROM events),
       |flagged AS (
       |  SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
       |                   OR tsu - lag(tsu) OVER w >= INTERVAL 30 MINUTE
       |            THEN 1 ELSE 0 END AS new_session
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
       |numbered AS (
       |  SELECT *, sum(new_session)
       |    OVER (PARTITION BY user_id ORDER BY tsu, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM flagged),
       |sessions AS (
       |  SELECT user_id, min(tsu) AS s_start,
       |    max(tsu) + INTERVAL 30 MINUTE AS s_end
       |  FROM numbered GROUP BY user_id, sid),
       |win AS (
       |  SELECT o_orderkey AS w_id,
       |    TIMESTAMP '2024-01-01 00:00:00'
       |      + (o_orderkey * 9973 % 43200) * INTERVAL '1 minute' AS w_start,
       |    TIMESTAMP '2024-01-01 00:00:00'
       |      + (o_orderkey * 9973 % 43200 + o_orderkey % 360 + 30)
       |        * INTERVAL '1 minute' AS w_end
       |  FROM orders WHERE o_orderkey <= 500)
       |SELECT s.user_id, s.s_start AS session_start, w.w_id,
       |  epoch_us(least(s.s_end, w.w_end))
       |    - epoch_us(greatest(s.s_start, w.w_start)) AS overlap_us
       |FROM sessions s JOIN win w
       |  ON w.w_start < s.s_end AND s.s_start < w.w_end
       |ORDER BY user_id, session_start, w_id""".stripMargin) { (s, dir) =>
    val dayUs = 86400000000L
    val sess = LsdDb.table(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"),
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"))
    val t0 = lit("2024-01-01 00:00:00").cast("timestamp")
    val win = LsdDb.table(s, dir, "orders")
      .filter(col("o_orderkey") <= 500)
      .select(col("o_orderkey").as("w_id"),
        timestamp_add("MINUTE",
          ((col("o_orderkey") * 9973) % 43200).cast("int"), t0).as("w_start"),
        timestamp_add("MINUTE",
          ((col("o_orderkey") * 9973) % 43200 + col("o_orderkey") % 360
            + 30).cast("int"), t0).as("w_end"))
      .withColumn("bucket", floor(unix_micros(col("w_start")) / dayUs))
    val sb = sess.withColumn("bucket", explode(sequence(
      floor(unix_micros(col("s_start")) / dayUs) - 1,
      floor(unix_micros(col("s_end")) / dayUs))))
    sb.join(win, "bucket")
      .filter(col("w_start") < col("s_end") &&
        col("s_start") < col("w_end"))
      .select(col("user_id"), col("s_start").as("session_start"),
        col("w_id"),
        (unix_micros(least(col("s_end"), col("w_end"))) -
          unix_micros(greatest(col("s_start"), col("w_start"))))
          .as("overlap_us"))
      .orderBy("user_id", "session_start", "w_id")
  }

  def specs: Seq[QuerySpec] = Seq(qJoinInner, qJoinLeft, qJoinMulti,
    qJoinSemi, qJoinAnti, qJoinBloom, qJoinRange, qJoinInterval,
    qAsofNearest, qAsofJoin, qJoinSelf,
    qScalarSubq, qJoinBucketed, qXmatch, qXmatchAnti, qXmatchOuter,
    qXmatch3way, qXmatchMargin, qXmatchAuto, qXmatchTemporal,
    qFootprintPolygon, qFootprintCells, qFootprintCone, qFootprintRect,
    qQlBounds, qQlBoundsRect, qQlBoundsPoly, qQlBoundsPair,
    qQlXmatch, qQlXmatchOuter, qQlXmatchDmax, qQlXmatchMargin, qQlSurvey,
    qQlSurveyMargin, qQlSnapshotMargin)
}
