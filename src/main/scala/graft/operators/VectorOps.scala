package graft.operators

import graft.{LsdDb, QuerySpec}
import graft.functions.{Det, Haversine, VectorKernels}
import graft.functions.Det.{sql => D}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType}

/** §2H — vector similarity over the `embeddings` table (north-star
  * extension; the reference's closest analog is its spatial
  * nearest-neighbor xmatch, which is the same probe-vs-corpus shape
  * in 2-D).
  *
  * The cosine kernel is a higher-order-function fold in double —
  * identical sequential fold order in Spark and DuckDB, so scores are
  * bit-identical and oracle-checkable with raw equality.
  *
  * Scale path: the probe side is small and broadcast, so the score
  * pass is a map-only scan of the corpus (no shuffle); top-k is a
  * window over probe_id. For corpus×corpus at 100 TB you'd block
  * first (LSH buckets — see TextOps minhash — or IVF coarse cells),
  * which turns the cross product into an equi-join, same as the
  * banded range join in Joins.
  */
object VectorOps {

  /** raw float vectors + precomputed squared norm (codegen'd fold). */
  private def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", VectorKernels.norm2(col("v")))

  private def cosine(pv: Column, cv: Column, pn: Column, cn: Column): Column =
    VectorKernels.cosine(VectorKernels.dot(pv, cv), pn, cn)

  private[operators] val normSql =
    "list_reduce(list_transform(vv, x -> x * x), (a, b) -> a + b)"
  private[operators] def cosineSql(p: String, c: String): String =
    s"list_reduce(list_transform(list_zip($p.vv, $c.vv), " +
      s"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)" +
      s" / (sqrt($p.nrm) * sqrt($c.nrm))"

  private val vvCte =
    """WITH v AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      |  FROM embeddings),
      |n AS (SELECT vec_id, vv, """.stripMargin + normSql + " AS nrm FROM v)"

  /** X1 — brute-force cosine top-k: 10 probes against the corpus. */
  val qCosineTopk: QuerySpec = QuerySpec(
    "q_cosine_topk",
    s"""$vvCte,
       |pairs AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
       |    ${cosineSql("p", "c")} AS cos
       |  FROM n p JOIN n c ON c.vec_id <> p.vec_id
       |  WHERE p.vec_id < 10)
       |SELECT probe_id, vec_id, cos, rn FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
       |            ORDER BY cos DESC, vec_id) AS INT) AS rn
       |  FROM pairs)
       |WHERE rn <= 5 ORDER BY probe_id, rn""".stripMargin) { (s, dir) =>
    val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
    val probes = broadcast(emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn")))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc,
      col("vec_id").asc)
    probes.join(emb, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosine(col("pv"), col("v"), col("pn"), col("nrm")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .orderBy("probe_id", "rn")
  }

  /** Ext — embedding near-dup: dedup an incoming batch (vec_id<200)
    * against the corpus by cosine threshold; broadcast batch → the
    * corpus pass is shuffle-free. */
  val qDedupEmbcos: QuerySpec = QuerySpec(
    "q_dedup_embcos",
    s"""$vvCte
       |SELECT p.vec_id AS batch_id, c.vec_id AS corpus_id,
       |  ${cosineSql("p", "c")} AS cos
       |FROM n p JOIN n c ON c.vec_id >= 200
       |WHERE p.vec_id < 200
       |  AND ${cosineSql("p", "c")} >= 0.4
       |ORDER BY batch_id, corpus_id""".stripMargin) { (s, dir) =>
    val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
    val batch = broadcast(emb.filter(col("vec_id") < 200)
      .select(col("vec_id").as("batch_id"), col("v").as("pv"),
        col("nrm").as("pn")))
    val corpus = emb.filter(col("vec_id") >= 200)
      .select(col("vec_id").as("corpus_id"), col("v"), col("nrm"))
    batch.crossJoin(corpus)
      .select(col("batch_id"), col("corpus_id"),
        cosine(col("pv"), col("v"), col("pn"), col("nrm")).as("cos"))
      .filter(col("cos") >= 0.4)
      .orderBy("batch_id", "corpus_id")
  }

  /** X4 — Scala UDF surface: haversine distance from event-derived
    * coordinates to a fixed point. Trig differs from DuckDB's libm in
    * the last ulp → snapped to the 1e-6 grid (Det.d6). */
  val qUdfHaversine: QuerySpec = QuerySpec(
    "q_udf_haversine",
    s"""SELECT event_id,
       |  ${D.d6(
        "2 * 6371.0 * asin(sqrt(" +
          "sin(radians(10.0 - (value / 4 - 40)) / 2)" +
          " * sin(radians(10.0 - (value / 4 - 40)) / 2)" +
          " + cos(radians(value / 4 - 40)) * cos(radians(10.0))" +
          " * sin(radians(20.0 - (CAST(user_id AS DOUBLE) * 12 - 90)) / 2)" +
          " * sin(radians(20.0 - (CAST(user_id AS DOUBLE) * 12 - 90)) / 2)))")}
       |    AS dist_km
       |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    val lat1 = col("value") / 4 - 40
    val lon1 = col("user_id").cast(DoubleType) * 12 - 90
    LsdDb.table(s, dir, "events")
      .select(col("event_id"),
        Det.d6(Haversine.udfKm(lat1, lon1, lit(10.0), lit(20.0)))
          .as("dist_km"))
      .orderBy("event_id")
  }

  /** X1b — IVF-bucketed approximate nearest neighbor: the scale path
    * for similarity search (vector/AnnIndex.scala is the library
    * form; this is the oracle-checkable fixed-centroid variant).
    *
    * Vectors 0..7 are the coarse centroids (deterministic "training"),
    * 8..17 the probe batch, the rest the corpus. Every corpus vector
    * is assigned to its nearest centroid (map-only: centroids
    * broadcast); each probe searches only its nprobe=2 nearest
    * buckets, so the probe-corpus pairing is an equi-join on cent_id
    * instead of a cross product — the same blocking idea as the
    * spatial xmatch, in embedding space. At 100 TB the centroid count
    * grows to √N and the assignment becomes the partition key. */
  /** IVF CTE chain shared by q_ann_ivf and q_ann_recall (ends in
    * `scored(probe_id, vec_id, cos)`) — one definition so the two
    * oracles cannot drift. */
  private val ivfSqlCtes: String =
    s"""cent AS (SELECT vec_id AS cent_id, vv, nrm FROM n WHERE vec_id < 8),
       |corp AS (SELECT vec_id, vv, nrm FROM n WHERE vec_id >= 18),
       |probe AS (SELECT vec_id, vv, nrm FROM n
       |          WHERE vec_id >= 8 AND vec_id < 18),
       |assign AS (SELECT vec_id, vv, nrm, cent_id FROM (
       |  SELECT c.vec_id, c.vv, c.nrm, k.cent_id,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${cosineSql("k", "c")} DESC, k.cent_id) AS arn
       |  FROM corp c CROSS JOIN cent k) WHERE arn = 1),
       |pbuckets AS (SELECT probe_id, pvv, pnrm, cent_id FROM (
       |  SELECT p.vec_id AS probe_id, p.vv AS pvv, p.nrm AS pnrm, k.cent_id,
       |    row_number() OVER (PARTITION BY p.vec_id
       |      ORDER BY ${cosineSql("k", "p")} DESC, k.cent_id) AS prn
       |  FROM probe p CROSS JOIN cent k) WHERE prn <= 2),
       |scored AS (
       |  SELECT pb.probe_id, a.vec_id,
       |    list_reduce(list_transform(list_zip(pb.pvv, a.vv),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
       |      (q, b) -> q + b) / (sqrt(pb.pnrm) * sqrt(a.nrm)) AS cos
       |  FROM pbuckets pb JOIN assign a ON a.cent_id = pb.cent_id)""".stripMargin

  /** The IVF-scored candidates (probe_id, vec_id, cos) — the Spark
    * twin of [[ivfSqlCtes]], shared by q_ann_ivf and q_ann_recall. */
  private def ivfScored(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
    val cent = broadcast(emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        col("nrm").as("cn")))
    val aw = Window.partitionBy("vec_id")
      .orderBy(col("acos").desc, col("cent_id").asc)
    val assign = emb.filter(col("vec_id") >= 18).crossJoin(cent)
      .withColumn("acos", cosine(col("cv"), col("v"), col("cn"), col("nrm")))
      .withColumn("arn", row_number().over(aw))
      .filter(col("arn") === 1)
      .select("vec_id", "v", "nrm", "cent_id")
    val pw = Window.partitionBy("probe_id")
      .orderBy(col("pcos").desc, col("cent_id").asc)
    val pbuckets = emb.filter(col("vec_id") >= 8 && col("vec_id") < 18)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"))
      .crossJoin(cent)
      .withColumn("pcos", cosine(col("cv"), col("pv"), col("cn"), col("pn")))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= 2)
      .select("probe_id", "pv", "pn", "cent_id")
    broadcast(pbuckets).join(assign, "cent_id")
      .select(col("probe_id"), col("vec_id"),
        cosine(col("pv"), col("v"), col("pn"), col("nrm")).as("cos"))
  }

  val qAnnIvf: QuerySpec = QuerySpec(
    "q_ann_ivf",
    s"""$vvCte,
       |$ivfSqlCtes
       |SELECT probe_id, vec_id, cos, rn FROM (
       |  SELECT probe_id, vec_id, cos,
       |    CAST(row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos DESC, vec_id) AS INT) AS rn
       |  FROM scored)
       |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin) { (s, dir) =>
    val fw = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    ivfScored(s, dir)
      .withColumn("rn", row_number().over(fw))
      .filter(col("rn") <= 3)
      .orderBy("probe_id", "rn")
  }

  /** X1e — ANN RECALL evaluation: recall@3 of the IVF search against
    * exact brute force, per probe — the index-quality gate a pipeline
    * runs before trusting an approximate index at scale. Both arms
    * are the existing machinery (the IVF chain shared with q_ann_ivf;
    * brute force is the broadcast-probe map-only corpus pass), the
    * intersection is an equi-join on (probe_id, vec_id), and recall
    * is one exact BIGINT/3 division. The brute-force arm IS the
    * expensive one by design — that is why it is an audit query over
    * a probe sample, not the serving path. */
  val qAnnRecall: QuerySpec = QuerySpec(
    "q_ann_recall",
    s"""$vvCte,
       |$ivfSqlCtes,
       |ivf3 AS (SELECT probe_id, vec_id FROM (
       |  SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos DESC, vec_id) AS rn FROM scored) WHERE rn <= 3),
       |bf3 AS (SELECT probe_id, vec_id FROM (
       |  SELECT p.vec_id AS probe_id, c.vec_id,
       |    row_number() OVER (PARTITION BY p.vec_id
       |      ORDER BY ${cosineSql("p", "c")} DESC, c.vec_id) AS rn
       |  FROM probe p CROSS JOIN corp c) WHERE rn <= 3),
       |hit AS (SELECT i.probe_id, count(*) AS n_hit
       |  FROM ivf3 i JOIN bf3 b
       |    ON b.probe_id = i.probe_id AND b.vec_id = i.vec_id
       |  GROUP BY i.probe_id)
       |SELECT p.vec_id AS probe_id,
       |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       |  CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 3.0 AS recall
       |FROM probe p LEFT JOIN hit h ON h.probe_id = p.vec_id
       |ORDER BY probe_id""".stripMargin) { (s, dir) =>
    val fw = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val ivf3 = ivfScored(s, dir)
      .withColumn("rn", row_number().over(fw))
      .filter(col("rn") <= 3)
      .select("probe_id", "vec_id")
    val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
    val probes = emb.filter(col("vec_id") >= 8 && col("vec_id") < 18)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"))
    val bf3 = broadcast(probes)
      .crossJoin(emb.filter(col("vec_id") >= 18)
        .select(col("vec_id"), col("v"), col("nrm")))
      .select(col("probe_id"), col("vec_id"),
        cosine(col("pv"), col("v"), col("pn"), col("nrm")).as("cos"))
      .withColumn("rn", row_number().over(fw))
      .filter(col("rn") <= 3)
      .select("probe_id", "vec_id")
    val hit = ivf3.join(bf3, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_hit"))
    probes.select(col("probe_id"))
      .join(hit, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_hit"), lit(0L)).cast("long").as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast(DoubleType) / 3.0)
          .as("recall"))
      .orderBy("probe_id")
  }

  /** X1f — GRADED-RELEVANCE NDCG@10 of the ANN search, answered from
    * the MATERIALIZED disk index: the retrieval-eval audit
    * (Järvelin & Kekäläinen 2002, public) that grades how well the
    * IVF layout preserves the TRUE ranking with graded gains — the
    * companion to q_ann_recall's set-overlap recall (which is blind
    * to rank order and to how relevant the hits are).
    *
    * Relevance grades derive from the exact brute-force cosine
    * (bands 0.30/0.22/0.15 sit at ~p99/p97/p90 of the probe-corpus
    * cosine distribution — populated at every SF); the candidate arm
    * routes through [[ensureAnnLayout]]'s cell-directory-pruned scan,
    * so q_ann_disk's "a search touches ~nprobe/k of the corpus ON
    * DISK" property is exercised under a second, rank-sensitive
    * oracle (the oracle's candidates are the ivfSqlCtes chain —
    * q_ann_disk == q_ann_ivf is already oracle-pinned).
    *
    * 100-TB shape: candidates from the pruned scan + broadcast
    * probes; the brute-force grading arm is the audit-query price
    * q_ann_recall already pays (probe SAMPLE × corpus, map-only).
    * Determinism: cosines are sequential-fold bit-identical, so the
    * band CASE picks identical grades; each DCG term is d6-snapped
    * (the lone transcendental, ln ulp absorbed by the snap) and
    * summed through DECIMAL(18,8) (order-independent); ndcg divides
    * the two snapped sums, d6. */
  val qNdcgGraded: QuerySpec = QuerySpec(
    "q_ndcg_graded", {
      def term(rel: String, rn: String): String = D.d6(
        s"(pow(2.0, $rel) - 1.0) * ln(2.0) / ln(CAST($rn + 1 AS DOUBLE))")
      s"""$vvCte,
         |$ivfSqlCtes,
         |ivf10 AS (SELECT probe_id, vec_id, rn FROM (
         |  SELECT probe_id, vec_id,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored) WHERE rn <= 10),
         |bf AS (SELECT p.vec_id AS probe_id, c.vec_id,
         |    ${cosineSql("p", "c")} AS cos
         |  FROM probe p CROSS JOIN corp c),
         |rel AS (SELECT probe_id, vec_id,
         |    CASE WHEN cos >= 0.30 THEN 3 WHEN cos >= 0.22 THEN 2
         |         WHEN cos >= 0.15 THEN 1 ELSE 0 END AS rel
         |  FROM bf),
         |dg AS (SELECT i.probe_id,
         |    ${term("r.rel", "i.rn")} AS term
         |  FROM ivf10 i JOIN rel r
         |    ON r.probe_id = i.probe_id AND r.vec_id = i.vec_id),
         |dcg AS (SELECT probe_id,
         |    CAST(sum(CAST(term AS DECIMAL(18,8))) AS DOUBLE) AS dcg
         |  FROM dg GROUP BY probe_id),
         |ig AS (SELECT probe_id, rel,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY rel DESC, vec_id) AS rn
         |  FROM rel WHERE rel > 0),
         |ij AS (SELECT probe_id, ${term("rel", "rn")} AS term
         |  FROM ig WHERE rn <= 10),
         |idcg AS (SELECT probe_id,
         |    CAST(sum(CAST(term AS DECIMAL(18,8))) AS DOUBLE) AS idcg,
         |    CAST(count(*) AS BIGINT) AS n_ideal
         |  FROM ij GROUP BY probe_id)
         |SELECT p.vec_id AS probe_id,
         |  coalesce(d.dcg, 0.0) AS dcg,
         |  coalesce(x.idcg, 0.0) AS idcg,
         |  CAST(coalesce(x.n_ideal, 0) AS BIGINT) AS n_ideal,
         |  CASE WHEN coalesce(x.n_ideal, 0) = 0 THEN 0.0
         |    ELSE ${D.d6("coalesce(d.dcg, 0.0) / x.idcg")} END AS ndcg
         |FROM probe p
         |LEFT JOIN dcg d ON d.probe_id = p.vec_id
         |LEFT JOIN idcg x ON x.probe_id = p.vec_id
         |ORDER BY probe_id""".stripMargin
    }) { (s, dir) =>
    val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
    val probes = emb.filter(col("vec_id") >= 8 && col("vec_id") < 18)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"))
    val fw = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    // candidates off the pruned disk layout — the shared q_ann_disk
    // physics ([[ivfDiskScored]], one definition)
    val ivf10 = ivfDiskScored(s, dir)
      .withColumn("rn", row_number().over(fw))
      .filter(col("rn") <= 10)
      .select("probe_id", "vec_id", "rn")
    val rel = broadcast(probes)
      .crossJoin(emb.filter(col("vec_id") >= 18)
        .select(col("vec_id"), col("v"), col("nrm")))
      .select(col("probe_id"), col("vec_id"),
        cosine(col("pv"), col("v"), col("pn"), col("nrm")).as("cos"))
      .select(col("probe_id"), col("vec_id"),
        when(col("cos") >= 0.30, 3)
          .when(col("cos") >= 0.22, 2)
          .when(col("cos") >= 0.15, 1).otherwise(0).as("rel"))
    def term(relC: Column, rnC: Column): Column = Det.d6(
      (pow(lit(2.0), relC.cast(DoubleType)) - 1.0) * log(lit(2.0)) /
        log(rnC.cast(DoubleType) + 1.0))
    val dcg = ivf10.join(rel, Seq("probe_id", "vec_id"))
      .select(col("probe_id"), term(col("rel"), col("rn")).as("term"))
      .groupBy("probe_id")
      .agg(sum(col("term").cast(Det.M)).cast(DoubleType).as("dcg"))
    val iw = Window.partitionBy("probe_id")
      .orderBy(col("rel").desc, col("vec_id").asc)
    val idcg = rel.filter(col("rel") > 0)
      .withColumn("rn", row_number().over(iw))
      .filter(col("rn") <= 10)
      .select(col("probe_id"), term(col("rel"), col("rn")).as("term"))
      .groupBy("probe_id")
      .agg(sum(col("term").cast(Det.M)).cast(DoubleType).as("idcg"),
        count(lit(1)).as("n_ideal"))
    probes.select(col("probe_id"))
      .join(dcg, Seq("probe_id"), "left")
      .join(idcg, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"),
        coalesce(col("idcg"), lit(0.0)).as("idcg"),
        coalesce(col("n_ideal"), lit(0L)).as("n_ideal"),
        when(coalesce(col("n_ideal"), lit(0L)) === 0, 0.0)
          .otherwise(Det.d6(coalesce(col("dcg"), lit(0.0)) / col("idcg")))
          .as("ndcg"))
      .orderBy("probe_id")
  }

  /** X1g — MRR + AVERAGE PRECISION@10 of the IVF search: the other
    * two standard retrieval-eval numbers beside recall (q_ann_recall)
    * and graded NDCG (q_ndcg_graded). Relevant = brute-force cosine
    * ≥ 0.22 (q_ndcg_graded's grade-2 band). MRR grades "how high is
    * the FIRST relevant hit"; AP@10 grades the whole precision
    * profile: AP = Σ_{r relevant} precision@r / min(n_relevant, 10).
    *
    * 100-TB shape: identical to q_ndcg_graded — candidates come from
    * [[ivfDiskScored]], i.e. the MATERIALIZED cell-pruned disk layout,
    * so the "search touches ~nprobe/k of the corpus on disk" physics
    * is exercised here too (the brute-force relevance arm is the
    * audit price; results match ivfScored since q_ann_disk ==
    * q_ann_ivf is pinned).
    * Determinism: relevance is a comparison of bit-identical cosines;
    * precision@r terms are ratios of small exact integers, d6-snapped
    * and decimal-summed; rr = d6(1/rank) of an exact integer. */
  val qMrr: QuerySpec = QuerySpec(
    "q_mrr",
    s"""$vvCte,
       |$ivfSqlCtes,
       |ivf10 AS (SELECT probe_id, vec_id, rn FROM (
       |  SELECT probe_id, vec_id,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos DESC, vec_id) AS rn
       |  FROM scored) WHERE rn <= 10),
       |rel AS (SELECT p.vec_id AS probe_id, c.vec_id,
       |    CASE WHEN ${cosineSql("p", "c")} >= 0.22 THEN 1 ELSE 0 END
       |      AS rel
       |  FROM probe p CROSS JOIN corp c),
       |hits AS (SELECT i.probe_id, i.rn, r.rel,
       |    CAST(sum(r.rel) OVER (PARTITION BY i.probe_id ORDER BY i.rn
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cumhits
       |  FROM ivf10 i JOIN rel r
       |    ON r.probe_id = i.probe_id AND r.vec_id = i.vec_id),
       |firstrel AS (SELECT probe_id,
       |    CAST(min(CASE WHEN rel = 1 THEN rn END) AS BIGINT) AS frank
       |  FROM hits GROUP BY probe_id),
       |ap AS (SELECT probe_id,
       |    CAST(sum(CASE WHEN rel = 1 THEN CAST(
       |      ${D.d6("CAST(cumhits AS DOUBLE) / rn")} AS DECIMAL(18,8))
       |      ELSE CAST(0 AS DECIMAL(18,8)) END) AS DOUBLE) AS ap_num
       |  FROM hits GROUP BY probe_id),
       |nrel AS (SELECT probe_id, CAST(sum(rel) AS BIGINT) AS n_rel
       |  FROM rel GROUP BY probe_id)
       |SELECT p.vec_id AS probe_id,
       |  coalesce(f.frank, CAST(0 AS BIGINT)) AS first_rel_rank,
       |  CASE WHEN f.frank IS NULL THEN 0.0
       |    ELSE ${D.d6("1.0 / f.frank")} END AS rr,
       |  CAST(coalesce(n.n_rel, 0) AS BIGINT) AS n_rel,
       |  CASE WHEN coalesce(n.n_rel, 0) = 0 THEN 0.0
       |    ELSE ${D.d6("coalesce(a.ap_num, 0.0)" +
           " / least(n.n_rel, CAST(10 AS BIGINT))")} END AS ap
       |FROM probe p
       |LEFT JOIN firstrel f ON f.probe_id = p.vec_id
       |LEFT JOIN ap a ON a.probe_id = p.vec_id
       |LEFT JOIN nrel n ON n.probe_id = p.vec_id
       |ORDER BY probe_id""".stripMargin) { (s, dir) =>
    val fw = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val ivf10 = ivfDiskScored(s, dir)
      .withColumn("rn", row_number().over(fw))
      .filter(col("rn") <= 10)
      .select("probe_id", "vec_id", "rn")
    val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
    val probes = emb.filter(col("vec_id") >= 8 && col("vec_id") < 18)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"))
    val rel = broadcast(probes)
      .crossJoin(emb.filter(col("vec_id") >= 18)
        .select(col("vec_id"), col("v"), col("nrm")))
      .select(col("probe_id"), col("vec_id"),
        when(cosine(col("pv"), col("v"), col("pn"), col("nrm")) >= 0.22,
          1L).otherwise(0L).as("rel"))
    val cw = Window.partitionBy("probe_id").orderBy("rn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hits = ivf10.join(rel, Seq("probe_id", "vec_id"))
      .select(col("probe_id"), col("rn"), col("rel"),
        sum(col("rel")).over(cw).as("cumhits"))
    val firstrel = hits.groupBy("probe_id")
      .agg(min(when(col("rel") === 1, col("rn"))).as("frank"))
    val ap = hits.groupBy("probe_id")
      .agg(sum(when(col("rel") === 1,
        Det.d6(col("cumhits").cast(DoubleType) / col("rn")).cast(Det.M))
        .otherwise(lit(0).cast(Det.M))).cast(DoubleType).as("ap_num"))
    val nrel = rel.groupBy("probe_id").agg(sum(col("rel")).as("n_rel"))
    probes.select(col("probe_id"))
      .join(firstrel, Seq("probe_id"), "left")
      .join(ap, Seq("probe_id"), "left")
      .join(nrel, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("frank"), lit(0L)).as("first_rel_rank"),
        when(col("frank").isNull, 0.0)
          .otherwise(Det.d6(lit(1.0) / col("frank"))).as("rr"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        when(coalesce(col("n_rel"), lit(0L)) === 0, 0.0)
          .otherwise(Det.d6(coalesce(col("ap_num"), lit(0.0)) /
            least(col("n_rel"), lit(10L)))).as("ap"))
      .orderBy("probe_id")
  }

  /** X1c — int8 scalar-quantized similarity search: per-vector scale
    * = max|x|/127, code = floor(x/scale + 0.5) ∈ [-127, 127], search
    * runs on the dequantized (code·scale) vectors — 4× memory
    * compression vs float32, the standard trick for RAM-resident
    * corpora at billion-vector scale (quantize once at ingest; only
    * codes + one scale per vector ship to the executors).
    *
    * Determinism: floor(x/s + 0.5) is spelled out instead of round()
    * because the engines' round() tie-breaking differs (HALF_UP
    * BigDecimal vs away-from-zero double); floor, division and the
    * sequential cosine folds are exact IEEE ops, so scores are
    * bit-identical and the oracle needs no snapping. */
  val qQuantizeEmbed: QuerySpec = QuerySpec(
    "q_quantize_embed", {
      val absMax = "list_reduce(list_prepend(0.0, " +
        "list_transform(vv, x -> abs(x))), (a, b) -> greatest(a, b))"
      s"""WITH v AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
         |  FROM embeddings),
         |s AS (SELECT vec_id, vv, $absMax / 127.0 AS scale FROM v),
         |dq AS (SELECT vec_id, scale,
         |    CASE WHEN scale = 0 THEN list_transform(vv, x -> 0.0)
         |         ELSE list_transform(vv, x -> floor(x / scale + 0.5) * scale)
         |    END AS vv FROM s),
         |n AS (SELECT vec_id, scale, vv, $normSql AS nrm FROM dq),
         |pairs AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
         |    ${cosineSql("p", "c")} AS cos
         |  FROM n p JOIN n c ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id < 5)
         |SELECT probe_id, vec_id, cos, rn FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
         |            ORDER BY cos DESC, vec_id) AS INT) AS rn
         |  FROM pairs)
         |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin
    }) { (s, dir) =>
    val asD = transform(col("embedding"), x => x.cast(DoubleType))
    val deq = when(col("scale") === 0.0,
      transform(col("vv"), _ => lit(0.0)))
      .otherwise(transform(col("vv"),
        x => floor(x / col("scale") + 0.5) * col("scale")))
    val emb = LsdDb.table(s, dir, "embeddings")
      .select(col("vec_id"), asD.as("vv"))
      .withColumn("scale", scale0(col("vv")))
      .select(col("vec_id"), col("scale"), deq.as("v"))
      .withColumn("nrm", VectorKernels.norm2(col("v")))
    val probes = broadcast(emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn")))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc,
      col("vec_id").asc)
    probes.join(emb, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosine(col("pv"), col("v"), col("pn"), col("nrm")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy("probe_id", "rn")
  }

  /** Per-vector int8 scale on an already-double array column. */
  private def scale0(vv: Column): Column =
    aggregate(vv, lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0

  // ---- hyperplane (sign-random-projection) LSH -----------------------
  // 32 pseudo-random hyperplanes over the 64-dim embedding space; the
  // h-th plane's d-th weight derives from the overflow-free integer LCG
  //   ((h*64 + d) * 1103515245 + 12345) mod 2147483647
  // mapped to [-0.5, 0.5). Pure int64 + one double divide — identical
  // in any engine (same trick as q_split_assign), so the SAME
  // hyperplanes exist on the DuckDB side without shipping constants.
  private val lshBits = 32
  private val lshDim = 64
  private val lshBandBits = 8
  private val lshBands = lshBits / lshBandBits
  // hot-bucket cap, same guard as TextOps minhash banding: a
  // degenerate bucket (e.g. uncentered or near-constant embeddings
  // collapsing many rows onto one signature) can contribute at most
  // cap² pairs instead of taking the candidate join quadratic
  private val lshMaxBucket = 256

  /** Plane weights precomputed driver-side with the SAME int64 + IEEE
    * ops the DuckDB twin evaluates symbolically (long exact < 2^53,
    * one round-to-nearest divide, one subtract) — bit-identical by
    * construction, and as literal arrays the per-row cost is just the
    * codegen'd dot, not 64 interpreted lambda evals per plane. */
  private val lshPlanes: Array[Array[Double]] =
    Array.tabulate(lshBits, lshDim) { (h, d) =>
      val m = ((h.toLong * lshDim + d) * 1103515245L + 12345L) % 2147483647L
      m.toDouble / 2147483647.0 - 0.5
    }

  /** 32-bit signature: bit h = sign(vv . plane_h). Each dot is the
    * codegen'd sequential fold, so the sign — and therefore the whole
    * signature — is bit-for-bit reproducible. */
  private def lshSig(vv: Column): Column =
    (0 until lshBits).map { h =>
      when(VectorKernels.dot(vv, typedLit(lshPlanes(h).toSeq)) >= 0.0,
        lit(1L << h)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def lshSigSql: String = (0 until lshBits).map { h =>
    val dot = s"list_reduce(list_transform(range(0, $lshDim), d -> " +
      s"vv[d+1] * (CAST((($h * $lshDim + d) * 1103515245 + 12345) " +
      s"% 2147483647 AS DOUBLE) / 2147483647.0 - 0.5)), (a, b) -> a + b)"
    s"(CASE WHEN $dot >= 0.0 THEN ${1L << h} ELSE 0 END)"
  }.mkString("(", " + ", ")")

  /** Ext — embedding near-dup via hyperplane LSH: corpus×corpus cosine
    * dedup WITHOUT the cross product. Signature → 4 bands × 8 bits →
    * band equi-join proposes candidate pairs (a pair collides iff some
    * band agrees — the cosine analog of TextOps' minhash banding);
    * candidates then verify against the true cosine threshold. The
    * corpus shuffles once on (band_id, band_val) — never all-pairs —
    * hot buckets are capped (lshMaxBucket, mirrored in the oracle) so
    * degenerate signature mass can't turn the join quadratic, and the
    * verify join touches only proposed pairs. At 100 TB you'd persist
    * the signature table once (it's 8 bytes/row) and raise lshBits;
    * the plan shape is unchanged. Note sign-projection assumes
    * roughly centered vectors — tools/ScaleSmoke (as of commit
    * 1372bdc) showed the centering step for an all-positive corpus at
    * 1M vectors. Recall is the standard
    * 1-(1-p^r)^b curve — approximate by design; the oracle mirrors the
    * same signatures, so the OUTPUT is exact.
    *
    * Bench-floor envelope (QueryProfile, sf0.1, 3 reps 2026-08-14):
    * warm best 1.28–1.56 s vs 0.839 s floor; the r14 full-bench 1.60 s
    * flag was sibling-load variance on byte-identical code. */
  val qDedupLshCos: QuerySpec = QuerySpec(
    "q_dedup_lshcos",
    s"""$vvCte,
       |sig AS (SELECT vec_id, $lshSigSql AS sig FROM v),
       |bands AS (
       |  SELECT vec_id, band_id, (sig >> (band_id * $lshBandBits))
       |      & ${(1 << lshBandBits) - 1} AS band_val
       |  FROM sig, (SELECT unnest(range(0, $lshBands)) AS band_id)),
       |ok AS (SELECT band_id, band_val FROM bands
       |  GROUP BY band_id, band_val HAVING count(*) <= $lshMaxBucket),
       |cb AS (SELECT bands.* FROM bands
       |  JOIN ok USING (band_id, band_val)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM cb a JOIN cb b
       |    ON a.band_id = b.band_id AND a.band_val = b.band_val
       |   AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, cos FROM (
       |  SELECT id_a, id_b, ${cosineSql("p", "c")} AS cos
       |  FROM cand JOIN n p ON p.vec_id = id_a
       |            JOIN n c ON c.vec_id = id_b)
       |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
    val sigs = emb.select(col("vec_id"), lshSig(col("v")).as("sig"))
    val bands = sigs.select(col("vec_id"), posexplode(
      array((0 until lshBands).map(b =>
        shiftright(col("sig"), b * lshBandBits)
          .bitwiseAND((1 << lshBandBits) - 1)): _*)))
      .toDF("vec_id", "band_id", "band_val")
    val okBuckets = bands.groupBy("band_id", "band_val")
      .agg(count(lit(1)).as("bn")).filter(col("bn") <= lshMaxBucket)
      .drop("bn")
    val capped = bands.join(okBuckets, Seq("band_id", "band_val"))
    val cand = capped.as("a").join(capped.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val p = emb.select(col("vec_id").as("id_a"), col("v").as("pv"),
      col("nrm").as("pn"))
    val c = emb.select(col("vec_id").as("id_b"), col("v"), col("nrm"))
    cand.join(p, "id_a").join(c, "id_b")
      .select(col("id_a"), col("id_b"),
        cosine(col("pv"), col("v"), col("pn"), col("nrm")).as("cos"))
      .filter(col("cos") >= 0.4)
      .orderBy("id_a", "id_b")
  }

  /** Write-once materialized IVF layout: the q_ann_ivf assignment
    * (identical tie-breaks) landed via AnnIndex.writeIndex — corpus
    * directory-partitioned by coarse cell, centroids alongside. */
  def ensureAnnLayout(s: SparkSession, dir: String): String =
    graft.sources.CacheKeys.writeOnce("graft_ann_index",
        s"$dir/embeddings.parquet") { path =>
      val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
      val cent = broadcast(emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"),
          col("nrm").as("cn")))
      val aw = Window.partitionBy("vec_id")
        .orderBy(col("acos").desc, col("cent_id").asc)
      val assigned = emb.filter(col("vec_id") >= 18).crossJoin(cent)
        .withColumn("acos",
          cosine(col("cv"), col("v"), col("cn"), col("nrm")))
        .withColumn("arn", row_number().over(aw))
        .filter(col("arn") === 1)
        .select(col("vec_id"), col("v"), col("nrm"),
          col("cent_id").cast("int").as("cell"))
      val centroids = LsdDb.table(s, dir, "embeddings")
        .filter(col("vec_id") < 8).select("vec_id", "embedding")
        .collect() // 8 rows — the centroid table is driver-sized
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
      graft.vector.AnnIndex.writeIndex(path, centroids, assigned)
    }

  /** X1d — the SAME search as q_ann_ivf, answered from the
    * MATERIALIZED index (AnnIndex.writeIndex layout): probes route
    * through the broadcast centroids, the union of probed cell ids
    * (≤ k values, an O(k) driver list — same argument as
    * AnnIndex.searchIndex) prunes the corpus scan to its `cell=`
    * directories, and the equi-join + top-k window run on the pruned
    * scan. This makes "a search touches ~nprobe/k of the corpus ON
    * DISK" an oracle-checked property, not just a join-graph one —
    * the oracle is q_ann_ivf's verbatim, so the layout provably
    * changes the physics and not the answer. */
  val qAnnDisk: QuerySpec = QuerySpec(
    "q_ann_disk", qAnnIvf.oracle.get) { (s, dir) =>
    val fw = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    ivfDiskScored(s, dir)
      .withColumn("rn", row_number().over(fw))
      .filter(col("rn") <= 3)
      .orderBy("probe_id", "rn")
  }

  /** IVF candidates (probe_id, vec_id, cos) answered from the
    * MATERIALIZED layout ([[ensureAnnLayout]]): probes route through
    * the broadcast centroids, the probed cell-id union (an O(k)
    * driver list) prunes the corpus scan to its `cell=` directories,
    * and the equi-join scores on the pruned scan — the disk twin of
    * [[ivfScored]], ONE definition shared by q_ann_disk and
    * q_ndcg_graded so the pinned "search touches ~nprobe/k of the
    * corpus ON DISK" physics cannot drift between them. */
  private def ivfDiskScored(s: SparkSession, dir: String): DataFrame = {
    val path = ensureAnnLayout(s, dir)
    val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
    val cent = broadcast(emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        col("nrm").as("cn")))
    val pw = Window.partitionBy("probe_id")
      .orderBy(col("pcos").desc, col("cent_id").asc)
    val pbuckets = emb.filter(col("vec_id") >= 8 && col("vec_id") < 18)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"))
      .crossJoin(cent)
      .withColumn("pcos", cosine(col("cv"), col("pv"), col("cn"), col("pn")))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= 2)
      .select("probe_id", "pv", "pn", "cent_id")
    val probedCells = pbuckets.select("cent_id").distinct()
      .collect().map(_.getLong(0).toInt).sorted.toIndexedSeq // O(k)
    val vectors = graft.sources.ParquetRead(s, s"$path/vectors")
      .filter(col("cell").isin(probedCells: _*))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("cell").cast("long").as("cent_id"))
    broadcast(pbuckets).join(vectors, "cent_id")
      .select(col("probe_id"), col("vec_id"),
        cosine(col("pv"), col("v"), col("pn"), col("nrm")).as("cos"))
  }

  /** X1e/X4 — distributed GRAM MATRIX of the embedding corpus
    * (XᵀX — the PCA/whitening/low-rank precursor every embedding
    * pipeline eventually needs): one typed Aggregator pass with
    * O(d²) integer state per partition and ZERO row blowup — the
    * naive (i,j) posexplode multiplies the corpus 4096×, which at
    * 100 TB is the difference between a map-side fold and an
    * un-runnable shuffle.
    *
    * Determinism: each term d6(vᵢ·vⱼ) is snapped by a codegen'd
    * transform (float→double products are exact, the snap matches
    * the oracle's DECIMAL(18,6) cast because dyadic doubles never
    * sit on decimal midpoints); SnappedVecSum accumulates exact
    * integer millionths, so partial-merge order cannot move a cell;
    * finish performs the oracle's identical decimal→double cast.
    * The oracle pays the honest 4096× unnest price. */
  private val gramD = 64

  /** Full mirrored d×d Gram relation (i, j, gram), unordered — the
    * Scala engine side of q_embed_gram, shared with q_pca_power.
    * One typed-Aggregator corpus pass; see [[qEmbedGram]] docs. */
  private def gramFull(s: SparkSession, dir: String): DataFrame = {
    val d = gramD
    // Symmetry: only the d(d+1)/2 upper-triangle terms are computed
    // and aggregated (the snap is the per-row cost; XᵀX is symmetric,
    // so paying it twice is pure waste) — the lower triangle is
    // mirrored from the FINISHED matrix, an O(d²) projection of the
    // single aggregated row. `tri` maps triangle position → packed
    // (i, j), identically at plan-build time and in the output join.
    val tri: Array[Long] =
      (for (i <- 0 until d; j <- i until d) yield (i * d + j).toLong).toArray
    // raw vector straight into the typed Aggregator — products,
    // d6 snap and accumulation are one codegen-free-but-JVM-tight
    // loop per row (see GramUpperTri: the former Catalyst
    // transform(filter(sequence)) shape evaluated interpreted at
    // ~1 µs/element and dominated the query's runtime)
    val gramSum = udaf(new graft.functions.Aggregators.GramUpperTri(d))
    val upper = LsdDb.table(s, dir, "embeddings")
      .select(col("embedding").as("v"))
      // spread rows across cores before the O(d²)-per-row reduce: the
      // corpus parquet is one split locally, which would serialize the
      // whole Gram pass on one thread; the partials merge as fixed
      // O(d²) vectors, so the tiny round-robin shuffle buys full
      // parallelism (at cluster scale input arrives pre-split and
      // this is a no-op-sized exchange)
      .repartition(s.sparkContext.defaultParallelism)
      .agg(gramSum(col("v")).as("g"))
      .select(posexplode(col("g")).as(Seq("p", "gram")))
      .select(element_at(lit(tri), col("p").cast("int") + 1).as("k"),
        col("gram"))
      .select((col("k") / d).cast("int").as("i"),
        pmod(col("k"), lit(d)).cast("int").as("j"), col("gram"))
    upper.unionAll(upper.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("gram")))
  }

  val qEmbedGram: QuerySpec = {
    val d = gramD
    QuerySpec(
      "q_embed_gram",
      s"""WITH e AS (SELECT embedding AS v FROM embeddings),
         |ks AS (SELECT unnest(range(0, ${d * d})) AS k),
         |t AS (SELECT ks.k, ${D.d6(
            s"CAST(v[ks.k // $d + 1] AS DOUBLE)" +
              s" * CAST(v[ks.k % $d + 1] AS DOUBLE)")} AS term
         |  FROM e CROSS JOIN ks)
         |SELECT CAST(k // $d AS INT) AS i, CAST(k % $d AS INT) AS j,
         |  ${D.dsum("term")} AS gram
         |FROM t GROUP BY k ORDER BY i, j""".stripMargin) { (s, dir) =>
      gramFull(s, dir).orderBy("i", "j")
    }
  }

  private val pcaIters = 6

  /** Ext — PCA VIA POWER ITERATION (q_pca_power): dominant principal
    * direction of the embedding corpus from the (uncentered) Gram
    * matrix G = XᵀX, then a map-only projection of every vector onto
    * it — the dimensionality-reduction primitive (visualization,
    * whitening, spectral dedup) of an embedding pipeline.
    *
    * Algorithm (classic power method, fixed [[pcaIters]] rounds from
    * the all-ones start): u ← G·v; v ← u / ‖u‖. All corpus-scale work
    * is the ONE Gram pass (shared [[gramFull]], O(d²) aggregator
    * state, zero row blowup); every iteration is d²-sized (4096 rows)
    * — constant cost at any corpus size, the pagerank idiom with a
    * localCheckpoint truncating lineage above the rounds. The final
    * projection collects the d-vector (bounded O(d) driver state, the
    * kmeans-centroid pattern) and constant-folds it into a codegen'd
    * sequential dot — map-only, no shuffle, one FileScan.
    *
    * Determinism: G is the d6-snapped decimal-exact Gram (hash-green
    * in q_embed_gram); each matvec sums gram·x products through
    * DECIMAL(38,8) (order-independent, [[Det.dsumProd]] semantics);
    * the normalized components are d6-snapped per round; the final
    * dot is the sequential left-to-right fold both engines share
    * (VectorKernels.dot ≡ DuckDB list_reduce). Sign is pinned by the
    * deterministic all-ones start. */
  val qPcaPower: QuerySpec = QuerySpec(
    "q_pca_power", {
      val d = gramD
      val sb = new StringBuilder(
        s"""$vvCte,
           |ks AS (SELECT unnest(range(0, ${d * d})) AS k),
           |gt AS (SELECT ks.k, ${D.d6(
              s"vv[ks.k // $d + 1] * vv[ks.k % $d + 1]")} AS term
           |  FROM n CROSS JOIN ks),
           |g AS (SELECT CAST(k // $d AS INT) AS i, CAST(k % $d AS INT) AS j,
           |  ${D.dsum("term")} AS gram FROM gt GROUP BY k),
           |pv0 AS (SELECT CAST(unnest(range(0, $d)) AS INT) AS j,
           |  1.0 AS x)""".stripMargin)
      for (r <- 1 to pcaIters) {
        sb ++= s""",
           |pu$r AS (SELECT g.i AS j,
           |    CAST(sum(CAST(g.gram * v.x AS DECIMAL(38,8))) AS DOUBLE) AS x
           |  FROM g JOIN pv${r - 1} v ON g.j = v.j GROUP BY g.i),
           |pn$r AS (SELECT sqrt(CAST(sum(CAST(x * x AS DECIMAL(38,8)))
           |    AS DOUBLE)) AS nm FROM pu$r),
           |pv$r AS (SELECT j, ${D.d6("u.x / nr.nm")} AS x
           |  FROM pu$r u CROSS JOIN pn$r nr)""".stripMargin
      }
      sb ++= s"""
         |SELECT n.vec_id, ${D.d6(
            "list_reduce(list_transform(list_zip(n.vv, pl.pv), " +
              "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), " +
              "(a, b) -> a + b)")} AS pc1
         |FROM n CROSS JOIN
         |  (SELECT list(x ORDER BY j) AS pv FROM pv$pcaIters) pl
         |ORDER BY n.vec_id""".stripMargin
      sb.toString
    }) { (s, dir) =>
    val g = gramFull(s, dir).localCheckpoint()
    var v: DataFrame = s.range(gramD)
      .select(col("id").cast("int").as("j"), lit(1.0).as("x"))
    for (_ <- 1 to pcaIters) {
      // truncate the per-iteration lineage: u is referenced TWICE (by
      // the norm and by the normalized v), and v feeds the next
      // round's join — without an eager cut the final collect
      // re-evaluates a DAG that doubles per round (2^iters tiny
      // shuffle stages; profiled at 4.4 s isolated, r19). u is d=64
      // rows, so the localCheckpoint is a constant-size job per round
      // — the pagerank non-compounding-checkpoint idiom one level
      // deeper.
      val u = g.join(broadcast(v), "j")
        .groupBy(col("i"))
        .agg(sum((col("gram") * col("x")).cast(Det.M38))
          .cast(DoubleType).as("x"))
        .select(col("i").as("j"), col("x"))
        .localCheckpoint()
      val nm = u.agg(sqrt(sum((col("x") * col("x")).cast(Det.M38))
        .cast(DoubleType)).as("nm"))
      v = u.crossJoin(broadcast(nm))
        .select(col("j"), Det.d6(col("x") / col("nm")).as("x"))
    }
    // bounded O(d) driver collect (kmeans-centroid pattern): the
    // eigenvector becomes a foldable literal array, so the projection
    // pass is map-only whole-stage codegen over the corpus scan
    val pv = v.orderBy("j").collect().map(_.getDouble(1))
    LsdDb.table(s, dir, "embeddings")
      .select(col("vec_id"),
        Det.d6(VectorKernels.dot(col("embedding"),
          array(pv.toSeq.map(lit): _*))).as("pc1"))
      .orderBy("vec_id")
  }

  /** PQ geometry: 64-dim vectors cut into [[pqM]] subspaces of
    * [[pqDsub]] dims; [[pqKsub]] codewords per subspace. */
  private val pqM = 8
  private val pqDsub = 8
  private val pqKsub = 16
  private val pqRerank = 8
  private val pqTopK = 3

  /** Shared PQ SQL CTE chain through `rer` (exact-rescored top
    * candidates) — consumed by q_ann_pq (the serving top-k) and
    * q_pq_recall (the index-quality audit). */
  private val pqSqlCtes: String = {
    val sl = s"list_slice(c.vv, s.j * $pqDsub + 1, s.j * $pqDsub + $pqDsub)"
    val psl =
      s"list_slice(p.pvv, c.j * $pqDsub + 1, c.j * $pqDsub + $pqDsub)"
    s"""$vvCte,
       |sub AS (SELECT j FROM generate_series(0, ${pqM - 1}) t(j)),
       |cb AS (SELECT s.j, c.vec_id AS code, $sl AS cw,
       |    list_reduce(list_transform($sl, x -> x * x), (a, b) -> a + b)
       |      AS cwn2
       |  FROM sub s CROSS JOIN (SELECT vec_id, vv FROM n
       |    WHERE vec_id < $pqKsub) c),
       |corp AS (SELECT vec_id, vv, nrm FROM n WHERE vec_id >= 32),
       |csub AS (SELECT c.vec_id, s.j, $sl AS sv
       |  FROM corp c CROSS JOIN sub s),
       |enc AS (SELECT vec_id, j, code, cwn2 FROM (
       |  SELECT t.vec_id, t.j, b.code, b.cwn2,
       |    row_number() OVER (PARTITION BY t.vec_id, t.j ORDER BY
       |      list_reduce(list_transform(list_zip(t.sv, b.cw),
       |        x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |           * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
       |        (a, b) -> a + b), b.code) AS ern
       |  FROM csub t JOIN cb b USING (j)) WHERE ern = 1),
       |probe AS (SELECT vec_id AS probe_id, vv AS pvv, nrm AS pnrm
       |  FROM n WHERE vec_id >= $pqKsub AND vec_id < 32),
       |lut AS (SELECT p.probe_id, c.j, c.code, p.pnrm,
       |    list_reduce(list_transform(list_zip($psl, c.cw),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
       |      (a, b) -> a + b) AS pdot
       |  FROM probe p CROSS JOIN cb c),
       |adc AS (SELECT l.probe_id, k.vec_id,
       |    ${D.dsum("l.pdot")} AS adot, ${D.dsum("k.cwn2")} AS vn2
       |  FROM enc k JOIN lut l ON l.j = k.j AND l.code = k.code
       |  GROUP BY l.probe_id, k.vec_id),
       |cand AS (SELECT probe_id, vec_id FROM (
       |  SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id
       |      ORDER BY adot / sqrt(vn2) DESC, vec_id) AS crn
       |  FROM adc) WHERE crn <= $pqRerank),
       |rer AS (SELECT t.probe_id, t.vec_id,
       |    list_reduce(list_transform(list_zip(p.pvv, c.vv),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
       |      (a, b) -> a + b) / (sqrt(p.pnrm) * sqrt(c.nrm)) AS cos
       |  FROM cand t JOIN probe p USING (probe_id)
       |  JOIN corp c USING (vec_id))""".stripMargin
  }

  /** X1d — product-quantized ANN with asymmetric-distance (ADC)
    * scoring and exact re-rank: the memory-scale path past int8
    * (q_quantize_embed) — 64 float dims compress to [[pqM]] byte
    * codes (32× vs float32), and candidate scoring reads only the
    * codes plus a per-probe lookup table, never the corpus floats.
    *
    * Like q_ann_ivf's fixed centroids, the codebooks here are
    * DETERMINISTIC "training" so the query stays oracle-checkable:
    * codeword c of subspace j is the j-th [[pqDsub]]-dim slice of
    * corpus vector c (vec_id < [[pqKsub]]); the k-means-trained
    * library form lives in vector/PqIndex (recall-gated in spec,
    * like AnnIndex). Pipeline, all equi-join shaped:
    *
    *  1. encode: corpus subvector → nearest codeword by exact
    *     sequential L2 fold (argmin via window, code tiebreak) —
    *     map-only vs a broadcast 128-row codebook;
    *  2. LUT: probe × codebook partial dot products — broadcast;
    *  3. ADC: codes ⋈ LUT on (subspace, code), per-(probe, vec)
    *     decimal-exact sums (floats summed across subspaces are
    *     order-sensitive; Det.dsum makes the GROUP BY associative);
    *     rank by adot/sqrt(vn2) — probe norm is constant per probe,
    *     so the ranking equals approximate cosine;
    *  4. re-rank: top-[[pqRerank] candidates re-scored EXACTLY
    *     against the raw vectors (candidate-sized join), emit
    *     top-[[pqTopK]].
    *
    * At 100 TB the codes relation replaces the corpus in the hot
    * join (m bytes/row), the LUT stays probes×m×ksub — broadcast —
    * and the only corpus-float reads are the O(probes × rerank)
    * re-rank lookups: the standard IVF-PQ memory story, minus the
    * coarse cells q_ann_ivf already demonstrates. */
  val qAnnPq: QuerySpec = QuerySpec(
    "q_ann_pq",
    s"""$pqSqlCtes
       |SELECT probe_id, vec_id, cos, rn FROM (
       |  SELECT probe_id, vec_id, cos,
       |    CAST(row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos DESC, vec_id) AS INT) AS rn
       |  FROM rer)
       |WHERE rn <= $pqTopK ORDER BY probe_id, rn""".stripMargin) { (s, dir) =>
    val fw = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    pqReranked(s, dir)
      .withColumn("rn", row_number().over(fw))
      .filter(col("rn") <= pqTopK)
      .orderBy("probe_id", "rn")
  }

  /** Exact-rescored PQ candidates (probe_id, vec_id, cos) — the Scala
    * twin of [[pqSqlCtes]]'s `rer` CTE; shared by q_ann_pq (top-k
    * serve) and q_pq_recall (audit). */
  private def pqReranked(s: SparkSession, dir: String): DataFrame = {
    // spread (r21): every PQ phase (codebook, encode, LUT, rerank)
    // roots at this scan — one row group means the interpreted
    // vector-HOF math all ran single-task (StageProfile: two ~0.5 s
    // 1-task stages); conditional, no-op on parallel layouts
    val emb = LsdDb.spread(
        withNorm(LsdDb.table(s, dir, "embeddings")), col("vec_id"))
      .withColumn("vv", transform(col("v"), x => x.cast(DoubleType)))
    val subs = explode(sequence(lit(0), lit(pqM - 1))).as("j")
    val slice = (v: Column, j: Column) =>
      org.apache.spark.sql.functions.slice(v, j * pqDsub + 1, lit(pqDsub))
    val cb = emb.filter(col("vec_id") < pqKsub)
      .select(col("vec_id").as("code"), col("vv"))
      .select(col("code"), subs, col("vv"))
      .select(col("j"), col("code"), slice(col("vv"), col("j")).as("cw"))
      .withColumn("cwn2", aggregate(transform(col("cw"), x => x * x),
        lit(0.0), (a, b) => a + b))
    val csub = emb.filter(col("vec_id") >= 32)
      .select(col("vec_id"), subs, col("vv"))
      .select(col("vec_id"), col("j"), slice(col("vv"), col("j")).as("sv"))
    val ew = Window.partitionBy("vec_id", "j")
      .orderBy(col("l2").asc, col("code").asc)
    val enc = csub.join(broadcast(cb), "j")
      .withColumn("l2", aggregate(
        zip_with(col("sv"), col("cw"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, b) => a + b))
      .withColumn("ern", row_number().over(ew))
      .filter(col("ern") === 1)
      .select("vec_id", "j", "code", "cwn2")
    val probe = emb.filter(col("vec_id") >= pqKsub && col("vec_id") < 32)
      .select(col("vec_id").as("probe_id"), col("vv").as("pvv"),
        col("nrm").as("pnrm"))
    val lut = probe.select(col("probe_id"), col("pnrm"), subs, col("pvv"))
      .join(broadcast(cb), "j")
      .withColumn("pdot", aggregate(
        zip_with(slice(col("pvv"), col("j")), col("cw"), (x, y) => x * y),
        lit(0.0), (a, b) => a + b))
      .select("probe_id", "j", "code", "pnrm", "pdot")
    val adc = enc.join(broadcast(lut), Seq("j", "code"))
      .groupBy("probe_id", "vec_id")
      .agg(Det.dsum(col("pdot")).as("adot"), Det.dsum(col("cwn2")).as("vn2"))
    val cw2 = Window.partitionBy("probe_id")
      .orderBy((col("adot") / sqrt(col("vn2"))).desc, col("vec_id").asc)
    val cand = adc.withColumn("crn", row_number().over(cw2))
      .filter(col("crn") <= pqRerank)
      .select("probe_id", "vec_id")
    broadcast(cand)
      .join(probe, "probe_id")
      .join(emb.filter(col("vec_id") >= 32)
        .select(col("vec_id"), col("vv").as("cv"), col("nrm").as("cn")),
        "vec_id")
      .select(col("probe_id"), col("vec_id"),
        (aggregate(zip_with(col("pvv"), col("cv"), (x, y) => x * y),
          lit(0.0), (a, b) => a + b) /
          (sqrt(col("pnrm")) * sqrt(col("cn")))).as("cos"))
  }

  /** X1f — PQ RECALL audit: recall@[[pqTopK]] of the ADC+rerank search
    * against exact brute force, per probe — the q_ann_recall pattern
    * (VectorOps qAnnRecall) applied to the PQ index, closing the gap
    * where PQ/ADC fidelity was only spec-gated (PqIndexSpec) with no
    * oracle entry. Both arms reuse existing machinery: the PQ arm is
    * [[pqReranked]] (shared with q_ann_pq), brute force is the
    * broadcast-probe map-only corpus pass; the intersection is an
    * equi-join on (probe_id, vec_id) and recall one exact BIGINT/k
    * division. Brute force is the expensive arm BY DESIGN — this is
    * an audit over a probe sample, not the serving path. */
  val qPqRecall: QuerySpec = QuerySpec(
    "q_pq_recall",
    s"""$pqSqlCtes,
       |pq3 AS (SELECT probe_id, vec_id FROM (
       |  SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos DESC, vec_id) AS rn FROM rer) WHERE rn <= $pqTopK),
       |bf3 AS (SELECT probe_id, vec_id FROM (
       |  SELECT p.probe_id, c.vec_id,
       |    row_number() OVER (PARTITION BY p.probe_id
       |      ORDER BY list_reduce(list_transform(list_zip(p.pvv, c.vv),
       |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
       |        (a, b) -> a + b) / (sqrt(p.pnrm) * sqrt(c.nrm)) DESC,
       |      c.vec_id) AS rn
       |  FROM probe p CROSS JOIN corp c) WHERE rn <= $pqTopK),
       |hit AS (SELECT q.probe_id, count(*) AS n_hit
       |  FROM pq3 q JOIN bf3 b
       |    ON b.probe_id = q.probe_id AND b.vec_id = q.vec_id
       |  GROUP BY q.probe_id)
       |SELECT p.probe_id,
       |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       |  CAST(coalesce(h.n_hit, 0) AS DOUBLE) / $pqTopK.0 AS recall
       |FROM probe p LEFT JOIN hit h ON h.probe_id = p.probe_id
       |ORDER BY p.probe_id""".stripMargin) { (s, dir) =>
    val fw = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val pq3 = pqReranked(s, dir)
      .withColumn("rn", row_number().over(fw))
      .filter(col("rn") <= pqTopK)
      .select("probe_id", "vec_id")
    val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
    val probes = emb.filter(col("vec_id") >= pqKsub && col("vec_id") < 32)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"))
    val bf3 = broadcast(probes)
      .crossJoin(emb.filter(col("vec_id") >= 32)
        .select(col("vec_id"), col("v"), col("nrm")))
      .select(col("probe_id"), col("vec_id"),
        cosine(col("pv"), col("v"), col("pn"), col("nrm")).as("cos"))
      .withColumn("rn", row_number().over(fw))
      .filter(col("rn") <= pqTopK)
      .select("probe_id", "vec_id")
    val hit = pq3.join(bf3, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_hit"))
    probes.select(col("probe_id"))
      .join(hit, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_hit"), lit(0L)).cast("long").as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast(DoubleType) / pqTopK)
          .as("recall"))
      .orderBy("probe_id")
  }

  /** The SemDeDup centroid-count dial: k = max(8, ceil(√N)). √N is
    * the IVF sweet spot — assignment work is N·k = N^1.5 and in-cell
    * pair work is Σ cell² ≈ N²/k = N^1.5, so neither side ever goes
    * corpus-quadratic as N grows. At sf0.001/0.01 (500 rows) k = 23;
    * at sf0.1 (2000 rows) k = 45; at the 1M vectors of
    * tools/ScaleSmoke (as of commit 1372bdc) k = 1000. Pure arithmetic on the corpus count, so the DuckDB
    * oracle computes the identical k from its own count(*). */
  private[graft] def semdedupK(n: Long): Int =
    math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt

  /** Hot-cell cap, part of the operator algebra (both engines): a
    * cell with population > maxCell contributes NO dedup pairs, so
    * total pair fan-out is provably ≤ k·maxCell²/2 regardless of how
    * skewed the assignment lands — the same cap-as-algebra guard as
    * TextOps minhash maxBucket and PPJoin maxPrefixBucket. Never
    * binds at bench SFs (max cell ≲ 10² « 4096); the 1M-vector block
    * of tools/ScaleSmoke (as of commit 1372bdc) asserted both that cells stay far under it on a uniform corpus
    * and that it bounds the worst case. */
  private[graft] val semdedupMaxCell = 4096

  /** Nearest-centroid assignment of q_semdedup (and of the 1M-vector
    * block of tools/ScaleSmoke as of commit 1372bdc): broadcast-nested-loop the (small, O(√N)) centroid
    * relation against the corpus and take the per-vector best cell
    * with a PARTIAL-aggregated min(struct(-cos, cell)) — equivalent
    * to the oracle's row_number() ORDER BY cos DESC, cell, but the
    * map-side combine collapses the N·k blown-up rows back to N
    * BEFORE any shuffle. (Plan note: a struct-typed min buffer is not
    * hash-aggregable, so the partial plans as SortAggregate — an
    * in-partition sort of the N·k stream, the same map-side sort the
    * Spark-3.5+ window form pays in its WindowGroupLimit-Partial; the
    * two forms are equivalent shapes, and either way only ~N rows
    * cross the wire.)
    * -cos on finite doubles orders exactly like cos DESC, and the
    * cosine fold is the bit-identical sequential fold DuckDB runs,
    * so ties break identically in both engines. A zero-norm vector
    * makes cosine NaN — DuckDB's DESC sort puts NaN FIRST (NaN
    * compares greatest), so the nanvl maps NaN → −∞ to keep the
    * struct-min picking the same cell (−∞ cannot collide with a real
    * −cos: cosine is in [−1, 1] or NaN).
    *
    * @param emb  (vec_id, v, nrm) corpus rows to assign
    * @param cent (cell, cv, cn) centroid relation, broadcast here
    * @return (vec_id, v, nrm, cell) */
  private[graft] def semdedupAssign(emb: DataFrame, cent: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cent))
      .withColumn("acos", cosine(col("cv"), col("v"), col("cn"), col("nrm")))
      .groupBy("vec_id")
      .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"),
        min(struct(
          nanvl(negate(col("acos")), lit(Double.NegativeInfinity)).as("nc"),
          col("cell").as("cell"))).as("best"))
      .select(col("vec_id"), col("v"), col("nrm"), col("best.cell").as("cell"))

  /** X1e — SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space coarsely, then
    * look for near-duplicates ONLY inside each cluster — the
    * IVF-blocking idea applied to dedup instead of search, which
    * turns corpus×corpus into Σ cell². The cell count is a REAL
    * scale dial: k = [[semdedupK]] = max(8, ceil(√N)) centroids
    * (seeds = the first k vec_ids, the q_ann_ivf first-k convention
    * kept oracle-checkable — the trained path would take the cells
    * from an AnnIndex/PqIndex codebook instead), so the in-cell pair
    * join is Σ cell² ≈ N²/k = N^1.5, never corpus². A [[semdedupMaxCell]]
    * hot-cell cap (in BOTH engines) bounds residual skew:
    * pair fan-out ≤ k·maxCell²/2 by construction. The 1M×64-d
    * block of tools/ScaleSmoke (as of commit 1372bdc) ran this exact
    * assignment at k = 1000 and asserted the per-cell population
    * bound.
    *
    * Dedup rule (deterministic, the keep-lowest-id policy of the
    * exact-dedup family): a vector is a duplicate iff some LOWER-id
    * vector in the SAME (uncapped) cell has cosine ≥ 0.4 with it;
    * `dup_of` is the smallest such id. The corpus count feeding k is
    * a parquet-metadata count (bounded driver scalar, same class as
    * the zorder bounds / ExactQuantiles cuts). */
  val qSemdedup: QuerySpec = QuerySpec(
    "q_semdedup",
    s"""$vvCte,
       |prm AS (SELECT GREATEST(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
       |  FROM n),
       |cent AS (SELECT vec_id AS cell, vv, nrm FROM n
       |  WHERE vec_id < (SELECT k FROM prm)),
       |corp AS (SELECT vec_id, vv, nrm FROM n
       |  WHERE vec_id >= (SELECT k FROM prm)),
       |asgn AS (SELECT vec_id, vv, nrm, cell FROM (
       |  SELECT c.vec_id, c.vv, c.nrm, k.cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${cosineSql("k", "c")} DESC, k.cell) AS arn
       |  FROM corp c CROSS JOIN cent k) WHERE arn = 1),
       |ok AS (SELECT cell FROM asgn GROUP BY cell
       |  HAVING count(*) <= $semdedupMaxCell),
       |dups AS (SELECT b.vec_id, min(a.vec_id) AS dup_of
       |  FROM asgn a JOIN ok ON ok.cell = a.cell
       |  JOIN asgn b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${cosineSql("a", "b")} >= 0.4
       |  GROUP BY b.vec_id)
       |SELECT s.vec_id, s.cell, d.dup_of,
       |  d.dup_of IS NOT NULL AS is_dup
       |FROM asgn s LEFT JOIN dups d USING (vec_id)
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
    val k = semdedupK(emb.count())
    val cent = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"), col("v").as("cv"),
        col("nrm").as("cn"))
    // materialize ONCE: asgn feeds the cell-size gate, both pair-join
    // sides and the final projection (4 consumers; without this the
    // broadcast-assign pass re-runs per consumer)
    val asgn = semdedupAssign(emb.filter(col("vec_id") >= k), cent)
      .localCheckpoint()
    val ok = asgn.groupBy("cell").agg(count(lit(1)).as("cn_"))
      .filter(col("cn_") <= semdedupMaxCell).select("cell")
    val a = asgn.join(ok, "cell")
      .select(col("cell"), col("vec_id").as("a_id"),
        col("v").as("av"), col("nrm").as("an"))
    val b = asgn.select(col("cell"), col("vec_id").as("vec_id"),
      col("v").as("bv"), col("nrm").as("bn"))
    val dups = a.join(b, "cell")
      .filter(col("a_id") < col("vec_id"))
      .filter(cosine(col("av"), col("bv"), col("an"), col("bn")) >= 0.4)
      .groupBy("vec_id").agg(min(col("a_id")).as("dup_of"))
    asgn.select("vec_id", "cell")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
      .orderBy("vec_id")
  }

  /** Ext — deterministic k-means over the embedding corpus: the
    * cluster-balanced-sampling / topic-stratification primitive of a
    * training-data curation pipeline (cluster, then sample per
    * cluster). Fixed k = 8, fixed 3 Lloyd iterations, seeds = the
    * vec_id < 8 vectors (the q_ann_ivf convention; the trainable
    * scattered-seed path lives in vector/AnnIndex).
    *
    * Execution shape is the MLlib one — the RIGHT one at 100 TB:
    * centroids are O(k·d) driver state (the bounded-collect class:
    * zorder bounds, ExactQuantiles cuts), so each iteration is ONE
    * map-only assignment pass (centroids constant-folded into the
    * codegen'd [[VectorKernels.dot]] fold — no join, no broadcast
    * exchange even) feeding ONE partial-aggregated groupBy for the
    * per-dimension sums. Nothing iterative ever shuffles the vectors
    * more than once per pass, and the lazy 10-stage plan blowup of
    * the in-engine alternative (q_pagerank's shape) never forms.
    *
    * Determinism: assignment orders by (d6-snapped distance, cid) —
    * the distance p.nrm + c.cn − 2·dot is a mul-add chain, which the
    * FMA caveat (functions/Det.scala) says must be snapped before ANY
    * compare; both engines snap identically so ties break identically.
    * Per-dim centroid means are decimal(18,6)-exact sums (order-
    * independent under shuffle; the value-at-scale-6 cast is the
    * q_embed_gram-proven grid for this corpus) divided once in
    * double. Centroid norms re-fold left-to-right in dim order on
    * the driver — the same sequential fold [[DotFold]] and DuckDB's
    * list_reduce run. */
  private val kmeansK = 8
  private val kmeansIters = 3
  private def kmeansKdistSql(p: String, c: String): String = D.d6(
    s"$p.nrm + $c.cn - 2.0 * list_reduce(list_transform(" +
      s"list_zip($p.vv, $c.cv), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), " +
      "(a, b) -> a + b)")

  /** Shared SQL CTE chain for the kmeans family: vv/n, seed centroids
    * k0, and [[kmeansIters]] unrolled Lloyd rounds ending at centroid
    * relation k[[kmeansIters]]. Consumed by q_cluster_kmeans and
    * q_silhouette. */
  private val kmeansSqlCtes: String = {
    def normSqlOf(e: String): String =
      s"list_reduce(list_transform($e, x -> x * x), (a, b) -> a + b)"
    val sb = new StringBuilder
    sb ++= s"""$vvCte,
       |k0 AS (SELECT vec_id AS cid, vv AS cv, nrm AS cn FROM n
       |  WHERE vec_id < $kmeansK)""".stripMargin
    for (i <- 1 to kmeansIters) {
      val prev = s"k${i - 1}"
      sb ++= s""",
       |a$i AS (SELECT vec_id, vv, cid FROM (
       |  SELECT p.vec_id, p.vv, c.cid,
       |    row_number() OVER (PARTITION BY p.vec_id
       |      ORDER BY ${kmeansKdistSql("p", "c")}, c.cid) AS rn
       |  FROM n p CROSS JOIN $prev c) WHERE rn = 1),
       |m$i AS (SELECT cid, d,
       |    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
       |  FROM (SELECT cid, unnest(vv) AS x,
       |        generate_subscripts(vv, 1) AS d FROM a$i)
       |  GROUP BY cid, d),
       |k$i AS (SELECT p.cid, COALESCE(t.cv, p.cv) AS cv,
       |    COALESCE(t.cn, p.cn) AS cn
       |  FROM $prev p LEFT JOIN (
       |    SELECT cid, cv, ${normSqlOf("cv")} AS cn FROM (
       |      SELECT cid, list(m ORDER BY d) AS cv FROM m$i
       |      GROUP BY cid)) t USING (cid))""".stripMargin
    }
    sb.toString
  }

  /** Scala twin: runs the [[kmeansIters]] Lloyd rounds (O(k·d) driver
    * centroids from bounded collects — the MLlib shape) and returns
    * the final centroids as (cid, vector, squared-norm). */
  private def kmeansCentroids(s: SparkSession, dir: String)
      : Seq[(Long, Array[Double], Double)] = {
    val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
    var cents: Seq[(Long, Array[Double], Double)] =
      emb.filter(col("vec_id") < kmeansK)
        .select(col("vec_id"),
          col("v").cast(ArrayType(DoubleType)).as("cv"), col("nrm"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
          r.getDouble(2)))
        .sortBy(_._1).toSeq
    for (_ <- 1 to kmeansIters) {
      val means = emb.withColumn("a", kmeansAssignCol(cents))
        .select(col("a.cid").as("cid"),
          posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("cid", "d")
        .agg((sum(col("x").cast(DoubleType).cast(DecimalType(18, 6)))
          .cast(DoubleType) / count(lit(1))).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray }
      cents = cents.map { case (cid, cv, cn) =>
        means.get(cid) match {
          case Some(m) =>
            var acc = 0.0; var i = 0
            while (i < m.length) { acc += m(i) * m(i); i += 1 }
            (cid, m, acc)
          case None => (cid, cv, cn)
        }
      }
    }
    cents
  }

  /** (snapped distance, cid) struct-min = the oracle's row_number
    * tie-break; centroid arrays are foldable literals, so codegen
    * sees k constant arrays, not per-row construction. */
  private def kmeansAssignCol(
      cents: Seq[(Long, Array[Double], Double)]): Column =
    array_min(kmeansDistArr(cents))

  /** The full per-centroid (snapped dist, cid) struct array — sorted
    * ascending it yields assignment (1st) and the silhouette
    * neighbor distance (2nd). */
  private def kmeansDistArr(
      cents: Seq[(Long, Array[Double], Double)]): Column =
    array(cents.map { case (cid, cv, cn) =>
      struct(
        Det.d6(col("nrm") + lit(cn) - lit(2.0) *
          VectorKernels.dot(col("v"),
            array(cv.toSeq.map(lit): _*))).as("dd"),
        lit(cid).as("cid"))
    }: _*)

  val qClusterKmeans: QuerySpec = QuerySpec(
    "q_cluster_kmeans",
    s"""$kmeansSqlCtes
       |SELECT vec_id, cid AS cluster, dd AS dist FROM (
       |  SELECT p.vec_id, c.cid, ${kmeansKdistSql("p", "c")} AS dd,
       |    row_number() OVER (PARTITION BY p.vec_id
       |      ORDER BY ${kmeansKdistSql("p", "c")}, c.cid) AS rn
       |  FROM n p CROSS JOIN k$kmeansIters c) WHERE rn = 1
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
    emb.withColumn("a", kmeansAssignCol(kmeansCentroids(s, dir)))
      .select(col("vec_id"), col("a.cid").as("cluster"),
        col("a.dd").as("dist"))
      .orderBy("vec_id")
  }

  /** Ext — SIMPLIFIED SILHOUETTE (q_silhouette): the clustering-
    * quality audit over the kmeans assignment — per point, a = dist
    * to its OWN (nearest) centroid, b = dist to the SECOND-nearest,
    * sil = (b − a) / max(a, b) ∈ [0, 1] here (a ≤ b by construction;
    * ~0 means the point sits on a cluster boundary). This is the
    * centroid-based "simplified silhouette" (Hruschka et al. 2004,
    * public) that drops the O(N²) pairwise form — the variant anyone
    * runs at scale.
    *
    * Shape: the Lloyd rounds are the q_cluster_kmeans machinery
    * (shared kmeansSqlCtes / kmeansCentroids — one definition); the
    * scoring pass is MAP-ONLY (k constant-folded centroid structs,
    * array_sort, take 1st and 2nd) + the output sort. Distances are
    * sqrt of the d6-snapped squared form; sil re-snaps at the end. */
  val qSilhouette: QuerySpec = QuerySpec(
    "q_silhouette",
    s"""$kmeansSqlCtes,
       |ranked AS (
       |  SELECT p.vec_id, c.cid, sqrt(${kmeansKdistSql("p", "c")}) AS dist,
       |    row_number() OVER (PARTITION BY p.vec_id
       |      ORDER BY ${kmeansKdistSql("p", "c")}, c.cid) AS rn
       |  FROM n p CROSS JOIN k$kmeansIters c),
       |r1 AS (SELECT vec_id, cid AS cluster, dist AS a_raw
       |  FROM ranked WHERE rn = 1),
       |r2 AS (SELECT vec_id, dist AS b_raw FROM ranked WHERE rn = 2)
       |SELECT r1.vec_id, cluster,
       |  ${D.d6("a_raw")} AS a_dist, ${D.d6("b_raw")} AS b_dist,
       |  ${D.d6(
             "CASE WHEN b_raw > 0 THEN (b_raw - a_raw) / b_raw ELSE 0.0 END")}
       |    AS sil
       |FROM r1 JOIN r2 USING (vec_id) ORDER BY r1.vec_id""".stripMargin
    ) { (s, dir) =>
    val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
    val sorted = array_sort(kmeansDistArr(kmeansCentroids(s, dir)))
    val aRaw = sqrt(element_at(sorted, 1).getField("dd"))
    val bRaw = sqrt(element_at(sorted, 2).getField("dd"))
    emb
      .select(col("vec_id"),
        element_at(sorted, 1).getField("cid").as("cluster"),
        aRaw.as("a_raw"), bRaw.as("b_raw"))
      .select(col("vec_id"), col("cluster"),
        Det.d6(col("a_raw")).as("a_dist"), Det.d6(col("b_raw")).as("b_dist"),
        Det.d6(when(col("b_raw") > 0,
          (col("b_raw") - col("a_raw")) / col("b_raw"))
          .otherwise(lit(0.0))).as("sil"))
      .orderBy("vec_id")
  }

  /** Ext — LABEL-STRUCTURE diagnostic: nearest-centroid
    * self-classification confusion matrix over the embeddings'
    * `label` column. Per label: the mean embedding (decimal-exact
    * per-dim sums — the q_cluster_kmeans grid); every vector is then
    * assigned to its nearest label centroid (snapped L2, label-asc
    * tie-break) and the (true_label, pred_label) counts + row
    * fractions come out. This is the "are my class/topic labels
    * actually separable in embedding space?" audit a curation
    * pipeline runs before trusting label-stratified sampling or
    * label-balanced dedup — an off-diagonal-heavy row means that
    * label's samples are indistinguishable from another's.
    *
    * Shape (the MLlib/kmeans one): label centroids are O(k·d)
    * driver state from ONE partial-aggregated pass (bounded collect:
    * 10×64 doubles); assignment is a map-only pass with the
    * centroids constant-folded into the codegen'd dot kernel — no
    * join, no shuffle except the final k² confusion aggregate. */
  val qLabelConfusion: QuerySpec = {
    def normSqlOf(e: String): String =
      s"list_reduce(list_transform($e, x -> x * x), (a, b) -> a + b)"
    def kdistSql(p: String, c: String): String = D.d6(
      s"$p.nrm + $c.cnn - 2.0 * list_reduce(list_transform(" +
        s"list_zip($p.vv, $c.cv), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), " +
        "(a, b) -> a + b)")
    QuerySpec(
      "q_label_confusion",
      s"""WITH v AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
         |  FROM embeddings),
         |n AS (SELECT vec_id, label, vv, ${normSqlOf("vv")} AS nrm FROM v),
         |m AS (SELECT label, d,
         |    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
         |  FROM (SELECT label, unnest(vv) AS x,
         |        generate_subscripts(vv, 1) AS d FROM n)
         |  GROUP BY label, d),
         |c AS (SELECT label AS clabel, list(m ORDER BY d) AS cv FROM m
         |  GROUP BY label),
         |cn AS (SELECT clabel, cv, ${normSqlOf("cv")} AS cnn FROM c),
         |asgn AS (SELECT vec_id, label, pred FROM (
         |  SELECT p.vec_id, p.label, k.clabel AS pred,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${kdistSql("p", "k")}, k.clabel) AS rn
         |  FROM n p CROSS JOIN cn k) WHERE rn = 1)
         |SELECT label AS true_label, pred AS pred_label,
         |  count(*) AS n,
         |  CAST(count(*) AS DOUBLE)
         |    / sum(count(*)) OVER (PARTITION BY label) AS frac
         |FROM asgn GROUP BY label, pred
         |ORDER BY true_label, pred_label""".stripMargin) { (s, dir) =>
      val emb = LsdDb.table(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").as("v"))
        .withColumn("nrm", VectorKernels.norm2(col("v")))
      // one partial-aggregated pass -> k x d driver means (bounded
      // collect, the kmeans class), reassembled as literal arrays.
      // STRUCTURAL GUARD (the ExactQuantiles rule): the collect is
      // bounded by label cardinality, which is data — limit() caps
      // the driver transfer BEFORE it happens and fails loud past
      // 1024 labels x 64 dims, where the literal-folded assignment
      // (and codegen itself) is the wrong regime; a high-cardinality
      // label space needs the AnnIndex broadcast-kernel path instead
      val maxMeanRows = 1024 * 64
      val meanRows = emb
        .select(col("label"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("label", "d")
        .agg((sum(col("x").cast(DoubleType).cast(DecimalType(18, 6)))
          .cast(DoubleType) / count(lit(1))).as("m"))
        .limit(maxMeanRows + 1)
        .collect()
      require(meanRows.length <= maxMeanRows,
        s"q_label_confusion: >${maxMeanRows} (label,dim) means — label " +
          "cardinality too high for literal-folded centroids; use a " +
          "broadcast assignment kernel (AnnIndex.assign) instead")
      val means = meanRows
        .groupBy(_.getInt(0))
        .map { case (lbl, rows) =>
          val cv = rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
          var cnn = 0.0; var i = 0
          while (i < cv.length) { cnn += cv(i) * cv(i); i += 1 }
          (lbl, cv, cnn)
        }.toSeq.sortBy(_._1)
      // (snapped L2, label) struct-min == the oracle's row_number
      val assignCol = array_min(array(means.map { case (lbl, cv, cnn) =>
        struct(
          Det.d6(col("nrm") + lit(cnn) - lit(2.0) *
            VectorKernels.dot(col("v"),
              array(cv.toSeq.map(lit): _*))).as("dd"),
          lit(lbl).as("pred"))
      }: _*))
      val fw = Window.partitionBy("true_label")
      emb.withColumn("a", assignCol)
        .groupBy(col("label").as("true_label"),
          col("a.pred").as("pred_label"))
        .agg(count(lit(1)).as("n"))
        .withColumn("frac",
          col("n").cast(DoubleType) / sum(col("n")).over(fw))
        .orderBy("true_label", "pred_label")
    }
  }

  /** Ext — TRAIN→EVAL LEAKAGE audit in embedding space: for every
    * eval-split document, the most-similar train-split document
    * inside the same semantic cell, flagged when cosine ≥ 0.4 — the
    * contamination check n-gram decontamination (q_decontaminate)
    * cannot do, because paraphrased or translated leaks share no
    * shingles but sit next to each other in embedding space (the
    * SemDeDup observation applied across the split boundary).
    *
    * Reuses the whole q_semdedup scale algebra verbatim: k =
    * [[semdedupK]] = √N cells from the first-k seeds ([[semdedupAssign]]
    * broadcast pass over ALL vectors — seeds self-assign at cos 1),
    * the [[semdedupMaxCell]] hot-cell cap on pair generation, and the
    * keep-best rule (max cosine, train-id tie-break). Split is the
    * q_split_assign LCG on vec_id (train <90 / eval ≥90), so the
    * audit needs no side table. Train×eval pairs never cross cells —
    * N^1.5, never corpus². */
  val qSplitLeakage: QuerySpec = QuerySpec(
    "q_split_leakage",
    s"""$vvCte,
       |prm AS (SELECT GREATEST(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
       |  FROM n),
       |cent AS (SELECT vec_id AS cell, vv, nrm FROM n
       |  WHERE vec_id < (SELECT k FROM prm)),
       |asgn AS (SELECT vec_id, vv, nrm, cell FROM (
       |  SELECT c.vec_id, c.vv, c.nrm, k.cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${cosineSql("k", "c")} DESC, k.cell) AS arn
       |  FROM n c CROSS JOIN cent k) WHERE arn = 1),
       |ok AS (SELECT cell FROM asgn GROUP BY cell
       |  HAVING count(*) <= $semdedupMaxCell),
       |sp AS (SELECT vec_id,
       |    ((vec_id % 2147483647) * 1103515245 + 12345) % 100 AS bucket
       |  FROM n),
       |tr AS (SELECT a.* FROM asgn a
       |  JOIN sp ON sp.vec_id = a.vec_id AND sp.bucket < 90
       |  JOIN ok ON ok.cell = a.cell),
       |ev AS (SELECT a.* FROM asgn a
       |  JOIN sp ON sp.vec_id = a.vec_id AND sp.bucket >= 90),
       |best AS (SELECT vec_id, leak_of, cos FROM (
       |  SELECT e.vec_id, t.vec_id AS leak_of,
       |    ${cosineSql("t", "e")} AS cos,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosineSql("t", "e")} DESC, t.vec_id) AS brn
       |  FROM ev e JOIN tr t ON t.cell = e.cell
       |  WHERE ${cosineSql("t", "e")} >= 0.4) WHERE brn = 1)
       |SELECT e.vec_id, b.leak_of,
       |  ${D.d6("b.cos")} AS leak_cos,
       |  b.leak_of IS NOT NULL AS is_leaked
       |FROM ev e LEFT JOIN best b ON b.vec_id = e.vec_id
       |ORDER BY e.vec_id""".stripMargin) { (s, dir) =>
    val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
    val k = semdedupK(emb.count())
    val cent = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"), col("v").as("cv"),
        col("nrm").as("cn"))
    // same one-materialization rule as q_semdedup (4 consumers)
    val asgn = semdedupAssign(emb, cent).localCheckpoint()
    val ok = asgn.groupBy("cell").agg(count(lit(1)).as("cn_"))
      .filter(col("cn_") <= semdedupMaxCell).select("cell")
    val bucket =
      ((col("vec_id") % 2147483647L) * 1103515245L + 12345L) % 100
    val withB = asgn.withColumn("bucket", bucket)
    val tr = withB.filter(col("bucket") < 90).join(ok, "cell")
      .select(col("cell"), col("vec_id").as("t_id"),
        col("v").as("tv"), col("nrm").as("tn"))
    val ev = withB.filter(col("bucket") >= 90)
      .select(col("cell"), col("vec_id"),
        col("v").as("ev_"), col("nrm").as("en"))
    val bw = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("leak_of").asc)
    val best = ev.join(tr, "cell")
      .withColumn("cos", cosine(col("tv"), col("ev_"), col("tn"), col("en")))
      .filter(col("cos") >= 0.4)
      .select(col("vec_id"), col("t_id").as("leak_of"), col("cos"))
      .withColumn("brn", row_number().over(bw))
      .filter(col("brn") === 1)
      .select("vec_id", "leak_of", "cos")
    ev.select("vec_id")
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("leak_of"),
        Det.d6(col("cos")).as("leak_cos"),
        col("leak_of").isNotNull.as("is_leaked"))
      .orderBy("vec_id")
  }

  /** Ext — DIVERSITY-BALANCED sampling: at most m = 5 vectors per
    * semantic cell, chosen by a deterministic per-cell hash order —
    * the cluster-balanced subset selection step the clustering
    * family exists to feed (SemDeDup/DoReMi-style pipelines sample
    * per topic cell, not uniformly, so rare regions of embedding
    * space survive a 100× downsample that uniform sampling would
    * wash out). Cells are the q_semdedup √N Voronoi cells
    * ([[semdedupK]]/[[semdedupAssign]]); within a cell the order is
    * md5(vec_id) (engine-identical hex ordering — the MinHash trick;
    * xxhash64 is Spark-only) with vec_id tie-break, so the sample is
    * reproducible and uniform-ish within every cell.
    *
    * Shape: one broadcast assignment pass + ONE window per cell —
    * no corpus sort, no pair join; output is ≤ k·m rows. */
  val qDiverseSample: QuerySpec = QuerySpec(
    "q_diverse_sample",
    s"""$vvCte,
       |prm AS (SELECT GREATEST(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
       |  FROM n),
       |cent AS (SELECT vec_id AS cell, vv, nrm FROM n
       |  WHERE vec_id < (SELECT k FROM prm)),
       |asgn AS (SELECT vec_id, cell FROM (
       |  SELECT c.vec_id, k.cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${cosineSql("k", "c")} DESC, k.cell) AS arn
       |  FROM n c CROSS JOIN cent k) WHERE arn = 1)
       |SELECT vec_id, cell, pick FROM (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY cell
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS pick
       |  FROM asgn) WHERE pick <= 5
       |ORDER BY cell, pick""".stripMargin) { (s, dir) =>
    val emb = withNorm(LsdDb.table(s, dir, "embeddings"))
    val k = semdedupK(emb.count())
    val cent = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"), col("v").as("cv"),
        col("nrm").as("cn"))
    val asgn = semdedupAssign(emb, cent).select("vec_id", "cell")
    val pw = Window.partitionBy("cell")
      .orderBy(md5(col("vec_id").cast("string").cast("binary")),
        col("vec_id"))
    asgn.withColumn("pick", row_number().over(pw))
      .filter(col("pick") <= 5)
      .select(col("vec_id"), col("cell"),
        col("pick").cast(org.apache.spark.sql.types.LongType).as("pick"))
      .orderBy("cell", "pick")
  }

  def specs: Seq[QuerySpec] =
    Seq(qCosineTopk, qDedupEmbcos, qUdfHaversine, qAnnIvf, qQuantizeEmbed,
      qDedupLshCos, qAnnDisk, qEmbedGram, qAnnPq, qSemdedup, qClusterKmeans,
      qAnnRecall, qNdcgGraded, qMrr, qLabelConfusion, qSplitLeakage,
      qDiverseSample, qPqRecall, qSilhouette, qPcaPower)
}
