package graft.operators

import graft.{LsdDb, QuerySpec}
import graft.functions.Det
import graft.functions.{Det => D}
import graft.sources.ParquetRead
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** North-star extension, round 5 — the remaining operations a
  * large-scale LLM-training-data pipeline runs between raw crawl and
  * training shards: benchmark decontamination, Gopher-style quality
  * gating, stratified sampling, inverted-index construction, TF-IDF
  * keyword extraction — plus the astronomical time-series aggregation
  * (light-curve statistics) that was the reference engine's own
  * flagship workload shape (per-object photometry over epochs;
  * SURVEY.md §1 "time-series of detections", UNVERIFIED — reference
  * checkout empty).
  *
  * Determinism discipline as everywhere: pure Catalyst expression
  * trees (no UDFs), md5/integer hashing, Det decimal-exact sums, d6
  * snapping for transcendentals — every query both whole-stage
  * codegen'd and DuckDB-hash-matched.
  */
object PipelineOps {

  /** Whitespace tokens, empties dropped — same contract as
    * TextOps.words (kept private there; the SQL twin must stay
    * textually in sync with wordsSql below). */
  private def words(c: Column): Column =
    filter(split(c, "\\s+"), w => w =!= "")
  private val wordsSql =
    "list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')"
  private def wordSet(c: Column): Column = array_distinct(words(c))
  private val wordSetSql = s"list_distinct($wordsSql)"

  /** Word 3-gram shingles joined with '' — the
    * decontamination unit (a 3-token overlap window; production
    * pipelines use 8-13 tokens, the corpus here has short docs).
    * Distinct per doc. */
  // Served by the codegen'd graft.functions.WordNgrams kernel (r21).
  // The previous zip_with-over-aligned-slices form relied on
  // subexpression elimination to dedup its six copies of the regex
  // split -- but the optimizer collapses this projection INTO the
  // Generate that explodes it, and an interpreted Generate has no
  // subexpression elimination, so every row paid six splits plus the
  // interpreted HOF ladder (observed live in q_dedup_prefix's
  // executed plan). The kernel is one byte scan per row inside
  // whole-stage codegen; output byte-identical (WordNgramsSpec pins
  // it against the old builtin form, unicode and whitespace edges
  // included).
  private def shingles3(c: Column): Column =
    graft.functions.WordNgrams.wordNgrams(c, 3, "\u0001",
      distinct = true)
  private val shingles3Sql = {
    val w = wordsSql
    s"""list_distinct(list_filter(
       |  list_transform(range(1, len($w) - 1),
       |    i -> concat_ws(chr(1), $w[i], $w[i+1], $w[i+2])), x -> x IS NOT NULL))""".stripMargin
  }

  /** PPJoin hot-bucket ceiling (q_dedup_prefix): prefix tokens shared
    * by more docs than this are boilerplate and are dropped from
    * candidate generation on both engine sides — bounds the per-token
    * aggregation buffer AND the O(bucket²) pair fan-out. Same guard
    * class as TextOps' minhash maxBucket (=50); higher here because a
    * PPJoin prefix bucket must also cover legitimate mid-frequency
    * shingles, not just 64-hex band collisions. */
  private val maxPrefixBucket = 100

  /** Broadcast budget for the PPJoin-family verify phase's per-doc
    * shingle-array relation (candidate docs only). Budgeted for the
    * FULL cost, not the raw bytes (r21 advisor): the relation is
    * broadcast TWICE (separate ta/tb attach joins), each build pays
    * a several-× hash-relation overhead over the raw arrays, and the
    * ~1 KB/doc estimate is corpus-specific — so 128 Ki docs ≈ 128 MB
    * raw ⇒ ≈ 1 GB resident worst case, an order of magnitude under
    * Spark's 8 GB broadcast ceiling. Past it, the same arrays attach
    * by shuffle joins: identical answer, no broadcast cliff. */
  private val maxVerifyBroadcastDocs = 128L << 10

  /** Ext — benchmark decontamination: flag training documents that
    * share any word-3-gram with the held-out eval set (docs with
    * doc_id % 97 == 0 stand in for the benchmark). The eval shingle
    * set is tiny relative to the corpus (~1% of docs), so the plan is
    * the 100-TB shape: DISTINCT eval shingles → broadcast hash join
    * against the exploded corpus — the corpus is never shuffled, and
    * per-doc hit counts aggregate map-side first.
    *
    * The broadcast is GUARDED (the CrossMatch.pairs skew pattern): the
    * eval-shingle relation is corpus-derived, so "tiny" is an
    * expectation, not an invariant — at 100 TB a pathological eval
    * split could exceed driver/broadcast memory. We count the distinct
    * relation (one extra job over the small 1%-of-corpus branch, which
    * the join re-computes anyway) and fall back to a shuffled hash
    * equi-join on the shingle above maxBroadcastRows. Row-identical by
    * construction (same join keys, same agg); proven in
    * PipelineOpsSpec by forcing the fallback with maxBroadcastRows=0.
    *
    * Bench-floor envelope (QueryProfile, sf0.1, 3 reps 2026-08-14):
    * warm best 1.06–1.18 s vs 0.881 s floor — the r14 full-bench
    * 5.69 s was sibling-load contention on byte-identical code, not a
    * plan change (r13 measured 1.34 s on the same commit).
    */
  def decontaminate(s: SparkSession, dir: String,
                    maxBroadcastRows: Long = 4L << 20): DataFrame = {
    val sh = LsdDb.table(s, dir, "documents")
      .select(col("doc_id"), explode(shingles3(col("text"))).as("s"))
    val eval = sh.filter(col("doc_id") % 97 === 0).select("s").distinct()
    val train = sh.filter(col("doc_id") % 97 =!= 0)
    val evalSide =
      if (eval.count() <= maxBroadcastRows) broadcast(eval)
      else eval.hint("shuffle_hash")
    train.join(evalSide, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated"))
      .orderBy("doc_id")
  }

  val qDecontaminate: QuerySpec = QuerySpec(
    "q_decontaminate",
    s"""WITH sh AS (
       |  SELECT doc_id, unnest($shingles3Sql) AS s
       |  FROM documents),
       |eval AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
       |train AS (SELECT * FROM sh WHERE doc_id % 97 <> 0)
       |SELECT t.doc_id, count(*) AS n_contaminated
       |FROM train t JOIN eval e ON t.s = e.s
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    decontaminate(s, dir)
  }

  /** Ext — Gopher-style quality gate (Rae et al. 2021, arXiv
    * 2112.11446 §A1.1, public): per-doc repetition and shape signals
    * with a keep/drop verdict. All signals are single-pass expression
    * trees over the tokenized text — map-only, no shuffle at any
    * scale (the ORDER BY is presentation-only; a pipeline consumes
    * the boolean).
    */
  val qQualityGopher: QuerySpec = QuerySpec(
    "q_quality_gopher",
    s"""WITH t AS (SELECT doc_id, $wordsSql AS w FROM documents),
       |sig AS (SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(len(w) - len(list_distinct(w)) AS DOUBLE)
       |      / len(w) AS dup_word_frac,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
       |      AS DOUBLE) / len(w) AS alpha_word_frac,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(w, x -> CAST(length(x) AS BIGINT))),
       |      (a, x) -> a + x) AS DOUBLE) / len(w) AS mean_word_len
       |  FROM t)
       |SELECT doc_id, n_words, ${D.sql.d6("dup_word_frac")} AS dup_word_frac,
       |  ${D.sql.d6("alpha_word_frac")} AS alpha_word_frac,
       |  ${D.sql.d6("mean_word_len")} AS mean_word_len,
       |  (n_words >= 5 AND dup_word_frac <= 0.3
       |    AND alpha_word_frac >= 0.8
       |    AND mean_word_len BETWEEN 2 AND 12) AS keep
       |FROM sig ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val w = words(col("text"))
    val nWords = size(w).cast(LongType)
    val dupFrac = (size(w) - size(array_distinct(w))).cast(DoubleType) /
      size(w)
    val alphaFrac = size(filter(w, x => x.rlike("[A-Za-z]")))
      .cast(DoubleType) / size(w)
    val meanLen = aggregate(transform(w, x => length(x).cast(LongType)),
      lit(0L), (a, x) => a + x).cast(DoubleType) / size(w)
    LsdDb.table(s, dir, "documents")
      .select(col("doc_id"), nWords.as("n_words"),
        Det.d6(dupFrac).as("dup_word_frac"),
        Det.d6(alphaFrac).as("alpha_word_frac"),
        Det.d6(meanLen).as("mean_word_len"),
        (nWords >= 5 && dupFrac <= 0.3 && alphaFrac >= 0.8 &&
          meanLen.between(2, 12)).as("keep"))
      .orderBy("doc_id")
  }

  /** Ext — stratified sampling: a deterministic 10% sample WITHIN each
    * stratum (source), so the sampled corpus preserves the source mix
    * exactly — the resampling step every data-mixture recipe needs.
    * Order within a stratum comes from the same overflow-free LCG as
    * q_split_assign (engine-independent pseudo-randomness), rank from
    * one window over the stratum key: a single shuffle on `source`,
    * and at 100 TB the stratum is the natural partition unit. */
  val qStratifiedSample: QuerySpec = QuerySpec(
    "q_stratified_sample",
    """WITH r AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY ((doc_id % 2147483647) * 1103515245 + 12345) % 1000000,
      |        doc_id) AS rk,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM documents)
      |SELECT doc_id, source FROM r
      |WHERE rk <= CAST(ceil(0.10 * n) AS BIGINT)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val lcg = ((col("doc_id") % 2147483647L) * 1103515245L + 12345L) %
      1000000L
    val byLcg = Window.partitionBy("source").orderBy(lcg, col("doc_id"))
    val all = Window.partitionBy("source")
    LsdDb.table(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        row_number().over(byLcg).as("rk"),
        count(lit(1)).over(all).as("n"))
      .filter(col("rk") <= ceil(lit(0.10) * col("n")).cast(LongType))
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Ext — WEIGHTED sampling without replacement, k=5 per stratum
    * (Efraimidis–Spirakis A-ES, Inf. Proc. Letters 2006): each row
    * draws u ∈ (0,1) and ranks by u^(1/w) — equivalently ln(u)/w,
    * monotone and division-free of pow — so the top-k per stratum is
    * an exact weighted sample without replacement. Here w = n_chars:
    * length-weighted document sampling, the TOKEN-mass-proportional
    * draw a mixture recipe uses when "sample 1% of tokens" must not
    * mean "1% of documents". u comes from the same overflow-free LCG
    * as q_split_assign (engine-identical integer arithmetic); the
    * ln(u)/w key is transcendental, so it is d6-snapped before
    * ranking with doc_id as the deterministic tie-break — the
    * repo-standard discipline for cross-engine float comparison.
    * One shuffle on the stratum key; rank state is O(k) per group. */
  val qSampleWeighted: QuerySpec = QuerySpec(
    "q_sample_weighted",
    """WITH r AS (SELECT doc_id, source, n_chars,
      |    CAST(CAST(ln((((doc_id % 2147483647) * 1103515245 + 12345)
      |          % 1000000 + 1) / 1000001.0) / n_chars
      |        AS DECIMAL(18,6)) AS DOUBLE) AS skey
      |  FROM documents),
      |rk AS (SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY skey DESC, doc_id) AS rn
      |  FROM r)
      |SELECT source, doc_id, n_chars FROM rk WHERE rn <= 5
      |ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
    val u = (((col("doc_id") % 2147483647L) * 1103515245L + 12345L)
      % 1000000L + 1L).cast(DoubleType) / 1000001.0
    val skey = Det.d6(log(u) / col("n_chars"))
    val w = Window.partitionBy("source")
      .orderBy(col("skey").desc, col("doc_id"))
    LsdDb.table(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"),
        skey.as("skey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("source", "doc_id", "n_chars")
      .orderBy("source", "doc_id")
  }

  /** Ext — inverted index (term → postings list): the retrieval-side
    * product of a corpus. One explode + one groupBy(term) shuffle;
    * postings arrive sorted via array_sort after collect_set (the
    * comparator needs a canonical string — see q_agg_collect). The
    * df >= 2 floor drops the hapax tail, which at corpus scale is
    * both the bulk of terms and retrieval-useless. */
  val qInvertedIndex: QuerySpec = QuerySpec(
    "q_inverted_index",
    s"""WITH wd AS (
       |  SELECT DISTINCT w, doc_id
       |  FROM (SELECT unnest($wordsSql) AS w, doc_id FROM documents)),
       |p AS (SELECT w AS term, count(*) AS df,
       |    array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
       |  FROM wd GROUP BY w)
       |SELECT term, df, postings FROM p
       |WHERE df >= 2 ORDER BY term""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "documents")
      .select(explode(words(col("text"))).as("term"), col("doc_id"))
      .distinct()
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        array_join(array_sort(collect_set(col("doc_id"))), ",")
          .as("postings"))
      .filter(col("df") >= 2)
      .orderBy("term")
  }

  /** Ext — TF-IDF keyword extraction: top-3 terms per document.
    * Ranking is INTEGER-only (tf desc, df asc, term asc) so row
    * selection can never flip on a float ulp; the tf·idf score itself
    * is emitted d6-snapped for the hash compare. Two shuffles (term
    * df, then per-doc window) — at scale the df side is a tiny
    * broadcastable dimension after the df floor. */
  val qTfidf: QuerySpec = QuerySpec(
    "q_tfidf",
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($wordsSql) AS w FROM documents),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
       |df AS (SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM tok GROUP BY w),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.w AS term, tf.tf, df.df,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf DESC, df.df ASC, tf.w ASC) AS rk,
       |    CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / df.df)
       |      AS score
       |  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n)
       |SELECT doc_id, term, tf, df, ${D.sql.d6("score")} AS tfidf
       |FROM scored WHERE rk <= 3 ORDER BY doc_id, term""".stripMargin) { (s, dir) =>
    val docs = LsdDb.table(s, dir, "documents")
    val tok = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = tok.groupBy("w")
      .agg(countDistinct(col("doc_id")).cast(LongType).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val rk = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("w").asc)
    tf.join(df, "w").crossJoin(broadcast(nDocs))
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("w").as("term"), col("tf"), col("df"),
        Det.d6(col("tf").cast(DoubleType) *
          log(col("n_docs").cast(DoubleType) / col("df"))).as("tfidf"))
      .orderBy("doc_id", "term")
  }

  /** Ext — SPARSE cosine similarity search (TF-IDF k-NN through the
    * inverted index): top-5 most similar documents for each of 5
    * probe docs, scored by exact sparse cosine over tf·idf weights.
    * The dense-ANN family (VectorOps) answers the same question for
    * embeddings; this is its bag-of-words twin — dot products flow
    * through a term-keyed equi-join (the inverted index), so cost is
    * Σ postings(probe terms), never |corpus|². Float discipline for
    * the oracle: ln-derived weights snap to the 1e-6 grid BEFORE any
    * product (cross-engine ln differs in ulps), products of snapped
    * doubles are IEEE-identical single ops, and every sum runs
    * decimal(38,12)-exact; ranking uses the d6-snapped score with
    * doc_id tie-break. At corpus scale the high-df (stopword) postings
    * dominate Σ postings — a production deployment prunes or
    * impact-orders them (public WAND/BM25 practice); kept exact here
    * because the oracle is exact. */
  /** Shared TF-IDF cosine retrieval core — the CTE chain ending at
    * `rk(probe_id, doc_id, cosine, rn)` (rn unfiltered; callers cut
    * at their own k). ONE definition serves q_sparse_knn and
    * q_rerank_fusion's sparse channel, so the scorer cannot drift
    * between the retriever and the fusion query (the
    * minhashCandCtes rule). */
  private def tfidfKnnCtes: String =
    s"""tok AS (
       |  SELECT doc_id, unnest($wordsSql) AS w FROM documents),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
       |df AS (SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM tok GROUP BY w),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |wt AS (SELECT tf.doc_id, tf.w AS term,
       |    ${D.sql.d6("CAST(tf.tf AS DOUBLE) * " +
                       "ln(CAST(n.n_docs AS DOUBLE) / df.df)")} AS wt
       |  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n),
       |nrm AS (SELECT doc_id,
       |    sqrt(CAST(sum(CAST(wt * wt AS DECIMAL(38,12))) AS DOUBLE))
       |      AS nm
       |  FROM wt GROUP BY doc_id),
       |p AS (SELECT * FROM wt WHERE doc_id IN (0, 1, 2, 3, 4)),
       |dot AS (SELECT p.doc_id AS probe_id, wt.doc_id AS doc_id,
       |    CAST(sum(CAST(p.wt * wt.wt AS DECIMAL(38,12))) AS DOUBLE)
       |      AS dp
       |  FROM p JOIN wt ON p.term = wt.term AND wt.doc_id <> p.doc_id
       |  GROUP BY 1, 2),
       |sc AS (SELECT probe_id, dot.doc_id,
       |    ${D.sql.d6("dot.dp / (na.nm * nb.nm)")} AS cosine
       |  FROM dot JOIN nrm na ON na.doc_id = dot.probe_id
       |    JOIN nrm nb ON nb.doc_id = dot.doc_id),
       |rk AS (SELECT probe_id, doc_id, cosine,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cosine DESC, doc_id) AS rn
       |  FROM sc)""".stripMargin

  /** Spark twin of [[tfidfKnnCtes]]: ranked (probe_id, doc_id,
    * cosine, rn), rn unfiltered. */
  private def tfidfKnnRanked(s: SparkSession, dir: String): DataFrame = {
    val docs = LsdDb.table(s, dir, "documents")
    // r22 negative A/B, not shipped: spreading tok (its explode fuses
    // into the one-row-group scan, ~0.3 s single-task × 2 consumers)
    // read as a wash across 3 interleaved order-controlled reps — the
    // two consumer stages are too small for the added exchange to pay.
    val tok = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = tok.groupBy("w")
      .agg(countDistinct(col("doc_id")).cast(LongType).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val dec12 = org.apache.spark.sql.types.DecimalType(38, 12)
    val wt = tf.join(df, "w").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("w").as("term"),
        Det.d6(col("tf").cast(DoubleType) *
          log(col("n_docs").cast(DoubleType) / col("df"))).as("wt"))
      // materialize ONCE: wt feeds the norm pass, the probe slice and
      // the postings side of the dot join — three consumers that each
      // re-ran the tokenize + tf⋈df lineage (the dedup-family lever)
      .localCheckpoint()
    val nrm = wt.groupBy("doc_id")
      .agg(sqrt(sum((col("wt") * col("wt")).cast(dec12))
        .cast(DoubleType)).as("nm"))
    val p = wt.filter(col("doc_id").isin(0L, 1L, 2L, 3L, 4L))
      .select(col("doc_id").as("probe_id"), col("term"),
        col("wt").as("pwt"))
    val dot = p.as("p").join(wt.as("c"),
        col("p.term") === col("c.term") &&
          col("c.doc_id") =!= col("p.probe_id"))
      .groupBy(col("p.probe_id").as("probe_id"),
        col("c.doc_id").as("doc_id"))
      .agg(sum((col("p.pwt") * col("c.wt")).cast(dec12))
        .cast(DoubleType).as("dp"))
    val na = nrm.select(col("doc_id").as("probe_id"), col("nm").as("na"))
    val nb = nrm.select(col("doc_id").as("doc_id"), col("nm").as("nb"))
    val rkw = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("doc_id"))
    dot.join(na, "probe_id").join(nb, "doc_id")
      .select(col("probe_id"), col("doc_id"),
        Det.d6(col("dp") / (col("na") * col("nb"))).as("cosine"))
      .withColumn("rn", row_number().over(rkw))
  }

  val qSparseKnn: QuerySpec = QuerySpec(
    "q_sparse_knn",
    s"""WITH $tfidfKnnCtes
       |SELECT probe_id, doc_id, cosine FROM rk WHERE rn <= 5
       |ORDER BY probe_id, doc_id""".stripMargin) { (s, dir) =>
    tfidfKnnRanked(s, dir)
      .filter(col("rn") <= 5)
      .select("probe_id", "doc_id", "cosine")
      .orderBy("probe_id", "doc_id")
  }

  /** Ext — light-curve statistics: per-object time-series aggregation
    * over the event stream (epoch count, time span, exact-decimal
    * flux stats, amplitude). This is the reference engine's flagship
    * workload shape — photometric detections grouped per object —
    * expressed as one hash aggregate on the object key: map-side
    * partials, one shuffle, no window. Det discipline makes every
    * double hash-stable. */
  val qLightcurve: QuerySpec = QuerySpec(
    "q_lightcurve",
    s"""SELECT user_id AS object_id,
       |  count(*) AS n_obs,
       |  CAST(date_diff('second', min(CAST(ts AS TIMESTAMP)),
       |    max(CAST(ts AS TIMESTAMP))) AS BIGINT) AS span_s,
       |  ${D.sql.davg("value")} AS mean_flux,
       |  min(value) AS min_flux,
       |  max(value) AS max_flux,
       |  max(value) - min(value) AS amplitude,
       |  ${D.sql.d6(D.sql.dstddevSamp("value"))} AS std_flux
       |FROM events
       |GROUP BY user_id HAVING count(*) >= 3
       |ORDER BY object_id""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "events")
      .groupBy(col("user_id").as("object_id"))
      .agg(count(lit(1)).as("n_obs"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .cast(LongType).as("span_s"),
        Det.davg(col("value")).as("mean_flux"),
        min(col("value")).as("min_flux"),
        max(col("value")).as("max_flux"),
        (max(col("value")) - min(col("value"))).as("amplitude"),
        Det.d6(Det.dstddevSamp(col("value"))).as("std_flux"))
      .filter(col("n_obs") >= 3)
      .orderBy("object_id")
  }

  private val bm25K1 = 1.2
  private val bm25B = 0.75
  private val bm25Terms = Seq("data", "model", "the")

  /** Ext — BM25 retrieval scoring (Robertson–Spärck Jones; public
    * formula, Okapi BM25): rank documents against a fixed query term
    * set. The doc side needs tf per (doc, query term) and doc length;
    * the term side (df, idf) is a HANDFUL of rows — broadcast — and
    * avgdl is one exact integer-sum scalar. Scores are d6-snapped
    * with doc_id tie-break, so the top-20 cut is deterministic in
    * both engines. At scale this is one corpus pass + a per-doc agg:
    * the same shape that serves "score 100 TB against a query" —
    * nothing joins corpus-to-corpus. */
  val qBm25: QuerySpec = QuerySpec(
    "q_bm25",
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($wordsSql) AS w FROM documents),
       |dl AS (SELECT doc_id, CAST(len($wordsSql) AS BIGINT) AS dl
       |  FROM documents),
       |stats AS (SELECT count(*) AS n_docs,
       |    CAST(sum(CAST(len($wordsSql) AS BIGINT)) AS DOUBLE)
       |      / count(*) AS avgdl
       |  FROM documents),
       |tf AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf
       |  FROM tok WHERE w IN ('data', 'model', 'the')
       |  GROUP BY doc_id, w),
       |df AS (SELECT w, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
       |  FROM tok WHERE w IN ('data', 'model', 'the') GROUP BY w),
       |scored AS (
       |  SELECT tf.doc_id,
       |    CAST(sum(CAST((ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |      * (tf * ($bm25K1 + 1.0))
       |      / (tf + $bm25K1 * (1.0 - $bm25B + $bm25B * dl / avgdl)))
       |      AS DECIMAL(18,6))) AS DOUBLE) AS bm25
       |  FROM tf JOIN df ON tf.w = df.w
       |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
       |  GROUP BY tf.doc_id)
       |SELECT doc_id, bm25
       |FROM scored ORDER BY bm25 DESC, doc_id
       |LIMIT 20""".stripMargin) { (s, dir) =>
    val docs = LsdDb.table(s, dir, "documents")
    val tok = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .filter(col("w").isin(bm25Terms: _*))
    val tf = tok.groupBy("doc_id", "w")
      .agg(count(lit(1)).cast(DoubleType).as("tf"))
    val df = tok.groupBy("w")
      .agg(countDistinct(col("doc_id")).cast(DoubleType).as("df"))
    val dl = docs.select(col("doc_id"),
      size(words(col("text"))).cast(LongType).as("dl"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      (sum(size(words(col("text"))).cast(LongType)).cast(DoubleType) /
        count(lit(1))).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val termScore = idf * (col("tf") * (bm25K1 + 1.0)) /
      (col("tf") + lit(bm25K1) *
        (lit(1.0 - bm25B) + lit(bm25B) * col("dl") / col("avgdl")))
    tf.join(broadcast(df), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      // per-term scores snapped to the 1e-6 decimal grid BEFORE the
      // sum: decimal addition is order-independent, so the doc score
      // cannot drift with partition/merge order in either engine
      .agg(sum(termScore.cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast(DoubleType).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(20)
  }

  // PII patterns shared by the Spark query and its DuckDB twin. Both
  // engines see the SAME pattern text: these stay inside the common
  // subset of Java regex and RE2 (character classes, \d, +, {n}) where
  // leftmost-match semantics agree; no backrefs, no lookaround.
  private val piiEmail = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
  private val piiIp = "\\d+\\.\\d+\\.\\d+\\.\\d+"
  private val piiPhone = "555-\\d{4}"

  /** Ext — PII redaction: count and strip emails / IPv4 addresses /
    * phone numbers before a corpus reaches training. The synthetic
    * corpus contains no PII, so the query first APPENDS deterministic
    * PII derived from doc_id (so both engines dirty the text
    * identically), then counts matches on the dirty text and redacts
    * with a fixed replace chain (email → ip → phone; order matters and
    * is part of the contract). Map-only expression tree — one corpus
    * pass, no shuffle except the final presentation sort; at 100 TB
    * this runs as a scan-transform-write with nothing on the wire. */
  val qRedactPii: QuerySpec = QuerySpec(
    "q_redact_pii",
    s"""WITH dirty AS (
       |  SELECT doc_id,
       |    concat(text, ' contact user', CAST(doc_id AS VARCHAR),
       |      '@mail', CAST(doc_id % 7 AS VARCHAR), '.com via 10.',
       |      CAST(doc_id % 200 AS VARCHAR), '.0.',
       |      CAST(doc_id % 250 AS VARCHAR), ' call 555-',
       |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS d
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(d, '$piiEmail')) AS INT) AS n_email,
       |  CAST(len(regexp_extract_all(d, '$piiIp')) AS INT) AS n_ip,
       |  CAST(len(regexp_extract_all(d, '$piiPhone')) AS INT) AS n_phone,
       |  regexp_replace(regexp_replace(regexp_replace(d,
       |    '$piiEmail', '[EMAIL]', 'g'),
       |    '$piiIp', '[IP]', 'g'),
       |    '$piiPhone', '[PHONE]', 'g') AS redacted
       |FROM dirty ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val dirty = concat(col("text"), lit(" contact user"),
      col("doc_id").cast("string"),
      lit("@mail"), (col("doc_id") % 7).cast("string"),
      lit(".com via 10."), (col("doc_id") % 200).cast("string"),
      lit(".0."), (col("doc_id") % 250).cast("string"),
      lit(" call 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    LsdDb.table(s, dir, "documents")
      .select(col("doc_id"), dirty.as("d"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("d"), lit(piiEmail), lit(0)))
          .as("n_email"),
        size(regexp_extract_all(col("d"), lit(piiIp), lit(0))).as("n_ip"),
        size(regexp_extract_all(col("d"), lit(piiPhone), lit(0)))
          .as("n_phone"),
        regexp_replace(regexp_replace(regexp_replace(col("d"),
          piiEmail, "[EMAIL]"),
          piiIp, "[IP]"),
          piiPhone, "[PHONE]").as("redacted"))
      .orderBy("doc_id")
  }

  /** Ext — the repetition half of the Gopher quality signals
    * (q_quality_gopher carries the composition half): top-word
    * fraction, top-bigram fraction, and duplicate-trigram fraction
    * per document, plus a keep verdict. The n-gram mode comes from
    * the scale-canonical explode → (doc_id, gram) count → per-doc max
    * shape — two shuffles, both keyed by doc_id+gram so partial
    * aggregation absorbs the fan-out map-side; the duplicate-trigram
    * fraction is row-local (distinct/total over the shingle array,
    * no shuffle at all). At 100 TB nothing joins corpus-to-corpus —
    * cost is linear in token count. */
  val qQualityRepetition: QuerySpec = QuerySpec(
    "q_quality_repetition",
    s"""WITH t AS (SELECT doc_id, $wordsSql AS w FROM documents),
       |base AS (SELECT doc_id, w FROM t WHERE len(w) >= 3),
       |tok AS (SELECT doc_id, unnest(w) AS tk FROM base),
       |wc AS (SELECT doc_id, tk, count(*) AS c FROM tok
       |  GROUP BY doc_id, tk),
       |wa AS (SELECT doc_id, max(c) AS topw, sum(c) AS nw FROM wc
       |  GROUP BY doc_id),
       |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
       |    i -> concat_ws(chr(1), w[i], w[i+1]))) AS b FROM base),
       |bc AS (SELECT doc_id, b, count(*) AS c FROM bg
       |  GROUP BY doc_id, b),
       |ba AS (SELECT doc_id, max(c) AS topb, sum(c) AS nb FROM bc
       |  GROUP BY doc_id),
       |tri AS (SELECT doc_id, len(w) - 2 AS n3,
       |    len(list_distinct(list_transform(range(1, len(w) - 1),
       |      i -> concat_ws(chr(1), w[i], w[i+1], w[i+2])))) AS d3
       |  FROM base),
       |sig AS (SELECT wa.doc_id,
       |    ${D.sql.d6("CAST(topw AS DOUBLE) / nw")} AS top_word_frac,
       |    ${D.sql.d6("CAST(topb AS DOUBLE) / nb")} AS top_bigram_frac,
       |    ${D.sql.d6("CAST(n3 - d3 AS DOUBLE) / n3")} AS dup_trigram_frac
       |  FROM wa JOIN ba ON wa.doc_id = ba.doc_id
       |  JOIN tri ON wa.doc_id = tri.doc_id)
       |SELECT doc_id, top_word_frac, top_bigram_frac, dup_trigram_frac,
       |  (top_word_frac <= 0.15 AND top_bigram_frac <= 0.1
       |    AND dup_trigram_frac <= 0.05) AS keep
       |FROM sig ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val base = LsdDb.table(s, dir, "documents")
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
    val wa = base.select(col("doc_id"), explode(col("w")).as("tk"))
      .groupBy("doc_id", "tk").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("topw"), sum("c").as("nw"))
    val m1 = greatest(size(col("w")) - 1, lit(0))
    val bigrams = zip_with(slice(col("w"), lit(1), m1),
      slice(col("w"), lit(2), m1), (a, b) => concat_ws("\u0001", a, b))
    val ba = base.select(col("doc_id"), explode(bigrams).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("topb"), sum("c").as("nb"))
    val m3 = greatest(size(col("w")) - 2, lit(0))
    val tri3 = array_distinct(zip_with(
      zip_with(slice(col("w"), lit(1), m3), slice(col("w"), lit(2), m3),
        (a, b) => concat_ws("\u0001", a, b)),
      slice(col("w"), lit(3), m3),
      (ab, cc) => concat_ws("\u0001", ab, cc)))
    val tri = base.select(col("doc_id"),
      (size(col("w")) - 2).cast(LongType).as("n3"),
      size(tri3).cast(LongType).as("d3"))
    wa.join(ba, "doc_id").join(tri, "doc_id")
      .select(col("doc_id"),
        Det.d6(col("topw").cast(DoubleType) / col("nw"))
          .as("top_word_frac"),
        Det.d6(col("topb").cast(DoubleType) / col("nb"))
          .as("top_bigram_frac"),
        Det.d6((col("n3") - col("d3")).cast(DoubleType) / col("n3"))
          .as("dup_trigram_frac"))
      .withColumn("keep",
        col("top_word_frac") <= 0.15 && col("top_bigram_frac") <= 0.1 &&
          col("dup_trigram_frac") <= 0.05)
      .orderBy("doc_id")
  }

  /** Ext — data-mixture planning: temperature-scaled source weights
    * (alpha = 0.5, the sqrt-scaling that upsamples small high-value
    * sources without letting the largest source dominate) and the
    * epochs-per-source implied by a 1M-token training budget —
    * the step that turns corpus stats into a sampling recipe. One
    * partial-agged groupBy(source) over the corpus, then a broadcast
    * 1-row normalizer: per-source sqrt weights sum through the
    * decimal(18,8) route so the normalizer is partition-order-free.
    * Nothing here scales with corpus size except the first scan. */
  val qMixtureWeights: QuerySpec = QuerySpec(
    "q_mixture_weights",
    s"""WITH s AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(CAST(len($wordsSql) AS BIGINT)) AS BIGINT)
       |      AS n_tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT ${D.sql.dsum("sqrt(CAST(n_tokens AS DOUBLE))")}
       |    AS z FROM s)
       |SELECT source, n_docs, n_tokens,
       |  ${D.sql.d6("sqrt(CAST(n_tokens AS DOUBLE)) / z")} AS weight,
       |  ${D.sql.d6(
         "1000000.0 * (sqrt(CAST(n_tokens AS DOUBLE)) / z) / n_tokens")}
       |    AS epochs
       |FROM s CROSS JOIN tot ORDER BY source""".stripMargin) { (s, dir) =>
    val agg = LsdDb.table(s, dir, "documents")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(size(words(col("text"))).cast(LongType)).as("n_tokens"))
    val sq = sqrt(col("n_tokens").cast(DoubleType))
    val tot = agg.agg(Det.dsum(sq).as("z"))
    agg.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        Det.d6(sq / col("z")).as("weight"),
        Det.d6(lit(1000000.0) * (sq / col("z")) / col("n_tokens"))
          .as("epochs"))
      .orderBy("source")
  }

  /** A12 — time-series resampling: gap-fill each user's event series
    * onto a regular daily grid with linear interpolation between the
    * neighboring observations (the light-curve regularization step
    * before period-finding; complements q_lightcurve's summary
    * stats). Union observations + grid points, then ONE shuffle on
    * the series key drives both IGNORE-NULLS window passes (previous
    * and next observation per grid point); interior points
    * interpolate with a fixed double expression, d6-snapped. Grid
    * size is per-user span / step — output scales with series count,
    * not event count, and nothing joins events-to-events. */
  val qResample: QuerySpec = QuerySpec(
    "q_resample",
    s"""WITH ev AS (SELECT user_id,
       |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t,
       |    value FROM events),
       |obs AS (SELECT user_id, t, min(value) AS v FROM ev
       |  GROUP BY user_id, t),
       |span AS (SELECT user_id,
       |    date_trunc('day', min(CAST(ts AS TIMESTAMP))) AS lo,
       |    date_trunc('day', max(CAST(ts AS TIMESTAMP))) AS hi
       |  FROM events GROUP BY user_id),
       |grid AS (SELECT user_id,
       |    unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS g
       |  FROM span),
       |g2 AS (SELECT user_id, g,
       |    CAST(floor(epoch(g)) AS BIGINT) AS t FROM grid),
       |u AS (
       |  SELECT user_id, t, v, 1 AS is_obs,
       |    CAST(NULL AS TIMESTAMP) AS g FROM obs
       |  UNION ALL
       |  SELECT user_id, t, CAST(NULL AS DOUBLE) AS v, 0 AS is_obs, g
       |  FROM g2),
       |w AS (SELECT user_id, t, is_obs, g,
       |    last_value(CASE WHEN is_obs = 1 THEN v END IGNORE NULLS)
       |      OVER win_p AS v_prev,
       |    last_value(CASE WHEN is_obs = 1 THEN CAST(t AS DOUBLE) END
       |      IGNORE NULLS) OVER win_p AS t_prev,
       |    first_value(CASE WHEN is_obs = 1 THEN v END IGNORE NULLS)
       |      OVER win_f AS v_next,
       |    first_value(CASE WHEN is_obs = 1 THEN CAST(t AS DOUBLE) END
       |      IGNORE NULLS) OVER win_f AS t_next
       |  FROM u
       |  WINDOW win_p AS (PARTITION BY user_id ORDER BY t, is_obs
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    win_f AS (PARTITION BY user_id ORDER BY t, is_obs
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |SELECT user_id, g AS grid_ts,
       |  ${D.sql.d6("v_prev + (v_next - v_prev) * " +
         "((CAST(t AS DOUBLE) - t_prev) / (t_next - t_prev))")}
       |    AS v_interp
       |FROM w
       |WHERE is_obs = 0 AND v_prev IS NOT NULL AND v_next IS NOT NULL
       |ORDER BY user_id, grid_ts""".stripMargin) { (s, dir) =>
    val events = LsdDb.table(s, dir, "events")
    val obs = events
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
        col("value"))
      .groupBy("user_id", "t").agg(min("value").as("v"))
    val span = events.groupBy("user_id").agg(
      date_trunc("DAY", min(col("ts"))).as("lo"),
      date_trunc("DAY", max(col("ts"))).as("hi"))
    val grid = span.select(col("user_id"),
      explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("g"))
      .withColumn("t", unix_timestamp(col("g")))
    val u = obs.select(col("user_id"), col("t"), col("v"),
        lit(1).as("is_obs"), lit(null).cast("timestamp").as("g"))
      .unionByName(grid.select(col("user_id"), col("t"),
        lit(null).cast(DoubleType).as("v"), lit(0).as("is_obs"),
        col("g")))
    val winP = Window.partitionBy("user_id").orderBy(col("t"), col("is_obs"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val winF = Window.partitionBy("user_id").orderBy(col("t"), col("is_obs"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsV = when(col("is_obs") === 1, col("v"))
    val obsT = when(col("is_obs") === 1, col("t").cast(DoubleType))
    u.select(col("user_id"), col("t"), col("is_obs"), col("g"),
        last(obsV, ignoreNulls = true).over(winP).as("v_prev"),
        last(obsT, ignoreNulls = true).over(winP).as("t_prev"),
        first(obsV, ignoreNulls = true).over(winF).as("v_next"),
        first(obsT, ignoreNulls = true).over(winF).as("t_next"))
      .filter(col("is_obs") === 0 &&
        col("v_prev").isNotNull && col("v_next").isNotNull)
      .select(col("user_id"), col("g").as("grid_ts"),
        Det.d6(col("v_prev") + (col("v_next") - col("v_prev")) *
          ((col("t").cast(DoubleType) - col("t_prev")) /
            (col("t_next") - col("t_prev")))).as("v_interp"))
      .orderBy("user_id", "grid_ts")
  }

  /** A13 — phase-folding period search (phase dispersion
    * minimization): for each series and each trial period, fold the
    * observation times onto phase [0,1), bin into 8 phase bins, and
    * score the period by the within-bin sum of squared residuals —
    * the best (smallest) statistic marks the candidate period. The
    * variable-star analysis the reference's photometric time series
    * existed to feed. Shape: events × |trial periods| (a constant
    * explode), two two-phase hash aggregates (per-bin, then
    * per-period), one window for the per-series argmin — everything
    * keyed, partial-agged, linear in events. Decimal-exact bin sums
    * make the double statistic bit-identical in both engines, so the
    * ARGMIN itself is deterministic (ties break on smaller period). */
  val qPhaseFold: QuerySpec = QuerySpec(
    "q_phase_fold",
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
       |      AS sq
       |  FROM folded GROUP BY user_id, p, bin),
       |st AS (SELECT user_id, p,
       |    CAST(sum(CAST(sq - sv * sv / n AS DECIMAL(38,8))) AS DOUBLE)
       |      AS stat
       |  FROM ba GROUP BY user_id, p),
       |r AS (SELECT user_id, p, stat,
       |    row_number() OVER (PARTITION BY user_id ORDER BY stat, p)
       |      AS rn
       |  FROM st)
       |SELECT user_id, p AS best_period, stat
       |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
    val periods = Seq(0.5, 1.0, 2.0, 3.0, 5.0)
    val td = unix_timestamp(col("ts")) / 86400.0
    val phase = col("td") / col("p") - floor(col("td") / col("p"))
    // spread (r21): the 5-period fold explode + its partial agg fuse
    // into the one-row-group scan's single task; the exchange key is
    // the aggregation key, so the shuffle it adds replaces work the
    // groupBy exchange was doing anyway
    val folded = LsdDb.spread(LsdDb.table(s, dir, "events")
        .select(col("user_id"), td.as("td"), col("value")),
        col("user_id"))
      .withColumn("p", explode(typedLit(periods)))
      .select(col("user_id"), col("p"),
        least(floor(phase * 8), lit(7.0)).cast("int").as("bin"),
        col("value"))
    val ba = folded.groupBy("user_id", "p", "bin").agg(
      count(lit(1)).as("n"),
      Det.dsum(col("value")).as("sv"),
      sum((col("value") * col("value"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 8)))
        .cast(DoubleType).as("sq"))
    val resid = col("sq") - col("sv") * col("sv") / col("n")
    val st = ba.groupBy("user_id", "p").agg(
      sum(resid.cast(org.apache.spark.sql.types.DecimalType(38, 8)))
        .cast(DoubleType).as("stat"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("stat").asc, col("p").asc)
    st.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      // stat is already decimal(38,8)-exact cast to double — re-snapping
      // to d6 would ROUND A QUANTIZED VALUE, and an 8-dp value can sit
      // exactly on a 1e-6 midpoint where Spark (half-up) and DuckDB
      // (half-even) disagree; emit the exact value instead
      .select(col("user_id"), col("p").as("best_period"), col("stat"))
      .orderBy("user_id")
  }

  /** X2n — URL canonicalization for crawl dedup: scheme/case/www/
    * tracking-query/trailing-slash normalization, then per-domain
    * dedup stats. URLs are synthesized deterministically from doc_id
    * (the corpus has none — same derivation discipline as
    * q_redact_pii's PII), with paths on a doc_id%50 grid so distinct
    * raw URLs genuinely collapse. Map-only expression chain (anchored
    * regexes in the Java∩RE2 common subset, single-match so Spark's
    * replace-all and DuckDB's replace-first agree) + one
    * partial-aggregated groupBy on the domain. */
  val qUrlNormalize: QuerySpec = {
    val urlSql = SyntheticUrls.urlSql
    val canonSql = SyntheticUrls.canonSql
    QuerySpec(
      "q_url_normalize",
      s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents),
         |c AS (SELECT doc_id, url, $canonSql AS canon FROM u),
         |d AS (SELECT doc_id, url, canon,
         |    regexp_extract(canon, '^([^/]+)', 1) AS domain
         |  FROM c)
         |SELECT domain, count(*) AS n_urls,
         |  count(DISTINCT url) AS n_raw_distinct,
         |  count(DISTINCT canon) AS n_canonical
         |FROM d GROUP BY domain ORDER BY domain""".stripMargin) { (s, dir) =>
      val url = SyntheticUrls.urlCol
      val canon = SyntheticUrls.canonCol(col("url"))
      // Two distinct-aggregates over different columns would plan an
      // Expand (×3 rows through the first aggregate — the 100 TB
      // anti-shape). canon is a FUNCTION of url, so distinct-counting
      // both collapses to plain aggregation ladders: dedup (domain,
      // url, canon) once (map-side combined, shrinks to the distinct-
      // URL count), then (domain, canon), then domain — zero Expand,
      // zero distinct aggregates, each shuffle strictly smaller.
      LsdDb.table(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .withColumn("canon", canon)
        .withColumn("domain", regexp_extract(col("canon"), "^([^/]+)", 1))
        .groupBy("domain", "url", "canon")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("domain", "canon")
        .agg(sum(col("cnt")).as("cnt"), count(lit(1)).as("n_raw"))
        .groupBy("domain")
        .agg(sum(col("cnt")).as("n_urls"),
          sum(col("n_raw")).as("n_raw_distinct"),
          count(lit(1)).as("n_canonical"))
        .orderBy("domain")
    }
  }

  /** O8c — prefix-filtering set-similarity self-join (the PPJoin
    * family: Chaudhuri et al. 2006 "A Primitive Operator for
    * Similarity Joins", public): for Jaccard ≥ τ, two sets MUST share
    * a token among each side's ⌊(1−τ)·|set|⌋+1 globally-rarest tokens
    * — so candidates come from an equi-join on rare prefix tokens
    * only, a PROVABLE fan-out bound (vs q_dedup_ngram's heuristic df
    * cap; both are corpus×corpus with no cartesian). Exact verify via
    * integer cross-multiplication (10·∩ ≥ 6·∪ — no float threshold).
    *
    * Scale: the df dimension shuffles on the token (never broadcast —
    * shingle vocabulary grows with the corpus), the prefix self-join
    * touches ~0.4·|set| of each doc's tokens, and verification joins
    * only candidate pairs back to the token relation.
    *
    * Hot-bucket guard (same discipline as minhash's maxBucket): a
    * prefix token is rare WITHIN each doc, but on a boilerplate-heavy
    * corpus it can still be globally common — one token shared by B
    * docs puts B rows in one aggregation buffer and emits O(B²)
    * pairs. Buckets larger than [[maxPrefixBucket]] are dropped from
    * candidate generation ON BOTH ENGINE SIDES (the cap is part of
    * the operator's algebra, not a Spark-side shortcut): a pair whose
    * EVERY shared prefix token is that hot is the standard explicit
    * recall tradeoff of capped set-similarity joins, and dropped
    * buckets are boilerplate families by construction. */
  val qDedupPrefix: QuerySpec = QuerySpec(
    "q_dedup_prefix",
    s"""WITH base AS (SELECT doc_id, $shingles3Sql AS sh FROM documents),
       |toks AS (SELECT doc_id, unnest(sh) AS s FROM base),
       |df AS (SELECT s, count(*) AS df FROM toks GROUP BY s),
       |ws AS (SELECT t.doc_id, t.s,
       |    count(*) OVER (PARTITION BY t.doc_id) AS sz,
       |    row_number() OVER (PARTITION BY t.doc_id ORDER BY df.df, t.s)
       |      AS rn
       |  FROM toks t JOIN df USING (s)),
       |pref0 AS (SELECT * FROM ws WHERE rn <= sz - ((6 * sz + 9) // 10) + 1),
       |pref AS (SELECT * FROM (SELECT *,
       |      count(*) OVER (PARTITION BY s) AS bsz FROM pref0)
       |  WHERE bsz <= $maxPrefixBucket),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.sz AS sza, b.sz AS szb
       |  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id),
       |i AS (SELECT c.doc_a, c.doc_b, c.sza, c.szb, count(*) AS n_inter
       |  FROM cand c JOIN toks t1 ON t1.doc_id = c.doc_a
       |    JOIN toks t2 ON t2.doc_id = c.doc_b AND t2.s = t1.s
       |  GROUP BY c.doc_a, c.doc_b, c.sza, c.szb)
       |SELECT doc_a, doc_b,
       |  CAST(n_inter AS DOUBLE) / (sza + szb - n_inter) AS jaccard
       |FROM i WHERE 10 * n_inter >= 6 * (sza + szb - n_inter)
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    // The CANDIDATE phase runs on (doc_id, xxhash64(s)) — the
    // decontaminate-smoke lesson: the three window/join shuffles carry
    // 8-byte longs instead of ~25-byte shingle strings. Output safety:
    // the PPJoin prefix theorem holds under ANY consistent global
    // token order, and verification below joins the STRING relation
    // with exact intersection counts — a (cosmically unlikely) hash
    // collision can only add a false candidate for the verifier to
    // reject, never change the verified output.
    // sz (per-doc token count) is the shingle array's size, computed
    // MAP-SIDE before the explode — a window count over doc_id would
    // re-derive it with an extra full-relation sort pass.
    // spread BEFORE the tokenize: the corpus ships as one row group,
    // so without it the whole shingle+hash+explode chain runs on the
    // scan's single task (measured 3.4 s of the 6.2 s warm total on
    // one of 32 cores); the conditional exchange moves the RAW rows
    // (smaller than the token relation that shuffles next anyway) and
    // is a no-op on any production layout
    val th = LsdDb.spread(LsdDb.table(s, dir, "documents")
        .select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), shingles3(col("text")).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(transform(col("sh"), t => xxhash64(t))).as("h"))
    // df as a window count (not groupBy+join-back): same shuffle key,
    // one pass, and the expensive shingle explode appears ONCE in this
    // branch instead of twice
    // Round-15 negative A/B: serving this prefix selection through
    // TopKPerGroup.varK (per-doc bound pk = 0.4·sz+1, heap instead of
    // the doc_id window sort, survivors-only shuffle) measured
    // 6.03–8.45 s warm vs 5.82–6.56 s for this window form (3
    // QueryProfile reps each, sf0.1) — parity-to-slower locally, where
    // shuffle volume is memcpy-cheap. The varK operator stays in
    // plans/TopKPerGroup (spec-proven vs the window twin) as the
    // network-bound-cluster alternative; the window form stands here.
    val ws = th
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("h"))))
    val pref = ws.filter(col("rn") <=
      col("sz") - expr("(6 * sz + 9) div 10") + 1)
      // hot-bucket cap (scaladoc above): the count rides the same
      // hash-partitioning a groupBy("h") would use, and bounds BOTH
      // the collect_list buffer and the pair fan-out below at
      // maxPrefixBucket. A groupBy-count + semi-join-back was tried
      // and is SLOWER: map-side partial aggregation makes the two
      // h-exchanges structurally different, so the expensive
      // explode+window lineage computes twice instead of being reused.
      // Round-12 retry with the token relation persist()ed
      // (MEMORY_AND_DISK) and df/bsz as hash aggs + join-back:
      // STILL slower — 10.0/22.1/14.5 s vs 6.6–13.0 s over 3 reps at
      // sf0.1, identical 256-pair output. The cache materialization +
      // the SMJ sorts the join-back needs cost more than the two
      // window sorts they replace; the window shape stands.
      // One caveat vs the collision-immunity note above: a 64-bit
      // collision merging two buckets could push a merged bucket over
      // the cap — at vocab ≪ 2^32 that stays in the same
      // cosmically-unlikely class.
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("bsz") <= maxPrefixBucket)
    // candidate pairs bucket-locally from ONE evaluation of the prefix
    // relation (a pref.as(a)⋈pref.as(b) self-join would re-run the
    // whole explode+window pipeline per side): group the prefix rows
    // by token, emit in-bucket pairs. Bucket sizes are hard-bounded
    // by the cap just applied (≤ maxPrefixBucket rows per buffer).
    val cand = pref
      .select(col("h"), struct(col("doc_id"), col("sz")).as("d"))
      .groupBy("h").agg(collect_list(col("d")).as("ds"))
      .select(explode(col("ds")).as("d1"), col("ds"))
      .select(col("d1"), explode(col("ds")).as("d2"))
      .filter(col("d1.doc_id") < col("d2.doc_id"))
      // PPJoin LENGTH filter: J ≤ min(sz)/max(sz), so a pair with
      // 5·min < 3·max provably cannot reach τ=0.6 — drop it BEFORE
      // the distinct and the verify joins. Output-preserving (the
      // final 10·∩ ≥ 6·∪ test would reject exactly these), integer
      // cross-multiplication like the verifier itself.
      .filter(lit(5) * least(col("d1.sz"), col("d2.sz")) >=
        lit(3) * greatest(col("d1.sz"), col("d2.sz")))
      .select(col("d1.doc_id").as("doc_a"), col("d2.doc_id").as("doc_b"),
        col("d1.sz").as("sza"), col("d2.sz").as("szb"))
      .distinct()
      // materialize the candidate pairs ONCE: cand feeds both the
      // candidate-doc semi-join and the intersection join below, and
      // without the checkpoint each consumer re-runs the whole
      // shingle+window ladder above. This is lineage-cutting on a
      // SMALL post-distinct relation — different lever from the
      // recorded negative retry, which persisted the full token
      // relation and reshaped the windows into hash aggs.
      .localCheckpoint()
    // Verification reads the STRING token relation, but only for docs
    // that appear in some candidate pair: the semi-join runs BEFORE
    // the explode, so the expensive shingle re-tokenization (twice,
    // once per pair side) covers candidate docs instead of the whole
    // corpus — at similarity thresholds worth running, candidates are
    // a small fraction of the corpus, and the prefix filter already
    // bounded how many pairs can exist.
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // VERIFY (r21 restructure): per-pair exact intersection as
    // size(array_intersect) over per-doc shingle ARRAYS attached by
    // broadcast — the guide-§8 rule applied in reverse: never shuffle
    // per-PAIR token rows. The previous shape joined every candidate
    // pair to both docs' exploded tokens (|pairs| × |tokens/doc| ≈
    // 15 M intermediate rows here, evaluating the tokenize lineage
    // once per join side); the array relation is CANDIDATE-DOC-sized
    // (two orders smaller than the pair×token fan-out), the
    // intersection runs map-side in the cand stage, and the STRING
    // tokens keep the collision-immunity argument (hashes never
    // decide output). Round-11's negative array_intersect A/B
    // SHUFFLED the arrays on the pair relation — the broadcast is
    // what removes exactly that cost. Guarded like decontaminate: at
    // a scale where candidate docs outgrow the broadcast budget, the
    // same arrays attach by two shuffle joins (correct, no cliff).
    // spread: the array build is the verify phase's tokenize CPU,
    // and the corpus ships as one row group (see th above)
    val docToks = LsdDb.spread(LsdDb.table(s, dir, "documents")
        .select(col("doc_id"), col("text")), col("doc_id"))
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingles3(col("text")).as("ts"))
    // broadcast gate (r22): bound candidate docs from ABOVE by
    // 2·|cand| — one cheap single-stage count over the checkpointed
    // pair relation — instead of eagerly running the candDocs
    // explode+distinct (a shuffle job per query run that the
    // semi-join re-derives anyway; r21 verdict item 6). Strictly
    // conservative: 2·|cand| ≥ |candDocs|, so the guard can only ever
    // fall back to the (identical-answer) shuffle join earlier.
    val attach =
      if (2L * cand.count() <= maxVerifyBroadcastDocs)
        (d: DataFrame) => broadcast(d)
      else (d: DataFrame) => d
    // the checkpointed cand carries the coalesced partition count of
    // the distinct that built it (2 at sf0.1) — spread it so the
    // intersection work runs cluster-wide, and so the final orderBy's
    // range-sampling pass (which re-evaluates an exchange-free child)
    // re-runs only a wide cheap stage. spread on a checkpoint is a
    // plain LogicalRDD probe — no AQE re-execution.
    val inter = LsdDb.spread(cand, col("doc_a"))
      .join(attach(docToks.select(col("doc_id").as("doc_a"),
        col("ts").as("ta"))), Seq("doc_a"))
      .join(attach(docToks.select(col("doc_id").as("doc_b"),
        col("ts").as("tb"))), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sza"), col("szb"),
        graft.functions.IntersectCount.intersectCount(
          col("ta"), col("tb")).as("n_inter"))
    inter
      .filter(lit(10) * col("n_inter") >=
        lit(6) * (col("sza") + col("szb") - col("n_inter")))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast(DoubleType) /
          (col("sza") + col("szb") - col("n_inter"))).as("jaccard"))
      // exchange barrier between verify and the output sort: the
      // range partitioner SAMPLES its child, and without a shuffle in
      // between that re-evaluates the whole verify join; the barrier
      // holds only the verified pairs (output-sized)
      .repartition(col("doc_a"))
      .orderBy("doc_a", "doc_b")
  }

  /** X2o — per-document character entropy (the cheap perplexity proxy:
    * gibberish and boilerplate sit at the distribution's tails). A
    * FIXED 27-symbol alphabet (a-z + space) keeps the whole thing one
    * map-only expression tree — no explode, no shuffle (a per-char
    * explode would 1000× the row count at 100 TB for a number
    * computable row-locally). Counts come from ONE codegen'd byte
    * pass ([[graft.functions.CharCounts]]); the composed-builtin form
    * (27 × length(translate(...)) deltas, which the oracle still
    * uses) copies the string per symbol per use site and was the
    * slowest line of the sf0.1 bench (11 s → sub-second). The count
    * algebra is unchanged — byte-scan equals code-point count for
    * ASCII symbols on any UTF-8 input — so the oracle hash is too.
    * Probabilities are exact integer ratios; the Σ −p·log2 p chain is
    * FMA-sensitive (Det doc) so the final entropy is d6-snapped. */
  /** Ext — CONTAINMENT dedup (directional): ordered pairs (a, b) with
    * |sh(a) ∩ sh(b)| ≥ 0.8·|sh(a)| — the quote/excerpt detector that
    * symmetric Jaccard (q_dedup_prefix) structurally misses: a short
    * doc fully contained in a long one has low Jaccard but containment
    * ≈ 1. Candidate scheme is the ProbeCount form of the prefix
    * filter: containment τ forces overlap ≥ ⌈τ·sza⌉, so a's
    * (sza − ⌈τ·sza⌉ + 1) RAREST shingles must hit SOME token of b —
    * a's prefix joins the FULL hashed token index (not b's prefix;
    * the b-side bound does not exist for asymmetric containment).
    * The df ≤ maxPrefixBucket boilerplate cap applies to the token
    * index on both engine sides (the q_dedup_prefix algebra), and the
    * integer size gate 5·szb ≥ 4·sza drops provably-impossible pairs
    * before verification. Verification is exact distinct-shingle
    * intersection on candidate docs only (semi-join before the
    * re-explode); containment = n/sza is one BIGINT division in
    * double — engine-identical, no snap needed. */
  val qDedupContainment: QuerySpec = QuerySpec(
    "q_dedup_containment",
    s"""WITH base AS (SELECT doc_id, $shingles3Sql AS sh FROM documents),
       |szs AS (SELECT doc_id, len(sh) AS sz FROM base WHERE len(sh) >= 5),
       |toks AS (SELECT doc_id, unnest(sh) AS s FROM base),
       |df AS (SELECT s, count(*) AS df FROM toks GROUP BY s),
       |tk AS (SELECT t.doc_id, t.s, df.df FROM toks t JOIN df USING (s)
       |  WHERE df.df <= $maxPrefixBucket),
       |ws AS (SELECT tk.doc_id, tk.s, szs.sz,
       |    row_number() OVER (PARTITION BY tk.doc_id
       |      ORDER BY tk.df, tk.s) AS rn
       |  FROM tk JOIN szs USING (doc_id)),
       |pref AS (SELECT * FROM ws
       |  WHERE rn <= sz - ((4 * sz + 4) // 5) + 1),
       |cand AS (SELECT DISTINCT p.doc_id AS doc_a, t.doc_id AS doc_b,
       |    p.sz AS sza
       |  FROM pref p JOIN tk t ON t.s = p.s AND t.doc_id <> p.doc_id),
       |cs AS (SELECT c.doc_a, c.doc_b, c.sza
       |  FROM cand c JOIN szs b ON b.doc_id = c.doc_b
       |  WHERE 5 * b.sz >= 4 * c.sza),
       |i AS (SELECT c.doc_a, c.doc_b, c.sza, count(*) AS n_inter
       |  FROM cs c JOIN toks t1 ON t1.doc_id = c.doc_a
       |    JOIN toks t2 ON t2.doc_id = c.doc_b AND t2.s = t1.s
       |  GROUP BY c.doc_a, c.doc_b, c.sza)
       |SELECT doc_a, doc_b,
       |  CAST(n_inter AS DOUBLE) / sza AS containment
       |FROM i WHERE 5 * n_inter >= 4 * sza
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val docs = LsdDb.table(s, dir, "documents")
    // hashed token relation with map-side sizes (the dedup_prefix
    // discipline: 8-byte tokens through every shuffle)
    val th = docs
      .select(col("doc_id"), shingles3(col("text")).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(transform(col("sh"), t => xxhash64(t))).as("h"))
    val tk = th
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("df") <= maxPrefixBucket)
      // materialize ONCE (~10 MB of (doc_id, sz, h, df) at sf0.1):
      // tk feeds both the bucket index and the prefix branch, and the
      // shingle+explode+window lineage above is the expensive part of
      // this query — without the checkpoint it evaluates twice
      // (measured 6.1 s → 3.4 s warm at sf0.1). Unlike the
      // q_dedup_prefix persist retry (negative, recorded there), this
      // keeps the window shape and cuts lineage, not sorts.
      .localCheckpoint()
    val pref = tk.filter(col("sz") >= 5)
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("h"))))
      .filter(col("rn") <= col("sz") - expr("(4 * sz + 4) div 5") + 1)
    // probe a's prefix into the full capped index, bucket-locally
    // from ONE evaluation (collect_list bounded by the df cap)
    val cand = tk
      .select(col("h"), struct(col("doc_id"), col("sz")).as("d"))
      .groupBy("h").agg(collect_list(col("d")).as("ds"))
      .join(pref.select(col("h"), col("doc_id").as("doc_a"),
        col("sz").as("sza")), "h")
      .select(col("doc_a"), col("sza"), explode(col("ds")).as("d"))
      // d.sz >= 5 mirrors the oracle's szs floor on the doc_b side
      // (its `cs` CTE inner-joins the sz>=5 relation for b too):
      // without it a 4-shingle doc nested in a 5-shingle doc passes
      // here but never forms in the oracle
      .filter(col("d.doc_id") =!= col("doc_a") &&
        col("d.sz") >= 5 &&
        lit(5) * col("d.sz") >= lit(4) * col("sza"))
      .select(col("doc_a"), col("d.doc_id").as("doc_b"), col("sza"))
      .distinct()
      // like q_dedup_prefix: cand feeds two consumers below — cut the
      // remaining post-checkpoint lineage (bucket groupBy + probe
      // join) to one evaluation of this small post-distinct relation
      .localCheckpoint()
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // VERIFY (r21): size(array_intersect) over broadcast per-doc
    // shingle arrays — same restructure and same guard as
    // q_dedup_prefix's verify (see the note there); the pair×token
    // join fan-out never forms
    val docToks = LsdDb.spread(docs.select(col("doc_id"), col("text")),
        col("doc_id"))
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingles3(col("text")).as("ts"))
    // broadcast gate via 2·|cand| — same one-stage bound as
    // q_dedup_prefix's verify (see the note there)
    val attach =
      if (2L * cand.count() <= maxVerifyBroadcastDocs)
        (d: DataFrame) => broadcast(d)
      else (d: DataFrame) => d
    // spread the checkpointed cand — same two reasons as
    // q_dedup_prefix's verify (wide intersections; cheap re-eval under
    // the final sort's range sampling)
    LsdDb.spread(cand, col("doc_a"))
      .join(attach(docToks.select(col("doc_id").as("doc_a"),
        col("ts").as("ta"))), Seq("doc_a"))
      .join(attach(docToks.select(col("doc_id").as("doc_b"),
        col("ts").as("tb"))), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sza"),
        graft.functions.IntersectCount.intersectCount(
          col("ta"), col("tb")).as("n_inter"))
      .filter(lit(5) * col("n_inter") >= lit(4) * col("sza"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast(DoubleType) / col("sza")).as("containment"))
      // verify/sort barrier — same reason as q_dedup_prefix
      .repartition(col("doc_a"))
      .orderBy("doc_a", "doc_b")
  }

  val qCharEntropy: QuerySpec = {
    val alphabet = ('a' to 'z') :+ ' '
    def cntSql(c: Char) =
      s"(length(text) - length(translate(text, '$c', '')))"
    val totalSql = alphabet.map(cntSql).mkString("(", " + ", ")")
    val termsSql = alphabet.map { c =>
      val p = s"(CAST(${cntSql(c)} AS DOUBLE) / total)"
      s"CASE WHEN ${cntSql(c)} > 0 THEN -$p * log2($p) ELSE 0.0 END"
    }.mkString("(", " + ", ")")
    QuerySpec(
      "q_char_entropy",
      s"""WITH t AS (SELECT doc_id, text,
         |    CAST($totalSql AS BIGINT) AS total FROM documents)
         |SELECT doc_id, total AS n_alpha,
         |  ${D.sql.d6(termsSql)} AS entropy_bits
         |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // element_at is 1-indexed; alphabet order matches the oracle's
      // left-to-right sum so the IEEE addition order is identical
      def cnt(i: Int): Column = element_at(col("cnt"), i + 1)
      val total = alphabet.indices.map(cnt).reduce(_ + _)
      val terms = alphabet.indices.map { i =>
        val p = cnt(i).cast(DoubleType) / col("total")
        when(cnt(i) > 0, -p * log2(p)).otherwise(0.0)
      }.reduce(_ + _)
      LsdDb.table(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextKernels.charCounts(col("text")).as("cnt"))
        .select(col("doc_id"), col("cnt"), total.cast(LongType).as("total"))
        .select(col("doc_id"), col("total").as("n_alpha"),
          Det.d6(terms).as("entropy_bits"))
        .orderBy("doc_id")
    }
  }

  private val dupFamilyCap = 100

  /** X2p — cross-source contamination matrix: documents with the same
    * CONTENT SIGNATURE (md5 of the sorted distinct word set — robust
    * to word order and repetition; raw-text md5 finds nothing in this
    * corpus) shared BETWEEN sources. This is the mixture-hygiene check
    * run before assigning per-source weights — a doc present in two
    * sources double-weights itself. One signature per doc, self-join
    * inside signature groups only, pair keyed by the unordered source
    * pair. Signature families larger than [[dupFamilyCap]] are dropped
    * before the self-join (the minhash hot-bucket rule): a boilerplate
    * family of size f contributes f² pairs, and at corpus scale one
    * 100k-doc template would otherwise dominate the join; mega-families
    * are a finding for exact dedup, not a pair statistic. */
  val qDupCrossSource: QuerySpec = QuerySpec(
    "q_dup_cross_source",
    s"""WITH h0 AS (SELECT doc_id, source,
       |    md5(array_to_string(list_sort(list_distinct($wordsSql)), ' '))
       |      AS h
       |  FROM documents),
       |h AS (SELECT * FROM (SELECT doc_id, source, h,
       |    count(*) OVER (PARTITION BY h) AS fam FROM h0)
       |  WHERE fam <= $dupFamilyCap),
       |p AS (SELECT LEAST(a.source, b.source) AS src_lo,
       |    GREATEST(a.source, b.source) AS src_hi, a.h AS h
       |  FROM h a JOIN h b ON a.h = b.h AND a.doc_id < b.doc_id
       |  WHERE a.source <> b.source)
       |SELECT src_lo, src_hi, count(*) AS n_pairs,
       |  count(DISTINCT h) AS n_texts
       |FROM p GROUP BY src_lo, src_hi
       |ORDER BY src_lo, src_hi""".stripMargin) { (s, dir) =>
    val h = LsdDb.table(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(array_join(array_sort(array_distinct(words(col("text")))), " "))
          .as("h"))
      .withColumn("fam", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("fam") <= dupFamilyCap)
      .drop("fam")
    h.as("a").join(h.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("a.source") =!= col("b.source"))
      .select(least(col("a.source"), col("b.source")).as("src_lo"),
        greatest(col("a.source"), col("b.source")).as("src_hi"),
        col("a.h").as("h"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("h")).as("n_texts"))
      .orderBy("src_lo", "src_hi")
  }

  /** X2q — corpus-unigram language-model scoring (the KenLM-filtering
    * proxy): each doc's mean token log₂-probability under the corpus
    * unigram distribution — boilerplate scores high, gibberish low.
    * The LM is the token→count relation: dictionary-scale, BROADCAST
    * (the corpus-side explode never shuffles; same rule as
    * decontaminate/TF-IDF). Probabilities are exact integer ratios
    * (tf/total); the Σ log₂ p chain is FMA-sensitive → per-doc score
    * d6-snapped. add-one smoothing keeps unseen-token behavior
    * defined (here every token is seen; the +1 keeps the formula
    * total at scale where the LM would be a top-K cut). */
  val qUnigramLm: QuerySpec = QuerySpec(
    "q_unigram_lm",
    s"""WITH toks AS (SELECT doc_id, unnest($wordsSql) AS w FROM documents),
       |lm AS (SELECT w, count(*) AS tf FROM toks GROUP BY w),
       |tot AS (SELECT count(*) AS n_tok, count(DISTINCT w) AS n_vocab
       |  FROM toks),
       |scored AS (SELECT t.doc_id,
       |    log2((CAST(lm.tf AS DOUBLE) + 1.0)
       |      / (CAST(tot.n_tok AS DOUBLE) + tot.n_vocab)) AS lp
       |  FROM toks t JOIN lm USING (w) CROSS JOIN tot)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(CAST(lp AS DECIMAL(18,6))) AS DOUBLE) / count(*)
       |    AS mean_log2p
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val toks = LsdDb.table(s, dir, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
    val lm = toks.groupBy("w").agg(count(lit(1)).as("tf"))
    val tot = toks.agg(count(lit(1)).as("n_tok"),
      countDistinct(col("w")).as("n_vocab"))
    val lp = log2((col("tf").cast(DoubleType) + 1.0) /
      (col("n_tok").cast(DoubleType) + col("n_vocab")))
    toks.join(broadcast(lm), "w").crossJoin(broadcast(tot))
      .select(col("doc_id"), lp.as("lp"))
      // snap each token's log-prob to the 1e-6 grid BEFORE the sum so
      // the per-doc total is partition-order-free (decimal addition is
      // associative) — the BM25 rule. The mean itself is UNSNAPPED:
      // the quotient of the identical decimal sum by the identical
      // count is bit-identical by IEEE division, while a d6 of it can
      // hit a decimal midpoint whenever the odd part of n_tokens
      // divides the scaled sum (the q_stetson lesson, SCALE.md)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("lp").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast(DoubleType) / count(lit(1))).as("mean_log2p"))
      .orderBy("doc_id")
  }

  /** X2r — dedup keep-best policy: inside each exact-content family
    * (the q_dup_cross_source signature), keep the member with the
    * best quality (longest text, doc_id tie-break) and report what
    * was dropped — the step between "find duplicates" and "write the
    * training shard". One shuffle on the signature; max_by is a
    * partial-aggregating argmax, so families never materialize. */
  val qDedupKeepBest: QuerySpec = QuerySpec(
    "q_dedup_keep_best",
    s"""WITH h AS (SELECT doc_id, n_chars,
       |    md5(array_to_string(list_sort(list_distinct($wordsSql)), ' '))
       |      AS sig
       |  FROM documents)
       |SELECT sig,
       |  max_by(doc_id, n_chars * 1000000000 - doc_id) AS keep_id,
       |  count(*) AS n_members,
       |  CAST(max(n_chars) AS BIGINT) AS best_chars
       |FROM h GROUP BY sig
       |HAVING count(*) > 1
       |ORDER BY sig""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        md5(array_join(array_sort(array_distinct(words(col("text")))), " "))
          .as("sig"))
      .groupBy("sig")
      .agg(
        max_by(col("doc_id"), col("n_chars") * 1000000000L - col("doc_id"))
          .as("keep_id"),
        count(lit(1)).as("n_members"),
        max(col("n_chars")).cast(LongType).as("best_chars"))
      .filter(col("n_members") > 1)
      .orderBy("sig")
  }

  /** X2r — consecutive-repeat collapse (the crawl-cleanup RLE pass:
    * "batch batch batch" → "batch"; stutter artifacts from template
    * expansion and OCR are the classic source). Map-only, no shuffle.
    *
    * Spark side pairs each token with its predecessor via zip_with
    * over a SHIFTED SLICE of the same array — not an index lambda
    * reading the outer array, which re-evaluates the tokenize subtree
    * per element (the shingles3 lesson above). The sentinel "" is
    * safe as the first predecessor because the tokenizer drops
    * empties. The oracle uses DuckDB's indexed list_filter directly
    * (per-element re-eval is a Spark codegen concern, not DuckDB's). */
  /* Bench envelope (r15): floor 0.66 s; full-bench 1.56 s (2.4x
   * flag) vs isolated 0.93-1.02 s warm on identical code — inside
   * the gate (1.29 s); sibling-load variance. */
  val qCollapseRepeats: QuerySpec = QuerySpec(
    "q_collapse_repeats",
    s"""WITH t AS (SELECT doc_id, $wordsSql AS w FROM documents),
       |c AS (SELECT doc_id, len(w) AS n_raw,
       |    list_filter(w, (x, i) -> i = 1 OR x <> w[i-1]) AS cw
       |  FROM t)
       |SELECT doc_id, n_raw, len(cw) AS n_collapsed,
       |  md5(array_to_string(cw, ' ')) AS sig
       |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val w = words(col("text"))
    val prev = concat(array(lit("")),
      slice(w, lit(1), greatest(size(w) - 1, lit(0))))
    val kept = filter(zip_with(w, prev, (x, p) => when(x =!= p, x)),
      x => x.isNotNull)
    LsdDb.table(s, dir, "documents")
      .select(col("doc_id"), size(w).cast(LongType).as("n_raw"),
        kept.as("cw"))
      .select(col("doc_id"), col("n_raw"),
        size(col("cw")).cast(LongType).as("n_collapsed"),
        md5(array_join(col("cw"), " ").cast("binary")).as("sig"))
      .orderBy("doc_id")
  }

  /** X2s — BIGRAM language-model scoring (add-1 conditional
    * P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V)): the KenLM-filter proxy one
    * order up from q_unigram_lm, and deliberately the NON-BROADCAST
    * plan shape — a real bigram table is billions of rows, so the
    * corpus joins the model on the n-gram KEY (both sides shuffle on
    * `bg`; Catalyst picks the strategy) instead of shipping the model
    * to every executor. The context count c(w₁·) rides the MODEL
    * relation via a model-sized window (sum of bigram counts per
    * first word), so the corpus is joined exactly ONCE; only the
    * scalar vocab size broadcasts.
    *
    * Bigram extraction is map-only zip-with-shift (no window over
    * the corpus, no posexplode self-join). Per-term log₂p is
    * d6-snapped BEFORE the decimal sum (BM25 rule); the per-doc mean
    * is UNSNAPPED (q_stetson rule). Docs with < 2 tokens have no
    * bigrams and are absent by contract. */
  val qBigramLm: QuerySpec = QuerySpec(
    "q_bigram_lm",
    s"""WITH t0 AS (SELECT doc_id, $wordsSql AS w FROM documents),
       |toks AS (SELECT doc_id, unnest(
       |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))
       |    AS bg
       |  FROM t0),
       |lm AS (SELECT bg, count(*) AS c2 FROM toks GROUP BY bg),
       |lmx AS (SELECT bg, c2,
       |    CAST(sum(c2) OVER (PARTITION BY split_part(bg, ' ', 1))
       |      AS BIGINT) AS c1
       |  FROM lm),
       |voc AS (SELECT count(DISTINCT u) AS v
       |  FROM (SELECT unnest(w) AS u FROM t0)),
       |scored AS (SELECT t.doc_id, ${D.sql.d6(
          "log2((CAST(lmx.c2 AS DOUBLE) + 1.0)" +
            " / (CAST(lmx.c1 AS DOUBLE) + voc.v))")} AS lp
       |  FROM toks t JOIN lmx USING (bg) CROSS JOIN voc)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(CAST(lp AS DECIMAL(18,8))) AS DOUBLE) / count(*)
       |    AS mean_log2p
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val w = words(col("text"))
    val bgArr = zip_with(
      slice(w, lit(1), greatest(size(w) - 1, lit(0))),
      slice(w, lit(2), greatest(size(w) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val toks = LsdDb.table(s, dir, "documents")
      .select(col("doc_id"), explode(bgArr).as("bg"))
    val lm = toks.groupBy("bg").agg(count(lit(1)).as("c2"))
    val lmx = lm.withColumn("c1",
      sum(col("c2")).over(Window.partitionBy(
        substring_index(col("bg"), " ", 1))))
    val voc = LsdDb.table(s, dir, "documents")
      .select(explode(words(col("text"))).as("u"))
      .agg(countDistinct(col("u")).as("v"))
    val lp = Det.d6(log2((col("c2").cast(DoubleType) + 1.0) /
      (col("c1").cast(DoubleType) + col("v"))))
    toks.join(lmx, "bg").crossJoin(broadcast(voc))
      .select(col("doc_id"), lp.as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("lp").cast(Det.M)).cast(DoubleType) / count(lit(1)))
          .as("mean_log2p"))
      .orderBy("doc_id")
  }

  /** X2t — the QUALITY FUNNEL report: per-stage survival counts of
    * the standard cleaning cascade (length → token count → lexical
    * diversity → stopword language proxy → exact-dup representative)
    * — the attrition table every training-data pipeline publishes
    * before a run. Stages 1–4 are map-only flags; the dedup stage is
    * the funnel's ONE shuffle (a window min over the content hash),
    * and the whole report reduces to a single row of counts — at
    * 100 TB this is one pass over the corpus plus one keyed window,
    * nothing driver-side. */
  val qQualityFunnel: QuerySpec = QuerySpec(
    "q_quality_funnel",
    s"""WITH f AS (SELECT doc_id,
       |    n_chars >= 20 AS f1,
       |    len($wordsSql) >= 5 AS f2,
       |    CAST(len($wordSetSql) AS DOUBLE)
       |      / greatest(len($wordsSql), 1) >= 0.5 AS f3,
       |    len(list_filter($wordsSql,
       |      w -> w IN ('the', 'a', 'of', 'and', 'in'))) >= 1 AS f4,
       |    min(doc_id) OVER (PARTITION BY md5(text)) = doc_id AS f5
       |  FROM documents)
       |SELECT count(*) AS n_input,
       |  count(CASE WHEN f1 THEN 1 END) AS n_length,
       |  count(CASE WHEN f1 AND f2 THEN 1 END) AS n_tokens,
       |  count(CASE WHEN f1 AND f2 AND f3 THEN 1 END) AS n_diversity,
       |  count(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 END) AS n_lang,
       |  count(CASE WHEN f1 AND f2 AND f3 AND f4 AND f5 THEN 1 END)
       |    AS n_dedup
       |FROM f""".stripMargin) { (s, dir) =>
    val w = words(col("text"))
    val ws = wordSet(col("text"))
    val stop = size(filter(w, x => x.isin("the", "a", "of", "and", "in")))
    val dw = Window.partitionBy(md5(col("text").cast("binary")))
    val f = LsdDb.table(s, dir, "documents").select(
      (col("n_chars") >= 20).as("f1"),
      (size(w) >= 5).as("f2"),
      (size(ws).cast(DoubleType) / greatest(size(w), lit(1)) >= 0.5)
        .as("f3"),
      (stop >= 1).as("f4"),
      (min(col("doc_id")).over(dw) === col("doc_id")).as("f5"))
    f.agg(count(lit(1)).as("n_input"),
      count(when(col("f1"), 1)).as("n_length"),
      count(when(col("f1") && col("f2"), 1)).as("n_tokens"),
      count(when(col("f1") && col("f2") && col("f3"), 1)).as("n_diversity"),
      count(when(col("f1") && col("f2") && col("f3") && col("f4"), 1))
        .as("n_lang"),
      count(when(col("f1") && col("f2") && col("f3") && col("f4")
        && col("f5"), 1)).as("n_dedup"))
  }

  /** X2u — TOKEN-BUDGET curve: "take the best-quality documents
    * until the budget is spent" as a SCALE-SAFE report. The naive
    * form sorts the corpus by quality and prefix-sums tokens — a
    * single-partition global sort. The pipeline form buckets quality
    * into O(bins), aggregates tokens/docs per bucket map-side, and
    * prefix-sums over the BINS (a window over ≤10 rows) — identical
    * decisions at budget boundaries coarser than a bin, zero global
    * sort. Bucket membership compares engine-identical doubles (the
    * q_quality_score formula), so bin populations are exact. */
  val qTokenBudget: QuerySpec = QuerySpec(
    "q_token_budget",
    s"""WITH q AS (SELECT doc_id, len($wordsSql) AS toks,
       |    (0.4 * least(CAST(len($wordsSql) AS DOUBLE) / 50.0, 1.0))
       |    + (0.3 * (CAST(len($wordSetSql) AS DOUBLE) / len($wordsSql)))
       |    + (0.3 * (CAST(len(list_filter($wordsSql,
       |          w -> w IN ('the', 'a', 'of', 'and', 'in'))) AS DOUBLE)
       |        / len($wordsSql))) AS quality
       |  FROM documents WHERE len($wordsSql) > 0),
       |b AS (SELECT least(greatest(CAST(floor(quality * 10) AS BIGINT),
       |      0), 9) AS bin,
       |    count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS tokens
       |  FROM q GROUP BY 1)
       |SELECT bin, n_docs, tokens,
       |  CAST(sum(tokens) OVER (ORDER BY bin DESC) AS BIGINT)
       |    AS cum_tokens_from_best,
       |  CAST(sum(n_docs) OVER (ORDER BY bin DESC) AS BIGINT)
       |    AS cum_docs_from_best
       |FROM b ORDER BY bin""".stripMargin) { (s, dir) =>
    val w = words(col("text"))
    val stop = size(filter(w, x => x.isin("the", "a", "of", "and", "in")))
    val quality =
      (lit(0.4) * least(size(w).cast(DoubleType) / 50.0, lit(1.0))) +
        (lit(0.3) * (size(wordSet(col("text"))).cast(DoubleType)
          / size(w))) +
        (lit(0.3) * (stop.cast(DoubleType) / size(w)))
    val b = LsdDb.table(s, dir, "documents")
      .filter(size(w) > 0)
      .select(size(w).cast(LongType).as("toks"), quality.as("quality"))
      .groupBy(least(greatest(floor(col("quality") * 10).cast(LongType),
        lit(0L)), lit(9L)).as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
    val cw = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.select(col("bin"), col("n_docs"), col("tokens"),
      sum(col("tokens")).over(cw).as("cum_tokens_from_best"),
      sum(col("n_docs")).over(cw).as("cum_docs_from_best"))
      .orderBy("bin")
  }

  /** Ext — per-document NOVELTY: what fraction of a document's
    * 3-gram shingles first appear in THIS document under the
    * canonical doc_id order? The marginal-contribution curve a
    * curation pipeline reads before corpus ordering / pruning: a
    * late document whose shingles all appeared earlier adds nothing.
    *
    * Two partial-aggregating shuffles, both shingle-keyed: global
    * first-occurrence = min(doc_id) per shingle, then per-doc counts
    * of (shingles, first-here shingles). Shingle STRINGS ride this
    * one (the counts are output-visible, so the xxhash64 trick's
    * collision caveat would touch the answer — the dedup-verify
    * precedent); novelty is one exact BIGINT ratio. Shingle-less
    * docs (< 3 words) report 0/0 → novelty 0.0 on both engines. */
  val qNovelty: QuerySpec = QuerySpec(
    "q_novelty",
    s"""WITH toks AS (SELECT doc_id, unnest($shingles3Sql) AS s
       |  FROM documents),
       |firsts AS (SELECT s, min(doc_id) AS first_doc FROM toks GROUP BY s),
       |per AS (SELECT t.doc_id, count(*) AS n_sh,
       |    count(*) FILTER (WHERE f.first_doc = t.doc_id) AS n_first
       |  FROM toks t JOIN firsts f USING (s) GROUP BY t.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(p.n_sh, 0) AS BIGINT) AS n_sh,
       |  CAST(coalesce(p.n_first, 0) AS BIGINT) AS n_first,
       |  CASE WHEN coalesce(p.n_sh, 0) > 0 THEN
       |    CAST(p.n_first AS DOUBLE) / p.n_sh ELSE 0.0 END AS novelty
       |FROM documents d LEFT JOIN per p USING (doc_id)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = LsdDb.table(s, dir, "documents")
    // spread (r21): toks is consumed by BOTH branches below, each
    // re-deriving the explode — off a one-row-group scan both ran
    // single-task; the conditional exchange parallelizes both
    val toks = LsdDb.spread(docs.select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), explode(shingles3(col("text"))).as("s"))
    val firsts = toks.groupBy("s").agg(min(col("doc_id")).as("first_doc"))
    val per = toks.join(firsts, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_first"))
    docs.select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).cast(LongType).as("n_sh"),
        coalesce(col("n_first"), lit(0L)).cast(LongType).as("n_first"),
        when(coalesce(col("n_sh"), lit(0L)) > 0,
          col("n_first").cast(DoubleType) / col("n_sh"))
          .otherwise(lit(0.0)).as("novelty"))
      .orderBy("doc_id")
  }

  /** Ext — VOCABULARY COVERAGE curve: what fraction of all token
    * occurrences do the top-3 / top-10 / top-30 most frequent
    * types cover (report points sized to the fixture's 31-type
    * vocabulary; the machinery is k-agnostic)? The Zipf diagnostic behind tokenizer-vocab sizing.
    * Corpus-scale work is one partial-aggregated type count; the
    * top-1000 come back through TakeOrderedAndProject (a bounded
    * top-k, never a full vocab sort on one node — plan-pinned), and
    * the cumulative window runs over those 1000 rows. Counts are
    * BIGINT; coverage is one exact-ratio division per row. Ties rank
    * by (count DESC, token) on both engines. */
  val qVocabCoverage: QuerySpec = QuerySpec(
    "q_vocab_coverage",
    s"""WITH toks AS (SELECT unnest($wordsSql) AS w FROM documents),
       |tf AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
       |tot AS (SELECT sum(c) AS total FROM tf),
       |top AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk
       |  FROM tf),
       |cum AS (SELECT rk, sum(c) OVER (ORDER BY rk
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cov
       |  FROM top WHERE rk <= 1000)
       |SELECT cum.rk AS top_k, CAST(cum.cov AS BIGINT) AS covered,
       |  CAST(tot.total AS BIGINT) AS total,
       |  CAST(cum.cov AS DOUBLE) / tot.total AS coverage
       |FROM cum, tot WHERE cum.rk IN (3, 10, 30)
       |ORDER BY top_k""".stripMargin) { (s, dir) =>
    val tf = LsdDb.table(s, dir, "documents")
      .select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = tf.agg(sum(col("c")).as("total"))
    val top = tf.orderBy(col("c").desc, col("w")).limit(1000)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("c").desc, col("w"))))
    val cum = top.withColumn("cov",
      sum(col("c")).over(Window.orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.filter(col("rk").isin(3, 10, 30))
      .crossJoin(broadcast(tot))
      .select(col("rk").cast(LongType).as("top_k"),
        col("cov").cast(LongType).as("covered"),
        col("total").cast(LongType).as("total"),
        (col("cov").cast(DoubleType) / col("total")).as("coverage"))
      .orderBy("top_k")
  }

  /** Ext — retrieval SCORE FUSION (reciprocal-rank fusion, Cormack &
    * Clarke SIGIR'09): combine a sparse channel (TF-IDF cosine
    * top-20, the q_sparse_knn retriever) and a dense channel
    * (embedding cosine top-20, the q_cosine_topk retriever — doc_id
    * and vec_id share the 0..N id space in this corpus) into one
    * fused ranking per probe: rrf = Σ_channels 1/(60 + rank), the
    * rank-only fusion that needs NO score calibration between
    * channels (exactly why production rerank stacks use it in front
    * of the cross-encoder stage).
    *
    * Scale shape: each channel is already a bounded top-k retrieval
    * with its own 100-TB path (sparse: postings-bounded df join;
    * dense: the ANN IVF index — both brute-force-twinned here to stay
    * oracle-checkable), so fusion itself joins two (probes × k)-row
    * relations — dimension-sized at ANY corpus scale — full-outer on
    * (probe, doc) so a doc surfaced by only one channel still scores.
    * Determinism: ranks are integers, 1/(60+r) is one double divide,
    * the two-term sum is fixed-order, and the final rrf is d6-snapped
    * before the fused row_number — ties break by doc_id identically
    * in both engines. */
  val qRerankFusion: QuerySpec = QuerySpec(
    "q_rerank_fusion",
    s"""WITH $tfidfKnnCtes,
       |srk AS (SELECT probe_id, doc_id, rn AS rs FROM rk
       |  WHERE rn <= 20),
       |ev AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
       |  FROM embeddings),
       |en AS (SELECT vec_id, vv, ${VectorOps.normSql} AS nrm FROM ev),
       |dsc AS (SELECT p.vec_id AS probe_id, c.vec_id AS doc_id,
       |    ${VectorOps.cosineSql("p", "c")} AS cos
       |  FROM en p JOIN en c ON c.vec_id <> p.vec_id
       |  WHERE p.vec_id < 5),
       |drk AS (SELECT probe_id, doc_id,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos DESC, doc_id) AS rd
       |  FROM dsc QUALIFY rd <= 20),
       |fused AS (SELECT coalesce(s.probe_id, d.probe_id) AS probe_id,
       |    coalesce(s.doc_id, d.doc_id) AS doc_id, s.rs, d.rd,
       |    ${D.sql.d6("coalesce(CAST(1.0 AS DOUBLE) / (60 + s.rs), " +
                       "CAST(0.0 AS DOUBLE)) " +
                       "+ coalesce(CAST(1.0 AS DOUBLE) / (60 + d.rd), " +
                       "CAST(0.0 AS DOUBLE))")} AS rrf
       |  FROM srk s FULL JOIN drk d
       |    ON s.probe_id = d.probe_id AND s.doc_id = d.doc_id)
       |SELECT probe_id, doc_id, rs, rd, rrf,
       |  row_number() OVER (PARTITION BY probe_id
       |    ORDER BY rrf DESC, doc_id) AS fused_rank
       |FROM fused QUALIFY fused_rank <= 10
       |ORDER BY probe_id, fused_rank""".stripMargin) { (s, dir) =>
    val sparse = tfidfKnnRanked(s, dir)
      .filter(col("rn") <= 20)
      .select(col("probe_id"), col("doc_id"),
        col("rn").cast(LongType).as("rs"))
    val vk = graft.functions.VectorKernels
    val emb = LsdDb.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", vk.norm2(col("v")))
    val probes = broadcast(emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn")))
    val drw = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("doc_id"))
    val dense = probes.join(emb, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("doc_id"),
        vk.cosine(vk.dot(col("pv"), col("v")),
          col("pn"), col("nrm")).as("cos"))
      .withColumn("rd", row_number().over(drw).cast(LongType))
      .filter(col("rd") <= 20)
      .select("probe_id", "doc_id", "rd")
    val fw = Window.partitionBy("probe_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    sparse.join(dense, Seq("probe_id", "doc_id"), "full_outer")
      .select(col("probe_id"), col("doc_id"), col("rs"), col("rd"),
        Det.d6(
          coalesce(lit(1.0) / (lit(60) + col("rs")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rd")), lit(0.0))).as("rrf"))
      .withColumn("fused_rank", row_number().over(fw).cast(LongType))
      .filter(col("fused_rank") <= 10)
      .orderBy("probe_id", "fused_rank")
  }

  /** Ext — ZIPF-LAW fit of the term-frequency distribution: OLS of
    * ln(freq) on ln(rank) over the top-1000 terms, reporting the
    * exponent α = −slope (English corpora sit near α ≈ 1; a fitted α
    * far off signals boilerplate floods or tokenizer breakage) —
    * the quantitative companion to q_vocab_coverage's coverage
    * curve, and the diagnostic behind tokenizer-vocab sizing.
    *
    * Shape: one corpus term count (partial-aggregated), a top-1000
    * cut via TakeOrderedAndProject (no vocab-scale sort
    * materializes), ranks from a window over the 1000 surviving
    * rows, then four decimal-exact sums and the closed-form slope.
    * Determinism: x = d6(ln rank), y = d6(ln freq) snap the libm
    * values; Σx, Σy, Σx², Σxy are decimal-exact; slope/intercept are
    * fixed mul/div chains on those exact doubles, d6-snapped at
    * output. */
  val qZipfFit: QuerySpec = QuerySpec(
    "q_zipf_fit",
    s"""WITH tok AS (SELECT unnest($wordsSql) AS w FROM documents),
       |tf AS (SELECT w, count(*) AS freq FROM tok GROUP BY w),
       |rk AS (SELECT freq,
       |    row_number() OVER (ORDER BY freq DESC, w) AS r
       |  FROM tf QUALIFY r <= 1000),
       |xy AS (SELECT ${D.sql.d6("ln(CAST(r AS DOUBLE))")} AS x,
       |    ${D.sql.d6("ln(CAST(freq AS DOUBLE))")} AS y FROM rk),
       |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |    ${D.sql.dsum("x")} AS sx, ${D.sql.dsum("y")} AS sy,
       |    ${D.sql.dsum("x * x")} AS sxx, ${D.sql.dsum("x * y")} AS sxy
       |  FROM xy),
       |f AS (SELECT n, sx, sy,
       |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope FROM s)
       |SELECT CAST(n AS BIGINT) AS n_terms,
       |  ${D.sql.d6("-slope")} AS alpha,
       |  ${D.sql.d6("(sy - slope * sx) / n")} AS intercept
       |FROM f""".stripMargin) { (s, dir) =>
    val tf = LsdDb.table(s, dir, "documents")
      .select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w"))
      .limit(1000)
    val rw = Window.orderBy(col("freq").desc, col("w"))
    val xy = tf.withColumn("r", row_number().over(rw))
      .select(Det.d6(log(col("r").cast(DoubleType))).as("x"),
        Det.d6(log(col("freq").cast(DoubleType))).as("y"))
    val st = xy.agg(
      count(lit(1)).cast(DoubleType).as("n"),
      Det.dsum(col("x")).as("sx"), Det.dsum(col("y")).as("sy"),
      Det.dsum(col("x") * col("x")).as("sxx"),
      Det.dsum(col("x") * col("y")).as("sxy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    st.select(col("n").cast(LongType).as("n_terms"),
        Det.d6(negate(slope)).as("alpha"),
        Det.d6((col("sy") - slope * col("sx")) / col("n")).as("intercept"))
  }

  /** BPE merge-round count — unrolled into the plan (and the oracle's
    * chained CTEs), the q_pagerank round pattern. */
  private val bpeRounds = 8
  private val bpeSep = "\u0001"

  /** DOUBLE separator between symbols: word = sep2+s1+sep2+...+sn+sep2.
    * The merge needle is sep+l+sep2+r+sep (single outer seps, double
    * inner). With a SINGLE separator, replace() misses an occurrence
    * whose leading sep was consumed by the previous match's trailing
    * sep (an l,r,l,r chain inside one word), so the pass is not
    * exactly greedy. With the double form, adjacent occurrences each
    * take one sep of the shared double boundary — every occurrence
    * has a DISJOINT character footprint, so one left-to-right
    * replace() pass merges exactly the greedy non-overlapping
    * occurrence set for every pattern, including self-runs
    * (a,a,a,a -> aa,aa) — the 1M-word conservation check of
    * tools/ScaleSmoke (as of commit 1372bdc) exposed the single-sep
    * form. The needle can only match at a true
    * symbol boundary: its first sep must be the second sep of a
    * boundary pair, since symbols contain no separator char. */
  private val bpeSep2 = bpeSep + bpeSep

  /** Ext — deterministic BPE-merge training (q_bpe_train): the
    * tokenizer-side primitive of an LLM data pipeline. Sennrich et al.
    * 2016 (arXiv 1508.07909, public): start from the corpus word-
    * frequency table with words as character sequences; each round
    * counts adjacent symbol pairs (weighted by word frequency), picks
    * the most frequent pair — exact BIGINT counts, (count DESC, lhs,
    * rhs) tie-break — and merges it greedily left-to-right in every
    * word. Output: the [[bpeRounds]] merge rules with their counts.
    *
    * Engine-portable representation: a word's symbol sequence is the
    * DOUBLE-chr(1)-joined string (see [[bpeSep2]]), so "merge pair
    * (l,r)" IS `replace(w, sep+l+sep2+r+sep -> sep+lr+sep)` — one
    * left-to-right replace() pass is provably EXACTLY BPE's greedy
    * non-overlapping merge in both engines (the double boundary gives
    * every occurrence a disjoint character footprint), and no
    * fold/UDF is needed.
    *
    * 100-TB shape: the corpus is touched ONCE (word-count shuffle with
    * map-side partial agg), then localCheckpoint truncates lineage so
    * the unrolled rounds never re-scan it; every round's work is
    * vocab-sized, the per-round argmax is a TakeOrderedAndProject
    * (top-1, no full sort), and the winning rule re-enters the plan as
    * a 1-row broadcast. Rounds are inherently sequential (each merge
    * changes the next round's pair counts) — k passes over the vocab
    * relation is the algorithm, not a plan defect. */
  /** Shared SQL CTE prefix for the BPE family: raw word stream (with
    * doc_id for the encode side), the w0 word-frequency table, and the
    * unrolled p/m/w round chain through w[[bpeRounds]]. Consumed by
    * q_bpe_train, q_bpe_encode, q_bpe_vocab. */
  private val bpeSqlCtes: String = {
    val sep = "chr(1)"
    val sepd = s"$sep || $sep"
    val ctes = new StringBuilder(
      s"""WITH raw AS (SELECT doc_id, unnest($wordsSql) AS word
         |  FROM documents),
         |w0 AS (SELECT $sepd || regexp_replace(word, '(.)', '\\1' || $sepd, 'g')
         |    AS w, count(*) AS cnt
         |  FROM raw GROUP BY 1)""".stripMargin)
    for (r <- 1 to bpeRounds) {
      ctes.append(s""",
         |p$r AS (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS c FROM (
         |  SELECT unnest(syms[1:len(syms)-1]) AS l,
         |    unnest(syms[2:len(syms)]) AS r, cnt
         |  FROM (SELECT list_filter(string_split(w, $sepd), x -> x <> '')
         |      AS syms, cnt FROM w${r - 1}))
         |  GROUP BY l, r),
         |m$r AS (SELECT l, r, c FROM p$r ORDER BY c DESC, l, r LIMIT 1),
         |w$r AS (SELECT replace(t.w, $sep || m.l || $sepd || m.r || $sep,
         |    $sep || m.l || m.r || $sep) AS w, t.cnt
         |  FROM w${r - 1} t CROSS JOIN m$r m)""".stripMargin)
    }
    ctes.toString
  }

  /** Scala twin of [[bpeSqlCtes]]: the checkpointed word-frequency
    * table is folded through [[bpeRounds]] merge rounds; returns the
    * per-round winning rules (1-row DataFrames of l, r, c) and the
    * final merged vocabulary relation (w, cnt). The corpus is read
    * exactly once (the localCheckpoint); every returned frame chains
    * off vocab-sized work only. */
  private def bpeChain(s: SparkSession, dir: String)
      : (Seq[DataFrame], DataFrame) = {
    var w = LsdDb.table(s, dir, "documents")
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(concat(lit(bpeSep2),
        regexp_replace(col("word"), "(.)", "$1" + bpeSep2)).as("w"),
        col("cnt"))
      // one corpus pass, materialized: the unrolled round chain below
      // must never reach back through this shuffle (pagerank idiom)
      .localCheckpoint()
    val rules = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to bpeRounds) {
      val syms = filter(split(col("w"), bpeSep2), x => x =!= "")
      val n1 = size(col("syms")) - 1
      val pairs = w.select(syms.as("syms"), col("cnt"))
        .select(explode(zip_with(
          slice(col("syms"), lit(1), n1), slice(col("syms"), lit(2), n1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"), col("cnt"))
        .select(col("p.l").as("l"), col("p.r").as("r"), col("cnt"))
        .groupBy("l", "r")
        .agg(sum(col("cnt")).cast(LongType).as("c"))
      val best = pairs
        .orderBy(col("c").desc, col("l").asc, col("r").asc).limit(1)
      rules += best
      w = w.crossJoin(broadcast(best.select(col("l"), col("r"))))
        .select(replace(col("w"),
          concat(lit(bpeSep), col("l"), lit(bpeSep2), col("r"), lit(bpeSep)),
          concat(lit(bpeSep), col("l"), col("r"), lit(bpeSep))).as("w"),
          col("cnt"))
    }
    (rules.toSeq, w)
  }

  /** The training relation (merge_round, lhs, rhs, pair_count) as ONE
    * plan off [[bpeChain]] — what the artifact build executes and
    * PlanQualitySpec pins (corpus read once via the checkpoint,
    * top-1 TakeOrdered per round, pair-agg exchanges reused between
    * the rules branch and the w-chain). */
  /** (merge_round, lhs, rhs, pair_count) from [[bpeChain]]'s per-round
    * rule frames — the ONE projection both the spec-pinned training
    * plan and the artifact build share. */
  private def rulesFrame(rules: Seq[DataFrame]): DataFrame =
    rules.zipWithIndex.map { case (best, i) =>
      best.select(lit(i + 1).as("merge_round"), col("l").as("lhs"),
        col("r").as("rhs"), col("c").as("pair_count"))
    }.reduce(_.unionAll(_)).orderBy("merge_round")

  private[graft] def bpeTrainFrame(s: SparkSession, dir: String): DataFrame =
    rulesFrame(bpeChain(s, dir)._1)

  /** Write-once TRAINED-TOKENIZER artifact — the AnnIndex pattern
    * applied to the BPE family: the merge-rule table (8 rows) and the
    * post-merge vocabulary relation, materialized once per corpus
    * fingerprint and reused by all four q_bpe_* queries. This is the
    * artifact shape a real pipeline ships (a tokenizer is trained
    * once, then applied to every corpus pass); before it, each of the
    * four bench lines re-ran the identical 8-round training chain
    * (~21 s family total at sf0.1 — r17 verdict item #6). Values are
    * bit-identical to inline training (exact BIGINT counts,
    * deterministic tie-break), so the oracle twins — which still
    * recompute everything from the corpus in DuckDB — keep
    * hash-matching; correctness never trusts the cache
    * (content-fingerprint keyed like every write-once layout). */
  def ensureBpeArtifact(s: SparkSession, dir: String): (String, String) = {
    val root = graft.sources.CacheKeys.writeOnce(s"graft_bpe_r$bpeRounds",
        s"$dir/documents.parquet") { root =>
      // one bpeChain evaluation feeds both writes (the rules frames
      // and the vocab chain hang off the same checkpointed w0)
      val (rules, vocab) = bpeChain(s, dir)
      rulesFrame(rules)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/rules.parquet")
      vocab.coalesce(1).write.mode("overwrite").parquet(s"$root/vocab.parquet")
    }
    (s"$root/rules.parquet", s"$root/vocab.parquet")
  }

  /** The trained rules in training order, driver-side — 8 (lhs, rhs)
    * pairs that the encode-side queries fold as LITERAL replaces
    * (map-only corpus pass, nothing broadcast or re-trained). */
  private def bpeRules(s: SparkSession, dir: String): Seq[(String, String)] = {
    val (rulesPath, _) = ensureBpeArtifact(s, dir)
    ParquetRead(s, rulesPath).orderBy("merge_round")
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
  }

  val qBpeTrain: QuerySpec = QuerySpec(
    "q_bpe_train",
    bpeSqlCtes + (1 to bpeRounds).map(r =>
      s"SELECT $r AS merge_round, l AS lhs, r AS rhs, c AS pair_count " +
        s"FROM m$r").mkString("\n", "\nUNION ALL\n", "") +
      "\nORDER BY merge_round") { (s, dir) =>
    val (rulesPath, _) = ensureBpeArtifact(s, dir)
    ParquetRead(s, rulesPath).orderBy("merge_round")
  }

  /** Ext — BPE ENCODE (q_bpe_encode): apply the trained merge table to
    * the corpus — the serving-side twin of q_bpe_train and the real
    * token counter (vs q_token_budget's whitespace/regex proxies).
    * Each doc's words become symbol strings, the [[bpeRounds]] rules
    * apply IN TRAINING ORDER as chained replace()s, and the output is
    * per-doc word/token counts plus the d6 tokens-per-word fertility —
    * the signal tokenizer evaluations gate on.
    *
    * 100-TB shape: the corpus side is MAP-ONLY — explode + 8 chained
    * replaces, each against a 1-row broadcast rule (whose lineage is
    * vocab-sized off the checkpoint) — then one per-doc partial+final
    * agg. No corpus shuffle before the aggregate. */
  val qBpeEncode: QuerySpec = QuerySpec(
    "q_bpe_encode", {
      val sep = "chr(1)"
      val sepd = s"$sep || $sep"
      val enc = (1 to bpeRounds).map { r =>
        s"""enc$r AS (SELECT doc_id,
           |  replace(e.w, $sep || m.l || $sepd || m.r || $sep,
           |    $sep || m.l || m.r || $sep) AS w
           |  FROM enc${r - 1} e CROSS JOIN m$r m)""".stripMargin
      }.mkString(",\n", ",\n", "")
      s"""$bpeSqlCtes,
         |enc0 AS (SELECT doc_id,
         |  $sepd || regexp_replace(word, '(.)', '\\1' || $sepd, 'g') AS w
         |  FROM raw)$enc
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(len(list_filter(string_split(w, $sepd), x -> x <> '')))
         |    AS BIGINT) AS n_tokens,
         |  ${D.sql.d6(s"CAST(sum(len(list_filter(string_split(w, $sepd)," +
           " x -> x <> ''))) AS DOUBLE) / count(*)")} AS tok_per_word
         |FROM enc$bpeRounds GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    // trained rules fold in as LITERALS: the corpus side is one
    // map-only codegen'd pass (8 chained literal replaces), no
    // broadcast rule joins, no re-training (the artifact amortizes
    // across the whole q_bpe_* family)
    var enc = LsdDb.table(s, dir, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .select(col("doc_id"), concat(lit(bpeSep2),
        regexp_replace(col("word"), "(.)", "$1" + bpeSep2)).as("w"))
    for ((l, r) <- bpeRules(s, dir))
      enc = enc.select(col("doc_id"), replace(col("w"),
        lit(bpeSep + l + bpeSep2 + r + bpeSep),
        lit(bpeSep + l + r + bpeSep)).as("w"))
    val nTok = size(filter(split(col("w"), bpeSep2), x => x =!= ""))
    enc.select(col("doc_id"), nTok.as("nt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("nt")).cast(LongType).as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        Det.d6(col("n_tokens").cast(DoubleType) / col("n_words"))
          .as("tok_per_word"))
      .orderBy("doc_id")
  }

  /** Ext — TOKENIZER-EQUITY AUDIT (q_bpe_fertility): per-language
    * BPE fertility (tokens per word) under the trained merge table —
    * the disparity report tokenizer evaluations publish: a language
    * whose words fragment into many tokens pays more context budget
    * per sentence, and a corpus-trained BPE systematically favors
    * its majority language. Shares the merge algebra with
    * q_bpe_train/encode/vocab ([[bpeSqlCtes]]/[[bpeChain]] — one
    * definition).
    *
    * 100-TB shape: identical to q_bpe_encode's map-only corpus side
    * (explode + chained replaces against 1-row broadcast rules) with
    * `lang` riding along, reduced map-side into an O(langs) agg —
    * no per-doc relation is ever materialized. */
  val qBpeFertility: QuerySpec = QuerySpec(
    "q_bpe_fertility", {
      val sep = "chr(1)"
      val sepd = s"$sep || $sep"
      val enc = (1 to bpeRounds).map { r =>
        s"""fenc$r AS (SELECT lang,
           |  replace(e.w, $sep || m.l || $sepd || m.r || $sep,
           |    $sep || m.l || m.r || $sep) AS w
           |  FROM fenc${r - 1} e CROSS JOIN m$r m)""".stripMargin
      }.mkString(",\n", ",\n", "")
      s"""$bpeSqlCtes,
         |fenc0 AS (SELECT lang,
         |  $sepd || regexp_replace(word, '(.)', '\\1' || $sepd, 'g') AS w
         |  FROM (SELECT lang, unnest($wordsSql) AS word FROM documents))$enc
         |SELECT lang, count(*) AS n_words,
         |  CAST(sum(len(list_filter(string_split(w, $sepd), x -> x <> '')))
         |    AS BIGINT) AS n_tokens,
         |  ${D.sql.d6(s"CAST(sum(len(list_filter(string_split(w, $sepd)," +
           " x -> x <> ''))) AS DOUBLE) / count(*)")} AS tok_per_word
         |FROM fenc$bpeRounds GROUP BY lang ORDER BY lang""".stripMargin
    }) { (s, dir) =>
    // literal-rule fold off the trained artifact, same as q_bpe_encode
    var enc = LsdDb.table(s, dir, "documents")
      .select(col("lang"), explode(words(col("text"))).as("word"))
      .select(col("lang"), concat(lit(bpeSep2),
        regexp_replace(col("word"), "(.)", "$1" + bpeSep2)).as("w"))
    for ((l, r) <- bpeRules(s, dir))
      enc = enc.select(col("lang"), replace(col("w"),
        lit(bpeSep + l + bpeSep2 + r + bpeSep),
        lit(bpeSep + l + r + bpeSep)).as("w"))
    val nTok = size(filter(split(col("w"), bpeSep2), x => x =!= ""))
    enc.select(col("lang"), nTok.as("nt"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("nt")).cast(LongType).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        Det.d6(col("n_tokens").cast(DoubleType) / col("n_words"))
          .as("tok_per_word"))
      .orderBy("lang")
  }

  /** Ext — BPE VOCABULARY (q_bpe_vocab): the post-merge symbol
    * inventory with corpus frequencies — the artifact a tokenizer
    * pipeline actually ships. Top 50 symbols by (frequency DESC,
    * symbol): base characters that survived plus the merged units.
    * Runs entirely on the checkpointed vocab chain — the corpus
    * parquet is never re-read, and the top-k is a
    * TakeOrderedAndProject. */
  val qBpeVocab: QuerySpec = QuerySpec(
    "q_bpe_vocab", {
      val sep = "chr(1)"
      val sepd = s"$sep || $sep"
      s"""$bpeSqlCtes
         |SELECT sym, freq FROM (
         |  SELECT sym, CAST(sum(cnt) AS BIGINT) AS freq FROM (
         |    SELECT unnest(list_filter(string_split(w, $sepd),
         |      x -> x <> '')) AS sym, cnt FROM w$bpeRounds)
         |  GROUP BY sym)
         |ORDER BY freq DESC, sym LIMIT 50""".stripMargin
    }) { (s, dir) =>
    val (_, vocabPath) = ensureBpeArtifact(s, dir)
    ParquetRead(s, vocabPath)
      .select(explode(filter(split(col("w"), bpeSep2),
        x => x =!= "")).as("sym"), col("cnt"))
      .groupBy("sym").agg(sum(col("cnt")).cast(LongType).as("freq"))
      .orderBy(col("freq").desc, col("sym").asc)
      .limit(50)
  }

  private val lrIters = 24
  private val lrEta = 2.0
  private val lrFeats = Seq("f1", "f2", "f3", "f4")

  /** Driver cap for the fused-GD collect ([[fusedGdWeights]]): the
    * VALUE-DOMAIN-compressed feature matrix (distinct (y, x⃗) rows +
    * counts) must stay driver-sized. Features are d6/f6-snapped
    * ratios, so the domain is grid-bounded, but joint diversity is
    * corpus-dependent — past the cap the queries fall back to the
    * per-round distributed loop (identical arithmetic, same weights).
    * 64 Ki rows × ~7 numbers ≈ 4 MB collected; the 24-round replay
    * over it is < 10 M BigDecimal ops. */
  private val maxGdDriverGroups = 64 * 1024

  /** Driver-side GD-round replay over the value-domain-compressed
    * feature matrix — the r22 fusion of the 24 eager one-job-per-round
    * aggregations (guide §1.2: remove passes; §5: the loop state is
    * O(d), the matrix is grid-bounded — driver-sized by construction).
    *
    * BIT-IDENTICAL to the distributed loop it replaces, term by term:
    * `pred` replays the per-row double chain (same left-associated
    * IEEE ops, same [[graft.functions.SnapDecimal6]] snaps the codegen
    * path runs); the per-row `(y − pred) · x_i` cast to DECIMAL(38,8)
    * is `BigDecimal.valueOf(d).setScale(8, HALF_UP)` — exactly Spark's
    * Cast(double → DECIMAL(38,8)) (Decimal.apply goes through
    * Double.toString, then changePrecision rounds HALF_UP); identical
    * rows contribute `term × count` (exact BigDecimal multiply, equal
    * to count exact additions); the scale-8 sum is order-independent,
    * so collect order cannot matter; the final decimal → double is
    * BigDecimal.doubleValue on both sides. Pinned against the
    * distributed loop in PipelineOpsSpec ("fused GD equals the
    * per-round loop").
    *
    * @param groups rows (y, x_1..x_d, cnt) — doubles + a long count
    * @param pred   w, x⃗ → the model's per-row prediction (z or p),
    *               replaying the column expression's exact op order
    * @return the weights after `iters` rounds (w_0 = 0⃗) */
  private[operators] def fusedGdWeights(
      groups: Array[org.apache.spark.sql.Row], d: Int, iters: Int,
      eta: Double,
      pred: (Array[Double], Array[Double]) => Double): Array[Double] = {
    val m = groups.length
    val ys = new Array[Double](m)
    val xs = new Array[Array[Double]](m)
    val cs = new Array[java.math.BigDecimal](m)
    var n = 0L
    var g = 0
    while (g < m) {
      val r = groups(g)
      ys(g) = r.getDouble(0)
      xs(g) = Array.tabulate(d)(j => r.getDouble(1 + j))
      val c = r.getLong(1 + d)
      cs(g) = java.math.BigDecimal.valueOf(c)
      n += c
      g += 1
    }
    var w = new Array[Double](d + 1)
    for (_ <- 1 to iters) {
      val sums = Array.fill(d + 1)(java.math.BigDecimal.ZERO)
      g = 0
      while (g < m) {
        val resid = ys(g) - pred(w, xs(g))
        var i = 0
        while (i <= d) {
          val term = if (i == 0) resid * 1.0 else resid * xs(g)(i - 1)
          sums(i) = sums(i).add(java.math.BigDecimal.valueOf(term)
            .setScale(8, java.math.RoundingMode.HALF_UP)
            .multiply(cs(g)))
          i += 1
        }
        g += 1
      }
      w = Array.tabulate(d + 1)(i => graft.functions.SnapDecimal6.snap(
        w(i) + eta * sums(i).doubleValue / n))
    }
    w
  }

  /** The four surface features of the trainable-classifier family —
    * ONE definition (SQL text + Column twins, the SyntheticUrls
    * discipline) shared by q_logreg / q_feature_auc. All
    * FLOOR-snapped ([[Det.f6]]) ratios of integer counts: these
    * values serve as grouping/bin keys downstream (q_feature_auc /
    * q_mutual_info / q_stump_split / q_iv expose per-cell counts),
    * and an integer ratio can land exactly on a d6 rounding midpoint
    * where the engines' tie-break rules diverge — floor has no tie. */
  private val lrFeatSqls: Seq[(String, String)] = {
    val f6 = D.sql.f6 _
    Seq(
      "f1" -> f6(s"least(CAST(len($wordsSql) AS DOUBLE) / 50.0, 1.0)"),
      "f2" -> f6(s"CAST(len($wordSetSql) AS DOUBLE) / len($wordsSql)"),
      "f3" -> f6(s"CAST(len(list_filter($wordsSql," +
        " w -> w IN ('the', 'a', 'of', 'and', 'in'))) AS DOUBLE)" +
        s" / len($wordsSql)"),
      "f4" -> f6(s"CAST(length(text) AS DOUBLE) / len($wordsSql) / 10.0"))
  }
  private def lrFeatCols: Seq[(String, Column)] = {
    val w = words(col("text"))
    val nw = size(w)
    Seq(
      "f1" -> Det.f6(least(nw.cast(DoubleType) / 50.0, lit(1.0))),
      "f2" -> Det.f6(size(wordSet(col("text"))).cast(DoubleType) / nw),
      "f3" -> Det.f6(size(filter(w, x =>
        x.isin("the", "a", "of", "and", "in"))).cast(DoubleType) / nw),
      "f4" -> Det.f6(length(col("text")).cast(DoubleType) / nw / 10.0))
  }

  /** Ext — TRAINABLE QUALITY/LANG CLASSIFIER (q_logreg): batch
    * gradient-descent logistic regression predicting `lang = 'en'`
    * from surface features — the fastText-style filter-model training
    * loop (Joulin et al. 2016, public) every curation pipeline runs,
    * reduced to its distributed-GD essence.
    *
    * Features (all d6-snapped ratios of integer counts): length cap
    * f1 = min(n_words/50, 1), distinct-word ratio f2, English
    * stopword ratio f3 (the informative one), chars-per-word/10 f4;
    * bias w0. [[lrIters]] full-batch rounds from w = 0 with
    * η = [[lrEta]]: w ← d6(w + η·Σ(y−p)·x / n).
    *
    * 100-TB shape: the feature relation is extracted in ONE corpus
    * pass and localCheckpointed (it is the N×d matrix a training
    * pipeline materializes anyway); each GD round is a map-side
    * partial agg with O(d) state — k rounds of the canonical
    * distributed full-batch GD, nothing corpus-sized ever shuffles.
    * The final weights collect as bounded O(d) driver state and
    * constant-fold into a MAP-ONLY scoring pass (one FileScan, the
    * kmeans/pca pattern).
    *
    * Determinism: z is a mul-add chain → d6-snapped before exp (Det
    * FMA rule); p = d6(sigmoid) stabilizes the transcendental;
    * gradient sums go through DECIMAL(38,8) (order-independent);
    * each weight is d6-snapped per round. Oracle = unrolled CTE
    * chain of the identical arithmetic. */
  val qLogreg: QuerySpec = QuerySpec(
    "q_logreg", {
      val d6 = D.sql.d6 _
      val featSql =
        s"""lfeat AS MATERIALIZED (SELECT doc_id,
           |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
           |    ${lrFeatSqls.map { case (n, e) => s"$e AS $n" }
              .mkString(",\n    ")}
           |  FROM documents WHERE len($wordsSql) > 0)""".stripMargin
      def zSql(w: String, f: String): String = d6(
        s"$w.w0 + $w.w1 * $f.f1 + $w.w2 * $f.f2" +
          s" + $w.w3 * $f.f3 + $w.w4 * $f.f4")
      def pSql(w: String, f: String): String =
        d6(s"1.0 / (1.0 + exp(-(${zSql(w, f)})))")
      val sb = new StringBuilder(
        s"""WITH $featSql,
           |lw0 AS MATERIALIZED (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2,
           |  0.0 AS w3, 0.0 AS w4)""".stripMargin)
      // Every CTE is referenced EXACTLY ONCE (weights ride along in
      // lp$r; gradient + update fold into one agg) — a w-chain
      // referenced twice per round inlines 2^k ways under DuckDB's
      // CTE expansion and exhausts file handles at k=24. And every
      // CTE is AS MATERIALIZED: DuckDB 1.0 inlines even once-referenced
      // CTEs, so without the hint lfeat's regexp feature extraction
      // re-evaluates once per round (>=14 min at sf0.01) and the
      // optimizer re-plans a 24-deep inlined tree (~13 s even with
      // lfeat alone materialized). Full materialization: 0.2 s.
      for (r <- 1 to lrIters) {
        val xs = "1.0" +: lrFeats.map(f => s"f.$f")
        sb ++= s""",
           |lp$r AS MATERIALIZED (SELECT f.y, f.f1, f.f2, f.f3, f.f4,
           |    w.w0, w.w1, w.w2, w.w3, w.w4,
           |    ${pSql("w", "f")} AS p
           |  FROM lfeat f CROSS JOIN lw${r - 1} w),
           |lw$r AS MATERIALIZED (SELECT${xs.zipWithIndex.map { case (x, i) =>
              s"\n    ${d6(s"min(f.w$i) + $lrEta" +
                s" * CAST(sum(CAST((f.y - f.p) * $x AS DECIMAL(38,8)))" +
                " AS DOUBLE) / count(*)")} AS w$i" }.mkString(",")}
           |  FROM lp$r f)""".stripMargin
      }
      sb ++= s"""
         |SELECT f.doc_id, ${pSql("w", "f")} AS score,
         |  CASE WHEN ${pSql("w", "f")} >= 0.5 THEN 1 ELSE 0 END AS pred,
         |  f.y AS label
         |FROM lfeat f CROSS JOIN lw$lrIters w
         |ORDER BY f.doc_id""".stripMargin
      sb.toString
    }) { (s, dir) =>
    val nw = size(words(col("text")))
    val feat = LsdDb.table(s, dir, "documents")
      .filter(nw > 0)
      .select(col("doc_id") +:
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y") +:
        lrFeatCols.map { case (n, c) => c.as(n) }: _*)
      .localCheckpoint()
    def zCol(ws: Seq[Double]): Column = Det.d6(
      lit(ws(0)) + lit(ws(1)) * col("f1") + lit(ws(2)) * col("f2") +
        lit(ws(3)) * col("f3") + lit(ws(4)) * col("f4"))
    def pCol(ws: Seq[Double]): Column =
      Det.d6(lit(1.0) / (lit(1.0) + exp(-zCol(ws))))
    // GD rounds (r22 fusion): ONE value-domain-compressed collect
    // (distinct (y, x⃗) + count — the features are d6/f6 grid values)
    // replaces 24 eager one-job-per-round aggregations; the rounds
    // replay driver-side with bit-identical arithmetic
    // ([[fusedGdWeights]] — each round's p/z chain, the DECIMAL(38,8)
    // term cast, and the d6 weight snap are exact twins of the column
    // expressions). Past the driver cap (or on an empty relation) the
    // original distributed per-round loop runs — same weights either
    // way, so the plan choice can never change the output.
    val gdGroups = feat
      .groupBy(col("y") +: lrFeats.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .head(maxGdDriverGroups + 1)
    val ws: Seq[Double] =
      if (gdGroups.nonEmpty && gdGroups.length <= maxGdDriverGroups)
        fusedGdWeights(gdGroups, lrFeats.length, lrIters, lrEta,
          (w, x) => graft.functions.SnapDecimal6.snap(1.0 / (1.0 +
            math.exp(-graft.functions.SnapDecimal6.snap(
              w(0) + w(1) * x(0) + w(2) * x(1) + w(3) * x(2) +
                w(4) * x(3))))))
          .toSeq
      else {
        var w: Seq[Double] = Seq.fill(5)(0.0)
        for (_ <- 1 to lrIters) {
          val gradTerms = lit(1.0) +: lrFeats.map(col)
          val g = feat.withColumn("p", pCol(w))
            .agg(count(lit(1)).as("n"),
              gradTerms.zipWithIndex.map { case (x, i) =>
                sum(((col("y") - col("p")) * x).cast(Det.M38))
                  .cast(DoubleType).as(s"g$i") }: _*)
            .head()
          val n = g.getLong(0)
          // driver twin of the oracle's d6(w + eta*g/n): identical IEEE
          // mul/div/add chain (division blocks FMA contraction), then
          // the exact SnapDecimal6 snap both engines share
          w = w.zipWithIndex.map { case (wv, i) =>
            graft.functions.SnapDecimal6.snap(
              wv + lrEta * g.getDouble(i + 1) / n) }
        }
        w
      }
    feat.select(col("doc_id"), pCol(ws).as("score"),
      when(pCol(ws) >= 0.5, 1).otherwise(0).as("pred"),
      col("y").as("label"))
      .orderBy("doc_id")
  }

  /** Shared heuristic quality score for the model-eval family
    * (q_auc / q_calibration): the q_token_budget composite
    * (0.4·length-cap + 0.3·distinct-ratio + 0.3·stopword-ratio),
    * d6-SNAPPED so (a) both engines group on identical values and
    * (b) the score's value domain is bounded (≤1e6+1 distinct grid
    * points on [0,1]) — the value-domain compression every
    * rank-based audit below relies on. ONE definition, SQL text and
    * Column twin (the SyntheticUrls discipline). */
  private val rawQualSql: String =
    s"""(0.4 * least(CAST(len($wordsSql) AS DOUBLE) / 50.0, 1.0))
       |    + (0.3 * (CAST(len($wordSetSql) AS DOUBLE) / len($wordsSql)))
       |    + (0.3 * (CAST(len(list_filter($wordsSql,
       |          w -> w IN ('the', 'a', 'of', 'and', 'in'))) AS DOUBLE)
       |        / len($wordsSql)))""".stripMargin
  // FLOOR-snapped, not d6: the score is a grouping key in the
  // value-domain queries below (q_auc/q_cv_auc group by score;
  // q_calibration/q_pr_curve bin on it) and those queries expose
  // per-cell BIGINT counts — a d6 midpoint flip (raw 0.5734375 at
  // sf0.1: Spark half-up vs DuckDB half-even) would split a cell.
  private val qualScoreSql: String = D.sql.f6(rawQualSql)
  private def rawQual: Column = {
    val w = words(col("text"))
    val stop = size(filter(w, x => x.isin("the", "a", "of", "and", "in")))
    (lit(0.4) * least(size(w).cast(DoubleType) / 50.0, lit(1.0))) +
      (lit(0.3) * (size(wordSet(col("text"))).cast(DoubleType)
        / size(w))) +
      (lit(0.3) * (stop.cast(DoubleType) / size(w)))
  }
  private def qualScore: Column = Det.f6(rawQual)

  /** Ext — MODEL EVALUATION, ranking: exact ROC AUC of the heuristic
    * quality score predicting `lang = 'en'` (the Mann-Whitney
    * rank-sum identity, tie-corrected). The audit a filter-model
    * pipeline runs before trusting any scorer: "does this score
    * actually rank English above non-English?"
    *
    * 100-TB shape: the naive form ranks the CORPUS (a global sort).
    * This form is VALUE-DOMAIN: group by the d6-snapped score
    * (map-side partial, ≤1e6+1 grid points on [0,1]), then one
    * window + one agg over that bounded relation — the corpus is
    * touched in exactly ONE map-only pass regardless of N.
    *
    * Determinism: per-score pos/neg are exact BIGINTs; the
    * tie-corrected numerator Σ pos·(2·cum_neg_below + neg) stays in
    * INTEGER arithmetic (DECIMAL(38,0) sums — at 1e12 docs the
    * product tops 1e24, past BIGINT), so AUC is ONE double division
    * of two exact integers, d6-snapped. AUC 0.5 exactly = chance;
    * gini = 2·AUC − 1 derives from the snapped value. */
  val qAuc: QuerySpec = QuerySpec(
    "q_auc",
    s"""WITH q AS (SELECT
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    $qualScoreSql AS score
       |  FROM documents WHERE len($wordsSql) > 0),
       |s AS (SELECT score,
       |    CAST(count(*) FILTER (WHERE y = 1) AS BIGINT) AS pos,
       |    CAST(count(*) FILTER (WHERE y = 0) AS BIGINT) AS neg
       |  FROM q GROUP BY score),
       |r AS (SELECT pos, neg,
       |    coalesce(sum(neg) OVER (ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS cum_neg
       |  FROM s),
       |a AS (SELECT
       |    ${D.sql.d6("CAST(sum(CAST(pos AS DECIMAL(19,0))" +
         " * CAST(2 * cum_neg + neg AS DECIMAL(19,0))) AS DOUBLE)" +
         " / ((2.0 *" +
         " CAST(sum(pos) AS DOUBLE)) * CAST(sum(neg) AS DOUBLE))")}
       |      AS auc,
       |    CAST(sum(pos) AS BIGINT) AS n_pos,
       |    CAST(sum(neg) AS BIGINT) AS n_neg,
       |    CAST(count(*) AS BIGINT) AS n_scores
       |  FROM r)
       |SELECT auc, ${D.sql.d6("2.0 * auc - 1.0")} AS gini,
       |  n_pos, n_neg, n_scores FROM a""".stripMargin) { (s, dir) =>
    val nw = size(words(col("text")))
    val q = LsdDb.table(s, dir, "documents")
      .filter(nw > 0)
      .select(when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        qualScore.as("score"))
      .groupBy("score")
      .agg(sum(col("y")).as("pos"),
        (count(lit(1)) - sum(col("y"))).as("neg"))
    val wBelow = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val a = q
      .withColumn("cum_neg", coalesce(sum(col("neg")).over(wBelow), lit(0L)))
      .agg(
        Det.d6(sum(col("pos").cast(DecimalType(19, 0)) *
          (lit(2L) * col("cum_neg") + col("neg")).cast(DecimalType(19, 0)))
          .cast(DoubleType) /
          ((lit(2.0) * sum(col("pos")).cast(DoubleType)) *
            sum(col("neg")).cast(DoubleType))).as("auc"),
        sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
        count(lit(1)).as("n_scores"))
    a.select(col("auc"), Det.d6(lit(2.0) * col("auc") - 1.0).as("gini"),
      col("n_pos"), col("n_neg"), col("n_scores"))
  }

  /** Ext — MODEL EVALUATION, calibration: the reliability table of
    * the heuristic quality score read as P(lang = 'en') — 10
    * equal-width score bins, each reporting exact population, mean
    * predicted score, and empirical positive rate; `gap` is the
    * per-bin calibration error (the ECE integrand). Honest finding
    * baked into the spec: the heuristic is NOT calibrated — which is
    * exactly what this audit exists to reveal before a score is used
    * as a sampling probability.
    *
    * 100-TB shape: one map-only corpus pass into a 10-row groupBy
    * (map-side partial, O(bins) state) — the q_token_budget shape.
    * Determinism: populations are exact BIGINTs; mean score goes
    * through the DECIMAL(18,8) order-independent sum; both reported
    * ratios d6-snap, and `gap` derives from the two SNAPPED values
    * so it cannot straddle a grid midpoint differently per engine. */
  val qCalibration: QuerySpec = QuerySpec(
    "q_calibration",
    s"""WITH q AS (SELECT
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    $qualScoreSql AS score
       |  FROM documents WHERE len($wordsSql) > 0),
       |b AS (SELECT
       |    least(greatest(CAST(floor(score * 10) AS BIGINT), 0), 9)
       |      AS bin,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS n_pos,
       |    ${D.sql.d6(D.sql.dsum("score") + " / count(*)")} AS mean_score,
       |    ${D.sql.d6("CAST(sum(y) AS DOUBLE) / count(*)")} AS frac_pos
       |  FROM q GROUP BY 1)
       |SELECT bin, n, n_pos, mean_score, frac_pos,
       |  ${D.sql.d6("abs(mean_score - frac_pos)")} AS gap
       |FROM b ORDER BY bin""".stripMargin) { (s, dir) =>
    val nw = size(words(col("text")))
    val b = LsdDb.table(s, dir, "documents")
      .filter(nw > 0)
      .select(when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        qualScore.as("score"))
      .groupBy(least(greatest(floor(col("score") * 10).cast(LongType),
        lit(0L)), lit(9L)).as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        Det.d6(Det.dsum(col("score")) / count(lit(1))).as("mean_score"),
        Det.d6(sum(col("y")).cast(DoubleType) / count(lit(1)))
          .as("frac_pos"))
    b.select(col("bin"), col("n"), col("n_pos"), col("mean_score"),
      col("frac_pos"),
      Det.d6(abs(col("mean_score") - col("frac_pos"))).as("gap"))
      .orderBy("bin")
  }

  /** Ext — ISOTONIC (PAV) CALIBRATION over the q_calibration bins:
    * the monotone-nondecreasing fit of P(en | bin) — the standard
    * post-hoc calibrator (Zadrozny & Elkan 2002, public) a pipeline
    * applies when the raw reliability curve is non-monotone. Computed
    * via the MINIMAX IDENTITY, not an iterative pooling loop:
    * iso(i) = max_{j<=i} min_{k>=i} (pos[j..k] / n[j..k]), which
    * equals the pool-adjacent-violators solution exactly (classic
    * result; the spec pins it against a brute-force PAV loop).
    *
    * 100-TB shape: one map-only corpus pass into <=10 (bin, n, pos)
    * cells (the q_calibration shape); the minimax runs as two
    * theta-joins + two aggs over that O(1) value-domain relation —
    * fully declarative, no driver loop, nothing corpus-sized moves.
    * Determinism: cells are exact BIGINTs; every range average is
    * emitted in integer MICRO-UNITS via floor division (the
    * q_quality_norm rule — a ratio of integers can sit exactly on a
    * rounding midpoint, floor has no tie), and floor commutes with
    * min/max (monotone), so iso_micro == floor(1e6 · exact PAV). */
  val qIsotonic: QuerySpec = QuerySpec(
    "q_isotonic",
    s"""WITH q AS (SELECT
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    $qualScoreSql AS score
       |  FROM documents WHERE len($wordsSql) > 0),
       |c AS (SELECT
       |    least(greatest(CAST(floor(score * 10) AS BIGINT), 0), 9)
       |      AS bin,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS pos
       |  FROM q GROUP BY 1),
       |p AS (SELECT bin, n, pos,
       |    CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
       |    CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
       |  FROM c),
       |pr AS (SELECT j.bin AS jb, k.bin AS kb,
       |    CAST(((k.cp - (j.cp - j.pos)) * 1000000)
       |      // (k.cn - (j.cn - j.n)) AS BIGINT) AS avgm
       |  FROM p j JOIN p k ON j.bin <= k.bin),
       |mn AS (SELECT i.bin, pr.jb, min(pr.avgm) AS minm
       |  FROM (SELECT bin FROM c) i JOIN pr
       |    ON pr.jb <= i.bin AND pr.kb >= i.bin
       |  GROUP BY i.bin, pr.jb),
       |iso AS (SELECT bin, CAST(max(minm) AS BIGINT) AS iso_micro
       |  FROM mn GROUP BY bin)
       |SELECT c.bin, c.n, c.pos,
       |  CAST((c.pos * 1000000) // c.n AS BIGINT) AS rate_micro,
       |  iso.iso_micro,
       |  CAST(iso.iso_micro AS DOUBLE) / 1000000.0 AS iso_rate
       |FROM c JOIN iso ON iso.bin = c.bin
       |ORDER BY c.bin""".stripMargin) { (s, dir) =>
    val nw = size(words(col("text")))
    val c = LsdDb.table(s, dir, "documents")
      .filter(nw > 0)
      .select(when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        qualScore.as("score"))
      .groupBy(least(greatest(floor(col("score") * 10).cast(LongType),
        lit(0L)), lit(9L)).as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .localCheckpoint() // consumed 4x below; <=10 rows
    // unpartitioned window over the <=10-cell value-domain relation
    val wOrd = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = c.select(col("bin"), col("n"), col("pos"),
      sum(col("n")).over(wOrd).as("cn"),
      sum(col("pos")).over(wOrd).as("cp"))
    val j = p.select(col("bin").as("jb"),
      (col("cp") - col("pos")).as("cpb"), (col("cn") - col("n")).as("cnb"))
    val k = p.select(col("bin").as("kb"), col("cp"), col("cn"))
    // theta-joins over the bounded cell relation: Catalyst broadcasts
    // them on its own (<=10 x <=10 pairs)
    val pr = j.join(k, col("jb") <= col("kb"))
      .select(col("jb"), col("kb"),
        expr("((cp - cpb) * 1000000) DIV (cn - cnb)").as("avgm"))
    val mn = c.select(col("bin"))
      .join(pr, col("jb") <= col("bin") && col("kb") >= col("bin"))
      .groupBy("bin", "jb").agg(min(col("avgm")).as("minm"))
    val iso = mn.groupBy("bin").agg(max(col("minm")).as("iso_micro"))
    c.join(iso, "bin")
      .select(col("bin"), col("n"), col("pos"),
        expr("(pos * 1000000) DIV n").as("rate_micro"),
        col("iso_micro"),
        (col("iso_micro").cast(DoubleType) / 1000000.0).as("iso_rate"))
      .orderBy("bin")
  }

  /** Ext — MODEL EVALUATION, thresholded: the binary confusion
    * matrix plus the derived scores (accuracy / precision / recall /
    * F1 / MCC) of "quality score ≥ 0.5 predicts lang = 'en'". The
    * third leg of the eval family: q_auc grades the RANKING,
    * q_calibration the PROBABILITIES, this the DECISIONS at the
    * operating point.
    *
    * 100-TB shape: one map-only corpus pass into a single O(1)-state
    * agg (four FILTER'd counts) — nothing shuffles but four longs.
    * Determinism: cells are exact BIGINTs; every derived ratio is
    * ONE double division of exact integers (fixed parenthesization),
    * d6-snapped; F1 derives from the SNAPPED precision/recall; MCC's
    * products run in DOUBLE (at 1e12 docs tp·tn tops 1e24 — past
    * BIGINT, and exactness is irrelevant under the d6 snap); empty
    * margins report 0.0 via integer-compared guards. */
  val qConfusion: QuerySpec = QuerySpec(
    "q_confusion", {
      val mccNum = "(CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE))" +
        " - (CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))"
      val mccDen = "sqrt(((CAST(tp AS DOUBLE) + fp)" +
        " * (CAST(tp AS DOUBLE) + fn))" +
        " * ((CAST(tn AS DOUBLE) + fp) * (CAST(tn AS DOUBLE) + fn)))"
      s"""WITH q AS (SELECT
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |    CASE WHEN $qualScoreSql >= 0.5 THEN 1 ELSE 0 END AS pred
         |  FROM documents WHERE len($wordsSql) > 0),
         |c AS (SELECT
         |    CAST(count(*) FILTER (WHERE pred = 1 AND y = 1) AS BIGINT)
         |      AS tp,
         |    CAST(count(*) FILTER (WHERE pred = 1 AND y = 0) AS BIGINT)
         |      AS fp,
         |    CAST(count(*) FILTER (WHERE pred = 0 AND y = 0) AS BIGINT)
         |      AS tn,
         |    CAST(count(*) FILTER (WHERE pred = 0 AND y = 1) AS BIGINT)
         |      AS fn
         |  FROM q),
         |m AS (SELECT tp, fp, tn, fn,
         |    ${D.sql.d6("(CAST(tp AS DOUBLE) + tn)" +
           " / (((tp + fp) + tn) + fn)")} AS acc,
         |    CASE WHEN tp + fp > 0 THEN
         |      ${D.sql.d6("CAST(tp AS DOUBLE) / (tp + fp)")}
         |      ELSE 0.0 END AS prec,
         |    CASE WHEN tp + fn > 0 THEN
         |      ${D.sql.d6("CAST(tp AS DOUBLE) / (tp + fn)")}
         |      ELSE 0.0 END AS rec,
         |    CASE WHEN tp + fp > 0 AND tp + fn > 0
         |        AND tn + fp > 0 AND tn + fn > 0 THEN
         |      ${D.sql.d6(s"($mccNum) / ($mccDen)")}
         |      ELSE 0.0 END AS mcc
         |  FROM c)
         |SELECT tp, fp, tn, fn, acc, prec, rec,
         |  CASE WHEN prec + rec > 0.0 THEN
         |    ${D.sql.d6("(2.0 * prec * rec) / (prec + rec)")}
         |    ELSE 0.0 END AS f1_score,
         |  mcc FROM m""".stripMargin
    }) { (s, dir) =>
    val nw = size(words(col("text")))
    val c = LsdDb.table(s, dir, "documents")
      .filter(nw > 0)
      .select(when(col("lang") === "en", 1).otherwise(0).as("y"),
        when(qualScore >= 0.5, 1).otherwise(0).as("pred"))
      .agg(
        count(when(col("pred") === 1 && col("y") === 1, 1)).as("tp"),
        count(when(col("pred") === 1 && col("y") === 0, 1)).as("fp"),
        count(when(col("pred") === 0 && col("y") === 0, 1)).as("tn"),
        count(when(col("pred") === 0 && col("y") === 1, 1)).as("fn"))
    def d(c: Column): Column = c.cast(DoubleType)
    val tp = col("tp"); val fp = col("fp")
    val tn = col("tn"); val fn = col("fn")
    val m = c.select(tp, fp, tn, fn,
      Det.d6((d(tp) + tn) / (((tp + fp) + tn) + fn)).as("acc"),
      when(tp + fp > 0, Det.d6(d(tp) / (tp + fp)))
        .otherwise(0.0).as("prec"),
      when(tp + fn > 0, Det.d6(d(tp) / (tp + fn)))
        .otherwise(0.0).as("rec"),
      when(tp + fp > 0 && tp + fn > 0 && tn + fp > 0 && tn + fn > 0,
        Det.d6(((d(tp) * d(tn)) - (d(fp) * d(fn))) /
          sqrt(((d(tp) + fp) * (d(tp) + fn)) *
            ((d(tn) + fp) * (d(tn) + fn)))))
        .otherwise(0.0).as("mcc"))
    m.select(tp, fp, tn, fn, col("acc"), col("prec"), col("rec"),
      when(col("prec") + col("rec") > 0.0,
        Det.d6((lit(2.0) * col("prec") * col("rec")) /
          (col("prec") + col("rec"))))
        .otherwise(0.0).as("f1_score"),
      col("mcc"))
  }

  /** Ext — FEATURE-IMPORTANCE audit (q_feature_auc): per-feature ROC
    * AUC — each of the classifier family's four surface features
    * scored standalone as a ranker of `lang = 'en'`. The screening
    * report a pipeline reads BEFORE training: which columns carry
    * signal (|gini| ≫ 0) and which are noise. Shares the feature
    * definitions with q_logreg ([[lrFeatSqls]]/[[lrFeatCols]] — one
    * definition) and the value-domain AUC algebra with [[qAuc]].
    *
    * 100-TB shape: ONE corpus pass explodes each doc into d=4
    * (feature, score) rows — map-only, fan-out is the constant d —
    * then the value-domain compression: group by (feat, score)
    * (map-side partial, ≤ d·1e6 grid points), per-feat window +
    * final agg over that bounded relation. The corpus never sorts,
    * and adding a feature costs one array element, not a pass. */
  val qFeatureAuc: QuerySpec = QuerySpec(
    "q_feature_auc",
    s"""WITH q AS (SELECT u.f AS feat, u.s AS score,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM (SELECT lang, unnest([${lrFeatSqls.map { case (n, e) =>
         s"{'f': '$n', 's': $e}" }.mkString(",\n      ")}]) AS u
       |    FROM documents WHERE len($wordsSql) > 0)),
       |s AS (SELECT feat, score,
       |    CAST(count(*) FILTER (WHERE y = 1) AS BIGINT) AS pos,
       |    CAST(count(*) FILTER (WHERE y = 0) AS BIGINT) AS neg
       |  FROM q GROUP BY feat, score),
       |r AS (SELECT feat, pos, neg,
       |    coalesce(sum(neg) OVER (PARTITION BY feat ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS cum_neg
       |  FROM s),
       |a AS (SELECT feat,
       |    ${D.sql.d6("CAST(sum(CAST(pos AS DECIMAL(19,0))" +
         " * CAST(2 * cum_neg + neg AS DECIMAL(19,0))) AS DOUBLE)" +
         " / ((2.0 *" +
         " CAST(sum(pos) AS DOUBLE)) * CAST(sum(neg) AS DOUBLE))")}
       |      AS auc,
       |    CAST(count(*) AS BIGINT) AS n_scores
       |  FROM r GROUP BY feat)
       |SELECT feat, auc, ${D.sql.d6("2.0 * auc - 1.0")} AS gini,
       |  n_scores FROM a ORDER BY feat""".stripMargin) { (s, dir) =>
    val nw = size(words(col("text")))
    val q = LsdDb.table(s, dir, "documents")
      .filter(nw > 0)
      .select(col("lang"), explode(array(lrFeatCols.map { case (n, c) =>
        struct(lit(n).as("f"), c.as("s")) }: _*)).as("u"))
      .select(col("u.f").as("feat"), col("u.s").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .groupBy("feat", "score")
      .agg(sum(col("y")).as("pos"),
        (count(lit(1)) - sum(col("y"))).as("neg"))
    val wBelow = Window.partitionBy("feat").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val a = q
      .withColumn("cum_neg", coalesce(sum(col("neg")).over(wBelow), lit(0L)))
      .groupBy("feat")
      .agg(
        Det.d6(sum(col("pos").cast(DecimalType(19, 0)) *
          (lit(2L) * col("cum_neg") + col("neg")).cast(DecimalType(19, 0)))
          .cast(DoubleType) /
          ((lit(2.0) * sum(col("pos")).cast(DoubleType)) *
            sum(col("neg")).cast(DoubleType))).as("auc"),
        count(lit(1)).as("n_scores"))
    a.select(col("feat"), col("auc"),
      Det.d6(lit(2.0) * col("auc") - 1.0).as("gini"), col("n_scores"))
      .orderBy("feat")
  }

  /** NDCG@10 position-discount table, snapped to the d6 grid and
    * embedded as LITERALS in both engines (1/log2(i+1) is
    * transcendental; a fixed table makes the gain arithmetic exact
    * by construction — the standard trick, since the discount curve
    * is part of the metric's definition anyway). */
  private val ndcgK = 10
  private val ndcgDisc: Seq[Double] = (1 to ndcgK).map(i =>
    graft.functions.SnapDecimal6.snap(
      1.0 / (math.log(i + 1.0) / math.log(2.0))))
  private val ndcgDiscSql: String =
    ndcgDisc.map(d => f"$d%.6f").mkString("[", ", ", "]")

  /** Ext — RETRIEVAL QUALITY EVAL (q_ndcg): NDCG@10 of the per-term
    * BM25 ranking against the exact-term-frequency ideal, per probe
    * term — the eval-family leg that grades RETRIEVAL (q_auc grades
    * classification ranking). Gain is linear (rel = tf; exponential
    * 2^tf explodes on raw counts), discount is the fixed snapped
    * table above; rankings tie-break on doc_id so the top-10 cut is
    * deterministic in both engines. BM25 parameters and probe terms
    * shared with [[qBm25]].
    *
    * 100-TB shape: corpus pass explodes ONLY the probe terms
    * (predicate inside the explode filter), per-(doc,term) tf is a
    * map-side partial agg, df/avgdl broadcast as O(terms) scalars;
    * the two rank windows partition BY TERM over the candidate
    * relation (docs containing the term) — the q_topk_group shape,
    * servable by the TopKPerGroup physical operator if a term's
    * candidate list becomes corpus-sized. DCG sums are ≤10 d6 terms
    * through the order-independent DECIMAL(18,6) path. */
  val qNdcg: QuerySpec = QuerySpec(
    "q_ndcg", {
      val inList = bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($wordsSql) AS w FROM documents),
         |dl AS (SELECT doc_id, CAST(len($wordsSql) AS BIGINT) AS dl
         |  FROM documents),
         |stats AS (SELECT count(*) AS n_docs,
         |    CAST(sum(CAST(len($wordsSql) AS BIGINT)) AS DOUBLE)
         |      / count(*) AS avgdl
         |  FROM documents),
         |tf AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf
         |  FROM tok WHERE w IN ($inList)
         |  GROUP BY doc_id, w),
         |df AS (SELECT w, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
         |  FROM tok WHERE w IN ($inList) GROUP BY w),
         |scored AS (
         |  SELECT tf.doc_id, tf.w, tf.tf,
         |    ${D.sql.d6(s"ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))" +
           s" * (tf * ($bm25K1 + 1.0))" +
           s" / (tf + $bm25K1 * (1.0 - $bm25B + $bm25B * dl / avgdl))")}
         |      AS score
         |  FROM tf JOIN df ON tf.w = df.w
         |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats),
         |ranked AS (SELECT w, tf,
         |    row_number() OVER (PARTITION BY w
         |      ORDER BY score DESC, doc_id) AS pos_s,
         |    row_number() OVER (PARTITION BY w
         |      ORDER BY tf DESC, doc_id) AS pos_r
         |  FROM scored),
         |agg AS (SELECT w,
         |    CAST(count(*) AS BIGINT) AS n_candidates,
         |    CAST(sum(CAST(${D.sql.d6(
           s"tf * ($ndcgDiscSql)[CAST(pos_s AS INT)]")}
         |      AS DECIMAL(18,6))) FILTER (WHERE pos_s <= $ndcgK)
         |      AS DOUBLE) AS dcg,
         |    CAST(sum(CAST(${D.sql.d6(
           s"tf * ($ndcgDiscSql)[CAST(pos_r AS INT)]")}
         |      AS DECIMAL(18,6))) FILTER (WHERE pos_r <= $ndcgK)
         |      AS DOUBLE) AS idcg
         |  FROM ranked GROUP BY w)
         |SELECT w AS term, n_candidates, dcg, idcg,
         |  ${D.sql.d6("dcg / idcg")} AS ndcg
         |FROM agg ORDER BY term""".stripMargin
    }) { (s, dir) =>
    val docs = LsdDb.table(s, dir, "documents")
    val tok = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .filter(col("w").isin(bm25Terms: _*))
    val tf = tok.groupBy("doc_id", "w")
      .agg(count(lit(1)).cast(DoubleType).as("tf"))
    val df = tok.groupBy("w")
      .agg(countDistinct(col("doc_id")).cast(DoubleType).as("df"))
    val dl = docs.select(col("doc_id"),
      size(words(col("text"))).cast(LongType).as("dl"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      (sum(size(words(col("text"))).cast(LongType)).cast(DoubleType) /
        count(lit(1))).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val termScore = idf * (col("tf") * (bm25K1 + 1.0)) /
      (col("tf") + lit(bm25K1) *
        (lit(1.0 - bm25B) + lit(bm25B) * col("dl") / col("avgdl")))
    val scored = tf.join(broadcast(df), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("w"), col("tf"),
        Det.d6(termScore).as("score"))
    val discArr = array(ndcgDisc.map(lit): _*)
    // both rank windows share the PARTITION BY w exchange (one
    // shuffle, two sorts); the per-term agg then needs no further
    // shuffle, and the scored subtree is consumed exactly ONCE
    val ranked = scored
      .withColumn("pos_s", row_number().over(
        Window.partitionBy("w").orderBy(col("score").desc, col("doc_id"))))
      .withColumn("pos_r", row_number().over(
        Window.partitionBy("w").orderBy(col("tf").desc, col("doc_id"))))
    // least() clamps the index so ANSI element_at never goes out of
    // bounds on the rows the `when` is about to null out anyway
    def gain(pos: Column): Column = when(pos <= ndcgK,
      Det.d6(col("tf") * element_at(discArr, least(pos, lit(ndcgK))))
        .cast(DecimalType(18, 6)))
    ranked.groupBy("w")
      .agg(count(lit(1)).as("n_candidates"),
        sum(gain(col("pos_s"))).cast(DoubleType).as("dcg"),
        sum(gain(col("pos_r"))).cast(DoubleType).as("idcg"))
      .select(col("w").as("term"), col("n_candidates"),
        col("dcg"), col("idcg"),
        Det.d6(col("dcg") / col("idcg")).as("ndcg"))
      .orderBy("term")
  }

  /** Ext — PRECISION-RECALL CURVE (q_pr_curve): the operating-point
    * table for "quality score ≥ t predicts lang = 'en'" at 100
    * thresholds on the 0.01 grid — how a pipeline picks the
    * filter threshold q_confusion then audits. Completes the eval
    * family: AUC (ranking) → calibration (probabilities) →
    * PR curve (threshold selection) → confusion (the chosen point).
    *
    * 100-TB shape: one map-only corpus pass into an O(bins) groupBy
    * (map-side partial, ≤100 rows), then cumulative windows over the
    * BINS — the q_token_budget discipline; the corpus never sorts.
    * Determinism: per-bin pos/neg are exact BIGINTs, cumulative
    * counts are exact BIGINT window sums from the best bin down,
    * every ratio is one double division d6-snapped, F1 derives from
    * the SNAPPED precision/recall. */
  val qPrCurve: QuerySpec = QuerySpec(
    "q_pr_curve",
    s"""WITH q AS (SELECT
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    $qualScoreSql AS score
       |  FROM documents WHERE len($wordsSql) > 0),
       |b AS (SELECT
       |    least(greatest(CAST(floor(score * 100) AS BIGINT), 0), 99)
       |      AS bin,
       |    CAST(sum(y) AS BIGINT) AS pos,
       |    CAST(count(*) - sum(y) AS BIGINT) AS neg
       |  FROM q GROUP BY 1),
       |c AS (SELECT bin,
       |    CAST(sum(pos) OVER (ORDER BY bin DESC) AS BIGINT) AS cum_pos,
       |    CAST(sum(neg) OVER (ORDER BY bin DESC) AS BIGINT) AS cum_neg,
       |    CAST(sum(pos) OVER () AS BIGINT) AS n_pos
       |  FROM b),
       |m AS (SELECT
       |    ${D.sql.d6("CAST(bin AS DOUBLE) / 100.0")} AS threshold,
       |    cum_pos, cum_neg,
       |    ${D.sql.d6(
           "CAST(cum_pos AS DOUBLE) / (cum_pos + cum_neg)")} AS prec,
       |    ${D.sql.d6("CAST(cum_pos AS DOUBLE) / n_pos")} AS rec
       |  FROM c)
       |SELECT threshold, cum_pos, cum_neg, prec, rec,
       |  CASE WHEN prec + rec > 0.0 THEN
       |    ${D.sql.d6("(2.0 * prec * rec) / (prec + rec)")}
       |    ELSE 0.0 END AS f1_score
       |FROM m ORDER BY threshold""".stripMargin) { (s, dir) =>
    val nw = size(words(col("text")))
    val b = LsdDb.table(s, dir, "documents")
      .filter(nw > 0)
      .select(when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        qualScore.as("score"))
      .groupBy(least(greatest(floor(col("score") * 100).cast(LongType),
        lit(0L)), lit(99L)).as("bin"))
      .agg(sum(col("y")).as("pos"),
        (count(lit(1)) - sum(col("y"))).as("neg"))
    val wDesc = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val m = b.select(col("bin"),
      sum(col("pos")).over(wDesc).as("cum_pos"),
      sum(col("neg")).over(wDesc).as("cum_neg"),
      sum(col("pos")).over(wAll).as("n_pos"))
      .select(
        Det.d6(col("bin").cast(DoubleType) / 100.0).as("threshold"),
        col("cum_pos"), col("cum_neg"),
        Det.d6(col("cum_pos").cast(DoubleType) /
          (col("cum_pos") + col("cum_neg"))).as("prec"),
        Det.d6(col("cum_pos").cast(DoubleType) / col("n_pos")).as("rec"))
    m.select(col("threshold"), col("cum_pos"), col("cum_neg"),
      col("prec"), col("rec"),
      when(col("prec") + col("rec") > 0.0,
        Det.d6((lit(2.0) * col("prec") * col("rec")) /
          (col("prec") + col("rec"))))
        .otherwise(0.0).as("f1_score"))
      .orderBy("threshold")
  }

  /** Ext — FEATURE–LABEL MUTUAL INFORMATION (q_mutual_info): binned
    * MI (and normalized MI) between each classifier-family feature
    * and `lang = 'en'` — the screening complement to
    * [[qFeatureAuc]]: AUC only sees MONOTONE signal, MI also scores
    * a feature whose middle bins separate (AUC ≈ 0.5, MI ≫ 0).
    * Entropies fall out of the same cell relation via
    * Σ_xy p_xy·log2(p_x) = Σ_x p_x·log2(p_x) — no second pass.
    *
    * 100-TB shape: ONE corpus pass (d-way feature explode, the
    * q_feature_auc shape) into a groupBy on (feat, bin, y) — map-side
    * partial agg onto ≤ d·10·2 cells — then windows + agg over that
    * O(1)-sized relation. Determinism: cell counts exact BIGINTs;
    * probabilities are double divisions of exact integers with the
    * count products in DOUBLE (1e12² > BIGINT); each log2 term is
    * d6-snapped then DECIMAL(18,8)-summed; NMI derives from the
    * SNAPPED mi/h values. */
  val qMutualInfo: QuerySpec = QuerySpec(
    "q_mutual_info",
    s"""WITH q AS (SELECT u.f AS feat,
       |    least(greatest(CAST(floor(u.s * 10) AS BIGINT), 0), 9)
       |      AS bin,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM (SELECT lang, unnest([${lrFeatSqls.map { case (n, e) =>
         s"{'f': '$n', 's': $e}" }.mkString(",\n      ")}]) AS u
       |    FROM documents WHERE len($wordsSql) > 0)),
       |c AS (SELECT feat, bin, y, CAST(count(*) AS BIGINT) AS cnt
       |  FROM q GROUP BY feat, bin, y),
       |m AS (SELECT feat, cnt,
       |    CAST(sum(cnt) OVER (PARTITION BY feat) AS BIGINT) AS n,
       |    CAST(sum(cnt) OVER (PARTITION BY feat, bin) AS BIGINT) AS nx,
       |    CAST(sum(cnt) OVER (PARTITION BY feat, y) AS BIGINT) AS ny
       |  FROM c),
       |t AS (SELECT feat,
       |    ${D.sql.d6("(CAST(cnt AS DOUBLE) / n)" +
         " * log2((CAST(cnt AS DOUBLE) * n)" +
         " / (CAST(nx AS DOUBLE) * ny))")} AS mi_t,
       |    ${D.sql.d6("(CAST(cnt AS DOUBLE) / n)" +
         " * log2(CAST(nx AS DOUBLE) / n)")} AS hx_t,
       |    ${D.sql.d6("(CAST(cnt AS DOUBLE) / n)" +
         " * log2(CAST(ny AS DOUBLE) / n)")} AS hy_t
       |  FROM m),
       |a AS (SELECT feat,
       |    ${D.sql.d6("CAST(sum(CAST(mi_t AS DECIMAL(18,8)))" +
         " AS DOUBLE)")} AS mi_bits,
       |    ${D.sql.d6("-CAST(sum(CAST(hx_t AS DECIMAL(18,8)))" +
         " AS DOUBLE)")} AS h_feat,
       |    ${D.sql.d6("-CAST(sum(CAST(hy_t AS DECIMAL(18,8)))" +
         " AS DOUBLE)")} AS h_label
       |  FROM t GROUP BY feat)
       |SELECT feat, mi_bits, h_feat, h_label,
       |  CASE WHEN least(h_feat, h_label) > 0.0 THEN
       |    ${D.sql.d6("mi_bits / least(h_feat, h_label)")}
       |    ELSE 0.0 END AS nmi
       |FROM a ORDER BY feat""".stripMargin) { (s, dir) =>
    val nw = size(words(col("text")))
    val c = LsdDb.table(s, dir, "documents")
      .filter(nw > 0)
      .select(col("lang"), explode(array(lrFeatCols.map { case (n, cc) =>
        struct(lit(n).as("f"), cc.as("s")) }: _*)).as("u"))
      .select(col("u.f").as("feat"),
        least(greatest(floor(col("u.s") * 10).cast(LongType),
          lit(0L)), lit(9L)).as("bin"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .groupBy("feat", "bin", "y")
      .agg(count(lit(1)).as("cnt"))
    val wF = Window.partitionBy("feat")
    val wFx = Window.partitionBy("feat", "bin")
    val wFy = Window.partitionBy("feat", "y")
    val m = c.select(col("feat"), col("cnt"),
      sum(col("cnt")).over(wF).as("n"),
      sum(col("cnt")).over(wFx).as("nx"),
      sum(col("cnt")).over(wFy).as("ny"))
    def d(cc: Column): Column = cc.cast(DoubleType)
    val t = m.select(col("feat"),
      Det.d6((d(col("cnt")) / col("n")) *
        log2((d(col("cnt")) * col("n")) / (d(col("nx")) * col("ny"))))
        .as("mi_t"),
      Det.d6((d(col("cnt")) / col("n")) *
        log2(d(col("nx")) / col("n"))).as("hx_t"),
      Det.d6((d(col("cnt")) / col("n")) *
        log2(d(col("ny")) / col("n"))).as("hy_t"))
    val a = t.groupBy("feat").agg(
      Det.d6(sum(col("mi_t").cast(Det.M)).cast(DoubleType)).as("mi_bits"),
      Det.d6(-sum(col("hx_t").cast(Det.M)).cast(DoubleType)).as("h_feat"),
      Det.d6(-sum(col("hy_t").cast(Det.M)).cast(DoubleType)).as("h_label"))
    a.select(col("feat"), col("mi_bits"), col("h_feat"), col("h_label"),
      when(least(col("h_feat"), col("h_label")) > 0.0,
        Det.d6(col("mi_bits") / least(col("h_feat"), col("h_label"))))
        .otherwise(0.0).as("nmi"))
      .orderBy("feat")
  }

  /** Ext — CROSS-VALIDATED AUC (q_cv_auc): the [[qAuc]] metric
    * evaluated independently on 5 deterministic folds (the
    * q_split_assign LCG bucket, mod 5) — the model-selection
    * primitive: a metric without fold-to-fold spread is a number
    * without an error bar. Per-fold AUCs beat a single global AUC
    * precisely when the spread reveals instability.
    *
    * 100-TB shape: identical to q_auc with `fold` prepended to every
    * key — ONE corpus pass into a (fold, score) value-domain groupBy
    * (map-side partial, ≤ 5·1e6 grid cells), per-fold window + agg
    * over that bounded relation. The fold column is a pure integer
    * LCG expression (overflow-safe per the q_split_assign analysis)
    * using the Park-Miller multiplier 16807, NOT glibc's 1103515245:
    * both glibc constants are ≡ 0 (mod 5), so the q_split_assign
    * form collapses every doc to fold 0 under `% 5` — 16807 ≡ 2
    * (mod 5) keeps the folds exactly balanced. */
  val qCvAuc: QuerySpec = QuerySpec(
    "q_cv_auc",
    s"""WITH q AS (SELECT
       |    ((doc_id % 2147483647) * 16807 + 12345) % 5 AS fold,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    $qualScoreSql AS score
       |  FROM documents WHERE len($wordsSql) > 0),
       |s AS (SELECT fold, score,
       |    CAST(count(*) FILTER (WHERE y = 1) AS BIGINT) AS pos,
       |    CAST(count(*) FILTER (WHERE y = 0) AS BIGINT) AS neg
       |  FROM q GROUP BY fold, score),
       |r AS (SELECT fold, pos, neg,
       |    coalesce(sum(neg) OVER (PARTITION BY fold ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS cum_neg
       |  FROM s),
       |a AS (SELECT fold,
       |    ${D.sql.d6("CAST(sum(CAST(pos AS DECIMAL(19,0))" +
         " * CAST(2 * cum_neg + neg AS DECIMAL(19,0))) AS DOUBLE)" +
         " / ((2.0 *" +
         " CAST(sum(pos) AS DOUBLE)) * CAST(sum(neg) AS DOUBLE))")}
       |      AS auc,
       |    CAST(sum(pos) AS BIGINT) AS n_pos,
       |    CAST(sum(neg) AS BIGINT) AS n_neg,
       |    CAST(count(*) AS BIGINT) AS n_scores
       |  FROM r GROUP BY fold)
       |SELECT fold, auc, ${D.sql.d6("2.0 * auc - 1.0")} AS gini,
       |  n_pos, n_neg, n_scores FROM a ORDER BY fold""".stripMargin) {
    (s, dir) =>
    val nw = size(words(col("text")))
    val q = LsdDb.table(s, dir, "documents")
      .filter(nw > 0)
      .select(
        (((col("doc_id") % 2147483647L) * 16807L + 12345L) % 5)
          .as("fold"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        qualScore.as("score"))
      .groupBy("fold", "score")
      .agg(sum(col("y")).as("pos"),
        (count(lit(1)) - sum(col("y"))).as("neg"))
    val wBelow = Window.partitionBy("fold").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val a = q
      .withColumn("cum_neg", coalesce(sum(col("neg")).over(wBelow), lit(0L)))
      .groupBy("fold")
      .agg(
        Det.d6(sum(col("pos").cast(DecimalType(19, 0)) *
          (lit(2L) * col("cum_neg") + col("neg")).cast(DecimalType(19, 0)))
          .cast(DoubleType) /
          ((lit(2.0) * sum(col("pos")).cast(DoubleType)) *
            sum(col("neg")).cast(DoubleType))).as("auc"),
        sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
        count(lit(1)).as("n_scores"))
    a.select(col("fold"), col("auc"),
      Det.d6(lit(2.0) * col("auc") - 1.0).as("gini"),
      col("n_pos"), col("n_neg"), col("n_scores"))
      .orderBy("fold")
  }

  /** Ext — DECISION-STUMP SPLIT SEARCH (q_stump_split): for each
    * classifier-family feature, the Gini-optimal single threshold
    * separating `lang = 'en'` — the depth-1 CART step, and the
    * interpretable screening report beside [[qFeatureAuc]] (AUC says
    * WHETHER a feature ranks; the stump says WHERE to cut it and how
    * much one cut buys).
    *
    * 100-TB shape: the q_mutual_info cell relation — ONE d-way
    * exploded corpus pass onto ≤ d·10 (feat, bin) cells — then the
    * split search runs entirely on cumulative windows over the BINS
    * (9 candidate cuts/feature). Determinism: cell counts exact
    * BIGINTs; both side impurities are double arithmetic of exact
    * integers with fixed parenthesization, d6-snapped; the argmax
    * orders on (snapped gain DESC, bin ASC) so the winning cut is
    * engine-identical. */
  val qStumpSplit: QuerySpec = QuerySpec(
    "q_stump_split", {
      val giniSide = (np: String, nn: String) =>
        s"1.0 - ((CAST($np AS DOUBLE) / ($np + $nn))" +
          s" * (CAST($np AS DOUBLE) / ($np + $nn))" +
          s" + (CAST($nn AS DOUBLE) / ($np + $nn))" +
          s" * (CAST($nn AS DOUBLE) / ($np + $nn)))"
      s"""WITH q AS (SELECT u.f AS feat,
         |    least(greatest(CAST(floor(u.s * 10) AS BIGINT), 0), 9)
         |      AS bin,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM (SELECT lang, unnest([${lrFeatSqls.map { case (n, e) =>
           s"{'f': '$n', 's': $e}" }.mkString(",\n      ")}]) AS u
         |    FROM documents WHERE len($wordsSql) > 0)),
         |c AS (SELECT feat, bin,
         |    CAST(sum(y) AS BIGINT) AS pos,
         |    CAST(count(*) - sum(y) AS BIGINT) AS neg
         |  FROM q GROUP BY feat, bin),
         |w AS (SELECT feat, bin,
         |    CAST(sum(pos) OVER (PARTITION BY feat ORDER BY bin)
         |      AS BIGINT) AS lpos,
         |    CAST(sum(neg) OVER (PARTITION BY feat ORDER BY bin)
         |      AS BIGINT) AS lneg,
         |    CAST(sum(pos) OVER (PARTITION BY feat) AS BIGINT) AS tpos,
         |    CAST(sum(neg) OVER (PARTITION BY feat) AS BIGINT) AS tneg
         |  FROM c),
         |g AS (SELECT feat, bin, lpos, lneg,
         |    tpos - lpos AS rpos, tneg - lneg AS rneg, tpos, tneg,
         |    ${D.sql.d6(
           s"(${giniSide("tpos", "tneg")})" +
             s" - ((CAST(lpos + lneg AS DOUBLE) / (tpos + tneg))" +
             s" * (${giniSide("lpos", "lneg")})" +
             s" + (CAST((tpos - lpos) + (tneg - lneg) AS DOUBLE) / (tpos + tneg))" +
             s" * (${giniSide("(tpos - lpos)", "(tneg - lneg)")}))")} AS gain
         |  FROM w
         |  WHERE lpos + lneg > 0 AND (tpos - lpos) + (tneg - lneg) > 0),
         |r AS (SELECT feat, bin, gain, lpos + lneg AS n_left,
         |    rpos + rneg AS n_right,
         |    ${D.sql.d6(giniSide("tpos", "tneg"))} AS gini_root,
         |    row_number() OVER (PARTITION BY feat
         |      ORDER BY gain DESC, bin) AS rk
         |  FROM g)
         |SELECT feat, bin AS best_bin,
         |  ${D.sql.d6("CAST(bin + 1 AS DOUBLE) / 10.0")} AS threshold,
         |  gain, gini_root,
         |  CAST(n_left AS BIGINT) AS n_left,
         |  CAST(n_right AS BIGINT) AS n_right
         |FROM r WHERE rk = 1 ORDER BY feat""".stripMargin
    }) { (s, dir) =>
    val nw = size(words(col("text")))
    val c = LsdDb.table(s, dir, "documents")
      .filter(nw > 0)
      .select(col("lang"), explode(array(lrFeatCols.map { case (n, cc) =>
        struct(lit(n).as("f"), cc.as("s")) }: _*)).as("u"))
      .select(col("u.f").as("feat"),
        least(greatest(floor(col("u.s") * 10).cast(LongType),
          lit(0L)), lit(9L)).as("bin"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .groupBy("feat", "bin")
      .agg(sum(col("y")).as("pos"),
        (count(lit(1)) - sum(col("y"))).as("neg"))
    val wCum = Window.partitionBy("feat").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy("feat")
    val w = c.select(col("feat"), col("bin"),
      sum(col("pos")).over(wCum).as("lpos"),
      sum(col("neg")).over(wCum).as("lneg"),
      sum(col("pos")).over(wF).as("tpos"),
      sum(col("neg")).over(wF).as("tneg"))
    def d(cc: Column): Column = cc.cast(DoubleType)
    def giniSide(np: Column, nn: Column): Column =
      lit(1.0) - ((d(np) / (np + nn)) * (d(np) / (np + nn)) +
        (d(nn) / (np + nn)) * (d(nn) / (np + nn)))
    val lpos = col("lpos"); val lneg = col("lneg")
    val tpos = col("tpos"); val tneg = col("tneg")
    val rpos = tpos - lpos; val rneg = tneg - lneg
    val g = w
      .filter(lpos + lneg > 0 && rpos + rneg > 0)
      .select(col("feat"), col("bin"), lpos, lneg,
        rpos.as("rpos"), rneg.as("rneg"), tpos, tneg,
        Det.d6(giniSide(tpos, tneg) -
          ((d(lpos + lneg) / (tpos + tneg)) * giniSide(lpos, lneg) +
            (d(rpos + rneg) / (tpos + tneg)) * giniSide(rpos, rneg))).as("gain"))
    val r = g.withColumn("rk", row_number().over(
      Window.partitionBy("feat").orderBy(col("gain").desc, col("bin"))))
    r.filter(col("rk") === 1)
      .select(col("feat"), col("bin").as("best_bin"),
        Det.d6((col("bin") + 1).cast(DoubleType) / 10.0).as("threshold"),
        col("gain"),
        Det.d6(giniSide(tpos, tneg)).as("gini_root"),
        (col("lpos") + col("lneg")).as("n_left"),
        (col("rpos") + col("rneg")).as("n_right"))
      .orderBy("feat")
  }

  /** Poisson(1) CDF thresholds on the d6 grid, shared literals for
    * the bootstrap weight ladder (w = k where u first drops below
    * the k-th cumulative; capped at 8 — P(w > 8) < 1e-5). */
  private val bootB = 20
  private val poisCdf: Seq[Double] = Seq(
    0.367879, 0.735759, 0.919699, 0.981012,
    0.996340, 0.999406, 0.999917, 0.999990)

  /** Ext — POISSON-BOOTSTRAP CI (q_bootstrap_mean): a 90% bootstrap
    * confidence interval for the corpus mean quality score. THE
    * distributed bootstrap: classic resampling needs n draws WITH
    * replacement (a global shuffle per replicate); the Poisson
    * approximation gives every row an independent Poisson(1)
    * multiplicity per replicate, so B replicates are ONE map-side
    * weight column each — no resampling pass, no shuffle beyond the
    * O(B) per-replicate agg.
    *
    * Replicate 0 is the IDENTITY (w = 1 for every row): the full-
    * sample point estimate rides the same exploded relation, so ONE
    * corpus scan serves point + all B replicates (the q_ndcg
    * single-consumer lesson). Weights derive from a Park-Miller step
    * on doc_id, +b, then TWO more PM steps — all int64-safe integer
    * arithmetic, engine-identical. The second post-b step is
    * load-bearing: after one step, consecutive b differ in u by only
    * 16807/2³¹ ≈ 8e-6, so all 20 replicates drew the SAME resample
    * (caught by the spec's bracket check: every replicate mean sat
    * 5σ from the point estimate); the extra step spreads Δb=1 to
    * ~0.13 in u. Weights go through the fixed Poisson-CDF ladder
    * above.
    * lo/hi are the 2nd/19th order statistics of the B = 20 replicate
    * means (exact rank selection, no percentile interpolation);
    * boot_se is the sample stddev of the replicate means via the
    * decimal-exact Det sums. */
  val qBootstrapMean: QuerySpec = QuerySpec(
    "q_bootstrap_mean", {
      val ladder = poisCdf.zipWithIndex.map { case (c, k) =>
        s"WHEN u < $c THEN $k" }.mkString("CASE ", " ", " ELSE 8 END")
      s"""WITH q AS (SELECT doc_id, $qualScoreSql AS score
         |  FROM documents WHERE len($wordsSql) > 0),
         |rep AS (SELECT doc_id, score, unnest(range(0, ${bootB + 1}))
         |    AS b
         |  FROM q),
         |h AS (SELECT b, score,
         |    (((((doc_id % 2147483647) * 16807) % 2147483647 + b)
         |      * 16807) % 2147483647) * 16807 % 2147483647 AS h2
         |  FROM rep),
         |wt AS (SELECT b, score,
         |    CASE WHEN b = 0 THEN 1 ELSE $ladder END AS w
         |  FROM (SELECT b, score,
         |      CAST(h2 AS DOUBLE) / 2147483647.0 AS u FROM h)),
         |means AS (SELECT b,
         |    CASE WHEN sum(w) > 0 THEN ${D.sql.d6(
           "CAST(sum(CAST(w * score AS DECIMAL(18,8))) AS DOUBLE)" +
             " / sum(w)")} ELSE 0.0 END AS wmean
         |  FROM wt GROUP BY b),
         |r AS (SELECT b, wmean,
         |    row_number() OVER (ORDER BY wmean, b) AS rk
         |  FROM means WHERE b > 0)
         |SELECT
         |  (SELECT wmean FROM means WHERE b = 0) AS mean,
         |  (SELECT wmean FROM r WHERE rk = 2) AS boot_lo,
         |  (SELECT wmean FROM r WHERE rk = ${bootB - 1}) AS boot_hi,
         |  ${D.sql.d6(s"sqrt(greatest(${D.sql.dvarSamp("wmean")}, 0.0))")}
         |    AS boot_se,
         |  CAST(count(*) AS BIGINT) AS n_replicates
         |FROM r""".stripMargin
    }) { (s, dir) =>
    val nw = size(words(col("text")))
    val rep = LsdDb.table(s, dir, "documents")
      .filter(nw > 0)
      .select(col("doc_id"), qualScore.as("score"))
      .withColumn("b", explode(sequence(lit(0), lit(bootB))))
    val h2 = (((((col("doc_id") % 2147483647L) * 16807L) % 2147483647L
      + col("b")) * 16807L) % 2147483647L) * 16807L % 2147483647L
    val u = h2.cast(DoubleType) / 2147483647.0
    val ladder = poisCdf.zipWithIndex.foldRight(lit(8): Column) {
      case ((c, k), rest) => when(u < c, k).otherwise(rest)
    }
    val wt = rep.withColumn("w",
      when(col("b") === 0, 1).otherwise(ladder))
    val means = wt.groupBy("b")
      .agg(when(sum(col("w")) > 0,
        Det.d6(sum((col("w") * col("score")).cast(Det.M))
          .cast(DoubleType) / sum(col("w"))))
        .otherwise(0.0).as("wmean"))
      .localCheckpoint()
    val r = means.filter(col("b") > 0)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("wmean"), col("b"))))
    val point = means.filter(col("b") === 0)
      .select(col("wmean").as("mean"))
    val lo = r.filter(col("rk") === 2).select(col("wmean").as("boot_lo"))
    val hi = r.filter(col("rk") === bootB - 1)
      .select(col("wmean").as("boot_hi"))
    // variance of 20 near-identical snapped means can cancel to a
    // tiny NEGATIVE epsilon — clamp before sqrt (DuckDB errors on
    // sqrt(<0), Spark returns NaN; both clamps are identical)
    val sd = r.agg(
      Det.d6(sqrt(greatest(Det.dvarSamp(col("wmean")), lit(0.0))))
        .as("boot_se"),
      count(lit(1)).as("n_replicates"))
    point.crossJoin(lo).crossJoin(hi).crossJoin(sd)
  }

  /** Ext — DUP-SPLIT LEAKAGE AUDIT (q_dup_split_leakage): exact-
    * duplicate groups whose members span different train/val/test
    * splits — the leak q_split_assign's ID-keyed split DELIBERATELY
    * permits (same text, different doc_ids → independent splits; see
    * the design note there) and that an embedding-space audit
    * (q_split_leakage) can miss when near-dup ≠ exact-dup. Composes
    * the q_dedup_exact content key with the q_split_assign bucket —
    * both algebras referenced, not re-derived.
    *
    * 100-TB shape: one corpus pass projecting (md5(text), split) —
    * no text shuffles, only 16-byte digests — into a two-level
    * map-side agg: per (digest, split) counts, then per digest
    * n_splits/n_docs, then ONE O(1) summary row. Exact BIGINTs end
    * to end. */
  val qDupSplitLeakage: QuerySpec = QuerySpec(
    "q_dup_split_leakage",
    """WITH d AS (SELECT md5(text) AS h,
      |    CASE WHEN ((doc_id % 2147483647) * 1103515245 + 12345) % 100 < 90
      |      THEN 'train'
      |      WHEN ((doc_id % 2147483647) * 1103515245 + 12345) % 100 < 95
      |      THEN 'val' ELSE 'test' END AS split
      |  FROM documents),
      |g AS (SELECT h, count(DISTINCT split) AS n_splits,
      |    CAST(count(*) AS BIGINT) AS n_docs
      |  FROM d GROUP BY h)
      |SELECT
      |  CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(count(*) FILTER (WHERE n_docs > 1) AS BIGINT) AS n_dup_groups,
      |  CAST(count(*) FILTER (WHERE n_splits > 1) AS BIGINT)
      |    AS n_leaking_groups,
      |  CAST(coalesce(sum(n_docs) FILTER (WHERE n_splits > 1), 0)
      |    AS BIGINT) AS n_leaked_docs
      |FROM g""".stripMargin) { (s, dir) =>
    val bucket = ((col("doc_id") % 2147483647L) * 1103515245L + 12345L) % 100
    val d = LsdDb.table(s, dir, "documents")
      .select(md5(col("text").cast("binary")).as("h"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"))
    val g = d.groupBy("h")
      .agg(countDistinct(col("split")).as("n_splits"),
        count(lit(1)).as("n_docs"))
    g.agg(count(lit(1)).as("n_groups"),
      count(when(col("n_docs") > 1, 1)).as("n_dup_groups"),
      count(when(col("n_splits") > 1, 1)).as("n_leaking_groups"),
      coalesce(sum(when(col("n_splits") > 1, col("n_docs"))), lit(0L))
        .as("n_leaked_docs"))
  }

  /** Ext — PARETO FRONT / skyline (q_pareto_front): the documents no
    * other document dominates on (quality ↑, token count ↓) — the
    * multi-criteria selection a curation pipeline runs when "best"
    * has two axes (keep the highest-quality doc at every length
    * budget). Classic skyline operator re-expressed for Spark.
    *
    * 100-TB shape: the naive skyline is O(N²) dominance tests. This
    * form is the VALUE-DOMAIN two-pass: (1) reduce the corpus
    * map-side to the per-token-count quality maximum (≤ distinct
    * token counts — bounded by the longest doc, not N); (2) one
    * cumulative-max window ASC over that bounded relation marks the
    * frontier (a point survives iff its quality strictly exceeds
    * every shorter length's max); (3) one broadcast-size semi-join
    * pulls the winning doc per frontier cell (min doc_id among the
    * cell's max-quality docs breaks ties deterministically).
    * Determinism: quality is the d6 [[qualScore]]; token counts are
    * exact BIGINTs; the frontier test compares snapped doubles. */
  val qParetoFront: QuerySpec = QuerySpec(
    "q_pareto_front",
    s"""WITH q AS (SELECT doc_id,
       |    CAST(len($wordsSql) AS BIGINT) AS n_tokens,
       |    $qualScoreSql AS quality
       |  FROM documents WHERE len($wordsSql) > 0),
       |cell AS (SELECT n_tokens, max(quality) AS q_max
       |  FROM q GROUP BY n_tokens),
       |f AS (SELECT n_tokens, q_max,
       |    max(q_max) OVER (ORDER BY n_tokens
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS best_shorter
       |  FROM cell),
       |front AS (SELECT n_tokens, q_max FROM f
       |  WHERE best_shorter IS NULL OR q_max > best_shorter),
       |rep AS (SELECT q.n_tokens, q.quality, min(q.doc_id) AS doc_id
       |  FROM q JOIN front ON q.n_tokens = front.n_tokens
       |    AND q.quality = front.q_max
       |  GROUP BY q.n_tokens, q.quality)
       |SELECT doc_id, n_tokens, quality FROM rep
       |ORDER BY n_tokens""".stripMargin) { (s, dir) =>
    val nw = size(words(col("text")))
    val q = LsdDb.table(s, dir, "documents")
      .filter(nw > 0)
      .select(col("doc_id"), nw.cast(LongType).as("n_tokens"),
        qualScore.as("quality"))
    val cell = q.groupBy("n_tokens").agg(max(col("quality")).as("q_max"))
    val wShorter = Window.orderBy("n_tokens")
      .rowsBetween(Window.unboundedPreceding, -1)
    val front = cell
      .withColumn("best_shorter", max(col("q_max")).over(wShorter))
      .filter(col("best_shorter").isNull ||
        col("q_max") > col("best_shorter"))
      .select(col("n_tokens"), col("q_max"))
    q.as("qq").join(broadcast(front.as("fr")),
        col("qq.n_tokens") === col("fr.n_tokens") &&
          col("qq.quality") === col("fr.q_max"))
      .groupBy(col("qq.n_tokens").as("n_tokens"),
        col("qq.quality").as("quality"))
      .agg(min(col("qq.doc_id")).as("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("quality"))
      .orderBy("n_tokens")
  }

  /** Ext — PER-LANGUAGE SCORE NORMALIZATION MAP (q_quality_norm):
    * the score → percentile-rank lookup per language — the fix for
    * the classic curation bug where one absolute quality threshold
    * silently filters minority languages harder (their score
    * distributions sit elsewhere; see q_feature_auc's inverted-f3
    * finding on this corpus). Midrank percentiles: pct =
    * (2·cum_below + cnt) / (2n), so equal scores share one exact
    * percentile and the map is invertible per language.
    *
    * 100-TB shape: the output IS value-domain — one corpus pass into
    * a (lang, score) groupBy (map-side partial, ≤ langs·grid cells),
    * one per-lang cumulative window over that bounded relation. The
    * emitted map is the broadcast-sized artifact a pipeline joins
    * back onto the corpus to re-threshold per language.
    * Determinism: counts exact BIGINTs — and unlike the
    * transcendental d6 sites, a RATIO OF INTEGERS can land exactly
    * on a 5e-7 rounding midpoint (sf0.1 hit pct = 0.5734375: Spark
    * half-up 0.573438 vs DuckDB half-even 0.573437), so the
    * percentile is emitted in exact integer MICRO-UNITS via integer
    * division (floor — no midpoint exists), and the double `pct`
    * derives from that same integer identically in both engines.
    * The score key itself is FLOOR-snapped to the micro grid for the
    * same reason: this query exposes per-cell counts, so the one-doc
    * d6 midpoint flip the aggregate queries absorb (sf0.1's raw
    * 0.5734375 rounds half-up in Spark, half-even in DuckDB) would
    * split a cell here. floor of the IEEE-identical raw double has
    * no rounding tie to disagree on. */
  val qQualityNorm: QuerySpec = QuerySpec(
    "q_quality_norm",
    s"""WITH q AS (SELECT lang,
       |    $qualScoreSql AS score
       |  FROM documents WHERE len($wordsSql) > 0),
       |c AS (SELECT lang, score, CAST(count(*) AS BIGINT) AS cnt
       |  FROM q GROUP BY lang, score),
       |w AS (SELECT lang, score, cnt,
       |    coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS cum_below,
       |    CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
       |  FROM c)
       |SELECT lang, score, cnt,
       |  CAST((CAST(2 * cum_below + cnt AS BIGINT) * 1000000) // (2 * n)
       |    AS BIGINT) AS pct_micro,
       |  CAST(CAST((CAST(2 * cum_below + cnt AS BIGINT) * 1000000)
       |    // (2 * n) AS BIGINT) AS DOUBLE) / 1000000.0 AS pct
       |FROM w ORDER BY lang, score""".stripMargin) { (s, dir) =>
    val nw = size(words(col("text")))
    val c = LsdDb.table(s, dir, "documents")
      .filter(nw > 0)
      .select(col("lang"), qualScore.as("score"))
      .groupBy("lang", "score")
      .agg(count(lit(1)).as("cnt"))
    val wBelow = Window.partitionBy("lang").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wLang = Window.partitionBy("lang")
    c.select(col("lang"), col("score"), col("cnt"),
      coalesce(sum(col("cnt")).over(wBelow), lit(0L)).as("cum_below"),
      sum(col("cnt")).over(wLang).as("n"))
      .select(col("lang"), col("score"), col("cnt"),
        expr("CAST((2 * cum_below + cnt) * 1000000 DIV (2 * n)" +
          " AS BIGINT)").as("pct_micro"))
      .select(col("lang"), col("score"), col("cnt"), col("pct_micro"),
        (col("pct_micro").cast(DoubleType) / 1000000.0).as("pct"))
      .orderBy("lang", "score")
  }

  /** Ext — WEIGHT OF EVIDENCE / INFORMATION VALUE (q_iv): the
    * per-bin WoE table and per-feature IV for each classifier-family
    * feature against `lang = 'en'` — the encoding-strength screen
    * beside [[qFeatureAuc]] (rank), [[qMutualInfo]] (information)
    * and [[qStumpSplit]] (one-cut gain); WoE is also the binned
    * encoding a scorecard model consumes directly. Cells are
    * half-smoothed (+0.5 per cell, +0.5·bins per margin) so empty
    * bins stay finite — the standard WoE correction, part of the
    * operator contract.
    *
    * 100-TB shape: the q_mutual_info cell relation — one d-way
    * exploded corpus pass onto ≤ d·10 (feat, bin) cells, windows +
    * expression over that O(1) relation. Determinism: counts exact
    * BIGINTs; shares are double divisions of exact halves; ln is
    * d6-snapped per bin; iv terms derive from the SNAPPED woe and
    * decimal-sum per feature. */
  val qIv: QuerySpec = QuerySpec(
    "q_iv", {
      val posShare = "(CAST(pos AS DOUBLE) + 0.5)" +
        " / (CAST(tpos AS DOUBLE) + 0.5 * nb)"
      val negShare = "(CAST(neg AS DOUBLE) + 0.5)" +
        " / (CAST(tneg AS DOUBLE) + 0.5 * nb)"
      s"""WITH q AS (SELECT u.f AS feat,
         |    least(greatest(CAST(floor(u.s * 10) AS BIGINT), 0), 9)
         |      AS bin,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM (SELECT lang, unnest([${lrFeatSqls.map { case (n, e) =>
           s"{'f': '$n', 's': $e}" }.mkString(",\n      ")}]) AS u
         |    FROM documents WHERE len($wordsSql) > 0)),
         |c AS (SELECT feat, bin,
         |    CAST(sum(y) AS BIGINT) AS pos,
         |    CAST(count(*) - sum(y) AS BIGINT) AS neg
         |  FROM q GROUP BY feat, bin),
         |m AS (SELECT feat, bin, pos, neg,
         |    CAST(sum(pos) OVER (PARTITION BY feat) AS BIGINT) AS tpos,
         |    CAST(sum(neg) OVER (PARTITION BY feat) AS BIGINT) AS tneg,
         |    CAST(count(*) OVER (PARTITION BY feat) AS BIGINT) AS nb
         |  FROM c),
         |t AS (SELECT feat, bin, pos, neg,
         |    ${D.sql.d6(s"ln(($posShare) / ($negShare))")} AS woe,
         |    $posShare AS ps, $negShare AS ns
         |  FROM m),
         |t2 AS (SELECT feat, bin, pos, neg, woe,
         |    ${D.sql.d6("(ps - ns) * woe")} AS iv_term
         |  FROM t)
         |SELECT feat, bin, pos, neg, woe, iv_term,
         |  ${D.sql.d6("CAST(sum(CAST(iv_term AS DECIMAL(18,8)))" +
           " OVER (PARTITION BY feat) AS DOUBLE)")} AS iv
         |FROM t2 ORDER BY feat, bin""".stripMargin
    }) { (s, dir) =>
    val nw = size(words(col("text")))
    val c = LsdDb.table(s, dir, "documents")
      .filter(nw > 0)
      .select(col("lang"), explode(array(lrFeatCols.map { case (n, cc) =>
        struct(lit(n).as("f"), cc.as("s")) }: _*)).as("u"))
      .select(col("u.f").as("feat"),
        least(greatest(floor(col("u.s") * 10).cast(LongType),
          lit(0L)), lit(9L)).as("bin"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .groupBy("feat", "bin")
      .agg(sum(col("y")).as("pos"),
        (count(lit(1)) - sum(col("y"))).as("neg"))
    val wF = Window.partitionBy("feat")
    val m = c.select(col("feat"), col("bin"), col("pos"), col("neg"),
      sum(col("pos")).over(wF).as("tpos"),
      sum(col("neg")).over(wF).as("tneg"),
      count(lit(1)).over(wF).as("nb"))
    val ps = (col("pos").cast(DoubleType) + 0.5) /
      (col("tpos").cast(DoubleType) + lit(0.5) * col("nb"))
    val ns = (col("neg").cast(DoubleType) + 0.5) /
      (col("tneg").cast(DoubleType) + lit(0.5) * col("nb"))
    val t = m.select(col("feat"), col("bin"), col("pos"), col("neg"),
      Det.d6(log(ps / ns)).as("woe"), ps.as("ps"), ns.as("ns"))
    val t2 = t.select(col("feat"), col("bin"), col("pos"), col("neg"),
      col("woe"),
      Det.d6((col("ps") - col("ns")) * col("woe")).as("iv_term"))
    t2.select(col("feat"), col("bin"), col("pos"), col("neg"),
      col("woe"), col("iv_term"),
      Det.d6(sum(col("iv_term").cast(Det.M)).over(wF)
        .cast(DoubleType)).as("iv"))
      .orderBy("feat", "bin")
  }

  private val linIters = 24
  private val linEta = 1.0
  private val linFeats = Seq("f2", "f3", "f4")

  /** Ext — TRAINABLE LENGTH MODEL (q_linreg): batch gradient-descent
    * LINEAR regression of log1p(word count) on the length-free
    * surface features (f2 distinct-ratio, f3 stopword-ratio, f4
    * chars-per-word) — the second GLM of the family, proving the
    * distributed-GD loop of [[qLogreg]] generalizes across losses.
    * Quadratic loss makes fixed-η GD stable for η < 2/λmax(XᵀX/n);
    * the measured spectrum on this feature set is λmax ≈ 1.56 at BOTH
    * sf0.001 and sf0.1 (the features are scale-free ratios, so the
    * Gram barely moves with corpus size) ⇒ η = 1.0 converges with
    * margin (η = 1.25 already oscillates — verified numerically; and
    * an exp-link Poisson GD oscillates regardless without Fisher
    * scoring, which is the negative design call that makes this a
    * linear model). The Gram is ill-conditioned (λmin ≈ 2e-4: bias
    * and the near-constant distinct-ratio are collinear), so 24
    * rounds fit the well-conditioned subspace — R² ≈ 0.4, not the
    * OLS optimum — which is exactly what k rounds of GD honestly
    * buys.
    *
    * Same 100-TB shape as q_logreg: ONE corpus pass into a
    * localCheckpointed feature matrix, k O(d)-state partial-agg
    * rounds, weights constant-fold into a map-only scoring pass.
    * Determinism: z is d6-snapped (FMA rule); residual sums go
    * through DECIMAL(38,8); weights d6-snap per round; label
    * ln(1+y) is d6-snapped; resid is a difference of two 1e-6-grid
    * values (exact multiple of 1e-6 — no midpoint exists). */
  val qLinreg: QuerySpec = QuerySpec(
    "q_linreg", {
      val d6 = D.sql.d6 _
      val featSql =
        s"""lnf AS MATERIALIZED (SELECT doc_id,
           |    ${d6(s"ln(1.0 + len($wordsSql))")} AS y,
           |    ${lrFeatSqls.filter(f => linFeats.contains(f._1))
              .map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")}
           |  FROM documents WHERE len($wordsSql) > 0)""".stripMargin
      def zSql(w: String, f: String): String = d6(
        s"$w.w0 + $w.w1 * $f.f2 + $w.w2 * $f.f3 + $w.w3 * $f.f4")
      val sb = new StringBuilder(
        s"""WITH $featSql,
           |lrw0 AS MATERIALIZED (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2,
           |  0.0 AS w3)""".stripMargin)
      // every CTE referenced EXACTLY ONCE (the q_logreg lesson:
      // a twice-referenced w-chain inlines 2^k ways in DuckDB) and
      // AS MATERIALIZED (DuckDB 1.0 inlines once-referenced CTEs;
      // without the hint lnf's feature regexps re-run per round and
      // the optimizer chews on a 24-deep inlined tree — see qLogreg)
      for (r <- 1 to linIters) {
        val xs = "1.0" +: linFeats.map(f => s"f.$f")
        sb ++= s""",
           |lrp$r AS MATERIALIZED (SELECT f.y, f.f2, f.f3, f.f4,
           |    w.w0, w.w1, w.w2, w.w3,
           |    ${zSql("w", "f")} AS z
           |  FROM lnf f CROSS JOIN lrw${r - 1} w),
           |lrw$r AS MATERIALIZED (SELECT${xs.zipWithIndex.map { case (x, i) =>
              s"\n    ${d6(s"min(f.w$i) + $linEta" +
                s" * CAST(sum(CAST((f.y - f.z) * $x AS DECIMAL(38,8)))" +
                " AS DOUBLE) / count(*)")} AS w$i" }.mkString(",")}
           |  FROM lrp$r f)""".stripMargin
      }
      sb ++= s"""
         |SELECT f.doc_id, ${zSql("w", "f")} AS pred, f.y AS label,
         |  ${d6(s"f.y - (${zSql("w", "f")})")} AS resid
         |FROM lnf f CROSS JOIN lrw$linIters w
         |ORDER BY f.doc_id""".stripMargin
      sb.toString
    }) { (s, dir) =>
    val nw = size(words(col("text")))
    val feat = LsdDb.table(s, dir, "documents")
      .filter(nw > 0)
      .select(col("doc_id") +:
        Det.d6(log(lit(1.0) + nw.cast(DoubleType))).as("y") +:
        lrFeatCols.filter(f => linFeats.contains(f._1))
          .map { case (n, c) => c.as(n) }: _*)
      .localCheckpoint()
    def zCol(ws: Seq[Double]): Column = Det.d6(
      lit(ws(0)) + lit(ws(1)) * col("f2") + lit(ws(2)) * col("f3") +
        lit(ws(3)) * col("f4"))
    // GD rounds (r22 fusion): same one-collect driver-side replay as
    // qLogreg (see the note there) — pred here is z itself (linear
    // link), replaying zCol's left-associated chain + d6 snap exactly
    val gdGroups = feat
      .groupBy(col("y") +: linFeats.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .head(maxGdDriverGroups + 1)
    val ws: Seq[Double] =
      if (gdGroups.nonEmpty && gdGroups.length <= maxGdDriverGroups)
        fusedGdWeights(gdGroups, linFeats.length, linIters, linEta,
          (w, x) => graft.functions.SnapDecimal6.snap(
            w(0) + w(1) * x(0) + w(2) * x(1) + w(3) * x(2)))
          .toSeq
      else {
        var w: Seq[Double] = Seq.fill(4)(0.0)
        for (_ <- 1 to linIters) {
          val gradTerms = lit(1.0) +: linFeats.map(col)
          val g = feat.withColumn("z", zCol(w))
            .agg(count(lit(1)).as("n"),
              gradTerms.zipWithIndex.map { case (x, i) =>
                sum(((col("y") - col("z")) * x).cast(Det.M38))
                  .cast(DoubleType).as(s"g$i") }: _*)
            .head()
          val n = g.getLong(0)
          w = w.zipWithIndex.map { case (wv, i) =>
            graft.functions.SnapDecimal6.snap(
              wv + linEta * g.getDouble(i + 1) / n) }
        }
        w
      }
    feat.select(col("doc_id"), zCol(ws).as("pred"), col("y").as("label"),
      Det.d6(col("y") - zCol(ws)).as("resid"))
      .orderBy("doc_id")
  }

  /** Ext — END-TO-END pipeline composition, ONE plan under the
    * oracle: Gopher quality gate → exact-dedup keep-best → split
    * assignment → sequence packing — the stage chain a real curation
    * run executes before writing training shards. Every stage is
    * oracle-gated individually (q_quality_gopher, q_dedup_keep_best,
    * q_split_assign, q_pack_sequences); the NEW claim is that their
    * COMPOSITION preserves determinism and plan quality at
    * integration level — no materialization boundaries, no
    * re-scans.
    *
    * Plan shape (pinned in PlanQualitySpec): exactly ONE corpus
    * FileScan; the gate and its signals are map-only projections on
    * the scan; the dedup is one shuffle on the content signature
    * (max_by carries the kept member's attributes, so no join-back
    * re-scan); the split column is integer arithmetic on the kept
    * id (map-only); the packing window is one shuffle on
    * (source, split) — 2 shuffles total for a 4-stage pipeline, each
    * on a key the stage semantically requires. At 100 TB the corpus
    * is read once and everything between the two shuffles is
    * codegen'd projection.
    *
    * Determinism: gate booleans compare bit-identical small-integer
    * ratios (q_quality_gopher's rule); the keep-best argmax score
    * n_chars·1e9 − doc_id is unique (q_dedup_keep_best's rule); the
    * split LCG is overflow-free integer arithmetic (q_split_assign's
    * rule); packing offsets are integer cumsums under a unique order
    * (q_pack_sequences' rule). No floats cross a stage boundary. */
  val qPipelineE2e: QuerySpec = QuerySpec(
    "q_pipeline_e2e",
    s"""WITH t AS (SELECT doc_id, source, n_chars, $wordsSql AS w
       |  FROM documents),
       |sig AS (SELECT doc_id, source, n_chars,
       |    CAST(len(w) AS BIGINT) AS n_tokens,
       |    CAST(len(w) - len(list_distinct(w)) AS DOUBLE)
       |      / len(w) AS dup_frac,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
       |      AS DOUBLE) / len(w) AS alpha_frac,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(w, x -> CAST(length(x) AS BIGINT))),
       |      (a, x) -> a + x) AS DOUBLE) / len(w) AS mean_len,
       |    md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS sig
       |  FROM t),
       |gated AS (SELECT * FROM sig
       |  WHERE n_tokens >= 5 AND dup_frac <= 0.3 AND alpha_frac >= 0.8
       |    AND mean_len BETWEEN 2 AND 12),
       |best AS (SELECT sig,
       |    max_by(doc_id, n_chars * 1000000000 - doc_id) AS doc_id,
       |    max_by(source, n_chars * 1000000000 - doc_id) AS source,
       |    max_by(n_tokens, n_chars * 1000000000 - doc_id) AS n_tokens,
       |    count(*) AS n_members
       |  FROM gated GROUP BY sig),
       |sp AS (SELECT doc_id, source, n_tokens, n_members,
       |    CASE WHEN ((doc_id % 2147483647) * 1103515245 + 12345) % 100
       |           < 90 THEN 'train'
       |         WHEN ((doc_id % 2147483647) * 1103515245 + 12345) % 100
       |           < 95 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM best),
       |packed AS (SELECT doc_id, source, split, n_tokens, n_members,
       |    sum(n_tokens) OVER (PARTITION BY source, split ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      - n_tokens AS start_tok
       |  FROM sp)
       |SELECT doc_id, source, split, n_members, n_tokens,
       |  CAST(floor(start_tok / 2048) AS BIGINT) AS seq_id,
       |  CAST(start_tok % 2048 AS BIGINT) AS seq_offset
       |FROM packed ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val w = words(col("text"))
    val nTok = size(w).cast(LongType)
    val dupFrac = (size(w) - size(array_distinct(w))).cast(DoubleType) /
      size(w)
    val alphaFrac = size(filter(w, x => x.rlike("[A-Za-z]")))
      .cast(DoubleType) / size(w)
    val meanLen = aggregate(transform(w, x => length(x).cast(LongType)),
      lit(0L), (a, x) => a + x).cast(DoubleType) / size(w)
    val gated = LsdDb.table(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"),
        nTok.as("n_tokens"), dupFrac.as("dup_frac"),
        alphaFrac.as("alpha_frac"), meanLen.as("mean_len"),
        md5(array_join(array_sort(array_distinct(w)), " ")).as("sig"))
      .filter(col("n_tokens") >= 5 && col("dup_frac") <= 0.3 &&
        col("alpha_frac") >= 0.8 && col("mean_len").between(2, 12))
    val sc = col("n_chars") * 1000000000L - col("doc_id")
    val best = gated.groupBy("sig")
      .agg(max_by(col("doc_id"), sc).as("doc_id"),
        max_by(col("source"), sc).as("source"),
        max_by(col("n_tokens"), sc).as("n_tokens"),
        count(lit(1)).as("n_members"))
    val bucket = ((col("doc_id") % 2147483647L) * 1103515245L + 12345L) % 100
    val sp = best.withColumn("split",
      when(bucket < 90, "train").when(bucket < 95, "val")
        .otherwise("test"))
    val pw = Window.partitionBy("source", "split").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sp.withColumn("start_tok", sum("n_tokens").over(pw) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("split"), col("n_members"),
        col("n_tokens"),
        floor(col("start_tok") / 2048).as("seq_id"),
        (col("start_tok") % 2048).as("seq_offset"))
      .orderBy("doc_id")
  }

  def specs: Seq[QuerySpec] = Seq(
    qPipelineE2e,
    qLogreg, qLinreg, qAuc, qCalibration, qIsotonic, qConfusion,
    qFeatureAuc, qNdcg,
    qPrCurve, qMutualInfo, qCvAuc, qStumpSplit, qBootstrapMean,
    qBpeFertility, qDupSplitLeakage, qParetoFront, qQualityNorm, qIv,
    qBpeTrain, qBpeEncode, qBpeVocab,
    qRerankFusion, qZipfFit,
    qDecontaminate, qQualityGopher, qStratifiedSample, qSampleWeighted,
    qSparseKnn, qInvertedIndex,
    qTfidf, qLightcurve, qBm25, qRedactPii, qQualityRepetition,
    qMixtureWeights, qResample, qPhaseFold, qUrlNormalize, qDedupPrefix,
    qDedupContainment, qCharEntropy, qDupCrossSource, qUnigramLm,
    qDedupKeepBest,
    qCollapseRepeats, qBigramLm, qQualityFunnel, qTokenBudget, qNovelty,
    qVocabCoverage)
}

/** Shared synthetic-URL derivation + canonicalizer — ONE definition
  * (SQL text and Column twins) serving q_url_normalize and
  * q_dedup_url_soft, so the URL grid and the 4-regex canonicalizer
  * cannot drift between the two queries. The corpus carries no URL
  * column; URLs derive deterministically from doc_id (the
  * q_redact_pii derivation discipline) with paths on a doc_id%50
  * grid so distinct raw URLs genuinely collapse under
  * canonicalization. Regexes are anchored, single-match members of
  * the Java∩RE2 common subset (Spark replace-all ≡ DuckDB
  * replace-first). */
private[operators] object SyntheticUrls {
  val urlSql: String =
    "'HTTPS://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END" +
      " || 'Site' || CAST(doc_id % 20 AS VARCHAR) || '.Example.COM/p/'" +
      " || CAST(doc_id % 50 AS VARCHAR)" +
      " || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END" +
      " || CASE WHEN doc_id % 2 = 0" +
      "      THEN '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)" +
      "      ELSE '' END"
  /** canonicalizer over a column literally named `url`. */
  val canonSql: String =
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "lower(url), '^https?://', ''), '^www\\.', ''), '\\?.*$', '')," +
      " '/+$', '')"
  def urlCol: Column = concat(
    lit("HTTPS://"),
    when(col("doc_id") % 3 === 0, "WWW.").otherwise(""),
    lit("Site"), (col("doc_id") % 20).cast("string"),
    lit(".Example.COM/p/"), (col("doc_id") % 50).cast("string"),
    when(col("doc_id") % 5 === 0, "/").otherwise(""),
    when(col("doc_id") % 2 === 0,
      concat(lit("?utm_source=feed&ref="), col("doc_id").cast("string")))
      .otherwise(""))
  def canonCol(url: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(lower(url), "^https?://", ""),
      "^www\\.", ""), "\\?.*$", ""), "/+$", "")
}
