package graft.tools

import graft.functions.Det
import graft.spatial.CrossMatch
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Dev tool: headroom check an order of magnitude past the bench
  * scale — synthesizes multi-million-row inputs (seeded, in-memory)
  * and runs the two operators whose scaling behavior matters most:
  * the spatial cross-match (blocking join) and the decimal-routed
  * aggregation. Prints wall-clock + result sizes.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 64)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // dev filter: `runMain graft.tools.ScaleSmoke gram cadence` runs
    // only blocks whose label contains one of the substrings (block-
    // level setup outside t() still executes; it is lazy or cheap).
    def t[A](label: String)(f: => A): Unit =
      if (args.nonEmpty && !args.exists(label.contains(_))) ()
      else {
        val t0 = System.nanoTime(); val r = f
        println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s -> $r")
      }

    // 2M objects + 4M detections on the sphere (uniform, seeded)
    val objects = spark.range(2000000).select(
      col("id").as("obj_id"),
      (rand(seed = 1) * 360).as("lon"),
      degrees(asin(rand(seed = 2) * 2 - 1)).as("lat"))
    val dets = spark.range(4000000).select(
      col("id").as("det_id"),
      (rand(seed = 3) * 360).as("lon"),
      degrees(asin(rand(seed = 4) * 2 - 1)).as("lat"))
    t("xmatch 4M dets x 2M objs, r=0.01°, nmax=1") {
      CrossMatch(dets, objects, "det_id", "lon", "lat",
        "obj_id", "lon", "lat", 0.01, 1).count().toString + " matches"
    }

    // QL declared-xmatch path at the same 4M x 2M scale — the query
    // surface the reference's users actually hit (`FROM dets, objs`
    // through a declared relation), A/B'd: (a) on-the-fly blocking
    // join (plain stored catalog), (b) margin-routed (catalog stored
    // via SpatialWriter.writeClustered(margin=...), so the neighbor
    // replication was paid at write time and the query never
    // explodes or shuffles the stored catalog). Counts must agree
    // with each other and with the library CrossMatch; the margin
    // plan must show the route fired (no Generate).
    val qlRootPlain = s"${sys.props("java.io.tmpdir")}/graft_smoke_ql_plain"
    val qlRootMargin = s"${sys.props("java.io.tmpdir")}/graft_smoke_ql_margin"
    val qlRadius = 0.01
    val qlNeed = qlRadius + math.max(qlRadius * 1e-3, 1e-6)
    val qlLevel = CrossMatch.levelFor(qlNeed)
    val qlRel = graft.ql.SpatialJoinDef(
      "dets", "det_id", "lon", "lat",
      "objects_sky", "obj_id", "olon", "olat",
      radiusDeg = qlRadius, nmax = 1, snapD6 = true)
    t("ql xmatch setup: write 4M dets + 2M objs (plain + margin layouts)") {
      val objsNamed = objects.select(col("obj_id"), col("lon").as("olon"),
        col("lat").as("olat"))
      dets.write.mode("overwrite").parquet(s"$qlRootPlain/dets.parquet")
      objsNamed.write.mode("overwrite")
        .parquet(s"$qlRootPlain/objects_sky.parquet")
      dets.write.mode("overwrite").parquet(s"$qlRootMargin/dets.parquet")
      graft.sources.SpatialWriter.writeClustered(objsNamed, "olon", "olat",
        qlLevel, s"$qlRootMargin/objects_sky.parquet",
        margin = Some(qlNeed))
      graft.ql.JoinRegistry.declareSpatial(spark, qlRootPlain, qlRel)
      graft.ql.JoinRegistry.declareSpatial(spark, qlRootMargin, qlRel)
      s"level=$qlLevel margin=$qlNeed"
    }
    val qlText = "SELECT det_id, obj_id, _DIST FROM dets, objects_sky"
    var qlCounts = Seq.empty[Long]
    t("ql xmatch 4M x 2M BLOCKING route (plain stored catalog)") {
      val df = graft.ql.LsdQL.forDb(graft.LsdDb(spark, qlRootPlain))
        .query(qlText)
      val plan = df.queryExecution.executedPlan.toString
      // same shape as the library CrossMatch: query-time neighbor
      // explode + cell equi-join + rank window, never a cartesian
      require(plan.contains("Generate") && !plan.contains("CartesianProduct"),
        "blocking route must explode neighbors, not cartesian")
      qlCounts :+= df.count(); s"${qlCounts.last} matches"
    }
    t("ql xmatch 4M x 2M MARGIN route (stored neighbor cache)") {
      val df = graft.ql.LsdQL.forDb(graft.LsdDb(spark, qlRootMargin))
        .query(qlText)
      val plan = df.queryExecution.executedPlan.toString
      require(!plan.contains("Generate") && !plan.contains("CartesianProduct"),
        "margin route must not explode the stored catalog at query time")
      qlCounts :+= df.count(); s"${qlCounts.last} matches"
    }
    t("ql xmatch A/B agreement + library cross-check") {
      require(qlCounts.size == 2,
        "run the full 'ql xmatch' block set (an arg filter skipped " +
          "one of the A/B routes)")
      require(qlCounts.distinct.size == 1,
        s"blocking vs margin disagree: $qlCounts")
      val lib = CrossMatch.applySnapped(dets, objects, "det_id", "lon",
        "lat", "obj_id", "lon", "lat", qlRadius, 1).count()
      require(lib == qlCounts.head,
        s"library CrossMatch $lib != QL ${qlCounts.head}")
      s"all three agree at ${qlCounts.head}"
    }

    // MARGIN+SALT at scale (the r19-verdict composition): a deep field
    // on BOTH sides — 100k extra dets and 5k extra objs crammed into
    // ~0.2° — so the hot blocking cells carry real |A_cell| x |B_cell|
    // candidate work. Three declared routes over the same rows:
    // blocking+salt (the pre-r20 fallback), margin unsalted, and
    // margin+salt (hot driving cells against the stored replicas).
    // All three must count-agree; the margin+salt plan's only
    // Generates are the bounded salt replications.
    t("ql xmatch MARGIN+SALT: deep field (100k dets x 5k objs) A/B/C") {
      val deepDets = spark.range(100000).select(
        (col("id") + 10000000L).as("det_id"),
        (lit(100.0) + rand(seed = 6) * 0.2).as("lon"),
        (lit(20.0) + rand(seed = 7) * 0.2).as("lat"))
      val deepObjs = spark.range(5000).select(
        (col("id") + 5000000L).as("obj_id"),
        (lit(100.0) + rand(seed = 8) * 0.2).as("olon"),
        (lit(20.0) + rand(seed = 9) * 0.2).as("olat"))
      val dets5 = dets.unionByName(deepDets)
      val objs5 = objects.select(col("obj_id"), col("lon").as("olon"),
        col("lat").as("olat")).unionByName(deepObjs)
      for (r <- Seq(qlRootPlain, qlRootMargin))
        dets5.write.mode("overwrite").parquet(s"$r/dets5.parquet")
      objs5.write.mode("overwrite")
        .parquet(s"$qlRootPlain/objects5_sky.parquet")
      graft.sources.SpatialWriter.writeClustered(objs5, "olon", "olat",
        qlLevel, s"$qlRootMargin/objects5_sky.parquet",
        margin = Some(qlNeed))
      val text5 = "SELECT det_id, obj_id, _DIST FROM dets5, objects5_sky"
      // at level 11 (0.176° cells) the 0.2° field is ~4 cells of ~25k
      // driving rows each; threshold 10k makes exactly those cells hot
      def run(root: String, ht: Option[Long]): (Long, Double, String) = {
        graft.ql.JoinRegistry.declareSpatial(spark, root, qlRel.copy(
          left = "dets5", right = "objects5_sky",
          hotThreshold = ht, salts = 16))
        // clock the WHOLE query including plan construction: the
        // salted routes run their hot-cell census and probe sizing
        // eagerly at build time, and excluding those would bias the
        // recorded A/B toward them (review r20)
        val t0 = System.nanoTime()
        val df = graft.ql.LsdQL.forDb(graft.LsdDb(spark, root))
          .query(text5)
        val n = df.count()
        (n, (System.nanoTime() - t0) / 1e9,
          df.queryExecution.executedPlan.toString)
      }
      val (nBlockSalt, sBlockSalt, _) = run(qlRootPlain, Some(10000L))
      val (nMargin, sMargin, _) = run(qlRootMargin, None)
      val (nBoth, sBoth, planBoth) = run(qlRootMargin, Some(10000L))
      val gens = planBoth.linesIterator.filter(_.contains("Generate"))
        .toSeq
      require(gens.nonEmpty && gens.forall(_.contains("[_salt#")),
        s"margin+salt must not explode the catalog:\n${gens.mkString("\n")}")
      require(Seq(nBlockSalt, nMargin, nBoth).distinct.size == 1,
        s"routes disagree: blocking+salt=$nBlockSalt margin=$nMargin " +
          s"margin+salt=$nBoth")
      f"$nBoth matches; blocking+salt $sBlockSalt%.1f s, " +
        f"margin $sMargin%.1f s, margin+salt $sBoth%.1f s"
    }

    // STREAMING margin xmatch at the same scale: the alert-stream
    // shape — 4M detections replayed as 4 micro-batches
    // (maxFilesPerTrigger) through the STATELESS stream-static cell
    // join against the stored 2M-object margin catalog. Total matched
    // pairs must equal the batch pre-margined operator's; per batch
    // the catalog is scanned, never exploded, and no state store
    // exists (stateless inner join).
    t("ql xmatch STREAMING route: 4M dets in 4 micro-batches vs 2M cache") {
      val detDir = s"${sys.props("java.io.tmpdir")}/graft_smoke_stream_dets"
      dets.repartition(8).write.mode("overwrite").parquet(detDir)
      val bM = graft.sources.SpatialWriter.readWithMargins(spark,
        s"$qlRootMargin/objects_sky.parquet")
      val streamDets = spark.readStream
        .schema(spark.read.parquet(detDir).schema)
        .option("maxFilesPerTrigger", 2).parquet(detDir)
      val out = graft.streaming.StreamOps.xmatchStreamMargined(
        streamDets, bM, "lon", "lat", "obj_id", "olon", "olat",
        qlRadius, qlLevel)
      val name = "graft_smoke_stream_xmatch"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      val got = spark.table(name).count()
      spark.catalog.dropTempView(name)
      val want = CrossMatch.allPairsPreMargined(
        spark.read.parquet(detDir), bM, "det_id", "lon", "lat",
        "obj_id", "olon", "olat", qlRadius, qlLevel).count()
      require(got == want, s"stream total $got != batch $want")
      require(batches >= 2, s"expected multiple micro-batches, got $batches")
      s"$got pairs across $batches micro-batches == batch operator"
    }

    // 50M-row decimal aggregation (the oracle-exact sum path)
    val big = spark.range(50000000).select(
      (col("id") % 97).as("k"),
      (rand(seed = 5) * 100000).as("x"))
    t("decimal-routed agg over 50M rows, 97 groups") {
      big.groupBy("k").agg(Det.dsum(col("x")).as("s"),
        count(lit(1)).as("c")).count().toString + " groups"
    }

    // banded range join at 10x the bench fact size
    val cust = spark.range(150000).select(col("id").as("ck"),
      (rand(seed = 6) * 10000).as("bal"))
    val ord = spark.range(1500000).select(col("id").as("ok"),
      (rand(seed = 7) * 500000).as("price"))
    t("banded range join 150k x 1.5M") {
      val bw = 1000
      val c = cust.select(col("ck"), (col("bal") * 30).as("lo"))
        .withColumn("hi", col("lo") + bw)
        .withColumn("bucket",
          explode(sequence(floor(col("lo") / bw), floor(col("hi") / bw))))
      val o = ord.withColumn("bucket", floor(col("price") / bw))
      c.join(o, c("bucket") === o("bucket") &&
          col("price") >= col("lo") && col("price") < col("hi"))
        .groupBy("ck").agg(count(lit(1))).count().toString + " customers"
    }

    // connected components: 10M nodes, 3M edges forming ~1M small
    // clusters (the dedup-cluster shape: most nodes are singletons,
    // components are shallow) — the active-node restriction means the
    // iteration never touches the 7M edge-free nodes
    val nodes = spark.range(10000000).select(col("id"))
    val edges = spark.range(3000000).select(
      ((col("id") % 1000000) * 10).as("a"),
      ((col("id") % 1000000) * 10 + (col("id") % 9) + 1).as("b"))
    t("connected components 10M nodes, 3M edges") {
      graft.operators.Components.minLabel(nodes, "id", edges, "a", "b")
        .select(countDistinct(col("component"))).head().getLong(0).toString +
        " components"
    }

    // worst-case diameter: a single 1M-node PATH (diameter 999,999 —
    // 33,000× the maxIter budget). Pointer jumping must close it in
    // ~jumpAfter + log2(1M) ≈ 23 rounds; this block is the measured
    // answer to "what does a pathological chain cost", not a typical
    // workload (dedup clusters are shallow).
    t("connected components 1M-node single chain (pointer jumping)") {
      val cnodes = spark.range(1000000).select(col("id"))
      val cedges = spark.range(999999).select(
        col("id").as("a"), (col("id") + 1).as("b"))
      val (cc, rounds) = graft.operators.Components
        .minLabelWithRounds(cnodes, "id", cedges, "a", "b")
      val distinct = cc.select(countDistinct(col("component")))
        .head().getLong(0)
      require(distinct == 1, s"expected 1 component, got $distinct")
      require(rounds <= 26, s"expected O(log) rounds, took $rounds")
      s"1 component in $rounds rounds"
    }

    // int8-quantized cosine search: 1M x 64-d corpus, 8 probes — the
    // map-only broadcast pass with the codegen'd double-array DotFold
    val corpus = spark.range(1000000).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)),
        i => rand(seed = 8) + i * 0.001).as("v"))
      .withColumn("nrm", graft.functions.VectorKernels.norm2(col("v")))
      .persist()
    corpus.count() // materialize: measure the kernel, not the synth
    t("quantized-style cosine top-5, 1M x 64-d, 8 probes") {
      val probes = broadcast(corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"),
          col("nrm").as("pn")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id").asc)
      probes.join(corpus, col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          graft.functions.VectorKernels.cosine(
            graft.functions.VectorKernels.dot(col("pv"), col("v")),
            col("pn"), col("nrm")).as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5).count().toString + " results"
    }
    // q_cluster_kmeans' execution shape at 1M vectors: centroids are
    // O(k·d) driver literals folded into the codegen'd dot kernel, so
    // one Lloyd round = ONE map-only assignment pass + ONE
    // partial-aggregated groupBy((cid,dim)) for the decimal(18,6)
    // per-dim means — the d× explode multiplies map-side CPU but the
    // shuffle carries only k·d·partitions partial rows.
    t("kmeans one Lloyd round 1M x 64-d, k=8 (literal-centroid assign)") {
      val cents = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id"), col("v").cast("array<double>"), col("nrm"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
          r.getDouble(2)))
      val assignCol = array_min(array(cents.map { case (cid, cv, cn) =>
        struct(graft.functions.Det.d6(col("nrm") + lit(cn) - lit(2.0) *
          graft.functions.VectorKernels.dot(col("v"),
            array(cv.toSeq.map(lit): _*))).as("dd"),
          lit(cid).as("cid"))
      }: _*))
      val means = corpus.withColumn("a", assignCol)
        .select(col("a.cid").as("cid"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("cid", "d")
        .agg((sum(col("x").cast("double").cast("decimal(18,6)"))
          .cast("double") / count(lit(1))).as("m"))
        .collect()
      require(means.length == 8 * 64, s"expected 512 means, ${means.length}")
      s"${means.length} (cid,dim) means"
    }

    // deletion-neighborhood fuzzy join (q_join_fuzzy's blocker) at 1M
    // keys: the index is (len+1)× rows of 8-byte hashes, pair
    // generation is bucket-local. Sparse keyspace (id·997 over 9
    // digits) — the realistic record-linkage regime where most keys
    // have no ed-1 neighbor and the blocker's job is to prove it
    // cheaply.
    t("deletion-neighborhood ed<=1 join 1M keys (10M variant index)") {
      val base = spark.range(1000000).select(col("id").as("k"),
        concat(lit("u"), lpad((col("id") * 997).cast("string"), 9, "0"))
          .as("name"))
      // plant 1000 known near-dups (last char substituted) so the
      // block asserts recall, not just cheap absence
      val planted = spark.range(1000).select(
        (col("id") + 2000000L).as("k"),
        concat(lit("u"), substring(
          lpad((col("id") * 997000).cast("string"), 9, "0"), 1, 8),
          lit("x")).as("name"))
      val names = base.union(planted)
      val dv = names.select(col("k"), explode(expr(
        "transform(sequence(0, length(name)), i -> CASE WHEN i = 0 " +
          "THEN name ELSE concat(substring(name, 1, i - 1), " +
          "substring(name, i + 1, length(name) - i)) END)")).as("vv"))
        .select(col("k"), xxhash64(col("vv")).as("h"))
      val cand = dv.groupBy("h").agg(collect_list(col("k")).as("ks"))
        .filter(size(col("ks")).between(2, 65536))
        .select(explode(col("ks")).as("ka"), col("ks"))
        .select(col("ka"), explode(col("ks")).as("kb"))
        .filter(col("ka") < col("kb"))
        .distinct()
      val na = names.select(col("k").as("ka"), col("name").as("na"))
      val nb = names.select(col("k").as("kb"), col("name").as("nb"))
      val verified = cand.join(na, "ka").join(nb, "kb")
        .filter(levenshtein(col("na"), col("nb")) <= 1)
        .count()
      s"$verified ed<=1 pairs"
    }

    // hyperplane-LSH cosine dedup at 1M vectors. Two scale rules on
    // display: (1) this corpus is all-positive (rand + i*0.001), and
    // sign-random-projection on UNCENTERED data collapses signatures
    // into a few giant buckets — so the vectors are mean-centered
    // first, the standard SRP-LSH precondition; (2) at 1M rows the
    // 8-bit bands of q_dedup_lshcos would average ~4k rows/bucket, so
    // the 32-bit signature splits into 2 x 16-bit bands (~15
    // rows/bucket) — "lshBits rises with corpus size". The hot-bucket
    // cap (same guard as TextOps minhash) bounds any residual skew:
    // no bucket can contribute more than cap^2 pairs.
    t("hyperplane-LSH dedup 1M x 64-d (centered, 2x16-bit bands, cap)") {
      val centered = corpus.select(col("vec_id"),
        zip_with(col("v"), sequence(lit(1), lit(64)),
          (x, i) => x - 0.5 - i * 0.001).as("vc"))
      val sigs = centered.select(col("vec_id"),
        graft.operators.VectorOps.lshSignature(col("vc")).as("sig"))
      val bands = sigs.select(col("vec_id"), posexplode(
        array((0 until 2).map(b => shiftright(col("sig"), b * 16)
          .bitwiseAND(65535)): _*)))
        .toDF("vec_id", "band_id", "band_val")
      val ok = bands.groupBy("band_id", "band_val")
        .agg(count(lit(1)).as("bn")).filter(col("bn") <= 1000)
        .drop("bn")
      val capped = bands.join(ok, Seq("band_id", "band_val"))
      capped.as("a").join(capped.as("b"),
          col("a.band_id") === col("b.band_id") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id"), col("b.vec_id")).distinct()
        .count().toString + " candidate pairs"
    }

    // SemDeDup at 1M x 64-d with the REAL centroid dial: k =
    // semdedupK(1M) = 1000 cells (k ∝ √N — assignment N·k and
    // in-cell pairs N²/k both stay at N^1.5, never corpus²). Runs
    // the exact production assignment path (semdedupAssign: BNLJ
    // broadcast centroids + partial-agg min(struct)) and asserts the
    // post-cap pair fan-out is bounded: every cell over
    // semdedupMaxCell contributes zero pairs (cap-as-algebra, both
    // engines), so pairs ≤ k·cap²/2 in the worst case; on this
    // uniform corpus the measured fan-out must also land orders of
    // magnitude under the old fixed-k=8 design's N²/8.
    t("semdedup assignment 1M x 64-d, k=1000 (sqrt-N dial, capped fan-out)") {
      val k = graft.operators.VectorOps.semdedupK(1000000)
      require(k == 1000, s"sqrt-N dial expected 1000, got $k")
      val cent = corpus.filter(col("vec_id") < k)
        .select(col("vec_id").as("cell"), col("v").as("cv"),
          col("nrm").as("cn"))
      val asgn = graft.operators.VectorOps
        .semdedupAssign(corpus.filter(col("vec_id") >= k), cent)
      val cap = graft.operators.VectorOps.semdedupMaxCell
      val cells = asgn.groupBy("cell").agg(count(lit(1)).as("n"))
        .select(col("n"),
          when(col("n") <= cap,
            (col("n") * (col("n") - 1) / 2).cast("long"))
            .otherwise(lit(0L)).as("pairs"))
        .agg(count(lit(1)).as("ncells"), max(col("n")).as("maxcell"),
          sum(col("pairs")).as("cappedPairs"))
        .head()
      val (ncells, maxcell, pairs) =
        (cells.getLong(0), cells.getLong(1), cells.getLong(2))
      val oldFanout = 1000000L * 1000000L / 8 // fixed-k=8 design
      require(pairs < oldFanout / 20,
        s"capped fan-out $pairs not << old N^2/8 = $oldFanout")
      require(pairs <= k.toLong * cap * cap / 2,
        s"cap bound violated: $pairs > k*cap^2/2")
      s"$ncells cells, max cell $maxcell, capped pair fan-out $pairs"
    }

    // text-pipeline shapes at 10M docs: synthesize a zipf-ish corpus
    // (~20 tokens/doc from a 50k vocabulary, seeded), then run the two
    // corpus-pass operators whose claim is "the corpus never
    // shuffles": decontamination (broadcast eval shingles) and BM25
    // (broadcast df + avgdl). Both should scale linearly in corpus
    // bytes — the joins are map-side, the aggregates partial.
    val vocabSize = 50000
    val docLen = 20
    // every 50th doc is one of 200 boilerplate templates (token stream
    // keyed by the template id, not the doc id) — so the corpus has
    // genuine cross-doc trigram overlap for the eval set to catch
    val seedExpr = when(col("id") % 50 === 0, col("id") % 200)
      .otherwise(col("id"))
    val corpus10m = spark.range(10000000).select(
      col("id").as("doc_id"),
      transform(sequence(lit(1), lit(docLen)), i =>
        concat(lit("w"), pmod(
          hash(seedExpr * lit(31) + i * 7919L).cast("long"),
          lit(vocabSize)))).as("w"))
      .persist()
    corpus10m.count() // materialize: measure the operator, not synth
    t("decontaminate 10M docs (3-gram, ~1% eval, broadcast)") {
      // at this scale the shingle is a 64-bit HASH, not a string:
      // the join key drops from ~15-byte strings to longs (composed
      // hash-of-hash per trigram — no concat string materialized)
      val m = greatest(size(col("w")) - 2, lit(0))
      val sh3 = array_distinct(zip_with(
        zip_with(slice(col("w"), lit(1), m), slice(col("w"), lit(2), m),
          (a, b) => xxhash64(a, b)),
        slice(col("w"), lit(3), m),
        (ab, cc) => xxhash64(ab, cc)))
      val sh = corpus10m.select(col("doc_id"), explode(sh3).as("s"))
      val eval = sh.filter(col("doc_id") % 97 === 0).select("s").distinct()
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(eval), "s")
        .groupBy("doc_id").agg(count(lit(1)))
        .count().toString + " contaminated docs"
    }
    t("bm25 10M docs (3 query terms, broadcast df)") {
      val tok = corpus10m.select(col("doc_id"), explode(col("w")).as("t"))
        .filter(col("t").isin("w1", "w17", "w4242"))
      val tf = tok.groupBy("doc_id", "t")
        .agg(count(lit(1)).cast("double").as("tf"))
      val df = tok.groupBy("t")
        .agg(countDistinct(col("doc_id")).cast("double").as("df"))
      val stats = corpus10m.agg(count(lit(1)).as("n_docs"),
        avg(size(col("w"))).as("avgdl"))
      val idf = log(lit(1.0) +
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
      val score = idf * (col("tf") * 2.2) / (col("tf") +
        lit(1.2) * (lit(0.25) + lit(0.75) * lit(docLen.toDouble) /
          col("avgdl")))
      tf.join(broadcast(df), "t").crossJoin(broadcast(stats))
        .groupBy("doc_id").agg(sum(score).as("s"))
        .orderBy(col("s").desc, col("doc_id")).limit(20)
        .count().toString + " top docs"
    }

    // sparse TF-IDF retrieval over a 2M-doc index — the q_sparse_knn
    // / q_rerank_fusion sparse channel. The index build (per-(doc,
    // term) tf ⋈ broadcast df — two linear corpus aggregates, the
    // pay-once cost at any scale) is SETUP; the timed claim is that
    // RETRIEVAL cost is bounded by the probe postings (Σ over probe
    // terms of that term's df — here 5 probes × ~20 terms over a 50k
    // vocab, avg df ≈ 800, so ~80k posting rows are touched out of
    // the 40M-row index), never corpus×corpus: probe vectors
    // broadcast, postings join map-side, one partial agg per
    // (probe, doc).
    val sparseLabel =
      "sparse tf-idf retrieval, 2M-doc index, 5 probes (postings-bounded)"
    // the index build is minutes of shuffle — skip it entirely when a
    // block filter excludes this label (setup must respect the same
    // predicate t() applies)
    if (args.isEmpty || args.exists(sparseLabel.contains(_))) {
      val wtIdx = {
        val tok = corpus10m.filter(col("doc_id") < 2000000)
          .select(col("doc_id"), explode(col("w")).as("t"))
        val tf = tok.groupBy("doc_id", "t")
          .agg(count(lit(1)).cast("double").as("tf"))
        val dfr = tok.groupBy("t")
          .agg(countDistinct(col("doc_id")).cast("double").as("df"))
        tf.join(broadcast(dfr), "t")
          .select(col("doc_id"), col("t"),
            (col("tf") * log(lit(2000000.0) / col("df"))).as("wt"))
          .persist()
      }
      wtIdx.count() // materialize the index: measure retrieval, not build
      t(sparseLabel) {
        val probes = broadcast(wtIdx.filter(col("doc_id") < 5)
          .select(col("doc_id").as("probe_id"), col("t"),
            col("wt").as("pwt")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("probe_id").orderBy(col("dp").desc, col("doc_id"))
        probes.join(wtIdx, Seq("t"))
          .filter(col("doc_id") =!= col("probe_id"))
          .groupBy("probe_id", "doc_id")
          .agg(sum(col("pwt") * col("wt")).as("dp"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .count().toString + " fused-channel results"
      }
      wtIdx.unpersist()
    }
    corpus10m.unpersist()

    // text-dedup family at 5M docs: the two shapes whose 100-TB claim
    // is "pairs come from bounded buckets, never corpus²". Shared
    // synthetic corpus: ~15-token docs, every 200th doc is one of 500
    // boilerplate templates (plus a per-doc salt token, so template
    // families are near- but not exact dups) — ~25k docs in 500
    // genuine near-dup families of ~50.
    val dedupDocs = {
      val isTmpl = col("id") % 200 === 0
      // family id = (id div 200) mod 500 → 500 families × ~50 docs
      // (id % 500 would alias to 5 families of 5000 — ids are
      // multiples of 200, and gcd(200,500)=100 eats the range)
      val seed = when(isTmpl, expr("(id div 200) % 500"))
        .otherwise(col("id"))
      spark.range(5000000).select(
        col("id").as("doc_id"),
        concat(
          transform(sequence(lit(1), lit(15)), i =>
            xxhash64(seed * 31 + i * 7919L)),
          array(when(isTmpl, xxhash64(col("id") * 13))
            .otherwise(xxhash64(col("id") * 17)))).as("toks"))
        .persist()
    }
    dedupDocs.count() // materialize: measure the operator, not synth
    val maxBucket = 1000

    // MinHash+LSH banding (q_dedup_minhash/q_dedup_clusters shape).
    // At scale the signature hash is xxhash64, not the oracle-compat
    // md5 hex-string min — same min-per-hash algebra, long keys
    // instead of 64-hex strings.
    t("minhash dedup + clusters 5M docs (8 sigs, 4 bands, cap)") {
      val wrds = dedupDocs.select(col("doc_id"),
        explode(array_distinct(col("toks"))).as("w"))
      val sigAggs = (0 until 8).map(i => min(xxhash64(lit(i), col("w")))
        .as(s"s$i"))
      val sigs = wrds.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
      val bandStructs = (0 until 4).map(j => struct(lit(j).as("k"),
        xxhash64(col(s"s${2 * j}"), col(s"s${2 * j + 1}")).as("bv")))
      val bands = sigs
        .select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
        .select(col("doc_id"), col("band.k").as("k"), col("band.bv").as("bv"))
        .withColumn("bsz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("k", "bv")))
        .filter(col("bsz") <= maxBucket)
      // no single-task hot bucket: the largest surviving bucket must be
      // a near-dup family (~50 docs + collision slack), nowhere near
      // the cap that would make one task emit O(cap²) pairs
      val largest = bands.groupBy("k", "bv").count()
        .agg(max(col("count"))).head().getLong(0)
      require(largest <= 200, s"hot bucket survived the cap: $largest")
      val cand = bands.as("a").join(bands.as("b"),
          col("a.k") === col("b.k") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct().persist()
      val nPairs = cand.count()
      val nodes = dedupDocs.select(col("doc_id"))
      val comps = graft.operators.Components
        .minLabel(nodes, "doc_id", cand, "doc_a", "doc_b")
        .filter(col("component") =!= col("doc_id")).count()
      cand.unpersist()
      s"$nPairs pairs, $comps non-canonical members"
    }

    // PPJoin prefix-filter similarity self-join (q_dedup_prefix shape):
    // df as a window on the token shuffle, prefix = rarest ~40% of each
    // doc's tokens, bucket-local pair generation, exact integer verify.
    t("ppjoin prefix dedup 5M docs (tau=0.6, bucket-local pairs)") {
      import org.apache.spark.sql.expressions.Window
      val toks = dedupDocs.select(col("doc_id"),
        explode(array_distinct(col("toks"))).as("s"))
      val ws = toks
        .withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
        .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      val pref = ws.filter(col("rn") <=
        col("sz") - expr("(6 * sz + 9) div 10") + 1)
      // prefix buckets are each doc's RAREST tokens: the biggest
      // bucket must stay family-sized, or one task pays O(bucket²)
      val hot = pref.groupBy("s").count().agg(max(col("count")))
        .head().getLong(0)
      require(hot <= 200, s"prefix bucket exceeded family size: $hot")
      val cand = pref
        .select(col("s"), struct(col("doc_id"), col("sz")).as("d"))
        .groupBy("s").agg(collect_list(col("d")).as("ds"))
        .select(explode(col("ds")).as("d1"), col("ds"))
        .select(col("d1"), explode(col("ds")).as("d2"))
        .filter(col("d1.doc_id") < col("d2.doc_id"))
        .select(col("d1.doc_id").as("doc_a"), col("d2.doc_id").as("doc_b"),
          col("d1.sz").as("sza"), col("d2.sz").as("szb"))
        .distinct()
      val inter = cand
        .join(toks.as("t1"), col("doc_a") === col("t1.doc_id"))
        .join(toks.as("t2"),
          col("doc_b") === col("t2.doc_id") && col("t1.s") === col("t2.s"))
        .groupBy("doc_a", "doc_b", "sza", "szb")
        .agg(count(lit(1)).as("n_inter"))
      inter.filter(lit(10) * col("n_inter") >=
          lit(6) * (col("sza") + col("szb") - col("n_inter")))
        .count().toString + " verified near-dup pairs"
    }
    dedupDocs.unpersist()

    // PPJoin under a BOILERPLATE-HOT corpus: 1M docs where 200k share
    // one template (per-doc salt keeps them near- not exact-dups) —
    // every template token's prefix bucket holds ~200k docs, which
    // uncapped means 200k-row agg buffers and ~2·10¹⁰ candidate
    // pairs from ONE bucket. The q_dedup_prefix bsz cap must drop
    // those buckets entirely: candidates then come only from the
    // 800k-doc diverse tail, and the whole join stays linear.
    t("ppjoin hot-bucket corpus 1M docs (200k boilerplate, capped)") {
      import org.apache.spark.sql.expressions.Window
      val isTmpl = col("id") % 5 === 0
      val hotDocs = spark.range(1000000).select(
        col("id").as("doc_id"),
        concat(
          transform(sequence(lit(1), lit(15)), i =>
            when(isTmpl, xxhash64(i * 7919L)) // one shared template
              .otherwise(xxhash64(col("id") * 31 + i * 7919L))),
          array(xxhash64(col("id") * 13))).as("toks"))
      val maxPrefixBucket = 100 // q_dedup_prefix's ceiling
      val toks = hotDocs.select(col("doc_id"),
        explode(array_distinct(col("toks"))).as("s"))
      val ws = toks
        .withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
        .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      val pref = ws.filter(col("rn") <=
          col("sz") - expr("(6 * sz + 9) div 10") + 1)
        .withColumn("bsz", count(lit(1)).over(Window.partitionBy("s")))
        .filter(col("bsz") <= maxPrefixBucket)
      val cand = pref
        .select(col("s"), struct(col("doc_id"), col("sz")).as("d"))
        .groupBy("s").agg(collect_list(col("d")).as("ds"))
        .select(explode(col("ds")).as("d1"), col("ds"))
        .select(col("d1"), explode(col("ds")).as("d2"))
        .filter(col("d1.doc_id") < col("d2.doc_id"))
        .select(col("d1.doc_id").as("doc_a"), col("d2.doc_id").as("doc_b"))
        .distinct()
      val nPairs = cand.count()
      // linearity proof: uncapped, the template bucket ALONE emits
      // C(200k,2) ≈ 2·10¹⁰ pairs; surviving buckets emit ≤ C(100,2)
      // each, and the diverse tail is salt-unique — candidates must
      // stay ≪ one hot bucket's quadratic output
      require(nPairs < 50000000L,
        s"hot-bucket quadratic blowup survived the cap: $nPairs pairs")
      s"$nPairs candidate pairs (template buckets dropped)"
    }

    // merge-on-read at 10M keys: base + 5 upsert deltas + a tombstone
    // batch, resolved by ONE key-partitioned window over the visible
    // directories — the read cost the CDC design note in Snapshots
    // claims. compactMerged then folds it to a live-rows base and the
    // post-compaction read drops to a single-directory scan.
    {
      val mergeDir = java.nio.file.Files
        .createTempDirectory("graft_scale_merge").resolve("t").toString
      val base = spark.range(10000000L)
        .select(col("id").as("k"), (col("id") * 3).as("v"))
      graft.sources.Snapshots.upsert(base, mergeDir)
      for (i <- 1 to 5)
        graft.sources.Snapshots.upsert(
          spark.range(10000000L).filter(col("id") % 100 === i)
            .select(col("id").as("k"), (col("id") * 7 + i).as("v")),
          mergeDir)
      graft.sources.Snapshots.delete(
        spark.range(10000000L).filter(col("id") % 50 === 49)
          .select(col("id").as("k")), mergeDir)
      t("merge-on-read 10M keys, 5 upsert deltas + tombstones") {
        graft.sources.Snapshots.readMerged(spark, mergeDir, "k")
          .count().toString + " live rows"
      }
      t("compactMerged 10M keys -> live-rows base") {
        graft.sources.Snapshots.compactMerged(spark, mergeDir, "k").toString
      }
      t("post-compaction merged read (single directory)") {
        graft.sources.Snapshots.readMerged(spark, mergeDir, "k")
          .count().toString + " live rows"
      }
    }

    // skymap at 50M detections, level 8 (65k cells): ONE two-phase
    // hash aggregate on the packed cell — the reduce side is 65k rows
    // no matter the input, which is the whole 100-TB argument
    t("skymap 50M dets, level 8") {
      val dets = spark.range(50000000L).select(
        (rand(31) * 360).as("lon"),
        degrees(asin(rand(37) * 2 - 1)).as("lat"))
      dets.select(graft.spatial.SkyPix.cell(col("lon"), col("lat"), 8)
          .as("cell"))
        .groupBy("cell").count().count().toString + " cells"
    }

    // union-window backward as-of: 50M events pick the latest of 5M
    // reference rows per key — ONE shuffle + one ordered scan over
    // |events|+|refs| per key partition; no per-row subquery ever
    t("asof join 50M events vs 5M refs, 100k keys") {
      import org.apache.spark.sql.expressions.Window
      val refs = spark.range(5000000L).select(
        (col("id") % 100000L).as("k"), (col("id") * 7 % 1000000L).as("t"),
        lit(0).as("src"), col("id").as("payload"))
      val evs = spark.range(50000000L).select(
        (col("id") % 100000L).as("k"), (col("id") * 13 % 1000000L).as("t"),
        lit(1).as("src"), lit(null).cast("long").as("payload"))
      val win = Window.partitionBy("k").orderBy(col("t"), col("src"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      refs.unionByName(evs)
        .withColumn("asof",
          last(when(col("src") === 0, col("payload")), ignoreNulls = true)
            .over(win))
        .filter(col("src") === 1 && col("asof").isNotNull)
        .count().toString + " matched events"
    }

    // sigma-clip at 20M epochs x 1M objects (~20 epochs each): the
    // window and the clipped aggregate share the object-key hash
    // partitioning — two shuffles total, per-partition sorts spill
    t("sigma-clip 20M epochs, 1M objects") {
      import org.apache.spark.sql.expressions.Window
      val eps = spark.range(20000000L).select(
        (col("id") % 1000000L).as("obj"),
        (rand(41) * 100 + when(col("id") % 97 === 0, 5000.0).otherwise(0.0))
          .as("flux"))
      val pw = Window.partitionBy("obj")
      val n = count(lit(1)).over(pw)
      val mu = sum(col("flux")).over(pw) / n
      val sd = sqrt(greatest(
        (sum(col("flux") * col("flux")).over(pw) - mu * mu * n) /
          (n - lit(1.0)), lit(0.0)))
      eps.withColumn("keep",
          n > 1 && abs(col("flux") - mu) <= lit(3.0) * sd)
        .groupBy("obj")
        .agg(count(lit(1)).as("n_total"),
          count(when(col("keep"), lit(1))).as("n_kept"))
        .filter(col("n_kept") < col("n_total"))
        .count().toString + " objects clipped"
    }
    // deep-field cross-match: 2M uniform detections + 100k crammed
    // into a ~0.02° pointing (a >=2000x hot blocking cell at ANY
    // plausible blocking level — the field must be smaller than one
    // cell for the "one monster cell" premise to hold; at the
    // original 0.5° a level-11 grid spread it over ~9 cells and the
    // block asserted on its own premise, not the mitigation). The
    // deep OBJECT count is kept at 1k: the hot-cell candidate count
    // is nA_cell x nB_cell, and the block must demonstrate skew
    // mitigation, not manufacture an unbounded quadratic blowup no
    // plan could absorb (100k x 1k = 100M hot candidates — a monster
    // task, not a disk-filling one). Asserts BOTH
    // halves of the claim: (1) the mitigated answer is row-identical
    // to the plain plan, (2) the largest per-task candidate bucket
    // shrinks by ~the salt factor, so no single task owns the field.
    locally {
      val uni = spark.range(2000000).select(
        col("id").as("det_id"),
        (rand(seed = 31) * 360).as("lon"),
        degrees(asin(rand(seed = 32) * 2 - 1)).as("lat"))
      val deep = spark.range(2000000, 2100000).select(
        col("id").as("det_id"),
        (lit(180.0) + rand(seed = 33) * 0.02).as("lon"),
        (lit(10.0) + rand(seed = 34) * 0.02).as("lat"))
      val dets = uni.unionByName(deep).persist()
      val objs = spark.range(500000).select(
        col("id").as("obj_id"),
        (rand(seed = 35) * 360).as("lon"),
        degrees(asin(rand(seed = 36) * 2 - 1)).as("lat"))
        .unionByName(spark.range(500000, 501000).select(
          col("id").as("obj_id"),
          (lit(180.0) + rand(seed = 37) * 0.02).as("lon"),
          (lit(10.0) + rand(seed = 38) * 0.02).as("lat"))).persist()
      dets.count(); objs.count()
      val r = 0.01
      val level = CrossMatch.levelFor(r)
      val salts = 16
      // 40k, not 50k: the 100k-det field straddles a sin-spaced lat
      // row boundary (~52k/48k split); the premise check must not sit
      // 5% from its own parameter
      val hotThreshold = 40000L
      t(s"deep-field xmatch 2.1M dets (100k in one cell) x 501k objs") {
        val plain = CrossMatch(dets, objs, "det_id", "lon", "lat",
          "obj_id", "lon", "lat", r, 1)
        val safe = CrossMatch.skewSafe(dets, objs, "det_id", "lon", "lat",
          "obj_id", "lon", "lat", r, 1, hotThreshold, salts)
        val diff = plain.exceptAll(safe).count() + safe.exceptAll(plain).count()
        require(diff == 0, s"skewSafe answer diverged by $diff rows")
        // work-bound: biggest (cell) A-population before vs biggest
        // (cell, salt) bucket after — the per-task candidate driver
        val cellOf = graft.spatial.SkyPix.cell(col("lon"), col("lat"), level)
        val hotBefore = dets.groupBy(cellOf.as("c")).count()
          .agg(max("count")).head().getLong(0)
        val hotAfter = dets.select(col("det_id"), cellOf.as("c"))
          .withColumn("s", pmod(xxhash64(col("det_id")), lit(salts.toLong)))
          .groupBy("c", "s").count().agg(max("count")).head().getLong(0)
        require(hotBefore > hotThreshold, s"field not hot: $hotBefore")
        require(hotAfter * (salts / 2) <= hotBefore,
          s"salting failed to spread the field: $hotBefore -> $hotAfter")
        f"${safe.count()} matches; hot cell $hotBefore rows -> " +
          f"max bucket $hotAfter (${salts}x salt)"
      }
      dets.unpersist(); objs.unpersist()
    }

    // exact quantiles at 24M rows / 3 groups — the A9 hot-group regime
    // that OOMs Spark's buffering percentile at scale. v = id² gives a
    // non-uniform value distribution AND an analytic ground truth
    // (group g sorted rank k ⇒ value (g+3k)²; exact in double < 2^53).
    // collectThreshold=1000 forces a second refinement pass; executor
    // aggregation state is ≤ ranges×bins counters (3×1024), never
    // row-linear, and the driver never holds >1000 rows per range.
    locally {
      import graft.functions.ExactQuantiles
      val nRows = 24000000L
      val qdf = spark.range(nRows).select((col("id") % 3).as("g"),
        (col("id") * col("id")).cast("double").as("v"))
      t("exact quantiles 24M rows, 3 hot groups (2-pass rank-select)") {
        val reqs = Seq(ExactQuantiles.Req("v", 0.25, "p25"),
          ExactQuantiles.Req("v", 0.50, "p50"),
          ExactQuantiles.Req("v", 0.90, "p90"))
        val (out, stats) = ExactQuantiles.computeWithStats(qdf, Seq("g"),
          reqs, bins = 1024, collectThreshold = 1000)
        val got = out.collect().map(r => r.getLong(0) -> r).toMap
        val nPer = nRows / 3
        for (g <- 0L until 3L; (p, i) <- Seq(0.25, 0.50, 0.90).zipWithIndex) {
          val h = p * (nPer - 1).toDouble
          val kLo = math.floor(h).toLong; val kHi = math.ceil(h).toLong
          def f(k: Long): Double = { val x = (g + 3 * k).toDouble; x * x }
          val want = if (kLo == kHi) f(kLo)
            else f(kLo) + (f(kHi) - f(kLo)) * (h - kLo)
          require(got(g).getDouble(1 + i) == want,
            s"g=$g p=$p: ${got(g).getDouble(1 + i)} != $want")
        }
        require(stats.histPasses >= 2, s"expected multi-pass: $stats")
        require(stats.maxRangeRows <= 1000, s"collect bound broken: $stats")
        s"exact, $stats"
      }
    }

    // zone-map pruning at directory depth: a year of ranged appends
    // (48 commits x 100k rows, contiguous id ranges), then a
    // narrow-range query. The pruned read must touch exactly ONE
    // snap= directory and agree row-for-row with the unpruned read —
    // the "one night out of ten years" scan-economics claim, held to
    // its correctness contract.
    {
      import graft.sources.Snapshots
      val root = java.nio.file.Files
        .createTempDirectory("graft_scale_zone").resolve("t").toString
      val per = 100000L
      t("zone-map: 48 ranged appends x 100k rows") {
        for (i <- 0L until 48L) {
          Snapshots.append(
            spark.range(i * per, (i + 1) * per).select(col("id"),
              (col("id") % 1000).as("payload")),
            root, statsCols = Seq("id"))
        }
        s"${Snapshots.committed(spark, root).size} commits"
      }
      t("zone-map: narrow range over 4.8M rows") {
        val lo = 17L * per + 250
        val hi = lo + 1000
        val pruned = Snapshots
          .readPruned(spark, root, "id", lo.toDouble, hi.toDouble)
          .filter(col("id").between(lo, hi))
        val dirs = pruned.inputFiles
          .map(_.replaceAll(".*/(snap=\\d+)/.*", "$1")).distinct
        require(dirs.sameElements(Array("snap=18")),
          s"expected one directory, scanned: ${dirs.mkString(",")}")
        val n = pruned.count()
        val full = Snapshots.read(spark, root)
          .filter(col("id").between(lo, hi)).count()
        require(n == full && n == 1001, s"pruned $n vs full $full")
        s"$n rows from ${dirs.length}/48 dirs"
      }
    }

    // bloom pruning at directory depth: 48 appends whose RUN-ID sets
    // are disjoint but INTERLEAVED (run_id = slot*48 + shard), so
    // every append's zone map spans essentially the full run-id range
    // and range pruning is structurally useless — yet a point lookup
    // ("this run's history") must hit exactly the one directory whose
    // bloom admits the key. 100 runs/append keeps the 4096-bit bloom
    // far from saturation (the documented design point).
    {
      import graft.sources.Snapshots
      val root = java.nio.file.Files
        .createTempDirectory("graft_scale_bloom").resolve("t").toString
      val per = 100000L
      t("bloom: 48 keyed appends x 100k rows, interleaved run ids") {
        for (i <- 0L until 48L) {
          Snapshots.append(
            spark.range(i * per, (i + 1) * per).select(col("id"),
              ((col("id") % 100) * 48 + i).as("run_id")),
            root, statsCols = Seq("run_id"), bloomCols = Seq("run_id"))
        }
        s"${Snapshots.committed(spark, root).size} commits"
      }
      t("bloom: point lookup over 4.8M rows") {
        val probe = 1742L // = 36*48 + 14 -> lives only in append 15
        // premise: the zone maps genuinely cannot prune this probe
        val zs = Snapshots.entries(spark, root)
          .flatMap(_.stats.get("run_id"))
        require(zs.size == 48 &&
          zs.forall { case (mn, mx) => mn <= probe && probe <= mx },
          "premise broken: probe escapes some zone range")
        val pruned = Snapshots.readPrunedKey(spark, root, "run_id", probe)
          .filter(col("run_id") === probe)
        val dirs = pruned.inputFiles
          .map(_.replaceAll(".*/(snap=\\d+)/.*", "$1")).distinct
        require(dirs.contains("snap=15") && dirs.length <= 2,
          s"expected ~one directory, scanned: ${dirs.mkString(",")}")
        val n = pruned.count()
        val full = Snapshots.read(spark, root)
          .filter(col("run_id") === probe).count()
        require(n == full && n == 1000, s"pruned $n vs full $full")
        s"$n rows from ${dirs.length}/48 dirs"
      }
    }

    // Gram matrix over 1M × 64-d float vectors (500× the bench corpus):
    // the GramUpperTri typed Aggregator does 2080 decimal-snapped
    // products per row in a JVM loop with O(d²) partition state — the
    // whole pass is map-side partial aggregation, so wall-clock scales
    // with rows/cores and the merge tree is depth-log(partitions).
    {
      import org.apache.spark.sql.types.FloatType
      val vecs = spark.range(1000000).select(
        transform(sequence(lit(0), lit(63)),
          j => (((col("id") * 31 + j * 7) % 1000) / lit(1000.0))
            .cast(FloatType))
          .as("v"))
      val gram = udaf(new graft.functions.Aggregators.GramUpperTri(64))
      t("gram matrix 1M x 64-d (2080 snapped terms/row)") {
        val got = vecs.repartition(64)
          .agg(gram(col("v")).as("g"))
          .select(col("g")).head().getSeq[Double](0).toArray
        require(got.length == 2080,
          s"expected 2080 upper-triangle cells, got ${got.length}")
        // Numeric gate, not just shape: the generator is periodic in
        // id with period 1000 (gcd(31,1000)=1), so the 1M-row Gram is
        // EXACTLY 1000× the 1000-row Gram — replicate the aggregator's
        // own reduce over one period driver-side (2M products) and
        // demand cell-for-cell equality. A regression in the snap6
        // fast path now fails this smoke instead of passing on size.
        val ref = new graft.functions.Aggregators.GramUpperTri(64)
        val buf = ref.zero
        var id = 0L
        while (id < 1000L) {
          val v = Array.tabulate(64)(j =>
            (((id * 31 + j * 7) % 1000) / 1000.0).toFloat)
          ref.reduce(buf, v)
          id += 1
        }
        val want = buf.map(m =>
          java.math.BigDecimal.valueOf(1000L * m, 6).doubleValue)
        var i = 0
        while (i < 2080) {
          require(got(i) == want(i),
            s"gram cell $i: got ${got(i)}, want ${want(i)}")
          i += 1
        }
        s"2080 cells, all bit-equal to 1000x one-period reference"
      }
    }

    // media codec fan-out: 200k PNG encode→decode round trips (40× the
    // bench corpus) through the per-partition codec loop — bounded
    // per-row cost, zero shuffle; proves the ImageIO path doesn't
    // serialize under 32-way partition parallelism.
    {
      t("png round-trip 200k images (16x9 max)") {
        import spark.implicits._
        val n = spark.range(200000).as[Long]
          .repartition(64)
          .mapPartitions(_.map { id =>
            val w = (4 + id % 13).toInt
            val h = (3 + id % 7).toInt
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val v = ((id * 31 + x * 7 + y * 13) % 256).toInt
                img.setRGB(x, y, (v << 16) | (v << 8) | v)
                x += 1
              }
              y += 1
            }
            val dec = graft.multimodal.Multimodal.MediaCodec
              .decodeImage(graft.multimodal.Multimodal.MediaCodec
                .encodePng(img)).get
            dec.getWidth.toLong * dec.getHeight
          }).agg(sum("value")).head().getLong(0)
        s"pixel total $n"
      }
    }

    // PQ ANN at 1M x 64-d: train (2 Lloyd's rounds over the exploded
    // (subspace, code, pos) relation — the expensive part, N×m×dsub
    // rows per round), map-only encode to 8 codes/vector, ADC search
    // for a 16-probe batch with exact re-rank. The point: the code
    // table the search scans is 8 ints/row (vs 64 floats), the LUT is
    // broadcast, and nothing shuffles before the per-probe top-k.
    {
      import org.apache.spark.sql.types.FloatType
      val vecs = spark.range(1000000).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          j => ((((col("id") % 64) * 41 + j * 11) % 191) / lit(191.0) +
            (((col("id") * 29 + j * 3) % 97) / lit(970.0)))
            .cast(FloatType))
          .as("v"))
      t("pq ann 1M x 64-d: train(2 rounds) + encode + search 16 probes") {
        val cb = graft.vector.PqIndex.train(vecs, "vec_id", "v",
          m = 8, ksub = 16, iters = 2)
        val encoded = graft.vector.PqIndex
          .assignCodes(vecs, "v", cb).persist()
        encoded.count() // materialize the encode pass
        val probes = vecs.filter(col("vec_id") % 62500 === 7)
          .select(col("vec_id"), col("v"))
        val hits = graft.vector.PqIndex.search(cb, encoded, vecs,
          "vec_id", "v", probes, "vec_id", "v",
          topK = 10, rerank = 200).count()
        encoded.unpersist()
        require(hits == 160, s"expected 16 probes x 10, got $hits")
        s"$hits results"
      }
    }

    // Connected-components small-graph fast path vs iterative loop on
    // the SAME 200k-edge sparse random graph (symmetrized ~400k, under
    // the 500k cap; average degree ~1.3 gives long thin components —
    // the many-round worst case for label propagation and exactly the
    // regime the one-collect union-find shortcut targets).
    {
      val ccn = spark.range(300000).select(col("id"))
      val cce = spark.range(200000).select(
        abs(xxhash64(col("id")) % 300000).as("a"),
        abs(xxhash64(col("id") + 7777777) % 300000).as("b"))
      t("cc 200k edges: driver union-find fast path") {
        graft.operators.Components.minLabel(ccn, "id", cce, "a", "b")
          .select(countDistinct(col("component"))).head().getLong(0) +
          " components"
      }
      // id-random near-critical graph: measured 36 neighbor-min rounds
      // (diameter-tracking — no id-locality for pointer jumping to
      // exploit), so the DEFAULT 30-round budget exhausts and the loop
      // escalates to large-star/small-star mid-flight. This block
      // exercises exactly that handoff at scale.
      t("cc 200k edges: iterative loop + LSS escalation (fast path disabled)") {
        val (df, rounds) = graft.operators.Components.minLabelWithRounds(
          ccn, "id", cce, "a", "b", smallGraphEdges = 0L)
        df.select(countDistinct(col("component"))).head().getLong(0) +
          s" components in $rounds rounds (incl. escalation)"
      }
    }

    // Bloom-prefiltered join at 10× bench scale: 20M-row probe vs a
    // 200k-key build side (every 50th key of the 10M key space, each
    // key on 2 probe rows → 400k true matches). The headline is the
    // SELECTIVITY the probe filter achieves before any shuffle:
    // passed rows ≈ 400k true + ~1% fpp of the other 19.6M.
    {
      val probe = spark.range(20000000).select(
        col("id").as("pk"), (col("id") % 10000000L).as("key"))
      val build = spark.range(200000).select(
        (col("id") * 50L).as("bkey")) // every 50th key of 10M
      t("bloom prefilter 20M probe x 200k build (fpp 1%)") {
        val kept = graft.functions.BloomPrefilter.prefilter(
          probe, col("key"), build, col("bkey")).count()
        val trueMatches = probe.join(build,
          col("key") === col("bkey"), "left_semi").count()
        f"$kept%d kept vs $trueMatches%d true (${
          kept.toDouble / trueMatches}%.3fx)"
      }
    }

    // Z-order layout at 2M rows: write 64 z-clustered files over a
    // 2-D key space, then a 1%-per-dim box — the manifest must prune
    // nearly everything.
    {
      val dir = java.nio.file.Files.createTempDirectory("smoke_z").toString
      val zdf = spark.range(2000000).select(
        col("id"),
        abs(xxhash64(col("id")) % 100000L).as("x"),
        abs(xxhash64(col("id") + 99) % 100000L).as("y"))
      t("zorder write 2M rows, 64 files + manifest") {
        graft.sources.ZOrderLayout.write(zdf, "x", "y", dir, files = 64)
        "written"
      }
      t("zorder 10%x10% box read (files pruned)") {
        val (sel, total) = graft.sources.ZOrderLayout.selectFiles(
          spark, dir, 40000, 50000, 40000, 50000)
        val n = graft.sources.ZOrderLayout.read(
            spark, dir, 40000, 50000, 40000, 50000)
          .filter(col("x").between(40000, 50000) &&
            col("y").between(40000, 50000)).count()
        val want = zdf.filter(col("x").between(40000, 50000) &&
          col("y").between(40000, 50000)).count()
        require(n == want, s"zorder box mismatch: $n vs $want")
        s"${sel.length} of $total files, $n rows exact"
      }
    }

    // PageRank at 4M directed edges (2M undirected), 10 rounds — the
    // iterative join+agg shape of q_pagerank an order past bench SF.
    {
      val ed = spark.range(2000000).select(
        abs(xxhash64(col("id")) % 500000L).as("a"),
        abs(xxhash64(col("id") + 31337) % 500000L).as("b"))
        .filter(col("a") =!= col("b"))
      val edges = ed.select(col("a").as("src"), col("b").as("dst"))
        .union(ed.select(col("b").as("src"), col("a").as("dst")))
        .distinct().localCheckpoint()
      val deg = edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
      val edges2 = edges.join(deg, edges("src") === deg("node"))
        .select(col("src"), col("dst"), col("deg").as("src_deg"))
        .repartition(col("src")).localCheckpoint()
      t("pagerank 4M directed edges, 500k nodes, 10 rounds") {
        val n = deg.count()
        var pr = deg.select(col("node"))
          .withColumn("r", lit(1.0) / n.toDouble)
        for (_ <- 1 to 10) {
          pr = pr.join(edges2, edges2("src") === pr("node"))
            .select(col("dst"), (col("r") / col("src_deg")
              .cast("double")).cast("decimal(38,20)").as("c"))
            .groupBy("dst").agg(sum(col("c")).cast("double").as("s"))
            .select(col("dst").as("node"),
              (lit(0.15) / n.toDouble + lit(0.85) * col("s")).as("r"))
        }
        val top = pr.orderBy(col("r").desc, col("node")).limit(5)
          .collect()
        f"top rank ${top.head.getDouble(1)}%.2e over $n nodes"
      }
    }

    // Custom physical operator A/B: per-group top-3 of 20M rows over
    // 100k groups — the TopKPerGroup heaps (shuffle k·groups rows)
    // against the built-in window row_number (shuffle + sort ALL
    // rows). Same result set asserted.
    {
      val tk = spark.range(20000000).select(
        col("id"), abs(xxhash64(col("id")) % 100000L).as("g"),
        (xxhash64(col("id") + 3) % 1000000L).cast("double").as("v"))
      t("topk-per-group 20M rows, 100k groups, k=3: window form") {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("v").desc, col("id"))
        tk.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3).count() + " rows"
      }
      t("topk-per-group 20M rows, 100k groups, k=3: custom operator") {
        graft.plans.TopKPerGroup(tk, Seq("g"),
          Seq("v" -> true, "id" -> false), 3).count() + " rows"
      }
    }

    // BPE merge-chain scaling: the q_bpe_train round algebra on a
    // 1M-word synthetic vocabulary (corpus-independent — the chain
    // only ever sees the word-frequency table, so this IS the 100-TB
    // regime where vocab ≪ corpus). Words are 8-char base-20 codes →
    // ~8M symbol occurrences per round pass; asserts the argmax is
    // exact and each round strictly shrinks total symbol mass by the
    // winning pair count (the BPE conservation law: every merged
    // occurrence removes exactly one symbol).
    {
      val sep = "\u0001"
      val sepd = sep + sep
      val letters = array(('a' to 't').map(ch => lit(ch.toString)): _*)
      val vocab1m = spark.range(1000000).select(
        concat(lit(sepd), concat_ws(sepd, (0 until 8).map(i =>
          element_at(letters,
            (pmod(xxhash64(col("id") + lit(i * 7)), lit(20)) + 1)
              .cast("int"))): _*), lit(sepd)).as("w"),
        (pmod(xxhash64(col("id") + 99), lit(1000)) + 1).as("cnt"))
        .localCheckpoint()
      t("bpe merge chain on 1M-word vocab, 3 rounds") {
        def mass(df: org.apache.spark.sql.DataFrame): Long =
          df.select(sum(size(filter(split(col("w"), sepd),
            x => x =!= "")) * col("cnt"))).head().getLong(0)
        var w = vocab1m
        var m0 = mass(w)
        val first = m0
        for (_ <- 1 to 3) {
          val syms = filter(split(col("w"), sepd), x => x =!= "")
          val n1 = size(col("syms")) - 1
          val best = w.select(syms.as("syms"), col("cnt"))
            .select(explode(zip_with(
              slice(col("syms"), lit(1), n1), slice(col("syms"), lit(2), n1),
              (a, b) => struct(a.as("l"), b.as("r")))).as("p"), col("cnt"))
            .groupBy(col("p.l").as("l"), col("p.r").as("r"))
            .agg(sum(col("cnt")).as("c"))
            .orderBy(col("c").desc, col("l"), col("r")).limit(1)
          val bestRow = best.head()
          val (bl, br, c) = (bestRow.getString(0), bestRow.getString(1),
            bestRow.getLong(2))
          w = w.crossJoin(broadcast(best.select(col("l"), col("r"))))
            .select(org.apache.spark.sql.functions.replace(col("w"),
              concat(lit(sep), col("l"), lit(sepd), col("r"), lit(sep)),
              concat(lit(sep), col("l"), col("r"), lit(sep))).as("w"),
              col("cnt")).localCheckpoint()
          val m1 = mass(w)
          // conservation: each merge removes one symbol. For l != r,
          // occurrences can't overlap → mass drops by EXACTLY the
          // pair count; for l == r, a run of length m counts m-1
          // pairs but merges floor(m/2) times → drop in [c/2, c].
          val removed = m0 - m1
          if (bl != br)
            assert(removed == c, s"mass $m0 - $c != $m1 for ($bl,$br)")
          else
            assert(removed >= (c + 1) / 2 && removed <= c,
              s"self-pair ($bl,$bl): removed $removed outside [${(c + 1) / 2}, $c]")
          m0 = m1
        }
        s"symbol mass $first -> $m0 over 3 rounds (conservation exact)"
      }
    }

    // ---- model-eval family: the VALUE-DOMAIN claim at 10M rows.
    // q_auc/q_cv_auc/q_pr_curve group the corpus by the d6-snapped
    // score; the windows then run over the DISTINCT-score relation.
    // The claim that makes this 100-TB-safe: that relation is bounded
    // by the score grid (≤ ~1e6 points on [0,1]), NOT by N.
    t("value-domain AUC over 10M rows (grid-bounded group count)") {
      val n = 10000000L
      val rows = spark.range(n).select(
        // score: d6 snap of a dense pseudo-uniform — the worst case
        // for the grid bound (every grid point populated)
        Det.d6((col("id") % 1000003L).cast("double") / 1000003.0)
          .as("score"),
        (col("id") % 7 === 0).cast("long").as("y"))
      val grouped = rows.groupBy("score")
        .agg(sum(col("y")).as("pos"),
          (count(lit(1)) - sum(col("y"))).as("neg"))
        .localCheckpoint()
      val distinctScores = grouped.count()
      assert(distinctScores <= 1000004L,
        s"value domain exceeded the grid bound: $distinctScores")
      val wBelow = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      val auc = grouped
        .withColumn("cum_neg",
          coalesce(sum(col("neg")).over(wBelow), lit(0L)))
        .agg((sum(col("pos").cast(DecimalType(19, 0)) *
          (lit(2L) * col("cum_neg") + col("neg"))
            .cast(DecimalType(19, 0))).cast("double") /
          ((lit(2.0) * sum(col("pos")).cast("double")) *
            sum(col("neg")).cast("double"))).as("auc"))
        .head().getDouble(0)
      assert(auc > 0.0 && auc < 1.0, s"degenerate AUC $auc")
      f"$distinctScores%d distinct scores (grid-bounded), auc $auc%.4f"
    }

    // ---- Poisson bootstrap: B replicates are map-side WEIGHT
    // columns, never resampling shuffles — per-replicate state is
    // O(1), so 10M × 21 explode reduces to exactly 21 rows and the
    // weight ladder is mean-1 (each replicate ~resamples n rows).
    t("Poisson bootstrap 10M x 21 replicates, map-side reduce") {
      val cdf = Seq(0.367879, 0.735759, 0.919699, 0.981012,
        0.996340, 0.999406, 0.999917, 0.999990)
      val rep = spark.range(10000000L)
        .withColumn("b", explode(sequence(lit(0), lit(20))))
      val h2 = (((((col("id") % 2147483647L) * 16807L) % 2147483647L
        + col("b")) * 16807L) % 2147483647L) * 16807L % 2147483647L
      val u = h2.cast("double") / 2147483647.0
      val ladder = cdf.zipWithIndex.foldRight(lit(8): Column) {
        case ((c, k), rest) => when(u < c, k).otherwise(rest)
      }
      val means = rep
        .withColumn("w", when(col("b") === 0, 1).otherwise(ladder))
        .groupBy("b").agg(count(lit(1)).as("n"), sum(col("w")).as("sw"))
        .collect()
      assert(means.length == 21, s"expected 21 replicates: ${means.length}")
      val ratios = means.filter(_.getInt(0) > 0).map(r =>
        r.getLong(2).toDouble / r.getLong(1))
      // Poisson(1) weights: every replicate's total weight ≈ n
      assert(ratios.forall(r => r > 0.99 && r < 1.01),
        s"weight mass off unity: ${ratios.min} .. ${ratios.max}")
      f"21 replicates, weight-mass ratios ${ratios.min}%.4f..${ratios.max}%.4f"
    }

    // streaming replay at 10M events over MULTIPLE micro-batches:
    // the oracle-gated replays run single-batch (determinism); this
    // smoke drives the same pipeline through 4+ batches so watermark
    // advancement, state carry-over and cross-batch late-drop all
    // actually execute at scale. State stays O(open windows).
    {
      val sdir = java.nio.file.Files
        .createTempDirectory("smoke_stream").toString + "/ev"
      lazy val setup = {
        spark.range(10000000L).select(
          col("id").as("event_id"),
          (col("id") % 100000L).as("user_id"),
          timestamp_micros(lit(1700000000000000L) +
            (col("id") % 5000000L) * 1000000L).as("ts"),
          rand(seed = 8).as("value"))
          .repartition(8).write.mode("overwrite").parquet(sdir)
        sdir
      }
      t("streaming tumbling replay, 10M events, 4 micro-batches") {
        val d = setup
        val stream = spark.readStream
          .schema(spark.read.parquet(d).schema)
          .option("maxFilesPerTrigger", "2") // force multi-batch
          .parquet(d)
          .select(col("ts"), col("value"))
        val out = graft.streaming.StreamOps
          .tumblingAggExact(stream, "1 hour", "1 hour")
        val q = out.writeStream.format("memory")
          .queryName("smoke_stream_replay").outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val n = spark.table("smoke_stream_replay").count()
        assert(n > 0, "no windows finalized")
        s"$n closed windows"
      }
    }

    // optimistic multi-writer: 8 concurrent appenders, 1M rows each —
    // the heavy writes overlap freely (unlocked staging), commits
    // queue for the milliseconds-long critical section. Asserts no
    // lost commits, sequential ids, and the full row count.
    t("optimistic commits: 8 writers x 1M rows") {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_scale_oc").resolve("t").toString
      val start = new java.util.concurrent.CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val retries = new java.util.concurrent.atomic.AtomicLong(0)
      val threads = (0 until 8).map { i =>
        new Thread(() => {
          try {
            start.await()
            val df = spark.range(i * 1000000L, (i + 1) * 1000000L)
              .select(col("id"), (col("id") % 97).as("k"))
            val c = graft.sources.Snapshots.appendOptimistic(df, dir)
            retries.addAndGet(c.retries.toLong)
          } catch { case e: Throwable => errs.add(e) }
        })
      }
      threads.foreach(_.start()); start.countDown()
      threads.foreach(_.join(300000))
      assert(errs.isEmpty, s"writer failures: ${errs.toArray.toSeq}")
      val ids = graft.sources.Snapshots.committed(spark, dir)
      assert(ids == (1L to 8L), s"ids $ids")
      val n = graft.sources.Snapshots.read(spark, dir).count()
      assert(n == 8000000L, s"lost rows: $n")
      s"8 commits, $n rows, ${retries.get()} total lock retries"
    }

    // e2e pipeline composition (q_pipeline_e2e shape) at 5M docs —
    // the INTEGRATION claim scale-evidenced like the dedup family:
    // gate → exact-dedup keep-best → split → packing stays ONE corpus
    // scan + exactly 2 semantic shuffles (signature agg, pack window)
    // when the corpus is 50× the bench table. Docs land on parquet
    // first so the one-FileScan assertion is the real storage shape.
    t("pipeline e2e 5M docs (gate->dedup->split->pack, 1 scan, 2 shuffles)") {
      val pipeDir = s"${sys.props("java.io.tmpdir")}/graft_scale_pipe"
      if (!new java.io.File(s"$pipeDir/_SUCCESS").exists()) {
        // ~500 dup families of 50 via a shared token seed; the rest
        // unique. Tokens are short hash words so the gate's dup/alpha
        // signals vary without carrying real text at 5M rows.
        val isTmpl = col("id") % 200 === 0
        val seed = when(isTmpl, expr("(id div 200) % 500"))
          .otherwise(col("id"))
        spark.range(5000000).select(
          col("id").as("doc_id"),
          concat(lit("src"), col("id") % 7).as("source"),
          (col("id") % 997 + 20).as("n_chars"),
          transform(sequence(lit(1), lit(12)), i =>
            concat(lit("w"), pmod(xxhash64(seed * 31 + i * 7919L),
              lit(5000)))).as("toks"))
          .write.mode("overwrite").parquet(pipeDir)
      }
      val docs = spark.read.parquet(pipeDir)
      val w = col("toks")
      val nTok = size(w).cast("long")
      val dupFrac = (size(w) - size(array_distinct(w))).cast("double") /
        size(w)
      val gated = docs.select(col("doc_id"), col("source"), col("n_chars"),
          nTok.as("n_tokens"), dupFrac.as("dup_frac"),
          md5(array_join(array_sort(array_distinct(w)), " ")).as("sig"))
        .filter(col("n_tokens") >= 5 && col("dup_frac") <= 0.3)
      val sc = col("n_chars") * 1000000000L - col("doc_id")
      val best = gated.groupBy("sig")
        .agg(max_by(col("doc_id"), sc).as("doc_id"),
          max_by(col("source"), sc).as("source"),
          max_by(col("n_tokens"), sc).as("n_tokens"),
          count(lit(1)).as("n_members"))
      val bucket =
        ((col("doc_id") % 2147483647L) * 1103515245L + 12345L) % 100
      val sp = best.withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test"))
      val pw = Window.partitionBy("source", "split").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val packed = sp
        .withColumn("start_tok", sum("n_tokens").over(pw) - col("n_tokens"))
        .select(col("doc_id"), col("source"), col("split"),
          col("n_members"), col("n_tokens"),
          floor(col("start_tok") / 2048).as("seq_id"),
          (col("start_tok") % 2048).as("seq_offset"))
      val n = packed.count()
      // count() prunes columns but not operators: the executed plan
      // still carries every stage's exchanges and the corpus scan
      val plan = packed.queryExecution.executedPlan.toString
      val scans = "FileScan".r.findAllIn(plan).size
      val shuffles = "Exchange (hash|range)partitioning".r
        .findAllIn(plan).size
      assert(scans == 1, s"composition re-scanned the corpus: $scans\n" +
        plan.take(2000))
      assert(shuffles <= 2, s"stage composition added shuffles: " +
        s"$shuffles\n${plan.take(2000)}")
      // dedup really happened: ~500 families of 25 gated... members
      // collapse to one kept doc each, so kept < gated
      val kept = n
      s"$kept packed docs, $scans scan, $shuffles shuffles"
    }

    // bounded QL read over a stored layout: the round-18 bounds
    // surface at 5M detections — the claim is PHYSICAL (untouched sky
    // is never opened), so assert on the files the executed scan
    // actually read, plus row identity against the raw predicate twin
    val qlbDir = s"${sys.props("java.io.tmpdir")}/graft_smoke_qlbounds"
    t("bounded QL (cone+time) over a 5M-det layout: prune + identity") {
      import graft.spatial.{Bounds, TimeInterval}
      val dets5 = spark.range(5000000).select(
        col("id"),
        (rand(seed = 31) * 360).as("lon"),
        degrees(asin(rand(seed = 32) * 2 - 1)).as("lat"),
        timestamp_seconds(lit(1704067200L) + (col("id") % 2592000L))
          .as("ts")) // one month of seconds
      graft.sources.CacheKeys.writeOnceAt(qlbDir) { root =>
        graft.sources.SpatialWriter.write(dets5, "lon", "lat", 4,
          s"$root/dets.parquet")
      }
      val ql = graft.ql.LsdQL(graft.LsdDb(spark, qlbDir), Nil,
        timeKeys = Map("dets" -> "ts"))
      val cone = Bounds.Cone(210.1234, 12.6543, 9.8765)
      val ti = TimeInterval("2024-01-05 06:30:00", "2024-01-19 18:45:00")
      val bounded = ql.query("SELECT id, lon, lat, ts FROM dets", cone, ti)
      val got = bounded.count()
      // raw twin: same predicates over the unpruned frame
      val want = dets5.filter(cone.predicate(col("lon"), col("lat")))
        .filter(ti.predicate(col("ts"))).count()
      assert(got == want, s"bounded read dropped/added rows: $got != $want")
      // physical pruning: the bound must surface as directory-level
      // PartitionFilters (the plan's promise), and the candidate∩
      // present set — what such a scan opens — must be a strict
      // subset of the stored cells (the filesystem's answer; the
      // FootprintCli measurement)
      // the DISCRIMINATING prefix form: a no-pruning plan still prints
      // "PartitionFilters: []" with cell in the output list, so a
      // contains(cell) && contains(PartitionFilters) check is vacuous
      val plan = bounded.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [cell"),
        s"bound did not prune directories:\n${plan.take(2000)}")
      val candidate = cone.cells(4).toSet
      val stored = new java.io.File(s"$qlbDir/dets.parquet")
        .listFiles().map(_.getName).filter(_.startsWith("cell="))
        .map(_.stripPrefix("cell=").toLong).toSet
      val opened = candidate & stored
      assert(opened.size < stored.size,
        s"no directory pruning: ${opened.size} of ${stored.size}")
      s"$got rows, scan ${opened.size}/${stored.size} cell dirs"
    }

    spark.stop()
  }
}
