package graft.vector

import graft.{LsdDb, SpecBase}
import graft.functions.VectorKernels
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class AnnIndexSpec extends SpecBase {

  private lazy val emb = LsdDb.table(spark, sfDir, "embeddings")

  test("IVF search recall vs brute force on real embeddings") {
    val (cents, assigned) = AnnIndex.build(emb, "vec_id", "embedding", k = 16)
    assigned.persist()
    val probes = emb.select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 20)

    val got = AnnIndex.search(cents, assigned, probes,
      "vec_id", "embedding", topK = 10, nprobe = 6)
      .select("probe_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    // brute-force ground truth
    val v = emb.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", VectorKernels.norm2(col("v")))
    val p = v.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val truth = broadcast(p).join(v, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        VectorKernels.cosine(VectorKernels.dot(col("pv"), col("v")),
          col("pn"), col("nrm")).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("probe_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    val recalls = truth.map { case (pid, t) =>
      got.getOrElse(pid, Set.empty).intersect(t).size.toDouble / t.size
    }
    val meanRecall = recalls.sum / recalls.size
    // nprobe 6 of 16 cells scans ~38% of the corpus; random 64-d
    // embeddings are a worst case for IVF, so the bar is modest —
    // the point is the plumbing and the recall/cost dial, not SOTA
    assert(meanRecall >= 0.4, s"mean recall@10 = $meanRecall")
    // sanity: searching ALL cells must equal brute force exactly
    val full = AnnIndex.search(cents, assigned, probes,
      "vec_id", "embedding", topK = 10, nprobe = 16)
      .select("probe_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(full == truth, "nprobe = k must reduce to exact search")
    assigned.unpersist()
  }

  test("clustered corpus, ids sorted by cluster: scattered init keeps recall") {
    // The adversarial layout for seed selection: 64 well-separated
    // clusters whose ids are CLUSTER-MAJOR (ingest order ≈ cluster
    // order, the common real-world case) quantized to k=16 cells.
    // First-k-by-id seeding puts every seed in cluster 0; scattered
    // seeding spreads them, so cells stay near the ideal 4-clusters-
    // per-cell packing.
    val rnd = new scala.util.Random(7)
    val d = 64
    val rows = (0 until 6400).map { id =>
      val c = id / 100 // cluster-major ids, 64 clusters
      val v = Array.tabulate(d)(j =>
        (if (j == c) 1.0f else 0.0f) + (rnd.nextFloat() - 0.5f) * 0.1f)
      (id.toLong, v.toSeq)
    }
    import spark.implicits._
    val corpus = rows.toDF("vec_id", "embedding")
    val (cents, assigned) =
      AnnIndex.build(corpus, "vec_id", "embedding", k = 16, iters = 4)
    // every probe: one id from each cluster (the 7th point)
    val probes = corpus.filter(col("vec_id") % 100 === 7)
    val got = AnnIndex.search(cents, assigned, probes,
      "vec_id", "embedding", topK = 10, nprobe = 4)
      .select("probe_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val v = corpus.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", VectorKernels.norm2(col("v")))
    val p = v.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val truth = broadcast(p).join(v, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        VectorKernels.cosine(VectorKernels.dot(col("pv"), col("v")),
          col("pn"), col("nrm")).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("probe_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = truth.map { case (pid, t) =>
      got.getOrElse(pid, Set.empty).intersect(t).size.toDouble / t.size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.9,
      s"clustered-corpus mean recall@10 = $meanRecall")
    // Recall alone cannot catch a seeding regression here: merged
    // cells route probe AND neighbors identically, so recall stays
    // high while the SCAN COST balloons. The discriminating property
    // is cell balance — ideal 400/cell; measured max is 600 with
    // scattered seeding vs 800 with first-k-by-id (both exactly
    // reproducible: fixed data seed, deterministic k-means). The 700
    // bar separates the two regimes.
    val sizes = assigned.groupBy("cell").count().collect()
      .map(_.getLong(1))
    assert(sizes.max <= 700,
      s"oversized IVF cell (seeding regression?): ${sizes.sorted.mkString(",")}")
  }

  test("build is deterministic (same centroids across builds)") {
    val (c1, _) = AnnIndex.build(emb, "vec_id", "embedding", k = 8, iters = 2)
    val (c2, _) = AnnIndex.build(emb, "vec_id", "embedding", k = 8, iters = 2)
    assert(c1.map(_._2.toSeq).toSeq == c2.map(_._2.toSeq).toSeq)
  }

  test("materialized index: disk search == in-memory search, pruned scan") {
    val (cents, assigned) = AnnIndex.build(emb, "vec_id", "embedding", k = 16)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString +
      "/idx"
    AnnIndex.writeIndex(path, cents, assigned)
    // layout: one directory per cell — the centroid count bounds them
    val dirs = new java.io.File(s"$path/vectors").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(dirs.nonEmpty && dirs.length <= 16)
    // the explicit write-task count still sends each cell to one task
    dirs.foreach(d => assert(
      d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
      s"${d.getName} must hold exactly one data file"))

    val probes = emb.select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 20)
    val mem = AnnIndex.search(cents, assigned, probes,
      "vec_id", "embedding", topK = 10, nprobe = 4)
      .select("probe_id", "vec_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val disk = AnnIndex.searchIndex(spark, path, probes,
      "vec_id", "embedding", topK = 10, nprobe = 4)
    val got = disk.select("probe_id", "vec_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == mem, "disk-backed search must match in-memory exactly")

    // the scan is directory-pruned: PartitionFilters on cell appears
    // in the executed plan (the nprobe/k-of-data-on-disk claim)
    val plan = disk.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("cell"), s"vectors scan must prune cells:\n$pf")

    // round-trip: centroids survive exactly
    val (backCents, _) = AnnIndex.readIndex(spark, path)
    assert(backCents.map(_._1).toSeq == cents.map(_._1).toSeq)
    assert(backCents.map(_._2.toSeq).toSeq == cents.map(_._2.toSeq).toSeq)
  }
}
