package graft.vector

import graft.functions.VectorKernels
import graft.sources.{ParquetRead, SpatialWriter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-style approximate-nearest-neighbor index — the scale path for
  * embedding similarity search (north-star extension; the brute-force
  * baseline is q_cosine_topk). Same blocking idea as the spatial
  * cell join and the MinHash bands: a coarse quantizer turns the
  * corpus×probe cross product into an equi-join on cell id.
  *
  *  - build: Lloyd's k-means with DETERMINISTIC scattered init (k
  *    vectors by xxhash64(id) order — uniform over the corpus, no
  *    id-locality bias, no RNG) and a fixed iteration count —
  *    reproducible across runs. Assignment is a broadcast map-only
  *    pass; centroid update is one groupBy per iteration.
  *  - search: probes go to their `nprobe` nearest centroids via the
  *    SAME distributed broadcast-centroid pass used for the corpus
  *    (nothing is collected to the driver, so probe sets scale like
  *    any other DataFrame), candidates come from an equi-join on
  *    cell, exact cosine (codegen'd DotFold) ranks them.
  *
  * At 100 TB: the index table is written partitioned by cell
  * (SpatialWriter-style), so a search touches nprobe/k of the data —
  * the same partition-pruning story as the sky footprint queries.
  * Recall/cost is tuned with (k, nprobe), verified in AnnIndexSpec
  * against brute force.
  */
object AnnIndex {

  /** @return (centroids, assigned): centroids (cell, centroid vector);
    *   assigned = vectors + their cell id. */
  def build(vectors: DataFrame, idCol: String, vecCol: String,
            k: Int, iters: Int = 4): (Array[(Int, Array[Float])], DataFrame) = {
    val spark = vectors.sparkSession
    val v = vectors.select(col(idCol).as("vec_id"), col(vecCol).as("v"))

    // Deterministic SCATTERED seeding: order by xxhash64(id) (id as
    // tiebreak) and take k. Same reproducibility as first-k-by-id —
    // no RNG, stable across runs and partitionings — but seeds spread
    // uniformly over the corpus instead of inheriting id-order
    // locality (ingest batches arrive cluster-major in practice).
    // First-k seeding of a cluster-major corpus packs every seed into
    // the first cluster; Lloyd's recovers the separation only partly
    // and leaves oversized merged cells — the AnnIndexSpec clustered
    // fixture measures max-cell 800 vs 600 (ideal 400) for first-k
    // vs scattered, i.e. a 2x worst-case scan-cost distortion that
    // grows with corpus skew.
    var centroids: Array[Array[Float]] = v
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
      .collect().map(_.getSeq[Float](1).toArray)

    for (_ <- 1 to iters) {
      val assigned = assign(spark, v, "v", centroids)
      val updated = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(avg(col("x")).as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ms"))
        .select(col("cell"), transform(col("ms"),
          s => s.getField("m").cast("float")).as("c"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
        .toMap
      // empty cells keep their previous centroid
      centroids = centroids.indices
        .map(i => updated.getOrElse(i, centroids(i))).toArray
    }
    val cents = centroids.zipWithIndex.map { case (c, i) => (i, c) }
    (cents, assign(spark, v, "v", centroids)
      .withColumn("nrm", VectorKernels.norm2(col("v"))))
  }

  /** Map-only nearest-centroid assignment via a broadcast closure.
    * Emits the single best cell per vector (`nbest` = 1, corpus
    * build) or the `nbest` nearest cells exploded to one row each
    * (probe routing) — one distributed pass serves both sides, no
    * driver round-trip. Ties break toward the lower cell id. */
  private def assign(spark: SparkSession, v: DataFrame, vecCol: String,
                     centroids: Array[Array[Float]],
                     nbest: Int = 1): DataFrame = {
    require(nbest >= 1)
    val bc = spark.sparkContext.broadcast(centroids)
    val nearest = udf { (vec: Seq[Float]) =>
      val cs = bc.value
      val sims = new Array[Double](cs.length)
      var ci = 0
      while (ci < cs.length) {
        val c = cs(ci)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        val n = math.min(vec.length, c.length)
        while (i < n) {
          dot += vec(i).toDouble * c(i).toDouble
          na += vec(i).toDouble * vec(i).toDouble
          nb += c(i).toDouble * c(i).toDouble
          i += 1
        }
        sims(ci) = if (na == 0 || nb == 0) -2.0
          else dot / (math.sqrt(na) * math.sqrt(nb))
        ci += 1
      }
      cs.indices.sortBy(c => (-sims(c), c)).take(nbest)
    }
    if (nbest == 1)
      v.withColumn("cell", element_at(nearest(col(vecCol)), 1))
    else
      v.withColumn("cell", explode(nearest(col(vecCol))))
  }

  /** Materialize a built index: `<path>/centroids` (cell → centroid
    * vector) and `<path>/vectors` — the assigned corpus DIRECTORY-
    * partitioned by cell. Unlike the margin cache (whose fine-level
    * cells made partitionBy a tiny-files trap), the IVF cell count IS
    * the centroid count k — small by construction (√N classically) —
    * so one directory per cell holds corpus/k rows and gives
    * [[searchIndex]] directory-level partition pruning: a search
    * physically touches ~nprobe/k of the data on disk, which is the
    * claim the in-memory join graph alone couldn't make true. */
  def writeIndex(path: String, centroids: Array[(Int, Array[Float])],
                 assigned: DataFrame): Unit = {
    val spark = assigned.sparkSession
    import spark.implicits._
    centroids.toSeq.map { case (c, v) => (c, v.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    // an explicit task count, as in SpatialWriter.write: a bare
    // repartition(cell) lets AQE coalesce all k cells into one task
    assigned
      .repartition(SpatialWriter.writeTasks(assigned), col("cell"))
      .write.mode("overwrite")
      .partitionBy("cell")
      .parquet(s"$path/vectors")
  }

  /** Read back a materialized index: (centroids, assigned-vectors
    * dataframe). The vectors frame is the lazily-pruned scan — filter
    * it on `cell` before any action to touch only those directories. */
  def readIndex(spark: SparkSession,
                path: String): (Array[(Int, Array[Float])], DataFrame) = {
    val cents = ParquetRead(spark, s"$path/centroids")
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    (cents, ParquetRead(spark, s"$path/vectors"))
  }

  /** [[search]] against a materialized index, touching only the
    * probed cells ON DISK: probe routing runs the same distributed
    * broadcast-centroid pass, then the union of probed cell ids (at
    * most k values — the centroid array already lives on the driver,
    * so this collect is O(k), not O(data)) prunes the vectors scan to
    * its `cell=` directories before the equi-join. */
  def searchIndex(spark: SparkSession, path: String, probes: DataFrame,
                  probeIdCol: String, probeVecCol: String,
                  topK: Int, nprobe: Int): DataFrame = {
    val (centroids, vectors) = readIndex(spark, path)
    val p = probes.select(col(probeIdCol).as("probe_id"),
      col(probeVecCol).as("pv"))
    val centroidVecs = centroids.map(_._2)
    val probeSide = broadcast(
      assign(spark, p, "pv", centroidVecs, nbest = nprobe)
        .withColumn("pn", VectorKernels.norm2(col("pv"))))
    val probedCells = probeSide.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted.toIndexedSeq // ≤ k values
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    probeSide
      .join(vectors.filter(col("cell").isin(probedCells: _*)), "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        VectorKernels.cosine(VectorKernels.dot(col("pv"), col("v")),
          col("pn"), col("nrm")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
  }

  /** Top-k cosine search restricted to each probe's nprobe nearest
    * cells. Probes: (probe_id, vector). Returns probe_id, vec_id, cos,
    * rn. */
  def search(centroids: Array[(Int, Array[Float])], assigned: DataFrame,
             probes: DataFrame, probeIdCol: String, probeVecCol: String,
             topK: Int, nprobe: Int): DataFrame = {
    val spark = assigned.sparkSession
    val p = probes.select(col(probeIdCol).as("probe_id"),
      col(probeVecCol).as("pv"))
    // distributed probe→cell routing: same broadcast-centroid pass as
    // the corpus assignment (centroids arrive ordered by cell id, so
    // index == cell). The broadcast hint below fits interactive probe
    // batches; for probe sets too large to broadcast, Catalyst/AQE
    // falls back to a shuffle join on `cell` if the hint is removed —
    // nothing here is driver-side either way.
    val centroidVecs = centroids.sortBy(_._1).map(_._2)
    val probeSide = broadcast(
      assign(spark, p, "pv", centroidVecs, nbest = nprobe)
        .withColumn("pn", VectorKernels.norm2(col("pv"))))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    probeSide.join(assigned, "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        VectorKernels.cosine(VectorKernels.dot(col("pv"), col("v")),
          col("pn"), col("nrm")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
  }
}
