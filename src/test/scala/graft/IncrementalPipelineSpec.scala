package graft

import graft.sources.Snapshots
import graft.spatial.CrossMatch
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** End-to-end nightly-increment shape: detections STREAM into a
  * snapshot table (exactly-once tagged commits), the downstream job
  * delta-reads ONLY the newest night and cross-matches it against the
  * static object catalog — and the result is identical to running the
  * batch cross-match on that night's rows directly. This is the
  * composition the reference ran as its ingest loop (new detections →
  * xmatch → object database), re-expressed as stream → MVCC layout →
  * incremental batch. */
// top-level so the streaming encoder resolves without an outer scope
case class IncrDet(det_id: Long, lon: Double, lat: Double)

class IncrementalPipelineSpec extends SpecBase {
  import spark.implicits._

  private def synthDets(idFrom: Long, n: Int): Seq[IncrDet] =
    (0 until n).map { i =>
      val id = idFrom + i
      // deterministic scatter, a few degrees of sky
      IncrDet(id, (id * 7919 % 3600) / 10.0 % 8.0,
        ((id * 104729 % 1600) / 10.0) - 8.0)
    }

  test("stream -> snapshots -> delta read -> xmatch == batch xmatch") {
    val dir = Files.createTempDirectory("graft_incr")
    val path = dir.resolve("dets").toString
    val ckpt = dir.resolve("ckpt").toString

    // static catalog: every 3rd detection position, nudged inside the
    // match radius so matches exist in every batch
    val catalog = synthDets(0, 300).filter(_.det_id % 3 == 0)
      .map(d => (d.det_id + 100000, d.lon + 0.002, d.lat + 0.001))
      .toDF("obj_id", "obj_lon", "obj_lat").cache()

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[IncrDet]
    val q = StreamOps.snapshotSink(input.toDF(), path, ckpt)
    try {
      input.addData(synthDets(0, 150): _*) // night 1
      q.processAllAvailable()
      input.addData(synthDets(150, 150): _*) // night 2
      q.processAllAvailable()
    } finally q.stop()
    assert(Snapshots.committed(spark, path) == Seq(1L, 2L))

    val night2 = Snapshots.readDelta(spark, path, after = 1L, asOf = 2L)
    // the increment really is directory-pruned input
    assert(night2.inputFiles.nonEmpty &&
      night2.inputFiles.forall(_.contains("snap=2")))

    val viaDelta = CrossMatch.nearest(night2, CrossMatch.Blocking(catalog),
      "det_id", "lon", "lat", "obj_id", "obj_lon", "obj_lat",
      radiusDeg = 0.01, nmax = 1)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet

    val direct = CrossMatch.nearest(synthDets(150, 150).toDF(),
      CrossMatch.Blocking(catalog),
      "det_id", "lon", "lat", "obj_id", "obj_lon", "obj_lat",
      radiusDeg = 0.01, nmax = 1)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet

    assert(viaDelta == direct, "incremental xmatch must equal batch xmatch")
    assert(viaDelta.nonEmpty, "fixture must produce matches")
    // night-1 detections must NOT appear in the increment's matches
    assert(viaDelta.forall(_._1 >= 150))
    catalog.unpersist()
  }
}
