package graft.streaming

import graft.SpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import java.sql.Timestamp

/** S4/S5 — streaming-only semantics, golden-checked via MemoryStream
  * micro-batches (not DuckDB-oracle-able; SURVEY.md §2G). */
class StreamOpsSpec extends SpecBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  case class Ev(ts: Timestamp, user_id: Long, value: Double)

  test("mapGroupsWithState running stats: accumulate, evict, restart") {
    implicit val sqlCtx = spark.sqlContext
    import StreamOps.{Det => SDet, ObjStats}
    val input = MemoryStream[SDet]
    val stats = StreamOps.runningObjectStats(input.toDS(),
      watermark = "0 seconds", idleMs = 60 * 60 * 1000L) // 1 h idle
    val q = stats.writeStream.format("memory").queryName("objstats")
      .outputMode(OutputMode.Update).start()
    try {
      def rows(): Seq[ObjStats] = spark.table("objstats")
        .as[ObjStats].collect().toSeq
      // batch 1: obj 1 twice, obj 2 once
      input.addData(SDet(ts("2024-01-01 00:00:00"), 1L, 1.5),
        SDet(ts("2024-01-01 00:10:00"), 1L, 2.5),
        SDet(ts("2024-01-01 00:10:00"), 2L, 7.0))
      q.processAllAvailable()
      assert(rows().exists(r => r.obj == 1 && r.n == 2 && r.mean_flux == 2.0))
      assert(rows().exists(r => r.obj == 2 && r.n == 1))
      // batch 2: obj 1 again → state persisted across batches (n=3)
      input.addData(SDet(ts("2024-01-01 00:20:00"), 1L, 2.0))
      q.processAllAvailable()
      assert(rows().exists(r => r.obj == 1 && r.n == 3 && r.mean_flux == 2.0))
      // batch 3: event time jumps far ahead → watermark passes both
      // idle deadlines; obj 2's state evicts (retired row n = -1)
      input.addData(SDet(ts("2024-01-02 00:00:00"), 9L, 1.0))
      q.processAllAvailable()
      input.addData(SDet(ts("2024-01-02 00:00:01"), 9L, 1.0))
      q.processAllAvailable()
      assert(rows().exists(r => r.obj == 2 && r.n == -1),
        s"expected eviction tombstone for obj 2 in ${rows()}")
      // batch 4: obj 2 reappears → restarts from n=1, not n=2
      input.addData(SDet(ts("2024-01-02 00:00:02"), 2L, 5.0))
      q.processAllAvailable()
      val reborn = rows().filter(r => r.obj == 2 && r.n == 1 &&
        r.mean_flux == 5.0)
      assert(reborn.nonEmpty, s"obj 2 must restart from fresh state")
    } finally q.stop()
  }

  test("flatMapGroupsWithState transient alerts: baseline, fire, no poison") {
    implicit val sqlCtx = spark.sqlContext
    import StreamOps.{Det => SDet, Alert}
    val input = MemoryStream[SDet]
    val alerts = StreamOps.transientAlerts(input.toDS(),
      watermark = "0 seconds", idleMs = 24 * 3600 * 1000L,
      minBaseline = 3, threshMilli = 3000)
    val q = alerts.writeStream.format("memory").queryName("alerts")
      .outputMode(OutputMode.Append).start()
    try {
      def rows(): Seq[Alert] = spark.table("alerts")
        .as[Alert].collect().toSeq
      // quiescent baseline: 3 epochs at flux 2.0 — below minBaseline,
      // nothing may fire even though the very first points "deviate"
      input.addData(SDet(ts("2024-01-01 00:00:00"), 1L, 2.0),
        SDet(ts("2024-01-01 00:10:00"), 1L, 2.0),
        SDet(ts("2024-01-01 00:20:00"), 1L, 2.0))
      q.processAllAvailable()
      assert(rows().isEmpty, s"no alert before the baseline: ${rows()}")
      // flare: +6.0 over the mean → fires with the PRE-flare baseline
      input.addData(SDet(ts("2024-01-01 00:30:00"), 1L, 8.0))
      q.processAllAvailable()
      val a = rows()
      assert(a.length == 1 && a.head.obj == 1 &&
        a.head.baseline_mean == 2.0 && a.head.dev_milli == 6000 &&
        a.head.n_baseline == 3, s"unexpected alerts: $a")
      // the flare joined the baseline (mean now 3.5 over 4 epochs) but
      // a SECOND flare at 8.0 still deviates 4.5 > 3.0 → fires again:
      // alerts must not suppress while the object stays bright
      input.addData(SDet(ts("2024-01-01 00:40:00"), 1L, 8.0))
      q.processAllAvailable()
      assert(rows().length == 2 && rows().map(_.n_baseline).max == 4)
      // return to quiescence: within threshold, no new alert
      input.addData(SDet(ts("2024-01-01 00:50:00"), 1L, 3.0))
      q.processAllAvailable()
      assert(rows().length == 2, s"quiescent point must not alert")
    } finally q.stop()
  }

  case class SkyDet(ts: Timestamp, lon: Double, lat: Double)

  test("streaming skymap matches the batch per-cell counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SkyDet]
    val map = StreamOps.skymapStream(input.toDF(), level = 4,
      windowLen = "1 hour", watermark = "10 minutes")
    val q = map.writeStream.format("memory").queryName("skymap_stream")
      .outputMode(OutputMode.Append).start()
    try {
      val dets = Seq(
        SkyDet(ts("2024-01-01 00:05:00"), 10.0, 5.0),
        SkyDet(ts("2024-01-01 00:15:00"), 10.1, 5.1),   // same cell
        SkyDet(ts("2024-01-01 00:20:00"), 200.0, -40.0),
        SkyDet(ts("2024-01-01 00:25:00"), 355.0, 60.0))
      input.addData(dets: _*)
      q.processAllAvailable()
      // advance event time past the window + watermark so it closes
      input.addData(SkyDet(ts("2024-01-01 02:00:00"), 0.0, 0.0))
      q.processAllAvailable()
      val got = spark.table("skymap_stream")
        .select("cell", "n_det")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = dets.groupBy(d =>
          graft.spatial.SkyPix.cellId(d.lon, d.lat, 4))
        .map { case (c, ds) => (c, ds.size.toLong) }.toSet
      assert(got == want)
      assert(got.exists(_._2 == 2L), "co-located detections share a cell")
    } finally q.stop()
  }

  test("watermark drops late rows from tumbling aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = StreamOps.tumblingAgg(input.toDF(), "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("tumbling_test")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: two on-time rows; advance event time far ahead so the
      // watermark passes the first window
      input.addData(Ev(ts("2024-01-01 00:01:00"), 1, 1.0),
        Ev(ts("2024-01-01 00:04:00"), 1, 2.0))
      q.processAllAvailable()
      input.addData(Ev(ts("2024-01-01 01:00:00"), 1, 9.0))
      q.processAllAvailable()
      // batch 3: a LATE row for the already-closed 00:00 window → dropped
      input.addData(Ev(ts("2024-01-01 00:02:00"), 1, 100.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_test")
        .select("wstart", "cnt", "sum_value")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1),
          r.getDouble(2))).toSet
      // the 00:00 window was emitted with the two on-time rows only
      assert(rows.contains(("2024-01-01 00:00:00.0", 2L, 3.0)))
      assert(!rows.exists(_._3 == 103.0))
    } finally q.stop()
  }

  case class Pred(ts: Timestamp, pred: Int, label: Int)

  test("streaming quality monitor: windowed confusion, late rows dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Pred]
    val mon = StreamOps.qualityMonitorStream(
      input.toDF(), "10 minutes", "5 minutes")
    val q = mon.writeStream.format("memory").queryName("quality_mon")
      .outputMode(OutputMode.Append).start()
    try {
      // window 00:00–00:10: tp, fp, tn, fn one each → accuracy 0.5
      input.addData(
        Pred(ts("2024-01-01 00:01:00"), 1, 1),
        Pred(ts("2024-01-01 00:02:00"), 1, 0),
        Pred(ts("2024-01-01 00:03:00"), 0, 0),
        Pred(ts("2024-01-01 00:04:00"), 0, 1))
      q.processAllAvailable()
      // advance the watermark past the first window, then send a LATE
      // all-correct row for it — it must NOT rewrite the accuracy
      input.addData(Pred(ts("2024-01-01 01:00:00"), 1, 1))
      q.processAllAvailable()
      input.addData(Pred(ts("2024-01-01 00:05:00"), 1, 1))
      q.processAllAvailable()
      val rows = spark.table("quality_mon")
        .collect().map(r => (r.getTimestamp(0).toString,
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6)))
      val w0 = rows.filter(_._1 == "2024-01-01 00:00:00.0")
      assert(w0.length == 1 && w0.head == (("2024-01-01 00:00:00.0",
        1L, 1L, 1L, 1L, 0.5)), s"got ${w0.toSeq}")
      // the batch twin over the same on-time rows agrees
      val batch = Seq((1, 1), (1, 0), (0, 0), (0, 1)).toDF("pred", "label")
      val acc = batch
        .selectExpr("CAST(count(CASE WHEN pred = label THEN 1 END)" +
          " AS DOUBLE) / count(*) AS a")
        .head().getDouble(0)
      assert(acc == 0.5)
    } finally q.stop()
  }

  case class Det(det_id: Long, lon: Double, lat: Double)

  test("streaming xmatch matches the batch cross-match, batch by batch") {
    implicit val sqlCtx = spark.sqlContext
    val catalog = Seq((100L, 10.0, 20.0), (101L, 10.02, 20.02),
      (102L, 180.0, -40.0), (103L, 359.99, 0.0))
      .toDF("obj_id", "lon", "lat")
    val input = MemoryStream[Det]
    val enriched = StreamOps.xmatchStream(input.toDF(), catalog,
      "lon", "lat", "obj_id", "lon", "lat", radiusDeg = 0.1)
    val q = enriched.writeStream.format("memory").queryName("xmatch_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: near obj 100/101; batch 2: lon-wraparound + a miss
      input.addData(Det(1, 10.01, 20.01))
      q.processAllAvailable()
      input.addData(Det(2, 0.005, 0.0), Det(3, 90.0, 50.0))
      q.processAllAvailable()
      val got = spark.table("xmatch_stream").select("det_id", "obj_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch ground truth from the same engine primitives
      val dets = Seq((1L, 10.01, 20.01), (2L, 0.005, 0.0), (3L, 90.0, 50.0))
        .toDF("det_id", "lon", "lat")
      val want = graft.spatial.CrossMatch.pairs(dets,
        graft.spatial.CrossMatch.Blocking(catalog),
        "det_id", "lon", "lat", "obj_id", "lon", "lat", 0.1)
        .select("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
      assert(got.contains((1L, 100L)) && got.contains((1L, 101L)))
      assert(got.contains((2L, 103L)), "lon wraparound must match")
      assert(!got.exists(_._1 == 3L), "far detection must not match")
    } finally q.stop()
  }

  test("streaming xmatch pairs a trans-polar detection via the cap channel") {
    implicit val sqlCtx = spark.sqlContext
    // 0.1 deg apart across the pole but 180 deg apart in lon: no
    // lon-neighbor cell holds the object, only the cap channel can
    val catalog = Seq((300L, 190.0, 89.95)).toDF("obj_id", "lon", "lat")
    val input = MemoryStream[Det]
    val q = StreamOps.xmatchStream(input.toDF(), catalog,
        "lon", "lat", "obj_id", "lon", "lat", radiusDeg = 0.15)
      .writeStream.format("memory").queryName("xmatch_stream_polar")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Det(1, 10.0, 89.95))
      q.processAllAvailable()
      val out = spark.table("xmatch_stream_polar")
      assert(out.columns.toSeq ==
        Seq("det_id", "lon", "lat", "obj_id", "dist_deg"))
      val got = out.collect()
      assert(got.map(r => (r.getLong(0), r.getLong(3))).toSeq ==
        Seq((1L, 300L)), "trans-polar pair must match")
      assert(math.abs(got.head.getDouble(4) - 0.1) < 1e-9)
    } finally q.stop()
  }

  test("margin-layout streaming xmatch equals the batch pre-margined " +
    "operator, poles included") {
    implicit val sqlCtx = spark.sqlContext
    // catalog with equatorial, wraparound AND polar members — the cap
    // channel must carry the >85° rows the cell channel excludes
    val rnd = new scala.util.Random(59)
    val catalog = ((0L until 120L).map(i => (i, rnd.nextDouble() * 360,
      rnd.nextDouble() * 50 - 25)) ++ Seq(
      (200L, 10.0, 89.5), (201L, 200.0, -89.3), (202L, 359.99, 0.0)))
      .toDF("obj_id", "olon", "olat")
    val radius = 0.1
    val level = graft.spatial.CrossMatch.levelFor(radius)
    val path = s"${sys.props("java.io.tmpdir")}/graft_stream_margin_$level"
    graft.sources.SpatialWriter.writeClustered(catalog, "olon", "olat",
      level, path, margin = Some(radius))
    val bM = graft.sources.SpatialWriter.readWithMargins(spark, path)
    val input = MemoryStream[Det]
    val out = StreamOps.xmatchStreamMargined(input.toDF(), bM,
      "lon", "lat", "obj_id", "olon", "olat", radius, level)
    val q = out.writeStream.format("memory").queryName("xmatch_margin_st")
      .outputMode(OutputMode.Append).start()
    try {
      // two micro-batches: near-equator hits, a wraparound hit, a
      // polar hit (cap channel), and a miss
      val dets = Seq(Det(1, catalog.head().getDouble(1) + 0.01,
          catalog.head().getDouble(2) + 0.01),
        Det(2, 0.005, 0.0), Det(3, 10.05, 89.52), Det(4, 90.0, 50.0))
      input.addData(dets.take(2)); q.processAllAvailable()
      input.addData(dets.drop(2)); q.processAllAvailable()
      val got = spark.table("xmatch_margin_st").select("det_id", "obj_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = graft.spatial.CrossMatch.pairs(
        dets.map(d => (d.det_id, d.lon, d.lat)).toDF("det_id", "lon", "lat"),
        graft.spatial.CrossMatch.Margined(bM, level),
        "det_id", "lon", "lat", "obj_id", "olon", "olat", radius)
        .select("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"only-stream=${got -- want} only-batch=${want -- got}")
      assert(got.contains((2L, 202L)), "lon wraparound must match")
      assert(got.contains((3L, 200L)),
        "polar detection must match via the cap channel")
      assert(!got.exists(_._1 == 4L), "far detection must not match")
    } finally q.stop()
  }

  case class TsDet(ts: Timestamp, det_id: Long, lon: Double, lat: Double)

  test("stream-stream coincidence join pairs detections close in sky AND time") {
    implicit val sqlCtx = spark.sqlContext
    val ia = MemoryStream[TsDet]
    val ib = MemoryStream[TsDet]
    val joined = StreamOps.coincidenceStream(ia.toDF(), ib.toDF(),
      "det_id", "det_id", radiusDeg = 0.1, maxDtSeconds = 600,
      watermark = "1 hour")
    val q = joined.writeStream.format("memory").queryName("coincidence")
      .outputMode(OutputMode.Append).start()
    try {
      // a1×b1: coincident (same spot, 5 min apart) → pair
      // a1×b2: same spot but 2 h apart → time-rejected
      // a2×b3: simultaneous but 90° away → sky-rejected
      // b4 near a1's position but hours later → rejected
      ia.addData(TsDet(ts("2024-01-01 00:00:00"), 1, 10.0, 20.0),
        TsDet(ts("2024-01-01 00:00:00"), 2, 180.0, -40.0))
      ib.addData(TsDet(ts("2024-01-01 00:05:00"), 51, 10.01, 20.01),
        TsDet(ts("2024-01-01 02:00:00"), 52, 10.0, 20.0),
        TsDet(ts("2024-01-01 00:00:00"), 53, 90.0, -40.0))
      q.processAllAvailable()
      ib.addData(TsDet(ts("2024-01-01 03:00:00"), 54, 10.0, 20.0))
      q.processAllAvailable()
      val got = spark.table("coincidence")
        .select("id_a", "id_b", "dt_s")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == Set((1L, 51L, 300L)),
        s"exactly the sky+time coincident pair must survive: $got")
    } finally q.stop()
  }

  test("stream-stream coincidence join pairs a trans-polar detection " +
    "via the cap channel") {
    implicit val sqlCtx = spark.sqlContext
    val ia = MemoryStream[TsDet]
    val ib = MemoryStream[TsDet]
    val joined = StreamOps.coincidenceStream(ia.toDF(), ib.toDF(),
      "det_id", "det_id", radiusDeg = 0.15, maxDtSeconds = 600,
      watermark = "1 hour")
    val q = joined.writeStream.format("memory")
      .queryName("coincidence_polar")
      .outputMode(OutputMode.Append).start()
    try {
      // 0.1 deg apart across the pole but 180 deg apart in lon: no
      // lon-neighbor cell holds B, only the cap channel can pair them
      ia.addData(TsDet(ts("2024-01-01 00:00:00"), 1, 10.0, 89.95))
      ib.addData(TsDet(ts("2024-01-01 00:00:00"), 61, 190.0, 89.95))
      q.processAllAvailable()
      val got = spark.table("coincidence_polar")
        .select("id_a", "id_b", "dist_deg").collect()
      assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((1L, 61L)), s"exactly the trans-polar pair: ${got.toSeq}")
      assert(math.abs(got.head.getDouble(2) - 0.1) < 1e-9)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val dedup = StreamOps.dedupWithinWatermark(
      input.toDF(), "10 minutes", Seq("user_id"))
    val q = dedup.writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Ev(ts("2024-01-01 00:00:00"), 7, 1.0),
        Ev(ts("2024-01-01 00:01:00"), 7, 2.0)) // dup key within horizon
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() == 1)
      // advance the watermark past the horizon with a DIFFERENT key
      // (watermarks only move between micro-batches), expiring key 7's
      // dedup state ...
      input.addData(Ev(ts("2024-01-01 02:00:00"), 8, 3.0))
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() == 2)
      // ... so key 7 is admitted again afterwards
      input.addData(Ev(ts("2024-01-01 02:30:00"), 7, 4.0))
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() == 3)
    } finally q.stop()
  }

  test("snapshotSink lands each micro-batch as one tagged commit") {
    import graft.sources.Snapshots
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_snapsink")
    val path = dir.resolve("t").toString
    val ckpt = dir.resolve("ckpt").toString
    val input = MemoryStream[Long]
    val q = StreamOps.snapshotSink(input.toDF(), path, ckpt)
    try {
      input.addData(1L, 2L)
      q.processAllAvailable()
      input.addData(3L)
      q.processAllAvailable()
      val entries = Snapshots.entries(spark, path)
      assert(entries.map(_.id) == Seq(1L, 2L))
      // tags are scoped by query identity (checkpoint fingerprint) so
      // a fresh-checkpoint restart or a second stream into this table
      // can never collide with these batchIds (review r20)
      assert(entries.forall(_.tag.exists(_.matches("[0-9a-f]+-b\\d+"))))
      // a DIFFERENT query identity writing batchId 0 into the same
      // table is a new batch, not a replay of ours
      assert(!entries.exists(_.tag.contains("otherapp-b0")))
      assert(Snapshots.read(spark, path).as[Long].collect().sorted
        .sameElements(Array(1L, 2L, 3L)))
      // the downstream increment: exactly the second micro-batch
      assert(Snapshots.readDelta(spark, path, 1L, 2L).as[Long].collect()
        .sameElements(Array(3L)))
      // a replayed batch is a no-op: re-commit under an existing tag
      val replayTag = entries.head.tag.get
      val again = Snapshots.appendTagged(
        Seq(99L).toDF("value"), path, replayTag)
      assert(again == 1L)
      assert(Snapshots.entries(spark, path).map(_.id) == Seq(1L, 2L))
      assert(!Snapshots.read(spark, path).as[Long].collect().contains(99L))
    } finally q.stop()
  }

  test("snapshotSink records zone-map stats; historical reads prune") {
    import graft.sources.Snapshots
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_snapzone")
    val path = dir.resolve("t").toString
    val ckpt = dir.resolve("ckpt").toString
    val input = MemoryStream[Long]
    val q = StreamOps.snapshotSink(input.toDF(), path, ckpt,
      statsCols = Seq("value"), bloomCols = Seq("value"))
    try {
      input.addData(1L, 5L) // batch 1: [1, 5]
      q.processAllAvailable()
      input.addData(100L, 150L) // batch 2: [100, 150]
      q.processAllAvailable()
      val st = Snapshots.entries(spark, path).map(_.stats)
      assert(st == Seq(Map("value" -> (1.0, 5.0)),
        Map("value" -> (100.0, 150.0))))
      // a range query over the landed table skips the other batch
      val hi = Snapshots.readPruned(spark, path, "value", 90.0, 200.0)
      assert(hi.inputFiles.nonEmpty &&
        hi.inputFiles.forall(_.contains("snap=2")))
      assert(hi.as[Long].collect().sorted.sameElements(Array(100L, 150L)))
      // the sink records blooms too: a point lookup prunes by key set
      val p = Snapshots.readPrunedKey(spark, path, "value", 5L)
      assert(p.inputFiles.nonEmpty &&
        p.inputFiles.forall(_.contains("snap=1")))
    } finally q.stop()
  }

  test("SnapshotSource streams committed deltas exactly once, across restart") {
    import graft.sources.Snapshots
    import graft.streaming.{SnapshotSource => SnapSrc}
    val dir = java.nio.file.Files.createTempDirectory("graft_snapsrc")
    val path = dir.resolve("t").toString
    val ckpt = dir.resolve("ckpt").toString
    // two commits before the stream starts
    Snapshots.append(Seq(1L, 2L, 3L).toDF("v"), path)
    Snapshots.append(Seq(4L, 5L).toDF("v"), path)
    val got = new scala.collection.mutable.ArrayBuffer[Long]()
    def start() = SnapSrc.readStream(spark, path)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= b.as[Long].collect() }; ()
      }.start()
    val q = start()
    try {
      q.processAllAvailable()
      assert(got.sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L)) // initial load
      Snapshots.append(Seq(6L, 7L).toDF("v"), path) // commit mid-stream
      q.processAllAvailable()
      assert(got.sorted.toSeq == (1L to 7L)) // the delta, exactly once
    } finally q.stop()
    // RESTART from the checkpoint: rows already delivered must not
    // replay; only the snapshot committed while the stream was down
    Snapshots.append(Seq(8L).toDF("v"), path)
    got.clear()
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(got.sorted.toSeq == Seq(8L), s"replay or loss: $got")
      // compaction rewrites history -> the incremental stream must
      // SKIP the base (those rows were all delivered already)
      Snapshots.compact(spark, path)
      Snapshots.append(Seq(9L).toDF("v"), path)
      q2.processAllAvailable()
      assert(got.sorted.toSeq == Seq(8L, 9L), s"base replayed: $got")
    } finally q2.stop()
    // a COLD start (fresh checkpoint) on the compacted table reads the
    // last base as its initial load — once, not once per pre-base dir
    got.clear()
    val q3 = SnapSrc.readStream(spark, path)
      .writeStream.option("checkpointLocation",
        dir.resolve("ckpt2").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= b.as[Long].collect() }; ()
      }.start()
    try {
      q3.processAllAvailable()
      assert(got.sorted.toSeq == (1L to 9L), s"cold start wrong: $got")
    } finally q3.stop()
  }

  test("SnapshotSource fails loud when vacuum outran the checkpoint") {
    import graft.sources.Snapshots
    import graft.streaming.{SnapshotSource => SnapSrc}
    val dir = java.nio.file.Files.createTempDirectory("graft_snapvac")
    val path = dir.resolve("t").toString
    val ckpt = dir.resolve("ckpt").toString
    def start(cp: String) = SnapSrc.readStream(spark, path)
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    Snapshots.append(Seq(1L, 2L).toDF("v"), path)
    val q = start(ckpt)
    try { q.processAllAvailable() } finally q.stop() // checkpoint at snap=1
    // while the stream is down: appends, compact, vacuum — history
    // between the checkpoint and the base is physically deleted
    Snapshots.append(Seq(3L).toDF("v"), path)
    Snapshots.append(Seq(4L).toDF("v"), path)
    Snapshots.compact(spark, path)
    assert(Snapshots.vacuum(spark, path).nonEmpty)
    val q2 = start(ckpt)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    try q2.stop() catch { case _: Throwable => () }
    def rootMsg(t: Throwable): String =
      (t.getMessage +: Iterator.iterate(t.getCause)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).toSeq).mkString(" | ")
    assert(rootMsg(ex).contains("vacuumed past stream checkpoint"),
      s"wrong failure: ${rootMsg(ex)}")
    // recovery path: a FRESH checkpoint cold-starts from the base and
    // delivers the current table state
    val got = new scala.collection.mutable.ArrayBuffer[Long]()
    val q3 = SnapSrc.readStream(spark, path)
      .writeStream.option("checkpointLocation",
        dir.resolve("ckpt2").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= b.as[Long].collect() }; ()
      }.start()
    try { q3.processAllAvailable() } finally q3.stop()
    assert(got.sorted.toSeq == Seq(1L, 2L, 3L, 4L), s"cold start: $got")
  }

  test("streaming CDC: snapshotSink micro-batches resolve via readMerged") {
    import graft.sources.Snapshots
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cdcsink")
    val path = dir.resolve("t").toString
    val ckpt = dir.resolve("ckpt").toString
    // CDC rows: (key, value, _tombstone) — upserts carry false,
    // deletes true; each micro-batch lands as one tagged commit and
    // merge-on-read resolves newest-wins
    val input = MemoryStream[(Long, String, Boolean)]
    val q = StreamOps.snapshotSink(
      input.toDF().toDF("k", "v", "_tombstone"), path, ckpt)
    try {
      input.addData((1L, "a", false), (2L, "b", false))
      q.processAllAvailable()
      input.addData((2L, "B", false), (1L, "", true)) // update 2, delete 1
      q.processAllAvailable()
      val merged = Snapshots.readMerged(spark, path, "k")
        .select("k", "v").as[(Long, String)].collect().sortBy(_._1)
      assert(merged.toSeq == Seq((2L, "B")))
      // time travel to before the CDC batch sees the original state
      val atOne = Snapshots.readMerged(spark, path, "k", Some(1L))
        .select("k", "v").as[(Long, String)].collect().sortBy(_._1)
      assert(atOne.toSeq == Seq((1L, "a"), (2L, "b")))
      // compaction folds the CDC history into a live-rows base
      Snapshots.compactMerged(spark, path, "k")
      Snapshots.vacuum(spark, path)
      assert(Snapshots.readMerged(spark, path, "k")
        .select("k", "v").as[(Long, String)].collect().toSeq ==
        Seq((2L, "B")))
    } finally q.stop()
  }

  test("session windows over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val sess = StreamOps.sessionAgg(input.toDF(), "30 minutes", "5 minutes")
    val q = sess.writeStream.format("memory").queryName("session_test")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Ev(ts("2024-01-01 00:00:00"), 1, 1.0),
        Ev(ts("2024-01-01 00:10:00"), 1, 1.0),  // same session
        Ev(ts("2024-01-01 03:00:00"), 1, 1.0))  // far future → closes it
      q.processAllAvailable()
      input.addData(Ev(ts("2024-01-01 06:00:00"), 1, 1.0))
      q.processAllAvailable()
      val rows = spark.table("session_test")
        .select("session_start", "cnt").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSet
      assert(rows.contains(("2024-01-01 00:00:00.0", 2L)))
    } finally q.stop()
  }
}
