package graft

import graft.spatial.{CrossMatch, ObjectCatalog}
import graft.vector.AnnIndex
import org.apache.spark.sql.functions._

/** Degenerate-input behavior of the library surface (SURVEY.md §5:
  * empty input, tiny input, parameter edges). */
class EdgeCaseSpec extends SpecBase {
  import spark.implicits._

  test("ObjectCatalog on empty detections") {
    val empty = Seq.empty[(Long, Double, Double)].toDF("det_id", "lon", "lat")
    val (assign, objects) = ObjectCatalog.build(
      empty, "det_id", "lon", "lat", 0.1)
    assert(assign.count() == 0 && objects.count() == 0)
  }

  test("ObjectCatalog: single detection becomes its own object") {
    val one = Seq((7L, 10.0, 20.0)).toDF("det_id", "lon", "lat")
    val (assign, objects) = ObjectCatalog.build(one, "det_id", "lon", "lat", 0.1)
    assert(assign.head.getLong(1) == 7L)
    val o = objects.head
    assert(o.getLong(0) == 7L && o.getLong(3) == 1L)
    assert(math.abs(o.getDouble(1) - 10.0) < 1e-9)
    assert(math.abs(o.getDouble(2) - 20.0) < 1e-9)
  }

  test("AnnIndex with k larger than the corpus degrades gracefully") {
    val tiny = (0L until 5L).map(i =>
      (i, Array.tabulate(8)(j => (i + j).toFloat))).toDF("vec_id", "embedding")
    val (cents, assigned) = AnnIndex.build(tiny, "vec_id", "embedding", k = 8)
    assert(cents.length <= 8 && assigned.count() == 5)
    val res = AnnIndex.search(cents, assigned,
      tiny.limit(1).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", topK = 3, nprobe = 100)
    assert(res.count() == 3)
  }

  test("CrossMatch with coincident points ranks by id tie-break") {
    val a = Seq((1L, 5.0, 5.0)).toDF("id", "lon", "lat")
    val b = Seq((10L, 5.0, 5.0), (11L, 5.0, 5.0), (12L, 5.0, 5.0))
      .toDF("id", "lon", "lat")
    val got = CrossMatch.nearest(a, CrossMatch.Blocking(b),
      "id", "lon", "lat", "id", "lon", "lat", 0.1, 2).orderBy("match_rank")
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSeq == Seq((10L, 1), (11L, 2)))
  }

  test("lat exactly at the pole and lon exactly 360 are binned in range") {
    val pts = Seq((0.0, 90.0), (360.0, -90.0), (0.0, -90.0))
      .toDF("lon", "lat")
    val cells = pts.select(
      graft.spatial.SkyPix.cell(col("lon"), col("lat"), 6)).collect()
    assert(cells.forall(!_.isNullAt(0)))
  }

  test("allPairsCarry rejects carry columns that collide with pair columns") {
    val a = Seq((1L, 10.0, 10.0, 2.0)).toDF("id", "lon", "lat", "dist_deg")
    val e = intercept[IllegalArgumentException] {
      graft.spatial.CrossMatch.pairs(a, graft.spatial.CrossMatch.Blocking(a),
        "id", "lon", "lat", "id", "lon", "lat", 0.5, 85.0,
        carryA = Seq("dist_deg"), carryB = Nil, keepCoords = false)
    }
    assert(e.getMessage.contains("carry"))
  }

  test("WavCodec rejects truncated and size-corrupt payloads, not crashes") {
    import graft.multimodal.Multimodal.{AudioClip, WavCodec}
    val good = WavCodec.encode(AudioClip(8000, Array[Short](1, 2, 3, 4)))
    assert(WavCodec.decode(good).isDefined)
    assert(WavCodec.decode(good.take(20)).isEmpty, "truncated header")
    assert(WavCodec.decode(Array.fill[Byte](100)(7)).isEmpty, "not RIFF")
    val corrupt = good.clone()
    corrupt(40) = 127 // data chunk claims more bytes than exist
    assert(WavCodec.decode(corrupt).isEmpty, "chunk overruns payload")
  }

  test("LsdQL reports missing relations across BOTH join kinds") {
    val db = LsdDb(spark, sfDir)
    val q = graft.ql.LsdQL(db, joins = Nil)
    val e = intercept[IllegalArgumentException] {
      q.query("SELECT * FROM orders, customer")
    }
    assert(e.getMessage.contains("equi or spatial"))
  }

  test("DustMap lookup is total at the poles, lon wrap and lon=360") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = Seq((1L, 0.0, 90.0), (2L, 0.0, -90.0), (3L, 360.0, 0.0),
      (4L, -0.001, 45.0), (5L, 720.5, -45.0)).toDF("id", "l", "b")
    val out = graft.functions.DustMap.withEbv(edges, col("l"), col("b"))
    assert(out.count() == 5 && out.filter(col("ebv").isNull).count() == 0)
    // wrap equivalence: lon and lon+360 land in the same cell
    val e1 = graft.functions.DustMap.withEbv(
      Seq((1L, 10.0, 20.0)).toDF("id", "l", "b"), col("l"), col("b"))
      .select("ebv").head.getDouble(0)
    val e2 = graft.functions.DustMap.withEbv(
      Seq((1L, 370.0, 20.0)).toDF("id", "l", "b"), col("l"), col("b"))
      .select("ebv").head.getDouble(0)
    assert(e1 == e2)
  }

  test("readMerged: all-tombstoned table is empty, not an error") {
    import graft.sources.Snapshots
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_edge_merge")
      .resolve("t").toString
    Snapshots.upsert(Seq((1L, "a")).toDF("k", "v"), path)
    Snapshots.delete(Seq(Tuple1(1L)).toDF("k"), path)
    assert(Snapshots.readMerged(spark, path, "k").count() == 0)
    // compacting an empty merged state still commits a (empty) base
    val base = Snapshots.compactMerged(spark, path, "k")
    assert(Snapshots.readMerged(spark, path, "k", Some(base)).count() == 0)
  }

  test("eventRuns with NULL event_type: IS-DISTINCT-FROM run semantics") {
    import java.sql.Timestamp
    // user 1 ordered stream: A, A, NULL, NULL, A, NULL
    // expected runs: A(2), NULL(2), A(1), NULL(1) — consecutive NULLs
    // CONTINUE a run (null-safe <=>), transitions always break one
    val evs = Seq(
      (1L, 10L, Option("A"), 1000L), (1L, 11L, Option("A"), 2000L),
      (1L, 12L, None, 3000L), (1L, 13L, None, 4000L),
      (1L, 14L, Option("A"), 5000L), (1L, 15L, None, 6000L),
      // user 2: all NULL → one single run of length 3
      (2L, 20L, None, 1000L), (2L, 21L, None, 2000L), (2L, 22L, None, 3000L))
      .map { case (u, e, t, ms) => (u, e, t.orNull, new Timestamp(ms)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = graft.operators.SurveyOps.eventRuns(evs.repartition(3))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)).getOrElse("∅"), r.getLong(3)))
    // first row of user 1: lag() is NULL, which IS DISTINCT FROM 'A'
    // → chg=1, so its runs are 1-based; user 2's NULL stream starts
    // with lag NULL <=> NULL → chg=0 → run 0. Subtle but exactly the
    // oracle's arithmetic.
    assert(got.toSeq == Seq(
      (1L, 1L, "A", 2L), (1L, 2L, "∅", 2L), (1L, 3L, "A", 1L),
      (1L, 4L, "∅", 1L), (2L, 0L, "∅", 3L)))
    // the oracle's own formulation (IS DISTINCT FROM) run through
    // Spark SQL on the same injected frame must agree row for row
    evs.createOrReplaceTempView("ev_nulls")
    val sql = spark.sql(
      """WITH o AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    CASE WHEN lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id)
        |      IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        |  FROM ev_nulls),
        |r AS (SELECT user_id, event_type,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM o)
        |SELECT user_id, run_id, event_type, count(*) AS run_len
        |FROM r GROUP BY user_id, run_id, event_type
        |ORDER BY user_id, run_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)).getOrElse("∅"), r.getLong(3)))
    assert(sql.toSeq == got.map(g => (g._1, g._2, g._3, g._4)).toSeq)
  }

  test("merge-on-read: NULL payload upserts and tombstone resurrection") {
    import graft.sources.Snapshots
    val dir = java.nio.file.Files
      .createTempDirectory("graft_null_merge").resolve("t").toString
    // base: k=1 v=5, k=2 v=7; then upsert k=1 with NULL payload;
    // delete k=2; then re-upsert k=2 with NULL payload
    Snapshots.upsert(Seq((1L, Option(5L)), (2L, Option(7L)))
      .map { case (k, v) => (k, v.map(Long.box).orNull) }
      .toDF("k", "v"), dir)
    Snapshots.upsert(Seq((1L, null.asInstanceOf[java.lang.Long]))
      .toDF("k", "v"), dir)
    Snapshots.delete(Seq(Tuple1(2L)).toDF("k"), dir)
    val afterDelete = Snapshots.readMerged(spark, dir, "k").collect()
    assert(afterDelete.map(_.getLong(0)).toSeq == Seq(1L))
    assert(afterDelete.head.isNullAt(1), "NULL upsert must WIN, not be " +
      "dropped or backfilled from the older non-null version")
    Snapshots.upsert(Seq((2L, null.asInstanceOf[java.lang.Long]))
      .toDF("k", "v"), dir)
    val resurrected = Snapshots.readMerged(spark, dir, "k")
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    // k=2 is visible again (newest version beats the tombstone) and
    // carries the NULL payload it was re-inserted with
    assert(resurrected == Map(1L -> true, 2L -> true))
    // compaction folds the same answer into a base
    Snapshots.compactMerged(spark, dir, "k")
    val compacted = Snapshots.readMerged(spark, dir, "k")
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(compacted == resurrected)
  }

  test("AviCodec rejects header-only and zero-frame containers") {
    import graft.multimodal.Multimodal.AviCodec
    import java.awt.image.BufferedImage
    val img = new BufferedImage(4, 4, BufferedImage.TYPE_INT_RGB)
    val full = AviCodec.encode(Seq(img), fps = 5)
    assert(AviCodec.decode(full).exists(_.frames.length == 1))
    // strip the movi LIST: header parses but no frames → None
    val moviAt = {
      var i = -1
      (0 until full.length - 4).find(o =>
        new String(full, o, 4, "US-ASCII") == "movi").foreach(i = _)
      i
    }
    assert(moviAt > 0)
    assert(AviCodec.decode(java.util.Arrays.copyOfRange(full, 0, moviAt - 8))
      .isEmpty, "container with headers but zero frames must be None")
  }
}
