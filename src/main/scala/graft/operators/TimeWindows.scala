package graft.operators

import graft.{LsdDb, QuerySpec}
import graft.functions.Det
import graft.functions.Det.{sql => D}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2G — time-window aggregation, verified in batch mode.
  *
  * The reference is batch-only (multi-epoch detections are its closest
  * analog to a stream; SURVEY.md §2G). These three queries use the
  * exact grouping primitives Structured Streaming uses — `window`,
  * sliding `window`, `session_window` — on a batch DataFrame, so the
  * identical plan fragments run under `readStream` with a watermark
  * (see graft.streaming.StreamOps for the streaming wiring + tests).
  */
object TimeWindows {
  private val log =
    org.slf4j.LoggerFactory.getLogger("graft.operators.TimeWindows")

  /** S1 — tumbling 1-hour window. Spark's window origin is the epoch;
    * 1-hour tumbling ≡ date_trunc('hour') in the oracle. */
  val qWindowTumbling: QuerySpec = QuerySpec(
    "q_window_tumbling",
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS wstart,
       |  date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS wend,
       |  count(*) AS cnt,
       |  ${D.dsum("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY wstart""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"), Det.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("window.end").as("wend"),
        col("cnt"), col("sum_value"))
      .orderBy("wstart")
  }

  /** S2 — sliding window (1 hour every 15 min): each event lands in 4
    * windows. Oracle reconstructs the window set with a 4-offset
    * expansion off the 15-minute grid (time_bucket's origin is
    * 15-min-aligned with Spark's epoch origin). */
  val qWindowSliding: QuerySpec = QuerySpec(
    "q_window_sliding",
    s"""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS tsu, value FROM events),
       |x AS (
       |  SELECT time_bucket(INTERVAL '15 minutes', tsu)
       |           - k * (INTERVAL '15 minutes') AS wstart,
       |         tsu, value
       |  FROM e, generate_series(0, 3) t(k)
       |  WHERE tsu >= time_bucket(INTERVAL '15 minutes', tsu)
       |                 - k * (INTERVAL '15 minutes')
       |    AND tsu <  time_bucket(INTERVAL '15 minutes', tsu)
       |                 - k * (INTERVAL '15 minutes') + INTERVAL 1 HOUR)
       |SELECT wstart, wstart + INTERVAL 1 HOUR AS wend,
       |  count(*) AS cnt, ${D.dsum("value")} AS sum_value
       |FROM x GROUP BY wstart ORDER BY wstart""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("cnt"), Det.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("window.end").as("wend"),
        col("cnt"), col("sum_value"))
      .orderBy("wstart")
  }

  /** S3 — session window (30-min inactivity gap) per user. Oracle is
    * the classic gaps-and-islands rewrite; the boundary matches
    * Spark's semantics (a gap of exactly 30:00.000000 starts a new
    * session, because session windows are end-exclusive). */
  val qWindowSession: QuerySpec = QuerySpec(
    "q_window_session",
    s"""WITH e AS (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu, value FROM events),
       |flagged AS (
       |  SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
       |                   OR tsu - lag(tsu) OVER w >= INTERVAL 30 MINUTE
       |            THEN 1 ELSE 0 END AS new_session
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
       |sessions AS (
       |  SELECT *, sum(new_session)
       |    OVER (PARTITION BY user_id ORDER BY tsu, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM flagged)
       |SELECT user_id, min(tsu) AS session_start,
       |  max(tsu) + INTERVAL 30 MINUTE AS session_end,
       |  count(*) AS cnt, ${D.dsum("value")} AS sum_value
       |FROM sessions GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("cnt"), Det.dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("cnt"), col("sum_value"))
      .orderBy("user_id", "session_start")
  }

  /** The events file as a STREAM, with the LsdDb nanosecond-timestamp
    * discipline (int64 nanos → DIV 1000; Spark 4's native
    * TIMESTAMP_NTZ read casts value-preserving under the UTC session —
    * both match DuckDB's CAST(ts AS TIMESTAMP)). The file source
    * requires a DIRECTORY basePath; the glob keeps the base at $dir
    * while matching exactly the single events file. */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchSchema =
      graft.sources.ParquetRead.schema(s, s"$dir/events.parquet")
    val tsCol = batchSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts DIV 1000"))
      case _ => col("ts").cast("timestamp")
    }
    s.readStream.schema(batchSchema).parquet(s"$dir/{events.parquet}")
      .withColumn("ts", tsCol)
  }

  /** Run a replay stream into an append-mode memory sink
    * (Trigger.AvailableNow) and return the sunk table. State-store
    * partitions are sized to the REPLAY (8): a stateful op commits
    * per-partition state stores every micro-batch — a stream-stream
    * join four of them — and at replay data sizes the 32-partition
    * setup/commit fixed cost dominates wall time (q_stream_join A/B:
    * 6.5 s → 2.6 s warm at 8). Partition count is a data-size knob,
    * not a semantics knob (DetCheck pins result invariance);
    * production sizes it to the stream. Restored after the run.
    *
    * CONCURRENCY CONTRACT: the conf mutation is session-global for
    * the run's duration — a query planned concurrently in the same
    * session would silently get 8 shuffle partitions. All callers
    * today (Verify, Bench) are strictly sequential; a future
    * concurrent caller must isolate the replay in `s.newSession()`
    * (shared context, private conf) instead of this set/restore. */
  private def runReplay(s: SparkSession, out: DataFrame,
                        prefix: String): DataFrame = {
    val name = s"${prefix}_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    // Replay checkpoints are EPHEMERAL by design (AvailableNow into a
    // memory sink — the audit-replay harness, not a production sink),
    // but Spark's default temp checkpoint lands on java.io.tmpdir's
    // DISK: every micro-batch then pays offset-WAL + per-partition
    // state-delta + commit-log writes through ext4 (r22 StreamProfile:
    // walCommit + state commitMs dominate the stateful replays). Put
    // them on the RAM-backed /dev/shm when present — same files, same
    // semantics, no durability loss for a throwaway checkpoint.
    // Production streams pass a real (durable, fast) checkpoint via
    // StreamOps and are unaffected. Local mode only: on a cluster the
    // executors write state under the checkpoint path, and a path on
    // the DRIVER's RAM disk is not shared storage.
    val shm = java.nio.file.Paths.get("/dev/shm")
    val ckpt =
      if (s.sparkContext.isLocal &&
          java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm))
        Some(s"/dev/shm/graft_ckpt_$name")
      else None
    try {
      val writer = out.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      val q = ckpt.fold(writer)(c =>
        writer.option("checkpointLocation", c)).start()
      q.awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      // drop the throwaway checkpoint so replay runs don't accumulate
      ckpt.foreach { c =>
        def rm(p: java.nio.file.Path): Unit = {
          if (java.nio.file.Files.isDirectory(p,
              java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
            val s = java.nio.file.Files.list(p)
            try s.forEach(rm) finally s.close()
          }
          java.nio.file.Files.deleteIfExists(p)
        }
        try rm(java.nio.file.Paths.get(c))
        catch {
          case scala.util.control.NonFatal(e) => log.warn(
            s"replay checkpoint $c not removed, it stays on disk: $e")
        }
      }
    }
    // the analyzed DataFrame pins the sink's plan; dropping the temp
    // view immediately lets the sink data GC with the DataFrame —
    // otherwise every replay run pins its full result set in driver
    // memory for the session's lifetime (bench runs each query twice)
    val df = s.table(name)
    s.catalog.dropTempView(name)
    df
  }

  /** S4 under the ORACLE — batch-replay of the REAL streaming
    * pipeline: `readStream(parquet) → withWatermark(1h) → 1h tumbling
    * window → append-mode memory sink`, Trigger.AvailableNow. This is
    * not the batch twin of q_window_tumbling — the output is shaped
    * by WATERMARK FINALIZATION: append mode emits only windows the
    * final watermark (max event time − 1 h, advanced by the closing
    * no-data micro-batch) has passed; trailing windows are withheld
    * as open state. The oracle models exactly that — the streaming
    * semantics are the thing being hash-checked, upgrading S4 from
    * spec-only to oracle-gated.
    *
    * Determinism: the events table is ONE file → one micro-batch, so
    * no intra-run late-drop ordering exists; the final watermark is
    * ms_floor(max(ts)) − 1 h — Spark tracks max event time in
    * MILLISECONDS (EventTimeStatsAccum), so the oracle floors max(tsu)
    * to the millisecond before subtracting the delay (a µs-precision
    * watermark would disagree on windows ending in the sub-ms gap —
    * the testdata's max ts genuinely carries sub-ms digits); emission
    * is `wend ≤ watermark` (StateStoreSaveExec's append-mode eviction
    * — pinned empirically at all three SFs); sums go through the
    * decimal-exact Det path inside the streaming agg itself.
    *
    * 100-TB shape: the identical plan fragments run on a real
    * unbounded source; state is O(open windows), the memory sink here
    * is O(closed windows) = value-domain bounded (the audit-replay
    * harness, not the production sink — production lands in
    * snapshotSink, StreamOps.scala). */
  val qStreamReplay: QuerySpec = QuerySpec(
    "q_stream_replay",
    s"""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS tsu, value FROM events),
       |wm AS (SELECT make_timestamp(epoch_ms(max(tsu)) * 1000)
       |    - INTERVAL 1 HOUR AS watermark FROM e),
       |w AS (SELECT date_trunc('hour', tsu) AS wstart,
       |    date_trunc('hour', tsu) + INTERVAL 1 HOUR AS wend,
       |    count(*) AS cnt, ${D.dsum("value")} AS sum_value
       |  FROM e GROUP BY 1, 2)
       |SELECT w.wstart, w.wend, w.cnt, w.sum_value
       |FROM w, wm WHERE w.wend <= wm.watermark
       |ORDER BY w.wstart""".stripMargin) { (s, dir) =>
    val out = graft.streaming.StreamOps.tumblingAggExact(
      eventsStream(s, dir).select(col("ts"), col("value")),
      "1 hour", "1 hour")
    runReplay(s, out, "graft_stream_replay").orderBy("wstart")
  }

  /** S5 under the ORACLE — batch-replay of the stateful streaming
    * dedup: the events file read as TWO streams, unioned (every event
    * arrives twice — the at-least-once delivery a real ingest fights),
    * then `dropDuplicatesWithinWatermark(event_id)` with a 1 h
    * watermark collapses the duplicates in state. The oracle is the
    * distinct event set — hash-checked, so the stateful dedup
    * operator's semantics (not just its spec) are gated.
    *
    * Determinism: duplicate copies are IDENTICAL rows, so whichever
    * copy the state keeps, the emitted columns are the same; one
    * micro-batch per source → no cross-batch watermark interaction;
    * no agg, so append mode emits everything. 100-TB shape: state is
    * O(keys within the watermark horizon) — the point of the
    * watermark-scoped variant vs plain dropDuplicates, whose state
    * never expires on a stream. */
  val qStreamDedup: QuerySpec = QuerySpec(
    "q_stream_dedup",
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    def src() = eventsStream(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val deduped = src().union(src())
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    runReplay(s, deduped, "graft_stream_dedup").orderBy("event_id")
  }

  /** S6 under the ORACLE — batch-replay of a STREAM-STREAM inner
    * join: the events file as two streams (split by event_id parity
    * — a detections/alerts pairing shape), both watermarked 1 h,
    * joined on user_id within ±30 min. The time-range conjunct is
    * what makes the join RUNNABLE on unbounded streams (it bounds
    * each side's state to the watermark + range horizon — without it
    * Spark rejects the plan); in a single AvailableNow micro-batch
    * every match is emitted, so the oracle is the plain interval
    * self-join. The streaming JOIN OPERATOR's semantics (state
    * build + symmetric probe) are what get hash-checked.
    *
    * Determinism: matches are key+interval set semantics (no
    * first-wins), integer-second dt; one file → one batch. */
  val qStreamJoin: QuerySpec = QuerySpec(
    "q_stream_join",
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS tsu,
      |    value FROM events),
      |a AS (SELECT * FROM e WHERE event_id % 2 = 0),
      |b AS (SELECT * FROM e WHERE event_id % 2 = 1)
      |SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
      |  abs(CAST(floor(epoch(b.tsu)) AS BIGINT)
      |    - CAST(floor(epoch(a.tsu)) AS BIGINT)) AS dt_s
      |FROM a JOIN b ON a.user_id = b.user_id
      |  AND b.tsu >= a.tsu - INTERVAL 30 MINUTE
      |  AND b.tsu <= a.tsu + INTERVAL 30 MINUTE
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    def src() = eventsStream(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val a = src().filter(col("event_id") % 2 === 0)
      .select(col("event_id").as("id_a"), col("user_id").as("u_a"),
        col("ts").as("ts_a"))
      .withWatermark("ts_a", "1 hour")
    val b = src().filter(col("event_id") % 2 === 1)
      .select(col("event_id").as("id_b"), col("user_id").as("u_b"),
        col("ts").as("ts_b"))
      .withWatermark("ts_b", "1 hour")
    val joined = a.join(b,
      col("u_a") === col("u_b") &&
        col("ts_b") >= col("ts_a") - expr("INTERVAL 30 MINUTES") &&
        col("ts_b") <= col("ts_a") + expr("INTERVAL 30 MINUTES"))
      .select(col("id_a"), col("id_b"), col("u_a").as("user_id"),
        abs(unix_timestamp(col("ts_b")) - unix_timestamp(col("ts_a")))
          .as("dt_s"))
    runReplay(s, joined, "graft_stream_join").orderBy("id_a", "id_b")
  }

  /** S3 (streaming form) under the ORACLE — batch-replay of the
    * SESSION-WINDOW aggregation: per-user 30-min-gap sessions with a
    * 1 h watermark, append sink. The stateful session operator does
    * real work here (merge-on-arrival of overlapping windows), and
    * append mode emits only sessions the final watermark has CLOSED
    * (session_end ≤ max(ts) − 1 h); the oracle is the
    * gaps-and-islands rewrite of q_window_session plus exactly that
    * finalization filter — so the session-state semantics are
    * hash-gated end to end.
    *
    * Determinism: one file → one batch (no cross-batch merge order);
    * session membership is exact timestamp arithmetic; sums are
    * decimal-exact; the watermark is ms-floored (see qStreamReplay —
    * Spark tracks max event time in milliseconds). */
  val qStreamSession: QuerySpec = QuerySpec(
    "q_stream_session",
    s"""WITH e AS (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu, value
       |  FROM events),
       |wm AS (SELECT make_timestamp(epoch_ms(max(tsu)) * 1000)
       |    - INTERVAL 1 HOUR AS watermark FROM e),
       |flagged AS (
       |  SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
       |                   OR tsu - lag(tsu) OVER w >= INTERVAL 30 MINUTE
       |            THEN 1 ELSE 0 END AS new_session
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
       |sessions AS (
       |  SELECT *, sum(new_session)
       |    OVER (PARTITION BY user_id ORDER BY tsu, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM flagged),
       |agg AS (
       |  SELECT user_id, min(tsu) AS session_start,
       |    max(tsu) + INTERVAL 30 MINUTE AS session_end,
       |    count(*) AS cnt, ${D.dsum("value")} AS sum_value
       |  FROM sessions GROUP BY user_id, sid)
       |SELECT a.user_id, a.session_start, a.session_end, a.cnt,
       |  a.sum_value
       |FROM agg a, wm WHERE a.session_end <= wm.watermark
       |ORDER BY a.user_id, a.session_start""".stripMargin) { (s, dir) =>
    val stream = eventsStream(s, dir)
      .select(col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("cnt"), Det.dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("cnt"), col("sum_value"))
    runReplay(s, stream, "graft_stream_session")
      .orderBy("user_id", "session_start")
  }

  /** S9 under the ORACLE — batch-replay of the STREAMING spatial
    * cross-match against a STORED MARGIN LAYOUT: the LSD-era realtime
    * shape (a transient-alert stream matched to the reference
    * catalog), composing this round's two pieces — the write-once
    * neighbor cache and Structured Streaming. `readStream(events)` →
    * in-stream sky projection → stateless stream-static cell join
    * against the `writeClustered(margin=…)` supplier catalog
    * (StreamOps.xmatchStreamMargined: NO per-batch explode of the
    * catalog, no watermark, no state store) → append memory sink.
    *
    * Oracle determinism is the snapped-nearest discipline
    * (CrossMatch.nearest with `snapped`): the stream
    * operator blocks at a SUPERSET radius, then membership is decided
    * on the d6-snapped distance — so a raw distance within one snap
    * half-step of the boundary can never be kept by one engine and
    * dropped by the other. The oracle recomputes the full snapped
    * relation from the raw tables.
    *
    * 100-TB shape: per micro-batch the work is (batch rows) × (cell
    * occupancy) — the catalog is never rescanned into an explode and
    * never shuffled; a night's alert stream joins a 100 TB reference
    * catalog at the cost of the batch's own cells. */
  val qStreamXmatch: QuerySpec = QuerySpec(
    "q_stream_xmatch",
    s"""WITH d AS (SELECT event_id AS det_id,
       |    CAST(event_id * 13 % 3600 AS DOUBLE) / 10.0 AS lon,
       |    CAST(event_id * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS lat
       |  FROM events),
       |o AS (SELECT s_suppkey AS obj_id,
       |    CAST(s_suppkey * 13 % 3600 AS DOUBLE) / 10.0 AS olon,
       |    CAST(s_suppkey * 7 % 600 AS DOUBLE) / 10.0 - 30.0 AS olat
       |  FROM supplier),
       |p AS (SELECT det_id, obj_id, ${D.d6(
          graft.spatial.CrossMatch.sql.distDeg("lon", "lat", "olon", "olat"))}
       |    AS dist_deg
       |  FROM d CROSS JOIN o)
       |SELECT det_id, obj_id, dist_deg FROM p WHERE dist_deg <= 0.6171
       |ORDER BY det_id, obj_id""".stripMargin) { (s, dir) =>
    val radius = 0.6171
    val sup = radius + graft.spatial.CrossMatch.snapHeadroom(radius)
    val root = graft.operators.Joins.ensureQlMarginDb(s, dir)
    val path = s"$root/supplier_sky.parquet"
    // contract check at the SUPERSET blocking radius, not the cut
    graft.sources.SpatialWriter.requireMargin(s, path, sup)
    val (_, level) = graft.sources.SpatialWriter.marginMeta(s, path).get
    val bM = graft.LsdDb(s, root).tableMargined("supplier_sky")
    val dets = eventsStream(s, dir).select(
      col("event_id").as("det_id"),
      ((col("event_id") * 13) % 3600).cast("double")./(10.0).as("lon"),
      (((col("event_id") * 7) % 600).cast("double") / 10.0 - 30.0)
        .as("lat"))
    val matched = graft.streaming.StreamOps.xmatchStreamMargined(
        dets, bM, "lon", "lat", "sid", "slon", "slat", sup, level)
      .select(col("det_id"), col("obj_id"),
        Det.d6(col("dist_deg")).as("dist_deg"))
      .filter(col("dist_deg") <= radius)
    runReplay(s, matched, "graft_stream_xmatch")
      .orderBy("det_id", "obj_id")
  }

  def specs: Seq[QuerySpec] = Seq(qWindowTumbling, qWindowSliding,
    qWindowSession, qStreamReplay, qStreamDedup, qStreamJoin,
    qStreamSession, qStreamXmatch)
}
