package graft.streaming

import graft.spatial.CrossMatch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** §2G — Structured Streaming surface.
  *
  * The reference is batch-only; its multi-epoch detection tables are
  * the closest analog of a stream (SURVEY.md §2G). This module hosts
  * the streaming-only semantics (watermarks, stateful dedup) that the
  * DuckDB oracle cannot check — they are covered by MemoryStream
  * micro-batch tests in StreamOpsSpec instead (golden-file strategy,
  * SURVEY.md §5).
  *
  * Every transform takes a DataFrame so the identical plan fragment
  * runs in batch (TimeWindows queries) and streaming (`readStream`)
  * — the Structured Streaming unification. State stores are keyed by
  * the grouping key, so at scale these shard exactly like the batch
  * shuffles do.
  */
object StreamOps {

  /** S1/S4 — tumbling-window aggregate with watermark-bounded state:
    * rows later than `watermark` behind the max event time are
    * dropped; window state is evicted once the watermark passes. */
  def tumblingAgg(events: DataFrame, windowLen: String,
                  watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("window.end").as("wend"),
        col("cnt"), col("sum_value"))

  /** [[tumblingAgg]] with the decimal-exact Det sum — the oracle-gated
    * replay form (q_stream_replay): partial-agg merge order inside the
    * state store must not move the emitted double. */
  def tumblingAggExact(events: DataFrame, windowLen: String,
                       watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("cnt"),
        graft.functions.Det.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("window.end").as("wend"),
        col("cnt"), col("sum_value"))

  /** S3 (streaming form) — session windows per user with watermark. */
  def sessionAgg(events: DataFrame, gap: String,
                 watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("cnt"))

  /** S5 — stateful stream dedup: drops rows whose key was already seen
    * within the watermark horizon (state self-expires, unlike plain
    * dropDuplicates whose state grows forever on a stream). */
  def dedupWithinWatermark(events: DataFrame, watermark: String,
                           keys: Seq[String]): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** S7 — STREAM-STREAM coincidence join: two live detection streams
    * (e.g. two instruments), emitting pairs within `radiusDeg` on the
    * sky AND `maxDtSeconds` in time — transient confirmation, the
    * streaming form of the batch (sky × time) product-grid
    * cross-match (q_xmatch_temporal).
    *
    * Shape: both sides watermarked, then the two disjoint channels of
    * [[graft.spatial.CrossMatch.pairs]], each a stream-stream join
    * with the same two-sided event-time range predicate:
    *   - cell channel: both sides at or below `CrossMatch.CapLat`,
    *     equi-join on the SkyPix blocking cell (side B exploded into
    *     its strip-pruned neighbor cells);
    *   - polar-cap channel: rows above `CapLat - radiusDeg`, at least
    *     one side above `CapLat`, equi-joined on `signum(lat)` (a
    *     stream-stream join needs an equality key; a pair within
    *     radius near a pole shares the hemisphere).
    * The time bound is what makes stream-stream state FINITE: each
    * side buffers only rows newer than watermark − maxDt, and the
    * state store is keyed by the cell — it shards exactly like the
    * batch shuffle does, so the pattern holds at full alert-stream
    * rate.
    *
    * Expected input columns on both streams: (`ts`, idCol, `lon`,
    * `lat`). Output: id_a, id_b, ts_a, ts_b, dt_s, dist_deg.
    */
  def coincidenceStream(a: DataFrame, b: DataFrame,
                        idA: String, idB: String,
                        radiusDeg: Double, maxDtSeconds: Long,
                        watermark: String): DataFrame = {
    import graft.spatial.SkyPix
    val cap = CrossMatch.CapLat
    val level = CrossMatch.levelFor(radiusDeg)
    val aw = a.select(col(idA).as("id_a"), col("ts").as("ts_a"),
        col("lon").as("lon_a"), col("lat").as("lat_a"))
      .withWatermark("ts_a", watermark)
    val bw = b.select(col(idB).as("id_b"), col("ts").as("ts_b"),
        col("lon").as("lon_b"), col("lat").as("lat_b"))
      .withWatermark("ts_b", watermark)
    val inBand =
      col("ts_b") >= col("ts_a") - expr(s"INTERVAL $maxDtSeconds SECONDS") &&
        col("ts_b") <= col("ts_a") + expr(s"INTERVAL $maxDtSeconds SECONDS")
    val aCell = aw.filter(abs(col("lat_a")) <= cap)
      .withColumn("cell_a", SkyPix.cell(col("lon_a"), col("lat_a"), level))
    val bCell = bw.filter(abs(col("lat_b")) <= cap)
      .withColumn("cell_b", explode(SkyPix.neighborCellsWithin(
        col("lon_b"), col("lat_b"), level, radiusDeg)))
    val cellChannel = aCell.join(bCell, col("cell_a") === col("cell_b") &&
      inBand).drop("cell_a", "cell_b")
    val capEdge = cap - radiusDeg
    val capChannel = aw.filter(abs(col("lat_a")) > capEdge)
      .join(bw.filter(abs(col("lat_b")) > capEdge),
        signum(col("lat_a")) === signum(col("lat_b")) && inBand &&
          (abs(col("lat_a")) > cap || abs(col("lat_b")) > cap))
    cellChannel.unionByName(capChannel)
      .withColumn("dist_deg", CrossMatch.distDeg(
        col("lon_a"), col("lat_a"), col("lon_b"), col("lat_b")))
      .filter(col("dist_deg") <= radiusDeg)
      .withColumn("dt_s",
        abs(unix_timestamp(col("ts_b")) - unix_timestamp(col("ts_a"))))
      .select("id_a", "id_b", "ts_a", "ts_b", "dt_s", "dist_deg")
  }

  /** S6 — streaming spatial enrichment (alert cross-match): join a
    * DETECTION STREAM against a static object catalog, emitting every
    * catalog object within `radiusDeg` of each detection. The modern
    * form of the reference's detection→object matching, applied to a
    * live alert feed.
    *
    * Shape: [[graft.spatial.CrossMatch.pairs]] with the stream as A and
    * a `Blocking` probe — a stream-static equi-join on the SkyPix
    * blocking cell (the static catalog exploded, strip-pruned, into its
    * neighbor cells at plan time; one home cell per stream row) plus
    * the broadcast polar-cap channel, then the exact great-circle
    * refine. Completely STATELESS (no watermark, no state store, append
    * mode): each micro-batch joins against the static catalog, so
    * latency is one batch, and results equal the batch operator's for
    * any sky, poles included.
    *
    * Columns in: stream (lonCol, latCol, …); catalog (objIdCol,
    * objLonCol, objLatCol). Out: stream row + obj_id + dist_deg.
    */
  def xmatchStream(dets: DataFrame, catalog: DataFrame,
                   lonCol: String, latCol: String,
                   objIdCol: String, objLonCol: String, objLatCol: String,
                   radiusDeg: Double): DataFrame =
    streamPairs(dets, CrossMatch.Blocking(catalog), lonCol, latCol,
      objIdCol, objLonCol, objLatCol, radiusDeg, CrossMatch.CapLat)

  /** [[xmatchStream]] against a STORED MARGIN LAYOUT — the streaming
    * twin of the LsdQL margin route, and the LSD-era realtime shape:
    * a transient-alert stream cross-matched against the reference
    * catalog. The catalog's neighbor replication happened ONCE at
    * write time (`SpatialWriter.write/writeClustered(margin=…)`), so
    * each micro-batch is a STATELESS stream-static equi-join on the
    * home cell — no explode of the catalog per batch, no watermark,
    * no state store; the catalog scan feeds the join directly and the
    * stream side (small per batch) broadcasts or exchanges. The pairs
    * come from [[graft.spatial.CrossMatch.pairs]] with a `Margined`
    * probe, cap channel included.
    *
    * The written margin must cover `radiusDeg` (callers verify via
    * `SpatialWriter.requireMargin`); `level` is the layout's written
    * level (from `SpatialWriter.marginMeta`). Emits one row per
    * (stream row, catalog row) pair within radius: stream columns +
    * `obj_id` + `dist_deg` (raw — callers snapping for oracle
    * determinism block at a superset radius and cut on the snap,
    * as `CrossMatch.nearest(snapped = true)` does). */
  def xmatchStreamMargined(dets: DataFrame, catalogMargined: DataFrame,
                           lonCol: String, latCol: String,
                           objIdCol: String, objLonCol: String,
                           objLatCol: String,
                           radiusDeg: Double, level: Int,
                           capLat: Double = CrossMatch.CapLat)
      : DataFrame =
    streamPairs(dets, CrossMatch.Margined(catalogMargined, level),
      lonCol, latCol, objIdCol, objLonCol, objLatCol, radiusDeg, capLat)

  /** Stream rows paired by [[graft.spatial.CrossMatch.pairs]], every
    * stream column carried: stream columns + obj_id + dist_deg. The
    * stream has no id column, so its longitude stands in for the
    * pair relation's a_id, which is dropped. */
  private def streamPairs(dets: DataFrame, probe: CrossMatch.Probe,
                          lonCol: String, latCol: String,
                          objIdCol: String, objLonCol: String,
                          objLatCol: String,
                          radiusDeg: Double, capLat: Double): DataFrame =
    CrossMatch.pairs(dets, probe, lonCol, lonCol, latCol,
        objIdCol, objLonCol, objLatCol, radiusDeg, capLat,
        carryA = dets.columns.toSeq)
      .select(dets.columns.map(col) :+ col("b_id").as("obj_id") :+
        col("dist_deg"): _*)

  /** S8 — streaming ingestion into a snapshot table: every micro-batch
    * lands as one committed snapshot, tagged with its batchId so a
    * REPLAYED batch (Structured Streaming re-runs the last batch after
    * a crash — at-least-once) commits exactly once. This is the bridge
    * from live streams to the whole batch surface: the landed table
    * immediately supports time travel, `Snapshots.readDelta`
    * increments, compaction and vacuum — a downstream incremental
    * pipeline consumes exactly the snapshots it hasn't seen.
    *
    * `statsCols` records per-batch [min, max] zone maps in the commit
    * log (Snapshots.readPruned): a stream's micro-batches are the
    * naturally-ranged appends — per-epoch event times, monotone ids —
    * that make historical range queries over the landed table skip
    * whole snapshot directories.
    *
    * Idempotency tags are scoped by QUERY IDENTITY, not the bare
    * batchId (review r20 — the Delta txnAppId+txnVersion pattern):
    * batchIds restart at 0 with a fresh checkpoint, and two streams
    * into one table share the counter, so an unscoped "b0" would make
    * appendTagged silently DROP real batches as replays. The default
    * scope is a fingerprint of the checkpoint location — stable
    * across restarts of the SAME checkpoint, which is exactly when
    * batch replay dedup must fire; pass `appId` to scope explicitly.
    * Wiping a checkpoint directory while reusing its path (or appId)
    * restarts batchIds inside the same tag space — use a fresh
    * path/appId for a logically new stream.
    * Returns the started query; callers own its lifecycle. */
  def snapshotSink(stream: DataFrame, path: String,
                   checkpoint: String, statsCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil,
                   appId: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val scope = appId.getOrElse(java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(checkpoint) &
        0xffffffffL))
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Snapshots.appendTagged(batch, path,
          s"$scope-b$batchId", statsCols, bloomCols)
        ()
      }
      .start()
  }

  /** S10 input/state/output rows for [[runningObjectStats]]. */
  case class Det(ts: java.sql.Timestamp, obj: Long, flux: Double)
  case class ObjState(n: Long, sumMilli: Long, lastMs: Long)
  case class ObjStats(obj: Long, n: Long, mean_flux: Double,
                      last_ts: java.sql.Timestamp)

  /** S10 — CUSTOM stateful streaming: running per-object statistics
    * via `mapGroupsWithState` (the escape hatch for state machines
    * the built-in windowed aggregates can't express). Each object
    * carries (epoch count, exact integer milli-flux sum, last event
    * time); every micro-batch emits the object's updated totals, and
    * state EVICTS on event-time timeout `idleMs` past the object's
    * last detection once the watermark passes it — an object that
    * reappears later restarts from n=1 (tested), so state size tracks
    * ACTIVE objects, not ever-seen objects. The flux sum is integer
    * millis so totals are partition- and replay-order independent,
    * the same exactness rule as Det.dsum. */
  def runningObjectStats(dets: org.apache.spark.sql.Dataset[Det],
                         watermark: String,
                         idleMs: Long): org.apache.spark.sql.Dataset[ObjStats] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = dets.sparkSession
    import spark.implicits._
    dets
      .withWatermark("ts", watermark)
      .groupByKey(_.obj)
      .mapGroupsWithState[ObjState, ObjStats](
        GroupStateTimeout.EventTimeTimeout) {
        (obj: Long, it: Iterator[Det], state: GroupState[ObjState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove() // eviction: the retired row is flagged n = -st.n
            ObjStats(obj, -st.n, st.sumMilli / 1000.0 / st.n,
              new java.sql.Timestamp(st.lastMs))
          } else {
            val prev = state.getOption.getOrElse(ObjState(0L, 0L, 0L))
            var n = prev.n
            var sum = prev.sumMilli
            var last = prev.lastMs
            it.foreach { d =>
              n += 1
              sum += math.round(d.flux * 1000) // exact integer millis
              last = math.max(last, d.ts.getTime)
            }
            state.update(ObjState(n, sum, last))
            state.setTimeoutTimestamp(last + idleMs)
            ObjStats(obj, n, sum / 1000.0 / n, new java.sql.Timestamp(last))
          }
      }
  }

  case class Alert(obj: Long, ts: java.sql.Timestamp, flux: Double,
                   baseline_mean: Double, dev_milli: Long, n_baseline: Long)

  /** S11 — streaming TRANSIENT ALERTS via `flatMapGroupsWithState`:
    * the alert-broker shape of a survey pipeline — emit a row ONLY
    * when a detection deviates from the object's running baseline,
    * not one per input (mapGroupsWithState emits exactly one per
    * group per batch; alerts need 0..k, hence the flatMap form).
    *
    * Rule: with a baseline of ≥ `minBaseline` prior epochs, a
    * detection whose |flux − mean| exceeds `threshMilli` integer
    * milli-flux units fires an alert carrying the pre-detection
    * baseline; every detection then joins the baseline (alerts don't
    * poison the mean — a flaring object keeps alerting against its
    * quiescent history until the state evicts). Within a micro-batch
    * the iterator is processed in event-time order (sorted here —
    * arrival order inside a batch is not guaranteed), so the emitted
    * alert set is replay-deterministic; the baseline sum is exact
    * integer millis (the S10 rule). State evicts on event-time
    * timeout like S10, so state size tracks ACTIVE objects. */
  def transientAlerts(dets: org.apache.spark.sql.Dataset[Det],
                      watermark: String, idleMs: Long,
                      minBaseline: Int = 5,
                      threshMilli: Long = 3000)
      : org.apache.spark.sql.Dataset[Alert] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = dets.sparkSession
    import spark.implicits._
    dets
      .withWatermark("ts", watermark)
      .groupByKey(_.obj)
      .flatMapGroupsWithState[ObjState, Alert](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (obj: Long, it: Iterator[Det], state: GroupState[ObjState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.getOrElse(ObjState(0L, 0L, 0L))
            var n = prev.n
            var sum = prev.sumMilli
            var last = prev.lastMs
            val alerts = Seq.newBuilder[Alert]
            it.toSeq.sortBy(d => (d.ts.getTime, d.flux)).foreach { d =>
              val milli = math.round(d.flux * 1000)
              if (n >= minBaseline) {
                val dev = milli - sum / n // integer mean, exact
                if (math.abs(dev) > threshMilli)
                  alerts += Alert(obj, d.ts, d.flux,
                    sum / 1000.0 / n, dev, n)
              }
              n += 1
              sum += milli
              last = math.max(last, d.ts.getTime)
            }
            state.update(ObjState(n, sum, last))
            state.setTimeoutTimestamp(last + idleMs)
            alerts.result().iterator
          }
      }
  }

  /** S9 — streaming sky density map: per-cell detection counts over
    * tumbling event-time windows — the live form of q_skymap (coverage
    * / alert-rate monitoring as detections arrive). State is one
    * counter per (active window × touched cell), bounded by the
    * watermark's eviction; at survey scale the groupBy key is the
    * packed BIGINT cell, so state shards evenly across executors the
    * same way the batch skymap's aggregate does. */
  def skymapStream(dets: DataFrame, level: Int, windowLen: String,
                   watermark: String): DataFrame =
    dets
      .withWatermark("ts", watermark)
      // null-coordinate detections carry no position: filtered here
      // (a cheap scan predicate) rather than inside the cell math,
      // whose raw grid would count them in the top-corner cell — a
      // spurious density hotspot (review r20; SkyPix.ixy contract)
      .filter(col("lon").isNotNull && col("lat").isNotNull)
      .withColumn("cell",
        graft.spatial.SkyPix.cell(col("lon"), col("lat"), level))
      .groupBy(col("cell"), window(col("ts"), windowLen))
      .agg(count(lit(1)).as("n_det"))
      .select(col("cell"), col("window.start").as("wstart"), col("n_det"))

  /** S12 — streaming MODEL-QUALITY MONITOR: per tumbling event-time
    * window, confusion cells + accuracy of a labeled prediction
    * stream (ts, pred, label) — the live drift alarm between offline
    * evals (the streaming twin of the batch q_confusion operator).
    * State is four counters per active window, evicted at the
    * watermark; late predictions are dropped rather than silently
    * rewriting a closed window's accuracy — exactly the property a
    * quality dashboard needs. Accuracy derives from the exact cell
    * counts per emitted row, so downstream alerting can threshold on
    * it without a second aggregation. */
  def qualityMonitorStream(preds: DataFrame, windowLen: String,
                           watermark: String): DataFrame =
    preds
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(
        count(when(col("pred") === 1 && col("label") === 1, 1)).as("tp"),
        count(when(col("pred") === 1 && col("label") === 0, 1)).as("fp"),
        count(when(col("pred") === 0 && col("label") === 0, 1)).as("tn"),
        count(when(col("pred") === 0 && col("label") === 1, 1)).as("fn"))
      .select(col("window.start").as("wstart"),
        col("window.end").as("wend"),
        col("tp"), col("fp"), col("tn"), col("fn"),
        ((col("tp") + col("tn")).cast("double") /
          (((col("tp") + col("fp")) + col("tn")) + col("fn")))
          .as("accuracy"))
}
