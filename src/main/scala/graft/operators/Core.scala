package graft.operators

import graft.{LsdDb, QuerySpec}
import graft.functions.Det
import graft.functions.Det.{sql => D}
import graft.sources.{CacheKeys, ParquetRead}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}

/** §2A scans/sources + §2B projection/filter/scalar expressions.
  *
  * Reference surface: the LSD query language's SELECT/WHERE clauses,
  * whose expressions were arbitrary vectorized NumPy code evaluated
  * per-cell (SURVEY.md §2B, ref `lsd/query_parser.py` +
  * `lsd/join_ops.py`, UNVERIFIED). Spark-native: every expression is
  * a Catalyst `Column`, so it whole-stage-codegens and pushes
  * filters/projections into the Parquet scan — the same "only load
  * the cgroups you touch" effect LSD got from lazy tablet loading,
  * but for free.
  */
object Core {

  /** SC1 — full table scan, partition-parallel. */
  val qScan: QuerySpec = QuerySpec(
    "q_scan",
    "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber") { (s, dir) =>
    LsdDb.table(s, dir, "lineitem").orderBy("l_orderkey", "l_linenumber")
  }

  /** SC2 — pruned scan: a time-footprint filter that reaches the
    * Parquet reader as a pushed predicate (row-group min/max pruning;
    * with a `t_bucket` partition column it would be partition pruning
    * — the analog of LSD's bounds∩quadtree cell enumeration). */
  val qPrunedScan: QuerySpec = QuerySpec(
    "q_pruned_scan",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |FROM events
      |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-15 00:00:00'
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "events")
      .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** Write-once time-partitioned copy of `events` (TimeWriter layout:
    * day buckets as directory partitions). Deterministic content, so
    * one materialization serves every Verify/Bench run in a JVM. */
  def ensureTimePartitionedEvents(s: org.apache.spark.sql.SparkSession,
                                  dir: String): String = {
    // leaf named `<root>/events_daily.parquet` — the db-root/table
    // shape LsdDb resolves, so time-BOUNDED QL queries share this one
    // write-once layout (the ensureQlBoundsDb pattern)
    val root = CacheKeys.writeOnce("graft_events_daily",
        s"$dir/events.parquet") { root =>
      graft.sources.TimeWriter.write(LsdDb.table(s, dir, "events"), "ts",
        "day", s"$root/events_daily.parquet")
    }
    s"$root/events_daily.parquet"
  }

  /** SC2b — DIRECTORY-level partition pruning (not just row-group
    * min/max): the same time footprint as q_pruned_scan, but against a
    * TimeWriter day-bucketed layout, so the `t_bucket` predicate
    * becomes `PartitionFilters` and untouched days are never opened —
    * the full analog of LSD's bounds∩quadtree cell pruning.
    * PlanQualitySpec pins the PartitionFilters entry. */
  val qPartitionPrune: QuerySpec = QuerySpec(
    "q_partition_prune",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |FROM events
      |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-15 00:00:00'
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val path = ensureTimePartitionedEvents(s, dir)
    graft.sources.TimeWriter.readRange(s, path, "ts", "day",
      "2024-01-10 00:00:00", "2024-01-15 00:00:00")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** SC2g/QL — TIME-INTERVAL BOUNDS AT THE QL SURFACE: the temporal
    * half of the reference's (space, time) bounds pairs as a query
    * ARGUMENT (`db.query(q, bounds=(..., interval))`; ref
    * `lsd/bounds.py`, UNVERIFIED). The QL text carries NO time
    * predicate — the half-open interval arrives as a
    * [[graft.spatial.TimeInterval]], the evaluator prunes the
    * layout's `t_bucket=` directories (PartitionFilters, pinned in
    * PlanQualitySpec) and refines with the exact predicate. Interval
    * edges are deliberately NON-midnight-aligned, so the
    * bucket-inclusive upper directory bound is exercised. Oracle
    * recomputes membership from the raw events table — the bound's
    * semantics are hash-checked; pruning is invisible. */
  val qQlBoundsTime: QuerySpec = QuerySpec(
    "q_ql_bounds_time",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |FROM events
      |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-06 09:30:00'
      |  AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-21 18:15:00'
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val path = ensureTimePartitionedEvents(s, dir)
    val root = new java.io.File(path).getParent
    val ql = graft.ql.LsdQL(graft.LsdDb(s, root), Nil)
    ql.query(
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events_daily ORDER BY event_id""".stripMargin,
      graft.spatial.TimeInterval("2024-01-06 09:30:00",
        "2024-01-21 18:15:00"))
  }

  /** Write-once Z-order clustered lineitem layout on (l_orderkey,
    * l_partkey). */
  def ensureZOrderLineitem(s: org.apache.spark.sql.SparkSession,
                           dir: String): String =
    CacheKeys.writeOnce("graft_zorder_lineitem",
        s"$dir/lineitem.parquet") { path =>
      graft.sources.ZOrderLayout.write(LsdDb.table(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", path, files = 24)
    }

  /** SC2c — MULTI-dimensional file skipping via a Z-order clustered
    * layout (sources/ZOrderLayout.scala): a box predicate on BOTH
    * (l_orderkey, l_partkey) reads only the files whose manifest box
    * intersects it — single-column layouts (q_partition_prune's day
    * buckets, the snapshot zone maps) cannot skip on the second
    * dimension. The box bounds are derived from exact BIGINT min/max
    * arithmetic on the driver so Spark literals and the oracle's
    * integer expressions agree bit-for-bit (no FMA-able double chain
    * near a comparison boundary — the q_trend_fit lesson). The
    * manifest gate is a superset; the exact predicate applies below,
    * so the result equals the plain filtered aggregate. */
  val qZorderBox: QuerySpec = QuerySpec(
    "q_zorder_box",
    s"""WITH b AS (SELECT min(l_orderkey) AS xmn, max(l_orderkey) AS xmx,
       |    min(l_partkey) AS ymn, max(l_partkey) AS ymx FROM lineitem),
       |box AS (SELECT xmn + (xmx - xmn) * 40 // 100 AS x_lo,
       |    xmn + (xmx - xmn) * 50 // 100 AS x_hi,
       |    ymn + (ymx - ymn) * 20 // 100 AS y_lo,
       |    ymn + (ymx - ymn) * 60 // 100 AS y_hi FROM b)
       |SELECT count(*) AS n, ${D.dsum("l_extendedprice")} AS revenue
       |FROM lineitem, box
       |WHERE l_orderkey BETWEEN x_lo AND x_hi
       |  AND l_partkey BETWEEN y_lo AND y_hi""".stripMargin) { (s, dir) =>
    val path = ensureZOrderLineitem(s, dir)
    val r = LsdDb.table(s, dir, "lineitem")
      .agg(min("l_orderkey"), max("l_orderkey"),
        min("l_partkey"), max("l_partkey")).head()
    val (xmn, xmx, ymn, ymx) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val (xLo, xHi) = (xmn + (xmx - xmn) * 40 / 100, xmn + (xmx - xmn) * 50 / 100)
    val (yLo, yHi) = (ymn + (ymx - ymn) * 20 / 100, ymn + (ymx - ymn) * 60 / 100)
    graft.sources.ZOrderLayout.read(s, path,
        xLo.toDouble, xHi.toDouble, yLo.toDouble, yHi.toDouble)
      .filter(col("l_orderkey").between(xLo, xHi) &&
        col("l_partkey").between(yLo, yHi))
      .agg(count(lit(1)).as("n"),
        Det.dsum(col("l_extendedprice")).as("revenue"))
  }

  /** SC3 — bulk import: CSV round-trip of the lossless column subset
    * (ints + strings survive text serialization exactly). Models the
    * reference's `lsd-import` text path. */
  val qImportCsv: QuerySpec = QuerySpec(
    "q_import_csv",
    """SELECT l_orderkey, l_linenumber, l_partkey, l_returnflag, l_linestatus
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    val tmp = s"${sys.props("java.io.tmpdir")}/graft_csv_roundtrip_" +
      math.abs(dir.hashCode).toString
    LsdDb.table(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_returnflag",
        "l_linestatus")
      .write.mode("overwrite").option("header", "true").csv(tmp)
    s.read.option("header", "true")
      .schema("l_orderkey LONG, l_linenumber INT, l_partkey LONG, " +
        "l_returnflag STRING, l_linestatus STRING")
      .csv(tmp)
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** SC3b — bulk import via FITS binary tables (graft.sources.Fits, a
    * pure-JVM BINTABLE writer/reader from the public FITS standard —
    * the reference's native catalog exchange format). Unlike the CSV
    * round-trip, FITS carries big-endian IEEE doubles, so the DOUBLE
    * columns round-trip bit-exactly and join the oracle check. */
  /** Write-once FITS export of the lineitem subset. */
  def ensureFitsExport(s: org.apache.spark.sql.SparkSession,
                       dir: String): String =
    CacheKeys.writeOnce("graft_fits_roundtrip",
        s"$dir/lineitem.parquet") { tmp =>
      graft.sources.Fits.write(
        LsdDb.table(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_returnflag", "l_linestatus"),
        tmp)
    }

  val qImportFits: QuerySpec = QuerySpec(
    "q_import_fits",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |  l_returnflag, l_linestatus
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    graft.sources.Fits.read(s, ensureFitsExport(s, dir))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Write-once scaled multi-HDU FITS export: a leading IMAGE
    * extension plus a BINTABLE whose integer columns carry
    * TSCALn/TZEROn — the heterogeneous external-catalog shape (offset
    * int16, quantized int32, offset int64; all binary-exact so the
    * round trip is lossless by construction). */
  def ensureFitsScaledExport(s: org.apache.spark.sql.SparkSession,
                             dir: String): String =
    CacheKeys.writeOnce("graft_fits_scaled",
        s"$dir/lineitem.parquet") { tmp =>
      graft.sources.Fits.writeScaled(
        LsdDb.table(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey",
            "l_quantity", "l_returnflag"),
        tmp,
        Map(
          // the classic "unsigned short" offset: raw int16 = v − 2^15
          "l_linenumber" -> graft.sources.Fits.Scaled("I", 1.0, 32768.0),
          // offset int64 (large-key compaction)
          "l_partkey" -> graft.sources.Fits.Scaled("K", 1.0, 2147483648.0),
          // quantized quarter-units: 2^-2 scale is binary-exact
          "l_quantity" -> graft.sources.Fits.Scaled("J", 0.25, 0.0)))
    }

  /** SC3e — FITS import, survey-catalog shape: multi-HDU file (image
    * extension skipped by data-size arithmetic) with TSCAL/TZERO
    * scaled-integer columns surfacing as physical values. The scaled
    * columns are restored to their catalog types, so the oracle is
    * the plain table — the round trip through int16/int32/int64 raw
    * storage is exact end to end. */
  val qImportFitsScaled: QuerySpec = QuerySpec(
    "q_import_fits_scaled",
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
      |  l_returnflag
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    graft.sources.Fits.read(s, ensureFitsScaledExport(s, dir))
      .select(col("l_orderkey"),
        col("l_linenumber").cast("int").as("l_linenumber"),
        col("l_partkey").cast("long").as("l_partkey"),
        col("l_quantity"), col("l_returnflag"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Write-once VLA FITS export of the embeddings table:
    * `embedding` rides the FITS variable-length-array
    * heap ('PE' descriptors — the format survey lightcurves and
    * per-object detection lists actually ship in). */
  def ensureFitsVlaExport(s: org.apache.spark.sql.SparkSession,
                          dir: String): String =
    CacheKeys.writeOnce("graft_fits_vla",
        s"$dir/embeddings.parquet") { tmp =>
      graft.sources.Fits.write(
        LsdDb.table(s, dir, "embeddings").select("vec_id", "embedding"),
        tmp)
    }

  /** SC3f — FITS import, variable-length arrays: the embeddings
    * round-trip through the BINTABLE heap ('PE(max)' descriptors,
    * PCOUNT-sized), then posexplode back to scalar cells so the
    * compare covers every element bit-exactly (big-endian IEEE floats
    * are lossless both ways; the driver comparator cannot sort array
    * cells, so the exploded relation IS the oracle surface). */
  val qImportFitsVla: QuerySpec = QuerySpec(
    "q_import_fits_vla",
    """SELECT vec_id, CAST(u.i AS INT) AS idx, u.v AS val
      |FROM (SELECT vec_id, unnest(list_transform(embedding,
      |    (x, i) -> {'i': i - 1, 'v': x})) AS u FROM embeddings)
      |ORDER BY vec_id, idx""".stripMargin) { (s, dir) =>
    graft.sources.Fits.read(s, ensureFitsVlaExport(s, dir))
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("idx"), col("col").as("val"))
      .orderBy("vec_id", "idx")
  }

  /** Write-once snapshot table: the events stream landed in THREE
    * committed appends (event_id mod 3 = 0, then 1, then 2) through
    * the Snapshots MVCC-lite layout — so snapshot 2 is a genuine
    * historical version containing exactly the first two batches. */
  def ensureSnapshotEvents(s: org.apache.spark.sql.SparkSession,
                           dir: String): String =
    CacheKeys.writeOnce("graft_snapshots", s"$dir/events.parquet") { path =>
      val ev = LsdDb.table(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      for (r <- 0L to 2L)
        graft.sources.Snapshots.append(
          ev.filter(col("event_id") % 3 === r), path)
    }

  /** SC4b / §1.1 snapshots — TIME TRAVEL read: the table as of
    * snapshot 2 of 3. The oracle is the semantic content of the first
    * two commits (event_id mod 3 <= 1); the engine-side read resolves
    * the commit log and scans ONLY the snap=1 and snap=2 directories —
    * version selection is directory selection, so a historical query
    * reads the bytes that existed then, nothing newer. */
  val qTimeTravel: QuerySpec = QuerySpec(
    "q_time_travel",
    """SELECT event_id, user_id, event_type, value FROM events
      |WHERE event_id % 3 <= 1 ORDER BY event_id""".stripMargin) { (s, dir) =>
    graft.sources.Snapshots
      .read(s, ensureSnapshotEvents(s, dir), asOf = Some(2L))
      .orderBy("event_id")
  }

  /** SC4c / §1.1 snapshots — INCREMENTAL read: aggregate ONLY the
    * rows that landed in the newest commit (delta (2, 3] of the
    * 3-append table; semantically event_id % 3 == 2). The scan
    * touches the snap=3 directory and nothing else — the cost of an
    * incremental pipeline step is the size of the increment, not the
    * table (plan-pinned via inputFiles). Decimal-exact sum so the
    * per-type totals hash-match regardless of partition order. */
  val qSnapshotDelta: QuerySpec = QuerySpec(
    "q_snapshot_delta",
    s"""SELECT event_type, count(*) AS n,
       |  ${D.dsum("value")} AS total
       |FROM events WHERE event_id % 3 = 2
       |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    graft.sources.Snapshots
      .readDelta(s, ensureSnapshotEvents(s, dir), after = 2L, asOf = 3L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("total"))
      .orderBy("event_type")
  }

  /** Write-once MATERIALIZED AGGREGATE STATE as of snapshot 2: the
    * per-type (count, DECIMAL partial sum) — the tiny table an
    * incremental pipeline persists instead of re-reading history.
    * Partials stay DECIMAL so the later merge is exact. */
  def ensureAggState(s: org.apache.spark.sql.SparkSession,
                     dir: String): String =
    CacheKeys.writeOnce("graft_agg_state", s"$dir/events.parquet") { path =>
      graft.sources.Snapshots
        .read(s, ensureSnapshotEvents(s, dir), asOf = Some(2L))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(graft.functions.Det.M)).as("tot"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/state")
    }

  /** SC4e / §1.1 — INCREMENTAL AGGREGATE MAINTENANCE: the full
    * per-type totals computed as merge(materialized agg state as of
    * snap 2, agg of the (2,3] delta) — hash-checked against the
    * full-table oracle, so "partial aggregates merge exactly" is an
    * oracle-gated property, not a belief. The 100-TB point: the scan
    * cost of refreshing the aggregate is O(delta) + O(state) — the
    * plan never touches the snap 1/2 history (pinned via inputFiles
    * in SnapshotsSpec). Exactness: counts are longs; sums stay
    * DECIMAL(18,8)→(28,8) through state and merge (associative), and
    * only the merged total casts to double — bit-identical to the
    * one-pass Det.dsum the oracle models. */
  val qIncrementalAgg: QuerySpec = QuerySpec(
    "q_incremental_agg",
    s"""SELECT event_type, count(*) AS n,
       |  ${D.dsum("value")} AS total
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, dir) =>
      val events = ensureSnapshotEvents(s, dir)
      val state = ParquetRead(s, s"${ensureAggState(s, dir)}/state")
      val delta = graft.sources.Snapshots
        .readDelta(s, events, after = 2L, asOf = 3L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(graft.functions.Det.M)).as("tot"))
      state.unionByName(delta)
        .groupBy("event_type")
        .agg(sum(col("n")).as("n"),
          sum(col("tot")).cast(org.apache.spark.sql.types.DoubleType)
            .as("total"))
        .orderBy("event_type")
  }

  /** Write-once keyed snapshot table for the merge-on-read query:
    * snap 1 upserts every order (key, price), snap 2 re-upserts the
    * %7 keys at doubled price, snap 3 tombstones the %11 keys. */
  def ensureMergedSnapshotOrders(s: org.apache.spark.sql.SparkSession,
                                 dir: String): String =
    CacheKeys.writeOnce("graft_snapshots_merge",
        s"$dir/orders.parquet") { path =>
      val o = LsdDb.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
      graft.sources.Snapshots.upsert(o, path)
      graft.sources.Snapshots.upsert(
        o.filter(col("o_orderkey") % 7 === 0)
          .withColumn("price", col("price") * 2.0), path)
      graft.sources.Snapshots.delete(
        o.filter(col("o_orderkey") % 11 === 0).select("o_orderkey"), path)
    }

  /** SC4d / §1.1 snapshots — MERGE-ON-READ upserts: the table state
    * after an upsert batch (price correction on the %7 keys) and a
    * delete batch (%11 keys tombstoned), resolved at read time by one
    * key-partitioned window — the reference's updatable-catalog story
    * under the same append-only snapshot layout. The oracle is the
    * semantic content (CASE for the update, WHERE for the delete);
    * the engine side actually reads three snapshot directories and
    * merges. */
  val qSnapshotMerge: QuerySpec = QuerySpec(
    "q_snapshot_merge",
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
      |       ELSE o_totalprice END AS price
      |FROM orders WHERE o_orderkey % 11 <> 0
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    graft.sources.Snapshots
      .readMerged(s, ensureMergedSnapshotOrders(s, dir), "o_orderkey")
      .orderBy("o_orderkey")
  }

  /** Write-once RANGED snapshot table: four committed appends that
    * each carry a contiguous `event_id` range (quartiles of [1, m]),
    * with a zone map on `event_id` recorded in the commit log — the
    * natural shape of survey ingest, where appends arrive per
    * epoch/run and their key ranges barely overlap. */
  def ensureRangedSnapshotEvents(s: org.apache.spark.sql.SparkSession,
                                 dir: String): String =
    CacheKeys.writeOnce("graft_snapshots_ranged",
        s"$dir/events.parquet") { path =>
      val ev = LsdDb.table(s, dir, "events")
        .select("event_id", "event_type", "value")
      val m = ev.agg(max("event_id")).head.getLong(0)
      for (i <- 1L to 4L) {
        val lo = (i - 1) * m / 4 // integer quartile boundaries
        val hi = i * m / 4
        val slice = if (i == 1) ev.filter(col("event_id") <= hi)
          else ev.filter(col("event_id") > lo && col("event_id") <= hi)
        graft.sources.Snapshots.append(slice, path,
          statsCols = Seq("event_id"))
      }
    }

  /** SC4e / §1.1 snapshots — ZONE-MAP-PRUNED range read: the top-half
    * event_id range over the 4-append ranged table. The max id and
    * the scan set both come from the COMMIT LOG's per-snapshot
    * [min,max] stats — the two low-range directories are dropped
    * before any file footer is opened. At 100 TB with per-epoch
    * appends this is the "one night out of ten years" query: scan
    * cost is the selected range's bytes, not the table's. The oracle
    * is the plain semantic filter; directory selection is pinned in
    * PlanQualitySpec via inputFiles. */
  val qSnapshotPrune: QuerySpec = QuerySpec(
    "q_snapshot_prune",
    s"""SELECT event_type, count(*) AS n, ${D.dsum("value")} AS total
       |FROM events
       |WHERE event_id * 2 > (SELECT max(event_id) FROM events)
       |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val path = ensureRangedSnapshotEvents(s, dir)
    // the table's max id read from zone-map metadata alone — no scan
    val m = graft.sources.Snapshots.entries(s, path)
      .flatMap(_.stats.get("event_id")).map(_._2).max.toLong
    graft.sources.Snapshots
      .readPruned(s, path, "event_id", (m / 2 + 1).toDouble,
        Double.MaxValue)
      .filter(col("event_id") * 2 > m) // exact integer refine
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("total"))
      .orderBy("event_type")
  }

  /** Write-once snapshot table of `events` as 4 appends PARTITIONED BY
    * KEY SET (user_id % 4), not by range: every append spans the full
    * user_id range, so zone maps cannot prune a point lookup — but
    * each append's bounded key SET can, via the commit-log Bloom
    * filters. The natural shape of per-source/per-shard ingest. */
  def ensureKeyedSnapshotEvents(s: org.apache.spark.sql.SparkSession,
                                dir: String): String =
    CacheKeys.writeOnce("graft_snapshots_keyed",
        s"$dir/events.parquet") { path =>
      val ev = LsdDb.table(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      for (i <- 0L until 4L)
        graft.sources.Snapshots.append(
          ev.filter(col("user_id") % 4 === i), path,
          statsCols = Seq("user_id"), bloomCols = Seq("user_id"))
    }

  /** SC4f / §1.1 snapshots — BLOOM-PRUNED point lookup: one object's
    * full event history over the 4-append keyed table. The probed key
    * (the MIDDLE of the dense user-id range — read from zone-map
    * metadata alone) sits inside EVERY directory's [min, max], so the
    * zone maps provably cannot prune (pinned in the spec) — but the
    * commit-log Bloom filters prove the key absent from the 3
    * directories holding the other residue classes before any footer
    * is opened. The "one object's history across ten years of
    * appends" scan shape; the oracle is the plain semantic filter. */
  val qSnapshotBloom: QuerySpec = QuerySpec(
    "q_snapshot_bloom",
    s"""SELECT event_type, count(*) AS n, ${D.dsum("value")} AS total
       |FROM events
       |WHERE user_id = (SELECT max(user_id) // 2 FROM events)
       |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val path = ensureKeyedSnapshotEvents(s, dir)
    val key = graft.sources.Snapshots.entries(s, path)
      .flatMap(_.stats.get("user_id")).map(_._2).max.toLong / 2
    graft.sources.Snapshots
      .readPrunedKey(s, path, "user_id", key)
      .filter(col("user_id") === key)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("total"))
      .orderBy("event_type")
  }

  /** SC3c — bulk import via ORC (Spark's second bundled columnar
    * format): write-once export of the lineitem subset, read back.
    * Like FITS (and unlike CSV text), ORC stores IEEE doubles
    * losslessly, so the double columns join the oracle check. */
  /** Write-once ORC export of the lineitem subset. */
  def ensureOrcExport(s: org.apache.spark.sql.SparkSession,
                      dir: String): String =
    CacheKeys.writeOnce("graft_orc_roundtrip",
        s"$dir/lineitem.parquet") { tmp =>
      LsdDb.table(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag", "l_linestatus")
        .write.mode("overwrite").orc(tmp)
    }

  val qImportOrc: QuerySpec = QuerySpec(
    "q_import_orc",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |  l_returnflag, l_linestatus
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    s.read.orc(ensureOrcExport(s, dir)).orderBy("l_orderkey", "l_linenumber")
  }

  /** P1 — projection with computed expressions (all IEEE-deterministic
    * double arithmetic; no aggregation → no ordering hazard). */
  val qProject: QuerySpec = QuerySpec(
    "q_project",
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1 - l_discount) AS revenue,
      |  l_quantity * 100.0 AS qty_pct,
      |  l_extendedprice / l_quantity AS unit_price
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        (col("l_quantity") * lit(100.0)).as("qty_pct"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** P2 — filter (vectorized boolean mask → pushed parquet predicate). */
  val qFilter: QuerySpec = QuerySpec(
    "q_filter",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag = 'R'
      |  AND l_discount > 0.02
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "lineitem")
      .filter(col("l_quantity").between(10, 20) &&
        col("l_returnflag") === "R" && col("l_discount") > 0.02)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** P3 — arithmetic + math functions. Exact ops (sqrt/abs/floor/ceil/
    * mod) pass through raw; libm-dependent ones (ln/exp/pow) are
    * snapped to the 1e-6 grid via Det.d6 because Java Math and DuckDB
    * libm can differ in the last ulp. */
  val qMath: QuerySpec = QuerySpec(
    "q_math",
    s"""SELECT l_orderkey, l_linenumber,
       |  sqrt(l_quantity) AS sqrt_qty,
       |  abs(l_quantity - 25.0) AS abs_dev,
       |  CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k_floor,
       |  CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_k_ceil,
       |  l_orderkey % 7 AS key_mod,
       |  ${D.d6("ln(l_extendedprice)")} AS log_price,
       |  ${D.d6("exp(l_discount)")} AS exp_disc,
       |  ${D.d6("pow(l_quantity, 1.5)")} AS qty_pow
       |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        sqrt(col("l_quantity")).as("sqrt_qty"),
        abs(col("l_quantity") - lit(25.0)).as("abs_dev"),
        floor(col("l_extendedprice") / 1000).as("price_k_floor"),
        ceil(col("l_extendedprice") / 1000).as("price_k_ceil"),
        (col("l_orderkey") % 7).as("key_mod"),
        Det.d6(log(col("l_extendedprice"))).as("log_price"),
        Det.d6(exp(col("l_discount"))).as("exp_disc"),
        Det.d6(pow(col("l_quantity"), lit(1.5))).as("qty_pow"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** P4 — conditional expression (numpy where → CASE WHEN). */
  val qCase: QuerySpec = QuerySpec(
    "q_case",
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice > 300000 THEN 'high'
      |       WHEN o_totalprice > 150000 THEN 'mid'
      |       ELSE 'low' END AS price_band,
      |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_final
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "orders")
      .select(col("o_orderkey"),
        when(col("o_totalprice") > 300000, "high")
          .when(col("o_totalprice") > 150000, "mid")
          .otherwise("low").as("price_band"),
        when(col("o_orderstatus") === "F", 1).otherwise(0).as("is_final"))
      .orderBy("o_orderkey")
  }

  /** P5 — string functions. */
  val qString: QuerySpec = QuerySpec(
    "q_string",
    """SELECT p_partkey,
      |  upper(p_name) AS name_upper,
      |  lower(p_brand) AS brand_lower,
      |  CAST(length(p_type) AS BIGINT) AS type_len,
      |  substring(p_type, 1, 5) AS type_pfx,
      |  concat(p_brand, '#', p_type) AS brand_type,
      |  (p_name LIKE '%a%') AS has_a,
      |  regexp_extract(p_name, '([0-9]+)', 1) AS first_num,
      |  replace(p_brand, 'Brand', 'B') AS brand_short
      |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "part")
      .select(col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        lower(col("p_brand")).as("brand_lower"),
        length(col("p_type")).cast(LongType).as("type_len"),
        substring(col("p_type"), 1, 5).as("type_pfx"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        col("p_name").like("%a%").as("has_a"),
        regexp_extract(col("p_name"), "([0-9]+)", 1).as("first_num"),
        regexp_replace(col("p_brand"), "Brand", "B").as("brand_short"))
      .orderBy("p_partkey")
  }

  /** P6 — date/time functions (reference analog: MJD epoch arithmetic
    * in query expressions). Extracts cast to BIGINT to match DuckDB's
    * native return type. */
  val qDatetime: QuerySpec = QuerySpec(
    "q_datetime",
    """SELECT o_orderkey,
      |  year(o_orderdate) AS y, month(o_orderdate) AS m,
      |  day(o_orderdate) AS d, quarter(o_orderdate) AS q,
      |  date_trunc('month', o_orderdate) AS month_start,
      |  datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since,
      |  o_orderdate + INTERVAL 30 DAY AS due_date
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("y"),
        month(col("o_orderdate")).cast(LongType).as("m"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("d"),
        quarter(col("o_orderdate")).cast(LongType).as("q"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .cast(LongType).as("days_since"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("due_date"))
      .orderBy("o_orderkey")
  }

  /** P7 — array-column ops via higher-order functions (reference
    * analog: per-band magnitude arrays `mags[2]`). Folds are
    * sequential left-folds in both engines → deterministic floats.
    * All outputs are scalars: the driver's comparator sorts result
    * columns with pandas, which cannot hash array cells. */
  val qArray: QuerySpec = QuerySpec(
    "q_array",
    """SELECT vec_id, label,
      |  CAST(len(embedding) AS BIGINT) AS dim,
      |  CAST(embedding[1] AS DOUBLE) AS first_elem,
      |  list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |              (a, b) -> a + b) AS emb_sum,
      |  sqrt(list_reduce(list_transform(embedding,
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      |        (a, b) -> a + b)) AS emb_norm,
      |  list_reduce(list_transform(embedding[1:3], x -> CAST(x AS DOUBLE)),
      |              (a, b) -> a + b) AS head3_sum
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val asD = transform(col("embedding"), x => x.cast(DoubleType))
    LsdDb.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        size(col("embedding")).cast(LongType).as("dim"),
        element_at(col("embedding"), 1).cast(DoubleType).as("first_elem"),
        aggregate(asD, lit(0.0), (a, x) => a + x).as("emb_sum"),
        sqrt(aggregate(transform(col("embedding"),
          x => x.cast(DoubleType) * x.cast(DoubleType)),
          lit(0.0), (a, x) => a + x)).as("emb_norm"),
        aggregate(transform(slice(col("embedding"), 1, 3),
          x => x.cast(DoubleType)), lit(0.0), (a, x) => a + x)
          .as("head3_sum"))
      .orderBy("vec_id")
  }

  /** P9 — JSON field access (events.props carries a JSON payload). */
  val qJson: QuerySpec = QuerySpec(
    "q_json",
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    LsdDb.table(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .orderBy("event_id")
  }

  /** P7b — array set/search ops. DuckDB's list_distinct/list_intersect
    * are unordered → both sides canonicalize with a sort; flatten and
    * sequence/range preserve order on both engines. Array results are
    * serialized to comma-joined strings (bigint→digits renders
    * identically in both engines) because the driver's comparator
    * cannot hash array cells. */
  val qArrayOps: QuerySpec = QuerySpec(
    "q_array_ops",
    """SELECT l_orderkey, l_linenumber,
      |  array_to_string(list_sort(list_distinct(list_concat(
      |    range(1, CAST(l_linenumber AS BIGINT) + 1), [2, 4]))), ',') AS union_sorted,
      |  COALESCE(array_to_string(list_sort(list_intersect(
      |    range(1, CAST(l_linenumber AS BIGINT) + 1), [2, 4])), ','), '') AS inter_sorted,
      |  COALESCE(CAST(list_position(
      |    range(1, CAST(l_linenumber AS BIGINT) + 1), 3) AS BIGINT), 0) AS pos3,
      |  list_contains(range(1, CAST(l_linenumber AS BIGINT) + 1), 2) AS has2,
      |  array_to_string(flatten([range(1, CAST(l_linenumber AS BIGINT) + 1),
      |                           [9, 10]]), ',') AS flat
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    val seq1n = sequence(lit(1L), col("l_linenumber").cast(LongType))
    val lit24 = array(lit(2L), lit(4L))
    // array cast, not transform(_.cast(...)): the higher-order lambda
    // runs interpreted (boxes every element, breaks codegen); the
    // element-wise Cast is the same formatting, codegen'd
    def joined(c: Column): Column =
      array_join(c.cast(ArrayType(StringType)), ",")
    // Every computed column is a pure function of l_linenumber, whose
    // cardinality is tiny (≤7 in TPC-H shape — computed dynamically,
    // not assumed): build the array/string results once per DISTINCT
    // key and broadcast-join them back, instead of re-evaluating ~10
    // array constructions per corpus row. At 100 TB this is the
    // dictionary trick — per-row cost drops to a broadcast hash probe,
    // and the distinct() is a map-side-combined shuffle of a few rows.
    val li = LsdDb.table(s, dir, "lineitem")
    val perKey = li.select(col("l_linenumber")).distinct()
      .select(col("l_linenumber"),
        joined(sort_array(array_union(seq1n, lit24))).as("union_sorted"),
        joined(sort_array(array_intersect(seq1n, lit24))).as("inter_sorted"),
        array_position(seq1n, 3L).as("pos3"),
        array_contains(seq1n, 2L).as("has2"),
        joined(flatten(array(seq1n, array(lit(9L), lit(10L))))).as("flat"))
    // LEFT join: the dictionary rewrite must be row-preserving even if
    // the fixture ever grows NULL l_linenumber rows — an inner USING
    // join would silently drop them where the original per-row
    // projection emitted them with NULL computed columns.
    li.select(col("l_orderkey"), col("l_linenumber"))
      .join(broadcast(perKey), Seq("l_linenumber"), "left")
      .select(col("l_orderkey"), col("l_linenumber"), col("union_sorted"),
        col("inter_sorted"), col("pos3"), col("has2"), col("flat"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Write-once JSONL export of a lineitem subset (integer + string
    * columns only — JSON text round-trips those exactly; doubles go
    * through the FITS/ORC paths, which carry IEEE bits). */
  def ensureJsonExport(s: org.apache.spark.sql.SparkSession,
                       dir: String): String =
    CacheKeys.writeOnce("graft_json_roundtrip",
        s"$dir/lineitem.parquet") { tmp =>
      LsdDb.table(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_returnflag",
          "l_linestatus")
        .write.mode("overwrite").json(tmp)
    }

  /** SC3d — bulk import via JSON lines (the third text interchange
    * format next to CSV and FITS/ORC: the shape crawl dumps and API
    * exports arrive in). Explicit schema on read — schema inference
    * would cost a second full pass over 100 TB. */
  val qImportJson: QuerySpec = QuerySpec(
    "q_import_json",
    """SELECT l_orderkey, l_linenumber, l_partkey, l_returnflag, l_linestatus
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) {
    (s, dir) =>
    s.read
      .schema("l_orderkey LONG, l_linenumber INT, l_partkey LONG, " +
        "l_returnflag STRING, l_linestatus STRING")
      .json(ensureJsonExport(s, dir))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Write-once two-generation parquet dataset: generation 1 landed
    * WITHOUT l_discount (even order keys), generation 2 added the
    * column (odd keys) — the schema-widening every long-lived table
    * undergoes. */
  def ensureEvolvedExport(s: org.apache.spark.sql.SparkSession,
                          dir: String): String =
    CacheKeys.writeOnce("graft_schema_evolve",
        s"$dir/lineitem.parquet") { tmp =>
      val li = LsdDb.table(s, dir, "lineitem")
      li.filter(col("l_orderkey") % 2 === 0)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      li.filter(col("l_orderkey") % 2 === 1)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
          "l_discount")
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
    }

  /** SC3e — schema-evolution read: mergeSchema unions the two
    * generations' physical schemas, so generation-1 rows surface the
    * later column as NULL and aggregates over it see exactly the rows
    * that carried it. (At 100 TB, mergeSchema's footer sampling reads
    * k footers, not the dataset — and a production table would pin the
    * merged schema in a catalog; the read semantics are what this
    * query pins.) */
  val qSchemaEvolve: QuerySpec = QuerySpec(
    "q_schema_evolve",
    s"""SELECT l_returnflag, count(*) AS n,
       |  ${D.dsum("l_quantity")} AS sum_qty,
       |  ${D.dsum("CASE WHEN l_orderkey % 2 = 1 THEN l_discount END")}
       |    AS sum_disc_evolved
       |FROM lineitem GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    s.read.option("mergeSchema", "true").parquet(ensureEvolvedExport(s, dir))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.dsum(col("l_discount")).as("sum_disc_evolved"))
      .orderBy("l_returnflag")
  }

  def specs: Seq[QuerySpec] = Seq(qScan, qPrunedScan, qPartitionPrune,
    qQlBoundsTime, qZorderBox,
    qImportCsv, qImportFits, qImportFitsScaled, qImportFitsVla,
    qImportOrc, qImportJson, qTimeTravel,
    qSnapshotDelta, qIncrementalAgg, qSnapshotMerge, qSnapshotPrune,
    qSnapshotBloom,
    qProject, qFilter,
    qMath, qCase,
    qString, qDatetime, qArray, qArrayOps, qJson, qSchemaEvolve)
}
