package graft

import graft.sources.Snapshots
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Thin database registry over a directory of Parquet tables.
  *
  * Spark-native analog of the reference's `DB` object (a directory of
  * tables + join definitions; see SURVEY.md §1.1, ref `lsd/join_ops.py`
  * class DB, UNVERIFIED). Tables are plain Parquet datasets; the
  * SparkSession catalog supplies schema-on-read, column pruning and
  * partition pruning, so no bespoke tablet/cgroup machinery is needed.
  *
  * At 100 TB scale the same API holds: `root` becomes an object-store
  * prefix and each table a partitioned Parquet dataset; nothing here is
  * single-node-specific.
  */
final case class LsdDb(spark: SparkSession, root: String) {

  /** Load one table. The driver's testdata stores each table as
    * `<root>/<name>.parquet`; a partitioned dataset directory with the
    * same name works identically.
    *
    * Nanosecond parquet timestamps (the `events.ts` column) are not a
    * legal Spark type — we read them as raw Long nanos
    * (`spark.sql.legacy.parquet.nanosAsLong`) and normalize to a
    * microsecond TimestampType, which matches DuckDB's
    * `CAST(ts AS TIMESTAMP)` truncation, so oracle comparisons stay
    * exact at µs precision.
    */
  def table(name: String): DataFrame = table(name, asOf = None)

  /** [[table]] with optional snapshot time travel (`asOf` = committed
    * snapshot id; only meaningful for snapshot-layout tables). */
  def table(name: String, asOf: Option[Long]): DataFrame =
    table(name, asOf, prune = None)

  /** Columns with zone-map stats recorded in the table's commit log
    * (empty for non-snapshot tables) — what [[table]]'s `prune`
    * argument can act on. */
  def statsCols(name: String): Set[String] = {
    val path = s"$root/$name.parquet"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_COMMITS")))
      Set.empty
    else Snapshots.entries(spark, path).flatMap(_.stats.keys).toSet
  }

  /** Columns with ANY pruning metadata in the commit log — zone-map
    * stats OR Bloom filters. A range on a bloom-only column prunes
    * nothing (conservative), but an EQUALITY on it prunes through
    * [[Snapshots.readPrunedEq]]'s membership channel. */
  def prunableCols(name: String): Set[String] = {
    val path = s"$root/$name.parquet"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_COMMITS")))
      Set.empty
    else Snapshots.entries(spark, path)
      .flatMap(e => e.stats.keys ++ e.blooms.keys).toSet
  }

  /** [[table]] with snapshot time travel AND zone-map pruning:
    * `prune = Some((col, lo, hi))` drops snapshot directories whose
    * recorded [min, max] of `col` cannot intersect [lo, hi]
    * ([[Snapshots.readPruned]] — advisory, the caller's own filter
    * must still imply the range). Ignored for non-snapshot tables. */
  /** [[table]] with an IN-LIST metadata probe: snapshot directories
    * admitting none of `vs` under their zone map AND bloom channels
    * drop from the scan set ([[Snapshots.readPrunedIn]] — advisory;
    * the caller's own `col IN (vs)` filter must still apply). */
  def tableIn(name: String, asOf: Option[Long], keyCol: String,
              vs: Seq[Double]): DataFrame =
    tableResolved(name, asOf,
      path => Snapshots.readPrunedIn(spark, path, keyCol, vs, asOf))

  def table(name: String, asOf: Option[Long],
            prune: Option[(String, Double, Double)]): DataFrame =
    tableResolved(name, asOf, path => prune match {
      case Some((c, lo, hi)) if lo == hi =>
        // equality probe: zone map AND bloom membership both prune
        Snapshots.readPrunedEq(spark, path, c, lo, asOf)
      case Some((c, lo, hi)) =>
        Snapshots.readPruned(spark, path, c, lo, hi, asOf)
      case None => Snapshots.read(spark, path, asOf)
    })

  /** (lonCol, latCol, level) when `name` is a SpatialWriter layout
    * with the `_SPATIAL` sidecar — the metadata a footprint-bounded
    * read resolves through ([[tableFootprint]], LsdQL bounds). */
  def spatialMeta(name: String): Option[(String, String, Int)] =
    graft.sources.SpatialWriter.spatialMeta(spark, s"$root/$name.parquet")

  /** Footprint-bounded read of a SpatialWriter cell-partitioned
    * table: only the `cells` directories are listed and scanned
    * ([[graft.sources.SpatialWriter.readCells]]; the isin on the
    * partition column still shows as directory-level PartitionFilters —
    * LSD's bounds∩quadtree pruning), margin replicas are excluded,
    * and the result gets the same layout-column strip + ts
    * normalization as [[table]]. Advisory like the zone-map prunes:
    * the caller's own exact predicate must still apply below. */
  def tableFootprint(name: String, cells: Seq[Long]): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$root/$name.parquet"
    require(spatialMeta(name).isDefined,
      s"table '$name' is not a SpatialWriter layout (no _SPATIAL " +
        "sidecar); footprint-bounded reads need the cell directories")
    // postProcess supplies the !is_margin filter and the layout strip
    postProcess(graft.sources.SpatialWriter.readCells(spark, path, cells))
  }

  /** (marginDeg, level) when `name` is a SpatialWriter layout written
    * WITH margin replicas (the `_MARGIN` sidecar) — the metadata a
    * margin-cache cross-match routes through ([[tableMargined]],
    * LsdQL declared-xmatch lowering). */
  def marginMeta(name: String): Option[(Double, Int)] =
    graft.sources.SpatialWriter.marginMeta(spark, s"$root/$name.parquet")

  /** Margin-cache resolution for a declared-xmatch route: Right(ref)
    * when a usable write-time neighbor cache exists for the read THIS
    * query does, Left(reason) otherwise — every branch is a complete
    * sentence, because the reasons feed [[graft.ql.LsdQL.explain]]'s
    * route report.
    *
    * For a PLAIN SpatialWriter margin layout the table itself is the
    * cache. For a SNAPSHOT (live) table the cache is the
    * point-in-time `_margincache/` sibling built by `AdminCli
    * make-cache --from-snapshot`; it must carry a source-snapshot
    * stamp EQUAL to the snapshot this query reads (the head for a
    * plain read, the pinned id for a `t@N` read) — a STALE cache
    * falls back loudly (slf4j warn + the explain reason) rather than
    * silently answering from pre-upsert rows. Compaction also moves
    * the head, so a cache reads stale after compact too: conservative
    * (the rows may be identical), but snapshot-id equality is the
    * only check that never lies. */
  def marginCacheFor(name: String, asOf: Option[Long] = None)
      : Either[String, MarginCacheRef] = {
    val path = s"$root/$name.parquet"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val isSnapshot =
      fs.exists(new org.apache.hadoop.fs.Path(path, "_COMMITS"))
    def spatialOf(p: String, what: String)
        : Either[String, (String, String)] =
      graft.sources.SpatialWriter.spatialMeta(spark, p) match {
        case Some((lo, la, _)) => Right((lo, la))
        case None => Left(s"$what lacks the _SPATIAL sidecar — " +
          "rebuild it with SpatialWriter (which records it)")
      }
    if (!isSnapshot) {
      // a pinned read on a plain table does not exist (the table API
      // refuses it); returning a "usable" cache for it would attribute
      // current rows to a snapshot view (review r20)
      if (asOf.isDefined)
        Left(s"'$name' is not a snapshot table — a pinned @${asOf.get} " +
          "read cannot resolve")
      else marginMeta(name) match {
        case None => Left(s"table '$name' has no margin layout " +
          "(_MARGIN sidecar) — build one with AdminCli make-cache")
        case Some((m, lvl)) => spatialOf(path, s"margin layout '$name'")
          .map { case (lo, la) =>
            MarginCacheRef(path, lo, la, lvl, m, sourceSnap = None) }
      }
    }
    else {
      val cp = graft.sources.MarginCache.cachePath(root, name)
      graft.sources.SpatialWriter.marginMeta(spark, cp) match {
        case None => Left(s"snapshot table '$name' has no margin " +
          "cache — build one with AdminCli make-cache --from-snapshot")
        case Some((m, lvl)) =>
          graft.sources.SpatialWriter.marginSourceSnap(spark, cp) match {
            case None => Left(s"margin cache for '$name' carries no " +
              "source-snapshot stamp — rebuild it with AdminCli " +
              "make-cache --from-snapshot")
            case Some(stamp) =>
              val target = asOf.orElse(Snapshots.head(spark, path))
              if (!target.contains(stamp)) {
                // tailor the remediation: re-running at head only
                // helps when the query READS the head; a pinned @N
                // older than the stamp needs the pinned rebuild, and
                // an empty commit log is its own problem (review r20)
                val why = target match {
                  case None => s"snapshot table '$name' has no " +
                    "committed snapshots — the margin cache (built at " +
                    s"snap=$stamp) matches nothing"
                  case Some(t) if asOf.isDefined =>
                    s"margin cache for '$name' was built at " +
                      s"snap=$stamp but the query is PINNED at " +
                      s"snap=$t — rebuild with AdminCli make-cache " +
                      s"--from-snapshot $t (or drop the @$t pin)"
                  case Some(t) =>
                    s"margin cache for '$name' is STALE: built at " +
                      s"snap=$stamp, query reads snap=$t — re-run " +
                      "AdminCli make-cache --from-snapshot latest"
                }
                LsdDb.log.warn(
                  s"$why (falling back to the blocking join)")
                Left(why)
              } else spatialOf(cp, s"margin cache for '$name'")
                .map { case (lo, la) =>
                  MarginCacheRef(cp, lo, la, lvl, m, Some(stamp)) }
          }
      }
    }
  }

  /** The PROBE view of a RESOLVED margin cache ([[marginCacheFor]]):
    * primaries AND margin replicas with `cell`/`is_margin` kept — the
    * B side of [[graft.spatial.CrossMatch.applyPreMargined]]. */
  def tableMarginedRef(ref: MarginCacheRef): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(ref.path))
  }

  /** The PROBE view of a margin-cache layout: primaries AND margin
    * replicas, `cell`/`is_margin` kept (they are the join key and the
    * replica flag), ts normalization as [[table]]. This is the B side
    * of [[graft.spatial.CrossMatch.applyPreMargined]] — the write-time
    * neighbor replication means a cross-match against it is a plain
    * cell equi-join with NO query-time explode of the stored catalog
    * (LSD's neighbor-cache economics). */
  def tableMargined(name: String): DataFrame =
    // ONE read path with [[marginCacheFor]] (review r20): plain margin
    // layouts read the table itself; snapshot tables resolve their
    // fresh stamped cache (a raw read of a commit-log dataset would
    // double-count bases plus the appends they fold); anything else —
    // no layout, stale stamp — refuses with the same sentence explain
    // reports
    marginCacheFor(name).fold(
      reason => throw new IllegalArgumentException(reason),
      tableMarginedRef)

  /** (tsCol, granularity) when `name` is a TimeWriter layout with the
    * `_TEMPORAL` sidecar — what a time-bounded read resolves through
    * ([[tableTimeFootprint]], LsdQL time bounds). */
  def temporalMeta(name: String): Option[(String, String)] =
    graft.sources.TimeWriter.temporalMeta(spark, s"$root/$name.parquet")

  /** Time-bounded read of a TimeWriter bucket-partitioned table: only
    * the `t_bucket=` directories that can hold [fromIncl, toExcl) are
    * scanned (PartitionFilters — the temporal half of bounds pruning),
    * then the same layout-column strip + ts normalization as
    * [[table]]. Advisory: the caller's exact ts predicate must still
    * apply below (the directory bound is bucket-granular). */
  def tableTimeFootprint(name: String, fromIncl: String,
                         toExcl: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, date_trunc, lit,
      to_timestamp}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$root/$name.parquet"
    val (_, gran) = temporalMeta(name).getOrElse(throw
      new IllegalArgumentException(s"table '$name' is not a TimeWriter " +
        "layout (no _TEMPORAL sidecar); time-bounded reads need the " +
        "bucket directories"))
    val from = to_timestamp(lit(fromIncl))
    val to = to_timestamp(lit(toExcl))
    // upper bound INCLUSIVE of toExcl's own bucket (a non-aligned
    // toExcl still has rows in it); the caller's exact filter refines
    postProcess(spark.read.parquet(path)
      .filter(col("t_bucket") >= date_trunc(gran, from).cast("date") &&
        col("t_bucket") <= date_trunc(gran, to).cast("date")))
  }

  /** Shared table resolution: snapshot tables go through `snapRead`
    * (the commit log is the truth — a raw recursive parquet read
    * would double-count bases plus the appends they fold and see
    * torn directories); plain tables read directly. Both paths get
    * the layout-column strip and the ns→µs ts conversion. */
  private def tableResolved(name: String, asOf: Option[Long],
                            snapRead: String => DataFrame): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$root/$name.parquet"
    val isSnapshotTable = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      fs.exists(new org.apache.hadoop.fs.Path(path, "_COMMITS"))
    }
    require(asOf.isEmpty || isSnapshotTable,
      s"table '$name' is not a snapshot table; AS OF / @id requires one")
    val raw =
      if (isSnapshotTable) snapRead(path)
      else spark.read.parquet(path)
    postProcess(raw)
  }

  /** The TABLE view of a raw dataset: margin replicas and layout
    * columns off (so `SELECT *` round-trips the logical schema) and
    * ns→µs ts normalization. */
  private def postProcess(raw: DataFrame): DataFrame = {
    // A SpatialWriter cell-partitioned layout (e.g. a spatial INTO
    // result) carries two layout-only columns: `cell` (the directory
    // partition key) and `is_margin` (replica flag). The TABLE view
    // of such a dataset is its logical rows: margin replicas out,
    // layout columns off — so `SELECT *` round-trips the original
    // result schema. Footprint-pruned access goes through
    // SpatialWriter.readPrimary/readWithMargins, which keep them.
    val df0 =
      if (raw.columns.contains("is_margin") && raw.columns.contains("cell"))
        raw.filter(!org.apache.spark.sql.functions.col("is_margin"))
          .drop("is_margin", "cell")
      else raw
    // t_bucket is TimeWriter's layout-only partition column (a
    // reserved name, like cell/is_margin): the TABLE view hides it
    val df =
      if (df0.columns.contains("t_bucket")) df0.drop("t_bucket") else df0
    normalizeTs(df)
  }

  /** The ts-normalization half of [[postProcess]], reused by the
    * margined probe view (which keeps the layout columns). */
  private def normalizeTs(df: DataFrame): DataFrame = {
    val withTs =
      df.schema.find(f => f.name == "ts" && f.dataType == LongType) match {
        case Some(_) =>
          // integer DIV, not `/`: ns epochs (~1.7e18) exceed double's
          // exact-integer range, so float division would corrupt low bits
          df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case None => df
      }
    // Parquet written with isAdjustedToUTC=false surfaces as
    // TIMESTAMP_NTZ, which unix_micros()/epoch arithmetic reject. The
    // session runs in UTC, so casting NTZ → TIMESTAMP is value-
    // preserving and matches DuckDB's CAST(ts AS TIMESTAMP).
    withTs.schema.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.foldLeft(withTs)((d, c) =>
      d.withColumn(c, org.apache.spark.sql.functions.col(c)
        .cast(TimestampType)))
  }

  /** Register every known table as a temp view so `spark.sql` works. */
  def registerAll(names: Seq[String] = LsdDb.standardTables): Unit =
    names.foreach(n => table(n).createOrReplaceTempView(n))
}

/** A resolved, USABLE margin cache ([[LsdDb.marginCacheFor]]): the
  * dataset path plus the written-contract fields the QL lowering
  * still checks per-relation (coordinates, margin coverage, level
  * closure). `sourceSnap` is set for snapshot-table caches. */
final case class MarginCacheRef(path: String, lonCol: String,
                                latCol: String, level: Int,
                                marginDeg: Double,
                                sourceSnap: Option[Long])

object LsdDb {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.LsdDb")

  val standardTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, root: String, name: String): DataFrame =
    LsdDb(spark, root).table(name)

  /** Redistribute a freshly-scanned relation when the SOURCE LAYOUT
    * under-parallelizes it (guide §2.5 "input skew: one huge
    * unsplittable file … repartition immediately after the read").
    * Parquet can only split at row-group boundaries, so a table
    * written as one row group scans as ONE task no matter how many
    * cores the cluster has — and any CPU-heavy chain rooted on that
    * scan (tokenize, explode, hash) single-threads with it (measured:
    * the q_dedup_prefix shingle stage ran 3.4 s on 1 of 32 cores).
    *
    * The repartition is CONDITIONAL on the actual scan split count,
    * so it is a no-op exactly when the layout already parallelizes —
    * at production scale (thousands of row groups) this never fires
    * and costs nothing; it fires only for degenerate layouts (one
    * gzip/one-row-group file), where one extra exchange of the raw
    * rows is strictly cheaper than a serial pass over them. Hash
    * partitioning on caller-chosen keys keeps the placement
    * deterministic under retries (guide §2.5's rand() caveat).
    *
    * PRECONDITION (enforced): `df` must be EXCHANGE-FREE — a scan,
    * localCheckpoint, or narrow projection/filter/generate over one.
    * The split probe reads `df.rdd.getNumPartitions`, and under AQE
    * Dataset.rdd on a plan that contains an exchange MATERIALIZES
    * every upstream shuffle stage at plan-build time
    * (AdaptiveSparkPlanExec.getFinalPhysicalPlan); the repartitioned
    * result would then silently recompute them — a double-run of the
    * whole upstream job. The guard rejects logical shapes that plan
    * an exchange, loudly, before the probe can trigger one. */
  def spread(df: DataFrame,
             keys: org.apache.spark.sql.Column*): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val exchanging = df.queryExecution.analyzed.collectFirst {
      case p @ (_: Aggregate | _: Join | _: Window | _: Sort |
                _: Distinct | _: Deduplicate | _: GlobalLimit |
                _: RepartitionOperation | _: SetOperation) => p
    }
    require(exchanging.isEmpty,
      s"spread() requires an exchange-free input (scan/checkpoint/" +
        s"narrow ops): found ${exchanging.get.nodeName} — probing " +
        "df.rdd here would materialize the upstream shuffle stages " +
        "and the repartition would recompute them")
    val par = df.sparkSession.sparkContext.defaultParallelism
    // repartition(n, keys): the explicit count pins the exchange as
    // REPARTITION_BY_NUM, which AQE's partition coalescing leaves
    // alone — a bare repartition(keys) on these tiny-BYTE relations
    // would be coalesced right back to one partition, re-serializing
    // the CPU-heavy chain this exists to parallelize. n is the
    // cluster's own parallelism, not a tuned constant.
    if (df.rdd.getNumPartitions * 2 <= par) df.repartition(par, keys: _*)
    else df
  }
}
