package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** lsd-style neighbor-cache materialization for an EXISTING stored
  * table — the library engine behind `AdminCli make-cache` (SURVEY.md
  * §1.1 neighbor cache, UNVERIFIED — the reference built this cache
  * at import/xmatch time; this retrofits it onto any table).
  *
  * Two table kinds, two cache placements:
  *
  *  - A PLAIN table is REWRITTEN IN PLACE as a SpatialWriter margin
  *    layout (primaries + write-time neighbor replicas + `_MARGIN`
  *    sidecar): build beside, atomic two-rename swap, crash debris
  *    cleared. The table path IS the cache.
  *  - A SNAPSHOT table keeps its live commit log untouched: the cache
  *    is a point-in-time materialization of `Snapshots.read(asOf)`
  *    under `_margincache/<table>.parquet`, STAMPED with the source
  *    snapshot id (`SpatialWriter.stampMarginSource`). Readers
  *    ([[graft.LsdDb.marginCacheFor]]) compare the stamp against the
  *    table's head — a nightly upsert makes the cache STALE and the
  *    declared-xmatch route falls back loudly to the blocking join
  *    until `make-cache --from-snapshot` runs again. This closes the
  *    r19 gap: a LIVE catalog (the objects table a nightly pipeline
  *    upserts into — exactly the continuously-updated table the
  *    reference built caches for) can now take the shuffle-free
  *    margin route between refreshes.
  *
  * Merge-on-read tables: the cache materializes the same APPEND
  * semantics `LsdDb.table` reads (upsert deltas as rows). A table
  * consumed through `readMerged` should be `compact-merged` first —
  * then the plain read IS the merged state and the cache matches it.
  *
  * At 100 TB: the replication shuffle is paid ONCE per refresh, off
  * the query path; every declared `FROM a, b` between refreshes joins
  * the driving rows straight against the stored replicas — no 9×
  * explode, no shuffle of the catalog.
  */
object MarginCache {

  /** Directory under a db root holding the margin caches of SNAPSHOT
    * tables (which stay live at their own path). Underscore-prefixed,
    * so admin listings and table resolution skip it. */
  val CacheDir = "_margincache"

  def cachePath(root: String, table: String): String =
    s"$root/$CacheDir/$table.parquet"

  private def fsFor(spark: SparkSession, p: String): FileSystem =
    FileSystem.get(new java.net.URI(p),
      spark.sparkContext.hadoopConfiguration)

  /** Build (or rebuild) the margin cache for `table` under `root`.
    *
    * @param fromSnapshot None → plain-table in-place rewrite (refuses
    *   snapshot tables); Some(None) → snapshot table at head;
    *   Some(Some(id)) → snapshot table at a pinned snapshot id
    * @param clustered use `writeClustered` (plain parquet, cell as a
    *   data column — the right layout when `cell` is only an equi-join
    *   key) instead of directory-per-cell
    * @return the stamped source snapshot id (None for plain tables)
    */
  def build(spark: SparkSession, root: String, table: String,
            lonCol: String, latCol: String, level: Int, marginDeg: Double,
            clustered: Boolean = false,
            fromSnapshot: Option[Option[Long]] = None): Option[Long] = {
    require(table.nonEmpty && table.forall(c => c.isLetterOrDigit ||
      c == '_' || c == '-'), s"table must be a plain name: '$table'")
    val path = s"$root/$table.parquet"
    val f = fsFor(spark, path)
    val isSnapshot = Snapshots.isSnapshot(spark, path)

    def writeLayout(df: DataFrame, out: String): Unit =
      if (clustered)
        SpatialWriter.writeClustered(df, lonCol, latCol, level, out,
          margin = Some(marginDeg))
      else
        SpatialWriter.write(df, lonCol, latCol, level, out,
          margin = Some(marginDeg))

    /** Build at `<dst>.__cache_tmp`, then atomically swap into `dst`
      * (two renames; the original — when one exists — is parked at
      * `__cache_old` and restored if the swap's second leg fails, so
      * the destination is never left absent). Crash debris from an
      * earlier run is cleared first: a leftover __cache_old would make
      * the park rename fail forever (review r19). */
    def buildAndSwap(dst: String, produce: String => Unit): Unit = {
      val tmp = s"$dst.__cache_tmp"
      val old = s"$dst.__cache_old"
      // Crash recovery BEFORE debris clearing: a death between the two
      // swap renames leaves dst ABSENT with __cache_old holding the
      // ONLY copy of a plain table — deleting old here would turn the
      // crashed retry into permanent data loss (review r20). Restore
      // first; the retry then rebuilds from the restored original.
      if (!f.exists(new Path(dst)) && f.exists(new Path(old)))
        require(f.rename(new Path(old), new Path(dst)),
          s"crash recovery: could not restore $old to $dst — restore " +
            "it manually before retrying")
      f.delete(new Path(tmp), true)
      f.delete(new Path(old), true)
      produce(tmp)
      val hadPrior = f.exists(new Path(dst))
      if (hadPrior)
        require(f.rename(new Path(dst), new Path(old)),
          s"could not move $dst aside")
      if (!f.rename(new Path(tmp), new Path(dst))) {
        // between the renames the destination does not exist; restore
        // the original rather than leaving recovery manual (r19 ADVICE)
        val restored = hadPrior && f.rename(new Path(old), new Path(dst))
        throw new IllegalStateException(
          s"could not swap in the new layout at $dst; original " +
            (if (restored) "restored"
             else if (hadPrior) s"left at $old — restore it manually"
             else "absent (fresh build)") + s"; new layout left at $tmp")
      }
      if (hadPrior) f.delete(new Path(old), true)
    }

    fromSnapshot match {
      case None =>
        require(!isSnapshot,
          s"$table is a snapshot table; a raw in-place rewrite would " +
            "flatten its commit log — use make-cache --from-snapshot " +
            "(point-in-time cache beside the live table), or compact + " +
            "export to a plain table first")
        // reading lazily while overwriting the source would corrupt
        // it: materialize BESIDE, then swap
        buildAndSwap(path,
          tmp => writeLayout(graft.LsdDb(spark, root).table(table), tmp))
        None
      case Some(asOf) =>
        require(isSnapshot,
          s"$table is not a snapshot table; --from-snapshot needs a " +
            "commit log (plain tables rebuild in place without it)")
        val snapId = asOf.getOrElse(Snapshots.head(spark, path)
          .getOrElse(throw new IllegalStateException(
            s"no committed snapshots at $path")))
        // the point-in-time view with LsdDb.table's EXACT semantics
        // (commit-log read, layout strip, ts normalization): the cache
        // must hold the same logical rows the blocking route reads, or
        // the two routes would answer differently
        val df = graft.LsdDb(spark, root).table(table, Some(snapId))
        val cp = cachePath(root, table)
        f.mkdirs(new Path(s"$root/$CacheDir"))
        buildAndSwap(cp, tmp => {
          writeLayout(df, tmp)
          // stamp BEFORE the swap: a cache visible at its final path
          // must never lack its staleness stamp (readers refuse
          // stampless snapshot caches)
          SpatialWriter.stampMarginSource(spark, tmp, snapId)
        })
        Some(snapId)
    }
  }
}
