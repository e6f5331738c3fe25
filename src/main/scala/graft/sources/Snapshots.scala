package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot / MVCC-lite table layout — the reference's transaction
  * model (SURVEY.md §1.1 "Snapshots / transactions", ref
  * `lsd/table.py` + `lsd/locking.py`, UNVERIFIED): every append
  * writes a NEW time-ordered snapshot directory; readers see the last
  * committed snapshot; single-writer, multi-reader.
  *
  * Spark-native commit protocol (no external metastore):
  *
  *   path/
  *     snap=1/…parquet     immutable once committed
  *     snap=2/…parquet
  *     _COMMITS            append-only id log; LAST line = head
  *
  * - A writer stages `snap=N` fully, then commits by replacing
  *   `_COMMITS` ([[MetaFile.replace]]). A torn write leaves a
  *   `snap=` directory that no reader ever lists (readers trust only
  *   the log), so a killed job can never surface partial data — the
  *   same reader-trusts-log discipline as Delta/Iceberg, reduced to
  *   the reference's single-writer contract.
  * - Readers resolve the log ONCE per query (a single tiny file read
  *   on the driver), then scan exactly the committed directories:
  *   time travel (`asOf`) is directory selection, not data filtering,
  *   so a historical read touches only the bytes that existed then.
  * - Single-writer is enforced with an exclusive `_LOCK` create
  *   ([[MetaFile.tryCreate]]; like the reference's flock-based
  *   locking, it needs a file system that can create exclusively).
  * - MULTI-writer is available through the optimistic API
  *   ([[appendOptimistic]]/[[deleteOptimistic]]): heavy data writes
  *   stage unlocked into `_staging/`, commits serialize through a
  *   briefly-held retried lock, appends always commute, and stale
  *   overlapping deletes abort loudly ([[ConflictException]]) —
  *   see the "optimistic concurrency" section below.
  *
  * Scale: snapshots are the unit of append, not of parallelism — each
  * `snap=N` holds an arbitrary number of part files written by a full
  * distributed job, and a read of k snapshots is a k-way file-source
  * union that Spark list-parallelizes. Nothing here is driver-bound
  * except the one log read/write.
  */
object Snapshots {
  private val CommitLog = "_COMMITS"
  private val Lock = "_LOCK"
  private val OcStats = "_OC_STATS"
  private val Staging = "_staging"

  /** A concurrent-commit conflict the protocol cannot serialize:
    * another writer tombstoned keys this delete also tombstones,
    * AFTER the snapshot this delete's decision was based on — the
    * write-write conflict snapshot isolation aborts loudly rather
    * than silently last-writer-wins through stale reads. */
  final class ConflictException(msg: String)
      extends RuntimeException(msg)

  /** Outcome of an optimistic commit: the committed snapshot id plus
    * how many lock-acquisition retries the writer ate (the contention
    * signal [[ocStats]] accumulates table-wide). */
  final case class OptimisticCommit(id: Long, retries: Int)

  private def fs(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

  /** One committed entry: snapshot id + whether it is a BASE snapshot
    * (a compaction product that already contains everything before
    * it, so reads never need to look further back) + an optional
    * idempotency tag (see [[appendTagged]]) + optional per-column
    * zone-map stats (see [[readPruned]]) + optional per-column Bloom
    * filters (see [[readPrunedKey]]). Log line format:
    * `<id>` for an append, `<id> B` for a base, with ` T:<tag>`
    * appended when tagged, ` S:<col>:<min>:<max>` per stats column,
    * and ` F:<col>:<m>:<k>:<hex>` per bloom column — unknown
    * trailing fields are ignored by old readers.
    *
    * `raw` is the exact log line the entry was parsed from: commits
    * re-emit it VERBATIM for carried-over entries, so fields a newer
    * writer recorded (and this parser ignores) survive an old
    * writer's append instead of being erased by the lossy
    * parse-then-rewrite cycle (review r20) — that is what makes the
    * "ignored by old readers" claim honest for old WRITERS too. */
  final case class Entry(id: Long, isBase: Boolean,
                         tag: Option[String] = None,
                         stats: Map[String, (Double, Double)] = Map.empty,
                         blooms: Map[String, Bloom] = Map.empty,
                         raw: Option[String] = None)

  /** A serialized Bloom filter over one column's value set: `m` bits
    * (hex-encoded, big-endian within each byte), `k` hash slices of
    * the value's md5. No false negatives by construction; false
    * positives only cost an extra directory scan.
    *
    * `tag` records the COLUMN TYPE CLASS the write side canonicalized
    * through (`"i"` integral, `"s"` string, `"o"` anything else —
    * decimal, float/double, date, …), so the read side only probes
    * when it can reproduce the exact canonical string the writer
    * hashed. Untagged (`None`) blooms come from pre-tag commit logs:
    * the query layer treats them as unprunable (conservative), while
    * [[readPrunedKey]] keeps its original documented caller contract
    * for them. */
  final case class Bloom(m: Int, k: Int, hex: String,
                         tag: Option[String] = None) {
    private lazy val bytes: Array[Byte] =
      hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def mightContain(value: String): Boolean =
      Snapshots.bloomPositions(value, m, k).forall { p =>
        (bytes(p >> 3) & (0x80 >> (p & 7))) != 0
      }
  }

  /** The k bit positions of a value: consecutive 2-byte slices of
    * md5(UTF-8 bytes), big-endian, mod m. The WRITE side computes the
    * identical positions in Spark SQL (`conv(substring(md5(...)))`),
    * so membership tests never disagree with the recorded bits. */
  private[sources] def bloomPositions(v: String, m: Int, k: Int): Seq[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8"))
    (0 until k).map { i =>
      (((md(2 * i) & 0xff) << 8) | (md(2 * i + 1) & 0xff)) % m
    }
  }

  /** True when `path` holds a snapshot table (it has a commit log). */
  def isSnapshot(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path, CommitLog))

  /** Committed entries, oldest first (empty if table absent). */
  def entries(spark: SparkSession, path: String): Seq[Entry] =
    MetaFile.read(spark, path, CommitLog).fold(Seq.empty[Entry]) { text =>
      // S:/F: metadata fields are ADVISORY: a malformed or corrupt
      // field (hand-edited log, future format) drops silently and the
      // directory just isn't pruned — only the id itself is load-
      // bearing and stays strict. Numeric parses are Try-guarded so
      // one bad field can never fail the whole read path.
      text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map { l =>
        val parts = l.split("\\s+")
        Entry(parts(0).toLong, parts.exists(_ == "B"),
          parts.collectFirst { case t if t.startsWith("T:") => t.drop(2) },
          parts.iterator.filter(_.startsWith("S:")).flatMap { t =>
            // S:<col>:<min>:<max> — doubles never contain ':'
            t.drop(2).split(":") match {
              case Array(c, mn, mx) =>
                (scala.util.Try(mn.toDouble).toOption,
                  scala.util.Try(mx.toDouble).toOption) match {
                  case (Some(a), Some(b)) => Some(c -> (a, b))
                  case _ => None // unparseable bound: drop the field
                }
              case _ => None // malformed field: ignore, stay conservative
            }
          }.toMap,
          parts.iterator.filter(_.startsWith("F:")).flatMap { t =>
            // F:<col>:<m>:<k>:<hex> (legacy, untyped) or
            // F:<col>:<m>:<k>:<t>:<hex> (type-tagged)
            def bloom(c: String, m: String, k: String, hx: String,
                      tg: Option[String]): Option[(String, Bloom)] =
              (scala.util.Try(m.toInt).toOption,
                scala.util.Try(k.toInt).toOption) match {
                // k bounded by the md5 digest (8 two-byte slices of 16
                // bytes): a corrupt k=9 line used to crash EVERY
                // bloom-pruned read with an index error instead of the
                // documented conservative keep (review r20); k=0 would
                // vacuously match (harmless but meaningless) — drop too
                case (Some(mi), Some(ki))
                    if hx.length == (mi + 7) / 8 * 2 &&
                      ki >= 1 && ki <= 8 =>
                  Some(c -> Bloom(mi, ki, hx, tg))
                case _ => None // unparseable geometry: drop the field
              }
            t.drop(2).split(":") match {
              case Array(c, m, k, tg, hx) if tg.length == 1 =>
                bloom(c, m, k, hx, Some(tg))
              case Array(c, m, k, hx) => bloom(c, m, k, hx, None)
              case _ => None // malformed field: ignore, stay conservative
            }
          }.toMap,
          raw = Some(l))
      }.toSeq
    }

  /** Committed snapshot ids, oldest first (empty if table absent). */
  def committed(spark: SparkSession, path: String): Seq[Long] =
    entries(spark, path).map(_.id)

  /** Head snapshot id (last committed), if any. */
  def head(spark: SparkSession, path: String): Option[Long] =
    committed(spark, path).lastOption

  private def withLock[T](spark: SparkSession, path: String)(body: => T): T = {
    val f = fs(spark, path)
    f.mkdirs(new Path(path))
    if (!MetaFile.tryCreate(spark, path, Lock))
      throw new IllegalStateException(s"snapshot table $path is locked " +
        s"by another writer ($Lock exists); the reference is " +
        "single-writer multi-reader, and so is this layout")
    try body finally f.delete(new Path(path, Lock), false)
  }

  /** Replace the log with `all`. It is read unlocked by every reader
    * and by deleteOptimistic's phase-1 validation, so it must never be
    * absent mid-commit: a concurrent entries() would see an empty table
    * (review r18: a valid delete could spuriously fail 'basedOn was
    * never committed'). */
  private def commit(spark: SparkSession, path: String,
                     all: Seq[Entry]): Unit =
    // carried-over entries re-emit their ORIGINAL line verbatim:
    // rendering from the parsed Entry would erase any field a newer
    // writer recorded and this version ignores (review r20)
    MetaFile.replace(spark, path, CommitLog, all.map { e =>
      e.raw.getOrElse(
        s"${e.id}" + (if (e.isBase) " B" else "") +
          e.tag.map(t => s" T:$t").getOrElse("") +
          e.stats.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
            s" S:$c:$mn:$mx"
          }.mkString +
          e.blooms.toSeq.sortBy(_._1).map { case (c, b) =>
            // tagged form is a 5-field F: — old readers' 4-field match
            // drops it (conservative keep), new readers parse both
            val tg = b.tag.map(t => s"$t:").getOrElse("")
            s" F:$c:${b.m}:${b.k}:$tg${b.hex}"
          }.mkString)
    }.mkString("", "\n", "\n"))

  /** Per-column [min, max] of the WRITTEN snapshot directory — the
    * zone map [[readPruned]] consumes. Computed by reading the staged
    * bytes back (column-pruned scan of just the stats columns), so
    * the recorded range is exactly what a reader of that directory
    * would see — never a recomputation of a nondeterministic input
    * plan. Values are cast to double (numerics exact up to 2^53;
    * timestamps become epoch seconds, identically on the filter
    * side). NULL-only columns record no stats (a range predicate on
    * the column excludes NULL rows anyway, so [[readPruned]] may
    * still drop the directory). */
  private def dirStats(back: DataFrame,
                       statsCols: Seq[String]): Map[String, (Double, Double)] =
    if (statsCols.isEmpty) Map.empty
    else {
      import org.apache.spark.sql.functions.{col, max, min}
      import org.apache.spark.sql.types.DoubleType
      statsCols.foreach(c => require(
        !c.exists(ch => ch.isWhitespace || ch == ':'),
        s"stats column name must be whitespace/colon-free: '$c'"))
      val aggs = statsCols.flatMap { c =>
        val v = col(c).cast(DoubleType)
        Seq(min(v).as(s"__mn_$c"), max(v).as(s"__mx_$c"))
      }
      val r = back.agg(aggs.head, aggs.tail: _*).head()
      statsCols.flatMap { c =>
        val i = r.fieldIndex(s"__mn_$c")
        if (r.isNullAt(i)) None
        else Some(c -> (r.getDouble(i), r.getDouble(i + 1)))
      }.toMap
    }

  /** Default Bloom geometry: 4096 bits / 4 hashes ≈ 2% false-positive
    * rate at 500 distinct keys per snapshot, saturating gracefully
    * (a saturated bloom keeps its directory — never wrong, just not
    * pruning). Sized for appends whose per-batch key set is BOUNDED
    * (per-run calibration tables, per-night batch ids); dense
    * high-cardinality keys belong to zone maps, not blooms — the
    * commit log is a text file, not an index. */
  val BloomBits = 4096
  val BloomHashes = 4

  /** Per-column Bloom filter of the WRITTEN snapshot directory.
    * Values are canonicalized by Spark's string cast (longs print
    * exactly, strings pass through — the same canonical form
    * [[readPrunedKey]] applies to its probe value). Bit positions
    * come from a codegen'd md5-hex-slice expression, no UDF; the
    * DISTINCT on positions bounds the collected set to ≤ m ints
    * regardless of directory size. NULLs set no bits (an equality
    * probe excludes NULL rows anyway). */
  private def dirBlooms(back: DataFrame,
                        bloomCols: Seq[String]): Map[String, Bloom] =
    if (bloomCols.isEmpty) Map.empty
    else {
      import org.apache.spark.sql.functions.{array, col, conv, explode, md5, substring}
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
      bloomCols.foreach(c => require(
        !c.exists(ch => ch.isWhitespace || ch == ':'),
        s"bloom column name must be whitespace/colon-free: '$c'"))
      val (m, k) = (BloomBits, BloomHashes)
      bloomCols.map { c =>
        // the canonical a probe must reproduce EXACTLY is Spark's
        // string cast of THIS column type — record which type class
        // that was, so readers never guess (a DECIMAL(10,2) casts 7
        // to "7.00", which no double-derived canonical matches)
        val typeTag = back.schema(c).dataType match {
          case ByteType | ShortType | IntegerType | LongType => "i"
          case StringType => "s"
          case _ => "o"
        }
        val h = md5(col("v").cast("binary"))
        val pos = (0 until k).map(i =>
          (conv(substring(h, i * 4 + 1, 4), 16, 10).cast(LongType) % m)
            .cast(IntegerType))
        val bits = back.select(col(c).cast(StringType).as("v"))
          .na.drop()
          .select(explode(array(pos: _*)).as("p"))
          .distinct()
          .collect().map(_.getInt(0)) // ≤ m rows by construction
        val bytes = new Array[Byte]((m + 7) / 8)
        bits.foreach(p => bytes(p >> 3) =
          (bytes(p >> 3) | (0x80 >> (p & 7))).toByte)
        c -> Bloom(m, k, bytes.map(b => f"${b & 0xff}%02x").mkString,
          Some(typeTag))
      }.toMap
    }

  /** Zone map ([[dirStats]]) and Bloom filters ([[dirBlooms]]) of the
    * WRITTEN directory `dir`, both over ONE read of it; no read when
    * neither is asked for. */
  private def dirMeta(spark: SparkSession, dir: String,
                      statsCols: Seq[String], bloomCols: Seq[String])
      : (Map[String, (Double, Double)], Map[String, Bloom]) =
    if (statsCols.isEmpty && bloomCols.isEmpty) (Map.empty, Map.empty)
    else {
      val back = ParquetRead(spark, dir)
      (dirStats(back, statsCols), dirBlooms(back, bloomCols))
    }

  /** Write `df` as the next snapshot after `prior` and commit it with
    * the zone map and blooms of `statsCols`/`bloomCols` over the
    * written directory; returns its id. The caller holds the writer
    * lock. */
  private def writeNext(spark: SparkSession, path: String,
                        prior: Seq[Entry], df: DataFrame,
                        statsCols: Seq[String], bloomCols: Seq[String],
                        isBase: Boolean,
                        tag: Option[String] = None): Long = {
    val id = prior.lastOption.map(_.id).getOrElse(0L) + 1
    df.write.mode("overwrite").parquet(s"$path/snap=$id")
    val (st, bl) = dirMeta(spark, s"$path/snap=$id", statsCols, bloomCols)
    commit(spark, path, prior :+
      Entry(id, isBase, tag = tag, stats = st, blooms = bl))
    id
  }

  /** Append `df` as a new snapshot; returns its id. Stages the data
    * directory completely before the commit-log swap, so readers can
    * never observe a partial snapshot. `statsCols` names columns whose
    * [min, max] is recorded in the commit entry for zone-map pruning
    * ([[readPruned]]) — the LSD temporal-sub-cell idea as metadata:
    * when appends arrive in natural ranges (per-epoch MJD batches,
    * per-run ids), a range query skips whole snapshot directories
    * without opening a single file footer. */
  def append(df: DataFrame, path: String,
             statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    withLock(spark, path) {
      writeNext(spark, path, entries(spark, path), df, statsCols,
        bloomCols, isBase = false)
    }
  }

  /** Idempotent append: `tag` names the LOGICAL batch (e.g. a
    * Structured Streaming batchId). If a commit carrying this tag
    * already exists, nothing is written and its snapshot id is
    * returned — so an at-least-once producer (a retried micro-batch
    * after a crash) lands exactly once. The tag check and the commit
    * happen under the same writer lock as the append itself. */
  def appendTagged(df: DataFrame, path: String, tag: String,
                   statsCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil): Long = {
    require(tag.nonEmpty && !tag.exists(_.isWhitespace),
      s"tag must be non-empty and whitespace-free: '$tag'")
    val spark = df.sparkSession
    withLock(spark, path) {
      val prior = entries(spark, path)
      prior.find(_.tag.contains(tag)) match {
        case Some(e) => e.id // replayed batch: already committed
        case None =>
          writeNext(spark, path, prior, df, statsCols, bloomCols,
            isBase = false, tag = Some(tag))
      }
    }
  }

  /** Compact: materialize the current head state as a single new BASE
    * snapshot. Head reads afterwards scan ONE directory instead of
    * every append since the last base — the small-file/lifecycle half
    * of MVCC (at scale, appends are frequent and tiny relative to the
    * table; an uncompacted read is a k-way union that grows without
    * bound). History stays intact: `asOf` an id below the base still
    * resolves through the old directories, so compaction is purely a
    * physical operation — same rows, fewer directories. */
  def compact(spark: SparkSession, path: String): Long =
    compactTo(spark, path)(read(spark, path))

  /** Commit `head` (evaluated INSIDE the writer lock) as a new BASE
    * snapshot. Resolving the head under the lock matters: the reads
    * pin the directory list eagerly, and a snapshot committed between
    * an unlocked resolve and the lock would be silently shadowed by
    * the new base — permanent data loss once vacuum runs. A base
    * folds all prior data, so its zone map and blooms are recomputed
    * over the union of every column any prior entry tracked:
    * readPruned/readPrunedKey keep pruning across compaction (dropping the blooms made keyed point-lookup pruning degrade
    * permanently after a keyed compaction). */
  private def compactTo(spark: SparkSession, path: String)(
      head: => DataFrame): Long =
    withLock(spark, path) {
      val current = head
      val prior = entries(spark, path)
      writeNext(spark, path, prior, current,
        prior.flatMap(_.stats.keys).distinct,
        prior.flatMap(_.blooms.keys).distinct, isBase = true)
    }

  /** Vacuum: physically delete snapshots OLDER than the last base and
    * drop them from the log — the retention step after [[compact]]
    * (until vacuumed, history is retained and time-travelable; after,
    * an `asOf` below the base fails loudly as never-committed). A
    * table with no base snapshot is untouched: every directory is
    * still needed to reconstruct the head. Returns deleted ids. */
  def vacuum(spark: SparkSession, path: String): Seq[Long] =
    withLock(spark, path) {
      val all = entries(spark, path)
      val lastBase = all.lastIndexWhere(_.isBase)
      if (lastBase <= 0) Seq.empty
      else {
        val (expired, kept) = all.splitAt(lastBase)
        // commit the shrunken log FIRST: if a deletion dies midway,
        // readers already ignore the expired dirs (log is the truth)
        commit(spark, path, kept)
        val f = fs(spark, path)
        expired.foreach(e =>
          f.delete(new Path(path, s"snap=${e.id}"), true))
        expired.map(_.id)
      }
    }

  /** Shared asOf-visibility resolution: committed entries up to
    * `asOf` (head when None; loud when never committed), cut to the
    * last BASE at or below it — the ONE visibility rule every read
    * path applies, factored from five verbatim copies (review r20:
    * a visibility-semantics fix must land once, not five times). */
  private def visibleEntries(spark: SparkSession, path: String,
                             asOf: Option[Long]): Seq[Entry] = {
    val all = entries(spark, path)
    require(all.nonEmpty, s"no committed snapshots at $path")
    val upTo = asOf match {
      case Some(s) =>
        require(all.exists(_.id == s), s"snapshot $s was never " +
          s"committed (committed: ${all.map(_.id).mkString(",")})")
        all.filter(_.id <= s)
      case None => all
    }
    val lastBase = upTo.lastIndexWhere(_.isBase)
    if (lastBase < 0) upTo else upTo.drop(lastBase)
  }

  /** Read the table as of snapshot `asOf` (inclusive); default head.
    * The result is the union of the LAST BASE snapshot <= asOf (a
    * compaction product, which already folds in everything before it)
    * plus every append after it — the reference's append-accumulate
    * semantics with bounded directory fan-in. Uncommitted/torn
    * snapshot directories are invisible by construction. */
  def read(spark: SparkSession, path: String,
           asOf: Option[Long] = None): DataFrame = {
    val visible = visibleEntries(spark, path, asOf)
    ParquetRead(spark, visible.map(e => s"$path/snap=${e.id}"): _*)
  }

  /** [[read]] of only the visible directories whose entry passes
    * `keep`; when every directory is pruned, an empty result with the
    * head schema. */
  private def readKept(spark: SparkSession, path: String,
                       asOf: Option[Long])(keep: Entry => Boolean)
      : DataFrame = {
    val visible = visibleEntries(spark, path, asOf)
    val kept = visible.filter(keep)
    if (kept.nonEmpty)
      ParquetRead(spark, kept.map(e => s"$path/snap=${e.id}"): _*)
    else
      ParquetRead(spark, s"$path/snap=${visible.last.id}")
        .where(org.apache.spark.sql.functions.lit(false))
  }

  /** Zone-map-pruned read: like [[read]], but snapshot directories
    * whose recorded `[min, max]` of `statCol` (written by
    * `append(statsCols = …)`) does NOT intersect `[lo, hi]` are
    * dropped from the scan set entirely — metadata-only pruning,
    * before any file footer is opened. This is the scale story for
    * range queries over naturally-ranged appends (per-epoch MJD
    * batches, monotone run ids): a one-night query over a 10-year
    * table reads one night's directories.
    *
    * Contract: the caller's downstream filter must imply
    * `statCol BETWEEN lo AND hi` (after the same double cast the
    * stats used) — such a predicate excludes NULLs, so directories
    * are droppable even when they carry NULL rows, and stats-less
    * NULL-only columns prune safely. Directories with NO stats for
    * `statCol` are always kept (conservative), so pruning is purely
    * an optimization: `readPruned(...).filter(p)` ≡ `read(...)
    * .filter(p)`. NaN endpoints keep the directory (comparisons with
    * NaN are false). */
  def readPruned(spark: SparkSession, path: String, statCol: String,
                 lo: Double, hi: Double,
                 asOf: Option[Long] = None): DataFrame =
    readKept(spark, path, asOf) { e =>
      e.stats.get(statCol) match {
        case Some((mn, mx)) => !(mx < lo || mn > hi) // NaN-safe: keep
        case None => true // no zone map for this column: must scan
      }
    }

  /** Bloom-pruned point-lookup read: like [[read]], but snapshot
    * directories whose recorded Bloom filter for `keyCol` (written by
    * `append(bloomCols = …)`) proves `value` ABSENT are dropped from
    * the scan set — the membership complement of [[readPruned]]'s
    * range pruning. This is the "one object's history across ten
    * years of appends" query: zone maps can't help when every append
    * spans the full key range, but each append's bounded key SET can.
    *
    * `value` is canonicalized by `toString`, which matches the write
    * side's Spark string cast for integer and string keys (pass the
    * key's natural form: a Long for BIGINT columns, a String for
    * text). Directories with NO bloom for `keyCol` are always kept,
    * and false positives only add directories — so
    * `readPrunedKey(...).filter(col === value)` ≡
    * `read(...).filter(col === value)` always. */
  def readPrunedKey(spark: SparkSession, path: String, keyCol: String,
                    value: Any, asOf: Option[Long] = None): DataFrame = {
    // A tagged bloom only prunes when the probe's runtime class can
    // reproduce the writer's canonical: integral probes for "i"
    // columns, string probes for "s" columns. Tag/probe mismatches
    // (a Double probe against an "o" decimal column, a numeric probe
    // against a string column, …) keep the directory. Legacy untagged
    // blooms retain this method's original documented contract: the
    // caller passed the key's natural form, probe it as given.
    val v = String.valueOf(value)
    val probeOk = (tag: Option[String]) => tag match {
      case None => true // legacy: documented caller contract applies
      case Some("i") => value match {
        case _: Byte | _: Short | _: Int | _: Long => true
        case _ => false
      }
      case Some("s") => value.isInstanceOf[String]
      case Some(_) => false // "o"/unknown: canonical not reproducible
    }
    readKept(spark, path, asOf) { e =>
      e.blooms.get(keyCol) match {
        case Some(b) if probeOk(b.tag) => b.mightContain(v)
        case _ => true // no bloom / unprobeable type: must scan
      }
    }
  }

  /** Whether entry `e` can possibly hold `keyCol = v`: its zone map
    * must admit `v` (when recorded) AND its Bloom filter might
    * contain `v` (when recorded). The query layer's extracted numeric
    * literal arrives as a double, so the bloom channel only prunes
    * when the recorded type tag proves the writer's canonical is
    * reproducible: an INTEGRAL column (`tag = "i"`) probed with a
    * whole `v` inside double's exact-integer range hashes exactly
    * `v.toLong.toString`, the same string Spark's cast produced at
    * write time. Every other combination — decimal/float/date columns
    * (`"o"`, whose cast renderings like `"7.00"` no double-derived
    * string can reproduce), string columns probed numerically,
    * untagged legacy blooms, non-whole or `|v| >= 2^53` probes —
    * KEEPS the directory: pruning is advisory, missing rows are not.
    * Entries with neither channel always pass. */
  private def mayHoldEq(e: Entry, keyCol: String, v: Double): Boolean = {
    val zoneOk = e.stats.get(keyCol) match {
      case Some((mn, mx)) => !(mx < v || mn > v) // NaN-safe: keep
      case None => true
    }
    val bloomOk = e.blooms.get(keyCol) match {
      case Some(b) if b.tag.contains("i") &&
          v.isWhole && math.abs(v) < 9.007199254740992e15 =>
        b.mightContain(v.toLong.toString)
      case _ => true // canonical not provably reproducible: must scan
    }
    zoneOk && bloomOk
  }

  /** Equality-probe read combining BOTH metadata channels (see
    * [[mayHoldEq]]): directories that provably lack `keyCol = v`
    * drop from the scan set. */
  def readPrunedEq(spark: SparkSession, path: String, keyCol: String,
                   v: Double, asOf: Option[Long] = None): DataFrame =
    readPrunedIn(spark, path, keyCol, Seq(v), asOf)

  /** IN-list probe read: a directory survives if ANY listed value
    * passes its metadata ([[mayHoldEq]] per value — the filter
    * `keyCol IN (vs)` can only be satisfied through some listed
    * value, so dropping a directory that admits none is sound).
    * Advisory like its siblings:
    * `readPrunedIn(...).filter(col isin vs)` ≡ `read(...).filter`. */
  def readPrunedIn(spark: SparkSession, path: String, keyCol: String,
                   vs: Seq[Double], asOf: Option[Long] = None): DataFrame = {
    require(vs.nonEmpty, "IN-list probe needs at least one value")
    readKept(spark, path, asOf)(e => vs.exists(v => mayHoldEq(e, keyCol, v)))
  }

  // ---- keyed tables: merge-on-read upserts/deletes (CDC-lite) ------
  //
  // The reference's catalogs were UPDATABLE under the same
  // single-writer transaction model (object recalibration, flag
  // fixes). Spark-native form: upserts and deletes are ordinary
  // append snapshots — an upsert batch carries full rows, a delete
  // batch carries keys with a `_tombstone` marker — and the MERGE
  // happens at read time: one window over (base + deltas) keyed on
  // the table key, newest snapshot wins, tombstones drop. That is
  // merge-on-read, the scalable half of the Delta/Iceberg design:
  // writes stay O(batch), reads pay one key-partitioned shuffle over
  // the visible directories, and compactMerged() periodically folds
  // history into a live-rows-only BASE to bound that fan-in.
  //
  // Contract: keys are unique within one batch (the caller's CDC
  // dedup, same as Delta MERGE's unique-match rule); across batches
  // last-writer-wins by snapshot id.

  private val Tombstone = "_tombstone"

  /** Append an upsert batch (full rows; insert-or-replace by key at
    * read time). Plain [[append]] — the semantics live in the read. */
  def upsert(df: DataFrame, path: String): Long = append(df, path)

  /** Append a delete batch: `keys` holds just the key column(s);
    * rows become tombstones that hide every older version of the key. */
  def delete(keys: DataFrame, path: String): Long =
    append(keys.withColumn(Tombstone, org.apache.spark.sql.functions.lit(true)),
      path)

  // ---- optimistic concurrency: multi-writer commits ----------------
  //
  // The reference (and this layout until now) was single-writer: a
  // held _LOCK makes a second writer FAIL, even though its work
  // doesn't overlap. Optimistic form (closes SURVEY §1.1's last
  // data-model gap): the expensive distributed data write stages
  // OUTSIDE any lock into _staging/<uuid>; the commit critical
  // section — log read, conflict check, staging→snap=N rename (a
  // metadata op), log swap — is tiny and serialized by the same
  // atomic-create _LOCK, acquired with bounded retry instead of
  // fail-fast. Writers therefore interleave their heavy writes freely
  // and only queue for milliseconds at commit.
  //
  // Serializability argument, per operation class:
  //  - blind APPENDS commute (no append reads table state), so any
  //    interleaving is equivalent to the commit-order serial history —
  //    always committable, the Delta/Iceberg append rule;
  //  - DELETES (tombstone batches) read state: a delete decided
  //    against snapshot `basedOn` conflicts with ANY write to the
  //    same key committed after `basedOn` — a tombstone (two writers
  //    both "deleted" a key each thought live) or a live row (an
  //    upsert this delete never saw, which its younger tombstone
  //    would silently erase). Either way last-writer-wins would
  //    launder the stale read. Overlap ⇒ loud ConflictException
  //    (abort; staging cleaned); disjoint keys commute ⇒ commit.
  //
  // Readers are untouched: they trust only the log, so staging dirs
  // and aborted writes are invisible by construction. A crashed
  // writer leaks an unreferenced _staging/<uuid> dir (reclaim with
  // cleanStaging when no writers are active) or, if it died between
  // its rename and its log commit, an uncommitted snap=<id> orphan —
  // which the next committer provably identifies (log is truth, lock
  // is held) and reclaims before reusing the id (promoteStaging).
  //
  // Retry/abort counters accumulate in _OC_STATS (updated under the
  // lock), so operators can SEE contention: `AdminCli snapshots`
  // prints them.

  /** Table-lifetime optimistic-commit counters: (lock retries,
    * conflict aborts). (0,0) when no optimistic writer ever ran. */
  def ocStats(spark: SparkSession, path: String): (Long, Long) =
    MetaFile.read(spark, path, OcStats).fold((0L, 0L)) { text =>
      def n(k: String) = s"$k:(\\d+)".r.findFirstMatchIn(text)
        .map(_.group(1).toLong).getOrElse(0L)
      (n("retries"), n("aborts"))
    }

  /** Accumulate counters; caller MUST hold the writer lock (the
    * read-modify-write below is only safe serialized). */
  private def bumpOcStats(spark: SparkSession, path: String,
                          retries: Long, aborts: Long): Unit = {
    val (r0, a0) = ocStats(spark, path)
    MetaFile.replace(spark, path, OcStats,
      s"retries:${r0 + retries}\naborts:${a0 + aborts}\n")
  }

  /** Acquire the writer lock with bounded retry (the optimistic
    * writers' acquisition mode — their critical sections are
    * milliseconds, so contention resolves by waiting, not failing).
    * Returns the number of retries eaten. */
  private def acquireRetrying(spark: SparkSession, path: String,
                              maxRetries: Int, backoffMs: Long): Int = {
    var waits = 0
    while (!MetaFile.tryCreate(spark, path, Lock)) {
      waits += 1
      if (waits > maxRetries) throw new IllegalStateException(
        s"could not acquire writer lock at $path after $maxRetries " +
          s"retries (~${maxRetries * backoffMs / 1000}s) — either a " +
          "writer crashed while holding _LOCK, or live commit " +
          "sections (e.g. a delete's conflict check) outlast this " +
          "writer's retry budget. Only delete _LOCK after confirming " +
          "NO writer is alive — a live holder's critical section " +
          "corrupts if the lock vanishes; prefer raising maxRetries")
      Thread.sleep(backoffMs)
    }
    waits
  }

  /** Optimistic append: stages the data write outside any lock, then
    * commits under a briefly-held, retried lock. Blind appends
    * commute, so this never aborts — concurrent appenders serialize
    * in commit order with sequential ids. Returns id + retry count. */
  def appendOptimistic(df: DataFrame, path: String,
                       statsCols: Seq[String] = Nil,
                       bloomCols: Seq[String] = Nil,
                       maxRetries: Int = 1200,
                       backoffMs: Long = 50): OptimisticCommit = {
    val spark = df.sparkSession
    val f = fs(spark, path)
    f.mkdirs(new Path(path))
    val stage = s"$path/$Staging/${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    df.write.mode("overwrite").parquet(stage) // heavy write: UNLOCKED
    // same bytes after rename
    val (st, bl) = dirMeta(spark, stage, statsCols, bloomCols)
    val waits = acquireRetrying(spark, path, maxRetries, backoffMs)
    try {
      val prior = entries(spark, path)
      val id = prior.lastOption.map(_.id).getOrElse(0L) + 1
      promoteStaging(f, path, stage, id)
      commit(spark, path, prior :+
        Entry(id, isBase = false, stats = st, blooms = bl))
      bumpStatsAfterCommit(spark, path, waits)
      OptimisticCommit(id, waits)
    } finally f.delete(new Path(path, Lock), false)
  }

  /** Promote a fully-staged dir to `snap=<id>` under the held lock.
    * A writer that crashed AFTER its rename but BEFORE its log commit
    * leaves an orphaned `snap=<id>` that the log never references —
    * invisible to readers, but the NEXT committer computes the same
    * id from the log, and a rename onto an existing directory nests
    * the new data inside the orphan (Hadoop local-FS rename/copy-into
    * semantics), committing an id whose directory holds the crashed
    * writer's rows. Since the log is the sole source of truth and we
    * hold the lock, an existing-but-uncommitted `snap=<id>` is
    * provably garbage: delete it, then rename. */
  private def promoteStaging(f: FileSystem, path: String,
                             stage: String, id: Long): Unit = {
    val dst = new Path(path, s"snap=$id")
    // orphan of a crashed commit — the delete MUST succeed: a false
    // return followed by rename would move the staged dir INSIDE the
    // orphan (Hadoop rename-into-existing semantics), the exact
    // corruption this method exists to prevent
    if (f.exists(dst)) require(f.delete(dst, true),
      s"could not reclaim orphaned $dst before reusing its id")
    require(f.rename(new Path(stage), dst),
      s"staging rename failed: $stage -> snap=$id")
  }

  /** Optimistic tombstone delete: `keys` (just the key column) read
    * against head snapshot `basedOn`. Commits unless another writer
    * WROTE any of the same keys in a snapshot after `basedOn` —
    * tombstone OR live row: a concurrent re-delete and a concurrent
    * upsert/re-insert are equally write-write conflicts (this delete
    * decided from a read that is now stale for those keys; committing
    * it would make the younger tombstone silently erase the newer
    * row, violating the snapshot-isolation claim). Overlap aborts
    * with [[ConflictException]] (staging cleaned, abort counted in
    * [[ocStats]]). Disjoint concurrent deletes and appends of OTHER
    * keys commute and commit.
    *
    * Locking economics: the overlap check is schema reads plus a
    * Spark join — SECONDS on a loaded cluster, not microseconds — so
    * it runs in two phases. The bulk check runs UNLOCKED against the
    * snapshots visible before acquisition; under the lock only
    * commits that appeared since that pre-check are re-validated, so
    * the critical section is O(new commits) (usually zero), and
    * concurrent appenders' retry budgets (1200 × 50 ms = 60 s) are
    * never eaten by a large delete batch. */
  def deleteOptimistic(keys: DataFrame, path: String, key: String,
                       basedOn: Long,
                       maxRetries: Int = 1200,
                       backoffMs: Long = 50): OptimisticCommit = {
    import org.apache.spark.sql.functions.{col, lit}
    val spark = keys.sparkSession
    val f = fs(spark, path)
    val stage = s"$path/$Staging/${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    keys.withColumn(Tombstone, lit(true))
      .write.mode("overwrite").parquet(stage)
    // keys written after basedOn in `es` (live rows AND tombstones)
    // that overlap the staged delete batch — the write-write set.
    // Compaction BASES are excluded by the callers: a base contains
    // ALL live rows (including every staged key, by definition), so
    // key overlap against it is vacuous — it would flag every delete
    // that merely races routine compact maintenance, breaking the
    // documented disjoint-keys-commute guarantee (review r20). That
    // exclusion is only sound while the REAL deltas after basedOn are
    // still in the log, which requireHistoryComplete checks below.
    def overlapIn(es: Seq[Entry]): Array[String] = {
      val laterKeys = es.flatMap { e =>
        val d = ParquetRead(spark, s"$path/snap=${e.id}")
        if (d.columns.contains(key))
          Some(d.select(col(key).cast("string").as("__k")))
        else None
      }
      if (laterKeys.isEmpty) Array.empty
      else {
        val staged = ParquetRead(spark, stage)
          .select(col(key).cast("string").as("__k")).distinct()
        laterKeys.reduce(_ union _).distinct()
          .join(staged, "__k").limit(5)
          .collect().map(_.getString(0))
      }
    }
    def conflict(overlap: Array[String]): Nothing = abort(
      s"delete based on snapshot $basedOn conflicts with a newer " +
        s"write (tombstone or upsert) on key(s) " +
        s"${overlap.mkString(", ")} (committed after $basedOn at " +
        s"$path); re-read the table and re-decide the delete")
    def abort(msg: String): Nothing = {
      f.delete(new Path(stage), true)
      throw new ConflictException(msg)
    }
    // ids are strictly sequential, so vacuumed history after basedOn
    // shows up as a GAP in (basedOn, head] — deltas we can no longer
    // key-check. Abort honestly (retry on the new head) instead of
    // either flagging the base (false conflict) or skipping the
    // vacuumed deltas (missed conflict).
    def requireHistoryComplete(es: Seq[Entry]): Unit = {
      val upTo = es.lastOption.map(_.id).getOrElse(basedOn)
      val present = es.map(_.id).toSet
      val missing = ((basedOn + 1) to upTo).filterNot(present)
      if (missing.nonEmpty) abort(
        s"history after basedOn=$basedOn was compacted and vacuumed " +
          s"(snapshots ${missing.mkString(",")} are gone) — the " +
          "delete can no longer be validated against it; re-read the " +
          s"table at $path and re-decide")
    }
    // phase 1, UNLOCKED: validate against everything committed so far
    val pre = entries(spark, path)
    require(pre.exists(_.id == basedOn),
      s"basedOn snapshot $basedOn was never committed " +
        s"(committed: ${pre.map(_.id).mkString(",")})")
    requireHistoryComplete(pre.filter(_.id > basedOn))
    val preOverlap = overlapIn(
      pre.filter(e => e.id > basedOn && !e.isBase))
    if (preOverlap.nonEmpty) {
      // BEST-EFFORT stats bump: the retryable ConflictException is the
      // caller contract and must never be masked by lock contention or
      // counter IO (review r18) — a short lock budget, everything
      // swallowed (counters are monitoring, undercounting is fine)
      try {
        val w = acquireRetrying(spark, path, maxRetries = 100, backoffMs)
        try bumpOcStats(spark, path, retries = w.toLong, aborts = 1L)
        finally f.delete(new Path(path, Lock), false)
      } catch {
        case scala.util.control.NonFatal(e) => System.err.println(
          s"[snapshots] WARN: abort-counter bump skipped at $path: $e")
      }
      conflict(preOverlap)
    }
    val preChecked = pre.map(_.id).toSet
    // phase 2, LOCKED: only commits that landed since the pre-check
    val waits = acquireRetrying(spark, path, maxRetries, backoffMs)
    try {
      val prior = entries(spark, path)
      // the full-range completeness re-check matters here: a compact +
      // vacuum may have run between the phases
      requireHistoryComplete(prior.filter(_.id > basedOn))
      val fresh = prior.filter(e => e.id > basedOn &&
        !preChecked.contains(e.id) && !e.isBase)
      val overlap = overlapIn(fresh)
      if (overlap.nonEmpty) {
        // same masking rule: counter IO must not replace the abort
        try bumpOcStats(spark, path, retries = waits.toLong, aborts = 1L)
        catch {
          case scala.util.control.NonFatal(e) => System.err.println(
            s"[snapshots] WARN: abort-counter bump skipped at $path: $e")
        }
        conflict(overlap)
      }
      val id = prior.lastOption.map(_.id).getOrElse(0L) + 1
      promoteStaging(f, path, stage, id)
      commit(spark, path, prior :+ Entry(id, isBase = false))
      bumpStatsAfterCommit(spark, path, waits)
      OptimisticCommit(id, waits)
    } finally f.delete(new Path(path, Lock), false)
  }

  /** Post-commit counter bump: the commit has already succeeded, so a
    * counter IO failure must NEVER surface as a commit error (the
    * caller would retry and double-append). Log and swallow. */
  private def bumpStatsAfterCommit(spark: SparkSession, path: String,
                                   waits: Int): Unit =
    try bumpOcStats(spark, path, retries = waits.toLong, aborts = 0L)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[snapshots] WARN: _OC_STATS update failed after a " +
            s"successful commit at $path (counters undercount): $e")
    }

  /** Reclaim staging dirs leaked by crashed optimistic writers. Only
    * safe when no writer is actively staging — enforced loosely by
    * requiring the writer lock to be free and taking it for the
    * sweep. Returns deleted staging dir names. */
  def cleanStaging(spark: SparkSession, path: String): Seq[String] =
    withLock(spark, path) {
      val f = fs(spark, path)
      val st = new Path(path, Staging)
      if (!f.exists(st)) Seq.empty
      else {
        val kids = f.listStatus(st).map(_.getPath).toSeq
        kids.foreach(p => f.delete(p, true))
        kids.map(_.getName)
      }
    }

  /** Merged (upsert-resolved) state as of `asOf` (default head): per
    * key, the newest visible version wins; tombstoned keys vanish.
    * Scan set = last base + later deltas, exactly like [[read]]; the
    * merge costs ONE key-partitioned window over that union. */
  def readMerged(spark: SparkSession, path: String, key: String,
                 asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val visible = visibleEntries(spark, path, asOf)
    // per-directory reads so each row knows its snapshot id; delete
    // batches carry only (key, _tombstone) → union by name with
    // missing columns as NULL
    val parts = visible.map { e =>
      val d = ParquetRead(spark, s"$path/snap=${e.id}")
      val t = if (d.columns.contains(Tombstone)) d
              else d.withColumn(Tombstone, lit(false))
      t.withColumn("_snap", lit(e.id))
    }
    val u = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    val w = Window.partitionBy(key).orderBy(col("_snap").desc)
    u.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col(Tombstone))
      .drop("_rn", "_snap", Tombstone)
  }

  /** Compact a keyed table: materialize the MERGED head (live rows
    * only — upserts resolved, tombstones applied and discarded) as a
    * new BASE snapshot. Post-base reads scan one directory + later
    * deltas; [[vacuum]] then reclaims pre-base history as usual. */
  def compactMerged(spark: SparkSession, path: String, key: String): Long =
    compactTo(spark, path)(readMerged(spark, path, key))

  /** Incremental (delta) read: ONLY the rows that landed in snapshots
    * `(after, asOf]` — the "process just the new data" primitive an
    * incremental pipeline runs between two checkpoints. Version
    * selection is directory selection, so the scan cost is the size
    * of the DELTA, not the table: at 100 TB a nightly increment reads
    * last night's bytes and nothing else.
    *
    * A compaction base inside the range is refused loudly: a base
    * REWRITES prior history into one directory, so the rows appended
    * since `after` are no longer identifiable as whole directories —
    * the caller must either delta-read below the base or do a full
    * `read` and diff. `after = 0` means "since table creation". */
  def readDelta(spark: SparkSession, path: String,
                after: Long, asOf: Long): DataFrame = {
    require(after >= 0 && asOf > after,
      s"need 0 <= after < asOf, got ($after, $asOf]")
    val all = entries(spark, path)
    require(all.exists(_.id == asOf), s"snapshot $asOf was never " +
      s"committed (committed: ${all.map(_.id).mkString(",")})")
    require(after == 0 || all.exists(_.id == after),
      s"snapshot $after was never committed")
    val range = all.filter(e => e.id > after && e.id <= asOf)
    require(!range.exists(_.isBase),
      s"delta ($after, $asOf] crosses compaction base " +
        s"${range.filter(_.isBase).map(_.id).mkString(",")}: history " +
        "was rewritten; delta-read below the base or diff full reads")
    ParquetRead(spark, range.map(e => s"$path/snap=${e.id}"): _*)
  }
}
