package graft.ql

import graft.sources.MetaFile
import graft.sources.MetaFile.{jsonLine, num, str}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Per-database join registry — the reference stored its join
  * definitions IN the database directory (the `.join` files
  * `lsd-xmatch` created, so that a later `lsd-query` could write
  * `FROM obj, det` with no per-query declaration; ref
  * `lsd/join_ops.py` JoinRelation + `.join` files, UNVERIFIED).
  *
  * Spark-native form: a `_JOINS` sidecar at the db root, one JSON
  * object per line (`kind: equi | spatial`), read by [[LsdQL.forDb]]
  * so every QL entry point — library, [[graft.tools.QueryCli]], a
  * notebook — resolves the same declared relations. Declarations are
  * UPSERTS keyed by the (left, right) table pair: re-running an
  * xmatch with a new radius replaces the relation instead of
  * shadowing it.
  *
  * Concurrency: saves are [[MetaFile.replace]]s, so a reader never
  * sees a torn file. Declares SERIALIZE through a briefly-held
  * [[MetaFile.tryCreate]] lock file (`_JOINS.lock`) so two concurrent
  * declares of DIFFERENT relations both land — without the lock the
  * unsynchronized load-modify-save cycle could drop an unrelated
  * relation entirely, which is stronger breakage than the documented
  * last-writer-wins on the SAME key (review r19, ADVICE). Stale locks
  * from a crashed declarer are broken after [[LockStaleMs]].
  */
object JoinRegistry {
  private val RegistryFile = "_JOINS"
  private val LockFile = "_JOINS.lock"
  /** A declare is one small-file read + write — sub-second. A lock
    * older than this belongs to a crashed process and is broken.
    * A LIVE holder refreshes its lock's mtime every third of this
    * window (heartbeat in [[withDeclareLock]]), so even a save that
    * legitimately outlives the threshold — a slow object-store PUT —
    * never LOOKS stale to a waiter (review r19, ADVICE). The spec
    * shrinks the window per-call via withDeclareLock's parameter —
    * never via shared mutable state (review r20). */
  private val LockStaleMs = 30000L

  private def fs(spark: SparkSession, root: String): FileSystem =
    FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)

  private def equiLine(j: JoinDef): String =
    jsonLine("kind" -> "equi", "left" -> j.left, "leftKey" -> j.leftKey,
      "right" -> j.right, "rightKey" -> j.rightKey)

  private def spatialLine(j: SpatialJoinDef): String =
    jsonLine(Seq("kind" -> "spatial", "left" -> j.left,
      "leftKey" -> j.leftKey, "lonL" -> j.lonL, "latL" -> j.latL,
      "right" -> j.right, "rightKey" -> j.rightKey, "lonR" -> j.lonR,
      "latR" -> j.latR, "radiusDeg" -> j.radiusDeg, "nmax" -> j.nmax) ++
      j.hotThreshold.map("hotThreshold" -> _) ++
      Seq("salts" -> j.salts, "snapD6" -> j.snapD6): _*)

  private def parse(line: String): Option[Either[JoinDef, SpatialJoinDef]] =
    str("kind", line) match {
      case Some("equi") =>
        val parsed =
          for (l <- str("left", line); lk <- str("leftKey", line);
               r <- str("right", line); rk <- str("rightKey", line))
            yield Left(JoinDef(l, lk, r, rk))
        // a KNOWN kind failing to parse is corruption, not forward
        // compat — dropping it silently would make the relation vanish
        // (next query resolves through a DIFFERENT declared path, or
        // errors with a misleading "no relation declared")
        if (parsed.isEmpty) throw new IllegalArgumentException(
          s"malformed equi entry in _JOINS: $line")
        parsed
      case Some("spatial") =>
        // the numeric conversions (toInt/toLong/toDouble on the regex
        // capture) go through the SAME malformed-entry error path as a
        // missing field: a hand-edited "nmax":2.5 or exponent form
        // must report the offending line, not surface as a bare
        // NumberFormatException that loses the diagnostic (review r19,
        // ADVICE)
        val parsed =
          try for (l <- str("left", line); lk <- str("leftKey", line);
                   lo <- str("lonL", line); la <- str("latL", line);
                   r <- str("right", line); rk <- str("rightKey", line);
                   ro <- str("lonR", line); ra <- str("latR", line);
                   rad <- num("radiusDeg", line))
            yield Right(SpatialJoinDef(l, lk, lo, la, r, rk, ro, ra,
              rad.toDouble,
              nmax = num("nmax", line).map(_.toInt).getOrElse(1),
              hotThreshold = num("hotThreshold", line).map(_.toLong),
              salts = num("salts", line).map(_.toInt).getOrElse(16),
              snapD6 = line.contains(""""snapD6":true""")))
          catch { case e: NumberFormatException =>
            throw new IllegalArgumentException(
              s"malformed spatial entry in _JOINS " +
                s"(bad numeric field: ${e.getMessage}): $line")
          }
        if (parsed.isEmpty) throw new IllegalArgumentException(
          s"malformed spatial entry in _JOINS: $line")
        parsed
      case _ => None // UNKNOWN kind: forward-compatible skip
    }

  /** All declared relations at `root` (empty when no `_JOINS` file). */
  def load(spark: SparkSession,
           root: String): (Seq[JoinDef], Seq[SpatialJoinDef]) = {
    val defs = MetaFile.read(spark, root, RegistryFile).toSeq
      .flatMap(_.linesIterator.filter(_.trim.nonEmpty).flatMap(parse))
    (defs.collect { case Left(j) => j }, defs.collect { case Right(j) => j })
  }

  /** Replace the full registry. */
  def save(spark: SparkSession, root: String, joins: Seq[JoinDef],
           spatialJoins: Seq[SpatialJoinDef]): Unit =
    MetaFile.replace(spark, root, RegistryFile,
      (joins.map(equiLine) ++ spatialJoins.map(spatialLine))
        .mkString("", "\n", "\n"))

  /** Serialize a load-modify-save cycle: an exclusive lock file,
    * bounded retry with backoff, stale-lock break after
    * [[LockStaleMs]]. */
  private[ql] def withDeclareLock[T](spark: SparkSession, root: String,
                                     staleMs: Long = LockStaleMs)
                                    (body: => T): T = {
    val f = fs(spark, root)
    f.mkdirs(new Path(root))
    val lock = new Path(root, LockFile)
    var attempts = 0
    // retry budget exceeds the stale window: a crashed holder's lock
    // ages past LockStaleMs DURING the wait and self-heals, instead of
    // failing spuriously at 5 s against a 30 s threshold (review r19)
    val maxAttempts = (staleMs / 200 + 50).toInt
    while (!MetaFile.tryCreate(spark, root, LockFile)) {
      attempts += 1
      // a crashed declarer's lock must not brick the registry forever.
      // Break protocol (review r19): judge staleness on the path,
      // then CLAIM via rename to a unique name — atomic, so exactly
      // one breaker wins (a plain delete lets the slower of two
      // breakers remove the faster one's FRESH lock). The winner
      // re-inspects the mtime ON THE CLAIMED FILE: if it really is
      // stale, delete and race for acquisition; if it turned fresh
      // (the path was re-locked between judge and claim), rename it
      // straight back. Residual window: if a third waiter acquires
      // during that claim-and-restore beat, the restore fails and the
      // stolen holder runs unprotected — accepted and documented for
      // a registry whose declares are rare admin operations; a full
      // owner-epoch protocol is not worth the machinery here.
      val stale = try f.getFileStatus(lock).getModificationTime <
        System.currentTimeMillis() - staleMs
      catch { case _: java.io.FileNotFoundException => false }
      if (stale) {
        val broken = new Path(root,
          s"$LockFile.broken.${java.util.UUID.randomUUID()}")
        if (f.rename(lock, broken)) {
          val reallyStale =
            try f.getFileStatus(broken).getModificationTime <
              System.currentTimeMillis() - staleMs
            catch { case _: java.io.FileNotFoundException => true }
          if (reallyStale) f.delete(broken, false)
          else if (!f.rename(broken, lock)) f.delete(broken, false)
        }
      }
      // the stale branch shares the bounded-retry guarantee: a lock
      // that STAYS stale while the break rename keeps failing
      // (permission/FS quirk) must not spin hot forever (review r19,
      // ADVICE) — every iteration counts toward the budget and sleeps
      if (attempts > maxAttempts) throw new IllegalStateException(
        s"could not acquire $root/$LockFile after $attempts attempts; " +
          "another declare is stuck (or delete the lock file manually)")
      Thread.sleep(200)
    }
    // Holder heartbeat: a declare that legitimately outlives
    // LockStaleMs (a slow object-store save) would otherwise have its
    // lock broken by a waiter, and the two load-modify-save cycles
    // could interleave — the exact lost update the lock prevents
    // (review r19, ADVICE). Refreshing the mtime at a third of the
    // window keeps a LIVE holder's lock fresh; touch failures are
    // benign (the path was claimed by a breaker inside the residual
    // window documented above).
    val beat = new Thread(() => {
      try while (!Thread.currentThread().isInterrupted) {
        Thread.sleep(math.max(staleMs / 3, 50L))
        try f.setTimes(lock, System.currentTimeMillis(), -1)
        catch { case _: java.io.IOException => () }
      } catch { case _: InterruptedException => () }
    }, "graft-joins-lock-heartbeat")
    beat.setDaemon(true)
    beat.start()
    try body finally {
      beat.interrupt()
      f.delete(lock, false)
    }
  }

  /** Upsert an equi relation (keyed by the unordered table pair —
    * redeclaring customer↔orders replaces the old keys). The
    * load-modify-save runs under the declare lock so a concurrent
    * declare of a DIFFERENT relation cannot be lost. */
  def declare(spark: SparkSession, root: String, jd: JoinDef): Unit =
    withDeclareLock(spark, root) {
      val (js, sjs) = load(spark, root)
      def pair(l: String, r: String) = Set(l, r)
      save(spark, root,
        js.filterNot(j => pair(j.left, j.right) == pair(jd.left, jd.right))
          :+ jd, sjs)
    }

  /** Upsert a spatial relation (keyed by the DIRECTED pair — left
    * drives, so a↷b and b↷a are distinct relations). Locked like
    * [[declare]]. */
  def declareSpatial(spark: SparkSession, root: String,
                     sjd: SpatialJoinDef): Unit =
    withDeclareLock(spark, root) {
      val (js, sjs) = load(spark, root)
      save(spark, root,
        js, sjs.filterNot(j => j.left == sjd.left && j.right == sjd.right)
          :+ sjd)
    }
}
