package graft.perfbench

import scala.util.control.NonFatal
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Summary statistics and the output fingerprint. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail percentile the sample supports: the highest percentile,
    * at most the 90th, that leaves at least 10 samples above it.
    * Returns (value, percentile in [0, 1]) or None below 11 samples.
    * Nearest-rank: the k-th smallest sample sits at percentile k/n. */
  def tailPercentile(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val k = math.min(n - 10, math.floor(0.9 * n + 1e-9).toInt)
      Some((xs.sorted.apply(k - 1), k.toDouble / n))
    }
  }

  def failedFrac(failed: Int, attempted: Int): Double = {
    require(attempted > 0 && failed >= 0 && failed <= attempted,
      s"failed=$failed of attempted=$attempted")
    failed.toDouble / attempted
  }

  /** Row count plus an order-insensitive hash of every output column:
    * each row hashes its canonical text to 64 bits and the row hashes
    * are summed, so the result does not depend on row or partition
    * order but does count duplicate rows. Column names and types are
    * part of the hash. */
  final case class Fingerprint(rows: Long, hash: String) {
    override def toString = s"$rows:$hash"
  }

  def fingerprint(df: DataFrame): Fingerprint = fingerprints(Seq(df)).head

  /** [[fingerprint]] of each DataFrame, all computed in one Spark job. */
  def fingerprints(dfs: Seq[DataFrame]): Seq[Fingerprint] = {
    val k = dfs.size
    val rows = dfs.head.sparkSession.sparkContext.union(dfs.zipWithIndex
      .map { case (df, i) => df.rdd.map(r => (i, rowHash(r))) })
    def add(a: Array[Long], b: Array[Long]) = a.indices.map(i => a(i) + b(i))
      .toArray
    // per DataFrame: row count at i, hash sum at k + i
    val acc = rows.aggregate(new Array[Long](2 * k))(
      { case (a, (i, h)) => a(i) += 1; a(k + i) += h; a }, add)
    dfs.zipWithIndex.map { case (df, i) =>
      val header = df.schema.fields
        .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
      Fingerprint(acc(i), f"${hash64(header) + acc(k + i)}%016x")
    }
  }

  /** [[fingerprint]] of rows held on the driver. */
  def fingerprint(header: String, rows: Iterator[Row]): Fingerprint = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    Fingerprint(n, f"${hash64(header) + sum}%016x")
  }

  def rowHash(r: Row): Long = hash64(canonical(r))

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  /** Text form of a value that is identical for equal values: nulls
    * are distinct from every string, doubles print exactly, decimals
    * drop trailing zeros, timestamps print as epoch micros. */
  def canonical(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s + "\""
    case r: Row => (0 until r.length).map(i => canonical(r.get(i)))
      .mkString("(", "␟", ")")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: BigDecimal => canonical(b.bigDecimal)
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case i: java.time.Instant => (i.getEpochSecond * 1000000 +
      i.getNano / 1000).toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] => m.toSeq
      .map { case (k, x) => canonical(k) + "→" + canonical(x) }
      .sorted.mkString("{", "␟", "}")
    case s: scala.collection.Seq[_] => s.map(canonical)
      .mkString("[", "␟", "]")
    case other => other.toString
  }
}

/** Operations attempted and failed in a run: an operation that throws
  * and a check that is false or throws both count as failed. */
final class Tally {
  private var a, f = 0
  def attempted: Int = a
  def failed: Int = f
  def failedFrac: Double = Stats.failedFrac(f, a)

  def attempt[T](body: => T): Either[Throwable, T] = {
    a += 1
    try Right(body)
    catch { case NonFatal(e) => f += 1; Left(e) }
  }

  def check(ok: => Boolean): Boolean = attempt(ok) match {
    case Right(true) => true
    case Right(false) => f += 1; false
    case Left(_) => false
  }
}
