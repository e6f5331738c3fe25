package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Startup schema-contract check for the driver test data.
  *
  * Round 10 lost 7 queries to a silent testdata regeneration (ms →
  * ns-NTZ timestamp drift) that surfaced only as downstream analysis
  * exceptions. The NTZ normalizer in [[LsdDb]] fixed that *class*;
  * this check catches the next one at startup, before any query runs,
  * with a printed diff naming exactly what moved.
  *
  * The contract is the LOGICAL schema — what `LsdDb.table` yields
  * after its normalizations (ns→µs ts, NTZ→TIMESTAMP) — because that
  * is the surface every query and every oracle is written against.
  * Checking the raw footer instead would re-flag encodings the loader
  * already absorbs (ms vs µs vs ns timestamps are all fine).
  *
  * Severity is deliberately asymmetric:
  *  - a MISSING column or a TYPE change is fatal: queries reading it
  *    are wrong or crash, so fail loud now with the diff;
  *  - an EXTRA column only warns: an additive regeneration leaves
  *    every existing query and oracle valid, and failing the whole
  *    round on it would be self-inflicted damage.
  */
object Preflight {

  /** Expected logical schema per table, post-LsdDb normalization.
    * Source: FIXTURES.md §A (dumped from the actual parquet footers).
    * Nullability is not part of the contract (parquet writers vary). */
  val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq(
      "r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> Seq(
      "event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq(
      "doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType,
      "n_chars" -> LongType),
    "embeddings" -> Seq(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType))

  /** Compare one table's actual logical schema to the contract.
    * Returns (fatal diffs, warnings). */
  def diff(name: String, actual: StructType): (Seq[String], Seq[String]) = {
    val want = expected(name)
    val have: Map[String, DataType] =
      actual.fields.map(f => f.name -> normalize(f.dataType)).toMap
    val fatal = want.flatMap { case (c, t) =>
      have.get(c) match {
        case None =>
          Some(s"$name.$c: MISSING (expected ${t.simpleString})")
        case Some(a) if a != normalize(t) =>
          Some(s"$name.$c: TYPE ${a.simpleString} " +
            s"(expected ${t.simpleString})")
        case _ => None
      }
    }
    val extra = actual.fields.map(_.name)
      .filterNot(want.map(_._1).contains)
      .map(c => s"$name.$c: extra column " +
        s"(${have(c).simpleString}) — additive drift, not fatal")
    (fatal, extra.toSeq)
  }

  /** Array element nullability and struct field nullability are not
    * contract: writers disagree and Spark reads both identically. */
  private def normalize(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(normalize(e))
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = normalize(f.dataType),
        nullable = true)))
    case MapType(k, v, _) => MapType(normalize(k), normalize(v))
    case other => other
  }

  /** Validate every standard table under `sfDir`. Throws
    * [[SchemaDriftException]] listing every fatal diff across all
    * tables (not just the first) so one run names the whole drift. */
  def check(spark: SparkSession, sfDir: String): Unit = {
    val db = LsdDb(spark, sfDir)
    val (fatals, warns) = LsdDb.standardTables.map { t =>
      try diff(t, db.table(t).schema)
      catch { case NonFatal(e) =>
        (Seq(s"$t: unreadable (${e.getClass.getSimpleName}: " +
          s"${String.valueOf(e.getMessage).take(200)})"), Nil)
      }
    }.unzip match { case (f, w) => (f.flatten, w.flatten) }
    warns.foreach(w => System.err.println(s"[preflight] WARN $w"))
    // Value-sanity probe for the one drift class the TYPE check is
    // blind to: events.ts arrives as raw int64 and LsdDb divides by
    // 1000 assuming NANOseconds. A regeneration in µs or ms would
    // type-check identically and silently shift every timestamp
    // 1000×. Epoch bounds on min/max (one single-column aggregate
    // over one table) catch any unit error ≥ 10³ loudly.
    val tsFatal =
      if (fatals.nonEmpty) Nil // schema already broken; don't read data
      else try {
        val r = db.table("events")
          .agg(org.apache.spark.sql.functions.min("ts"),
            org.apache.spark.sql.functions.max("ts")).head()
        val lo = java.sql.Timestamp.valueOf("1990-01-01 00:00:00")
        val hi = java.sql.Timestamp.valueOf("2100-01-01 00:00:00")
        val (mn, mx) = (r.getTimestamp(0), r.getTimestamp(1))
        if (mn == null || mn.before(lo) || mx.after(hi))
          Seq(s"events.ts: values [$mn, $mx] outside [1990, 2100] — " +
            "timestamp UNIT drift (ns assumption violated)?")
        else Nil
      } catch { case NonFatal(e) =>
        Seq("events.ts: value probe failed " +
          s"(${e.getClass.getSimpleName}: " +
          s"${String.valueOf(e.getMessage).take(200)})")
      }
    val allFatal = fatals ++ tsFatal
    if (allFatal.nonEmpty)
      throw new SchemaDriftException(
        s"testdata schema drift at $sfDir — ${allFatal.size} fatal " +
          "difference(s) vs FIXTURES.md contract:\n  " +
          allFatal.mkString("\n  "))
  }

  final class SchemaDriftException(msg: String)
    extends RuntimeException(msg)
}
