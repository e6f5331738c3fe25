package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The startup schema-contract gate: real testdata passes; a drifted
  * regeneration fails LOUD with a diff naming table.column and the
  * type delta (round-10 postmortem — drift must never again surface
  * as seven silent downstream analysis exceptions). */
class PreflightSpec extends SpecBase {

  test("real driver testdata passes the contract") {
    Preflight.check(spark, sfDir) // must not throw
  }

  test("check opens the tables without a job: only the events.ts probe runs") {
    // each table open reads one footer on the driver; the value probe
    // (one min/max aggregate) is the only Spark work
    val (_, jobs) = jobsDuring(Preflight.check(spark, sfDir))
    assert(jobs.size <= 2, s"${jobs.size} jobs: ${jobs.mkString("; ")}")
  }

  test("diff: type change and missing column are fatal, extra column warns") {
    val drifted = StructType(Seq(
      StructField("event_id", LongType),
      // ts missing entirely
      StructField("user_id", StringType), // was long
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType),
      StructField("shiny_new", IntegerType))) // additive
    val (fatal, warns) = Preflight.diff("events", drifted)
    assert(fatal.exists(_.contains("events.ts: MISSING")))
    assert(fatal.exists(d => d.contains("events.user_id: TYPE string")
      && d.contains("expected bigint")))
    assert(fatal.size == 2, fatal.mkString("; "))
    assert(warns.exists(_.contains("events.shiny_new")))
  }

  test("diff: timestamp-precision and nullability drift are absorbed, not flagged") {
    // The contract is the POST-LsdDb logical schema: ms/µs/ns and NTZ
    // all normalize to TIMESTAMP before this check, and nullability /
    // array-element containsNull are writer noise.
    val ok = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType, nullable = false)))
    val (fatal, _) = Preflight.diff("embeddings", ok)
    assert(fatal.isEmpty, fatal.mkString("; "))
  }

  test("timestamp UNIT drift (µs written where ns assumed) fails the value probe") {
    // Same schema, values 1000× off: events.ts regenerated in MICROs
    // would pass the type check (int64 → DIV 1000 → timestamp) but
    // land around 1970 — the probe must name the unit.
    val tmp = Files.createTempDirectory("graft_preflight_ts").toString
    for (t <- LsdDb.standardTables if t != "events")
      Files.createSymbolicLink(
        Paths.get(s"$tmp/$t.parquet"),
        Paths.get(s"$sfDir/$t.parquet"))
    LsdDb.table(spark, sfDir, "events")
      .withColumn("ts", expr("unix_micros(ts)")) // int64 µs, not ns
      .write.parquet(s"$tmp/events.parquet")
    val e = intercept[Preflight.SchemaDriftException] {
      Preflight.check(spark, tmp)
    }
    assert(e.getMessage.contains("UNIT"), e.getMessage)
  }

  test("end-to-end: a drifted sfDir fails check() naming every drift at once") {
    val tmp = Files.createTempDirectory("graft_preflight").toString
    // symlink the real tables, then overwrite two with drifted schemas
    for (t <- LsdDb.standardTables)
      Files.createSymbolicLink(
        Paths.get(s"$tmp/$t.parquet"),
        Paths.get(s"$sfDir/$t.parquet"))
    Files.delete(Paths.get(s"$tmp/documents.parquet"))
    LsdDb.table(spark, sfDir, "documents")
      .withColumn("n_chars", col("n_chars").cast(StringType)) // type drift
      .drop("lang") // missing column
      .write.parquet(s"$tmp/documents.parquet")
    Files.delete(Paths.get(s"$tmp/region.parquet"))
    LsdDb.table(spark, sfDir, "region")
      .withColumn("r_comment", lit("benign extra")) // additive only
      .write.parquet(s"$tmp/region.parquet")
    val e = intercept[Preflight.SchemaDriftException] {
      Preflight.check(spark, tmp)
    }
    val msg = e.getMessage
    assert(msg.contains("documents.n_chars: TYPE string"))
    assert(msg.contains("documents.lang: MISSING"))
    assert(!msg.contains("r_comment"),
      s"additive drift must not be fatal:\n$msg")
  }
}
