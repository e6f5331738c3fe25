package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev-only: `--only a,b` restricts the dump (driver always passes 2 args)
    val only: Option[Set[String]] = args.sliding(2).collectFirst {
      case Array("--only", names) => names.split(",").toSet
    }
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Preflight, then every write-once layout, so a layout that fails
    // is named once on stderr rather than inside whichever query
    // builds it first. A schema drift fails the WHOLE run loud
    // (round-10 postmortem: 7 queries died silently to a regenerated
    // events.ts). No dumps are written, so the driver compare records
    // every query as missing — unambiguous — and errors.json carries
    // the printed diff for triage.
    try Bench.prepare(spark, sfDir)
    catch { case e: Preflight.SchemaDriftException =>
      System.err.println(s"[verify] PREFLIGHT FAILED\n${e.getMessage}")
      Files.writeString(Paths.get(s"$outDir/errors.json"),
        s"""{"_preflight": ${q(e.getMessage)}}""")
      spark.stop()
      sys.exit(2)
    }
    var failed = List.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed ::= (name, String.valueOf(e.getMessage).take(500))
        // A crashed query must still produce a dump, else the driver's
        // compare silently OMITS it and the round reads as green by
        // omission (round-10 postmortem). A one-row sentinel with a
        // column no oracle emits guarantees a RECORDED rows/schema/
        // hash failure for this query instead.
        //
        // Delete any stale dump FIRST: if the sentinel write itself
        // throws, a reused outDir must be left with an ABSENT dump
        // (a recorded omission) rather than a prior run's passing
        // parquet that would read as green for a crashed query.
        try {
          val d = Paths.get(s"$outDir/$name")
          if (Files.exists(d)) {
            // close the walk stream (it holds directory descriptors —
            // one leak per crashed query otherwise)
            val w = Files.walk(d)
            try w.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => Files.deleteIfExists(p))
            finally w.close()
          }
        } catch { case NonFatal(e2) =>
          System.err.println(
            s"[verify] $name: stale dump not deleted: ${e2.getMessage}")
        }
        try {
          import spark.implicits._
          Seq(String.valueOf(e.getMessage).take(500))
            .toDF("_verify_error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case NonFatal(e2) =>
          System.err.println(
            s"[verify] $name: error sentinel not written: ${e2.getMessage}")
        }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Human-triage sidecar: which queries crashed and why. The driver
    // ignores unknown files; failures are ALSO visible per-query via
    // the sentinel dumps above.
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      failed.sortBy(_._1)
        .map { case (k, m) => s"${q(k)}: ${q(m)}" }
        .mkString("{", ",", "}"))
    spark.stop()
    if (failed.nonEmpty) sys.exit(2)
  }
}
