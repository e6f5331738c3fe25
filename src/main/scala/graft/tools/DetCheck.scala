package graft.tools

import scala.util.control.NonFatal

import graft.{GraftSession, Registry}

/** Dev tool: determinism stress — every declared query must produce
  * IDENTICAL collected results under different parallelism (shuffle
  * partition counts change aggregation merge order, which is exactly
  * where float nondeterminism hides). The t2 oracle can only compare
  * one run; this guards the property the oracle relies on.
  *
  * Usage: DetCheck [sfDir]
  */
object DetCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local()
    var failed = 0
    for (q <- Registry.specs.sortBy(_.name)) {
      def runWith(parts: Int): Seq[String] = {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        q.fn(spark, dir).collect().map(_.toString).toSeq
      }
      try {
        val a = runWith(3)
        val b = runWith(29)
        if (a == b) println(s"OK   ${q.name} (${a.size} rows)")
        else {
          failed += 1
          val diff = a.zip(b).indexWhere { case (x, y) => x != y }
          println(s"FAIL ${q.name}: results differ at row $diff" +
            (if (diff >= 0) s"\n  p3 =${a(diff)}\n  p29=${b(diff)}" else
              s" (sizes ${a.size} vs ${b.size})"))
        }
      } catch {
        case NonFatal(e) => failed += 1
          println(s"FAIL ${q.name}: ${e.getMessage.linesIterator.next()}")
      }
    }
    println(if (failed == 0) "ALL DETERMINISTIC" else s"$failed FAILURES")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
