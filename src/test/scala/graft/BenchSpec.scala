package graft

/** Bench's stdout tail and the driver's t1 entry. */
class BenchSpec extends SpecBase {

  private def results(sec: Double): Seq[(String, Double, Double)] =
    Registry.specs.map(_.name).sorted.map(n => (n, sec, sec))

  test("per_query_best plus the headline fit in 1800 chars at the registry's size") {
    val rs = results(9.99)
    val tail = Bench.perQueryBestLine(rs) + "\n" + Bench.headline(sfDir, rs, Nil)
    assert(tail.length <= 1800, s"${tail.length} chars")
  }

  test("per_query_best is a positional 2-decimal array in sorted-name order") {
    val rs = Seq(("q_a", 1.0, 1.234), ("q_b", 2.0, 0.005), ("q_c", 3.0, 12.0))
    val line = Bench.perQueryBestLine(rs)
    assert(line.endsWith(""""n":3,"sec":[1.23,0.01,12.00]}"""), line)
    assert(line.startsWith("""{"metric":"per_query_best","""), line)
  }

  test("SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
