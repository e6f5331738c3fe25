package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Tests of the harness itself: the tail-percentile rule, the
  * fingerprint, seed determinism and failure counting. Prints one line
  * per test and exits non-zero when any fails. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable =>
      failures += 1
      println(s"FAIL $name: $e")
    }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  private def assert(ok: Boolean, what: String): Unit =
    if (!ok) throw new AssertionError(what)

  def run(): Unit = {
    test("tail percentile needs 11 samples") {
      eq(Stats.tailPercentile((1 to 10).map(_.toDouble)), None)
      eq(Stats.tailPercentile((1 to 11).map(_.toDouble)),
        Some((1.0, 1.0 / 11)))
    }
    test("tail percentile keeps at least 10 samples beyond, at most p90") {
      for (n <- 11 to 400) {
        val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
        val Some((v, pct)) = Stats.tailPercentile(xs)
        assert(xs.count(_ > v) >= 10, s"n=$n: ${xs.count(_ > v)} beyond")
        assert(pct <= 0.9 + 1e-12, s"n=$n: percentile $pct")
        // the highest such percentile: one rank up breaks a limit
        assert(n - (v.toInt + 1) < 10 || (v + 1) / n > 0.9 + 1e-12,
          s"n=$n: rank ${v.toInt} is not the highest allowed")
      }
      eq(Stats.tailPercentile((1 to 100).map(_.toDouble)), Some((90.0, 0.9)))
      eq(Stats.tailPercentile((1 to 30).map(_.toDouble)),
        Some((20.0, 20.0 / 30)))
    }
    test("median") {
      eq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      eq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }

    val header = "a:int,b:string,c:double"
    val rows = Seq(Row(1, "x", 0.5), Row(2, null, null), Row(3, "null", 1.0),
      Row(null, "y", -0.0), Row(2, null, null))
    def fp(rs: Seq[Row]) = Stats.fingerprint(header, rs.iterator)
    test("fingerprint ignores row order") {
      eq(fp(rows.reverse), fp(rows))
      eq(fp(scala.util.Random.shuffle(rows)), fp(rows))
    }
    test("fingerprint tells nulls from values and counts duplicates") {
      assert(fp(Seq(Row(1, null, 1.0))) != fp(Seq(Row(1, "null", 1.0))),
        "null equals the string 'null'")
      assert(fp(Seq(Row(null, 1, 1.0))) != fp(Seq(Row(1, null, 1.0))),
        "null moved between columns")
      assert(fp(rows :+ rows(0)) != fp(rows :+ rows(2)),
        "duplicate rows not counted")
      assert(fp(Seq(Row(1, "x", 0.0))) != fp(Seq(Row(1, "x", -0.0))),
        "0.0 equals -0.0")
      eq(fp(rows).rows, 5L)
    }
    test("fingerprint of a DataFrame matches its rows in any partitioning") {
      val spark = SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try {
        val schema = StructType(Seq(StructField("a", IntegerType),
          StructField("b", StringType), StructField("c", DoubleType)))
        val df = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
        eq(Stats.fingerprint(df), fp(rows))
        eq(Stats.fingerprint(df.repartition(3)), fp(rows))
        eq(Stats.fingerprint(df.orderBy(df("a").desc)), fp(rows))
        eq(Stats.fingerprints(Seq(df.filter("a = 2"), df, df.limit(0))),
          Seq(fp(rows.filter(_.get(0) == 2)), fp(rows), fp(Nil)))
      } finally spark.stop()
    }

    val p = IngestParams(rows = 2000, epochs = 3, epochDays = 7, level = 5,
      marginDeg = 0.5, raSpan = 40, decSpan = 40, stripeHalfWidth = 1,
      stripeFrac = 0.5)
    test("same seed gives the same pass order and ingest input") {
      val items = (1 to 30).map(i => s"q$i")
      def orders(seed: Long) = {
        val r = new scala.util.Random(seed)
        (0 until 5).map(_ => Run.order(r, items))
      }
      eq(orders(7), orders(7))
      assert(orders(7) != orders(8), "seeds 7 and 8 give the same order")
      assert(java.util.Arrays.equals(Ingest.bytes(Ingest.rows(p, 7)),
        Ingest.bytes(Ingest.rows(p, 7))), "seed 7 input differs")
      assert(!java.util.Arrays.equals(Ingest.bytes(Ingest.rows(p, 7)),
        Ingest.bytes(Ingest.rows(p, 8))), "seeds 7 and 8 give one input")
    }
    test("ingest input has its dense stripe and epoch batches") {
      val rs = Ingest.rows(p, 7)
      val inStripe = rs.count(r => math.abs(r.getDouble(2)) <= 1.0)
      // half the rows by construction plus the uniform part's share
      assert(inStripe > 0.5 * rs.size, s"$inStripe rows in the stripe")
      eq(rs.map(_.getInt(4)).distinct.sorted, Seq(0, 1, 2))
    }
    test("failed_frac counts throws and false checks against attempts") {
      val t = new Tally
      t.attempt(1)
      t.attempt(throw new RuntimeException("boom"))
      t.check(true)
      t.check(false)
      t.check(throw new RuntimeException("boom"))
      eq((t.attempted, t.failed), (5, 3))
      eq(t.failedFrac, 0.6)
      val clean = new Tally
      clean.attempt(())
      eq(clean.failedFrac, 0.0)
    }
    test("failed_frac rejects impossible counts") {
      for ((f, a) <- Seq((0, 0), (2, 1), (-1, 3)))
        assert(scala.util.Try(Stats.failedFrac(f, a)).isFailure,
          s"accepted failed=$f attempted=$a")
    }
    test("result line has exactly the contract's keys") {
      val j = Result(4, 1, Seq(Metric("pass_s", 1.25, "s"))).json
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(j)
      eq(scala.jdk.CollectionConverters.IteratorHasAsScala(n.fieldNames)
        .asScala.toList, List("correct", "attempted", "failed", "metrics"))
      eq(n.get("correct").asBoolean, false)
      eq(n.get("metrics").get("pass_s").get("value").asDouble, 1.25)
    }
    if (failures > 0) {
      println(s"$failures test(s) failed")
      sys.exit(1)
    }
    println("all tests passed")
  }
}
