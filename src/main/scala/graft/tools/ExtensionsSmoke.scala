package graft.tools

import org.apache.spark.sql.SparkSession

/** Smoke for [[graft.GraftExtensions]]: extensions only apply at
  * session CREATION, so this runs in its own JVM where it owns the
  * session — manually via runMain, and in CI through
  * [[graft.ExtensionsForkSpec]], which forks this exact main from
  * `sbt test`. Exercises the full registration path end to end
  * through the USER-FACING config string (`spark.sql.extensions=
  * graft.GraftExtensions` — the one-line zero-code integration, NOT
  * the programmatic withExtensions shortcut): SQL functions resolve
  * from plain `spark.sql`, the AutoSpatialJoin rule rewrites a naive
  * cross join, the TopKPerGroup strategy is installed, and the
  * optimizer is a FIXED POINT over generated spatial-join shapes
  * (the injected rule runs in the fixed-point operator batch with
  * PushPredicateThroughJoin — a non-idempotent rewrite would double
  * the plan every iteration; see AutoSpatialJoin's guard).
  *
  * Usage: runMain graft.tools.ExtensionsSmoke
  */
object ExtensionsSmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // 1) SQL functions resolve and agree with the library twins —
    // using the NATURAL literal spellings (0.1 parses as DECIMAL,
    // 4 as INT): the builders must widen, not demand 0.1D
    val r = spark.sql(
      "SELECT sky_dist(10.0D, 0.0D, 10.0D, 1.0D) AS d, " +
        "sky_cell(10.0D, 0.0D, 4) AS c, " +
        "sky_neighbor_cells(10.0D, 0.0D, 4, 0.1) AS nb, " +
        "snap6(0.1234567D) AS s").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-9, s"sky_dist ${r.getDouble(0)}")
    assert(r.getDouble(3) == 0.123457, s"snap6 ${r.getDouble(3)}")
    val nb = r.getSeq[Any](2)
    assert(nb.contains(r.getLong(1)) && !nb.contains(null),
      s"neighbors $nb must hold the home cell and no nulls")
    println(s"functions OK: d=${r.getDouble(0)} cell=${r.getLong(1)} " +
      s"probed=${nb.size} snap=${r.getDouble(3)}")

    // 2) the optimizer rule fires on the naive cross-join shape
    val a = Seq((1L, 10.0, 0.0), (2L, 200.0, 45.0)).toDF("ida", "la", "ba")
    val b = Seq((9L, 10.001, 0.001), (8L, 100.0, -40.0)).toDF("idb", "lb", "bb")
    a.createOrReplaceTempView("exta")
    b.createOrReplaceTempView("extb")
    val j = spark.sql(
      "SELECT ida, idb FROM exta, extb " +
        "WHERE sky_dist(la, ba, lb, bb) <= 0.05")
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"AutoSpatialJoin must fire via extensions:\n$plan")
    // absence of CartesianProduct alone is vacuous at this input size
    // (a tiny non-equi join plans as BroadcastNestedLoopJoin either
    // way) — the neighbor-cell explode discriminates the rewritten
    // shape from the naive plan. (The two-channel Union does NOT
    // survive here: on a LocalRelation fixture the optimizer folds
    // the polar-cap filters at plan time, PropagateEmptyRelation
    // kills the empty cap channel, and the Union collapses.)
    assert(plan.contains("Generate") || plan.contains("explode"),
      s"rewritten plan must carry the neighbor-cell explode:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"rewritten plan must join on the cell key, not nested-loop:\n$plan")
    val got = j.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == Set((1L, 9L)), s"join result $got")
    println("optimizer rule OK: cartesian rewritten, result exact")

    // 3) the TopKPerGroup strategy is installed
    val withStrat = spark.sessionState.planner.strategies
      .exists(_.getClass.getName.contains("TopKPerGroup"))
    // injected strategies live in extraPlanningStrategies; accept either
    assert(withStrat ||
      spark.sessionState.planner.extraPlanningStrategies
        .exists(_.getClass.getName.contains("TopKPerGroup")),
      "TopKPerGroupStrategy must be installed")
    println("planner strategy OK")

    // 4) idempotence property: optimize(optimize(p)) == optimize(p)
    // over generated spatial-join shapes — radius sweep, incidental
    // cross-side equality on/off, extra local conjunct on/off, both
    // FROM orientations. The injected rule lives in the fixed-point
    // batch, so a re-match of its own output would show up here as a
    // non-fixed-point (plan doubles on the second execute).
    val rnd = new scala.util.Random(7)
    for (i <- 0 until 16) {
      val radius = f"${0.01 + rnd.nextDouble() * 0.9}%.4f"
      val eq = if (i % 3 == 0) " AND ida % 2 = idb % 2" else ""
      val extra = if (i % 4 == 0) " AND ida > 0" else ""
      val (t1, t2) = if (i % 2 == 0) ("exta", "extb") else ("extb", "exta")
      val q = spark.sql(s"SELECT * FROM $t1, $t2 " +
        s"WHERE sky_dist(la, ba, lb, bb) <= $radius$eq$extra")
      val opt = q.queryExecution.optimizedPlan
      val re = spark.sessionState.optimizer.execute(opt)
      assert(re.canonicalized == opt.canonicalized,
        s"optimizer not a fixed point (radius=$radius eq='$eq'):\n" +
          s"second pass:\n$re\nfirst pass:\n$opt")
    }
    println("idempotence property OK (16 shapes)")
    println("EXTENSIONS SMOKE PASSED")
    spark.stop()
  }
}
