package graft.tools

import graft.{QuerySpec, Registry, SpecBase}

import java.nio.file.{Files, Paths}

class ProfileSpec extends SpecBase {

  test("parse rejects an unknown query name, naming it") {
    val e = intercept[IllegalArgumentException](
      Profile.parse(Array("q_agg_basic", "q_no_such_query")))
    assert(e.getMessage.contains("q_no_such_query"))
  }

  test("parse rejects a bare --plans and an empty query list") {
    intercept[IllegalArgumentException](Profile.parse(Array("--plans", "out")))
    intercept[IllegalArgumentException](Profile.parse(Array.empty[String]))
  }

  test("parse reads --plans <outDir> <tag> ahead of the query names") {
    val (plans, qs) = Profile.parse(
      Array("--plans", "plans/r99", "before", "q_agg_basic", "q_scan"))
    assert(plans == Some((Paths.get("plans/r99"), "before")))
    assert(qs.map(_.name) == Seq("q_agg_basic", "q_scan"))
    assert(Profile.parse(Array("q_scan"))._1.isEmpty)
  }

  test("a query runs cold + 2 warm reps with stage tables; --plans writes its plan") {
    val out = Files.createTempDirectory("profile-plans")
    val q = Registry.specs.find(_.name == "q_agg_basic").get
    val rec = new Profile.Recorder(spark)
    val reps =
      try Profile.profile(spark, sfDir, q, rec, Some((out, "t")))
      finally rec.close()
    assert(reps.map(_.label) == Seq("cold", "warm", "warm"))
    assert(reps.forall(_.seconds > 0))
    assert(reps.forall(_.stages.nonEmpty))
    val plan = out.resolve("q_agg_basic_t.txt")
    assert(Files.readString(plan).contains("== Physical Plan =="))
    Files.delete(plan)
    Files.delete(out)
  }

  test("--plans writes a streaming replay's micro-batch plan") {
    // q_stream_xmatch drains a scan of its collected rows; the plan
    // that matters is the cross-match each micro-batch ran
    val out = Files.createTempDirectory("profile-plans")
    val q = Registry.specs.find(_.name == "q_stream_xmatch").get
    val rec = new Profile.Recorder(spark)
    val reps =
      try Profile.profile(spark, sfDir, q, rec, Some((out, "t")))
      finally rec.close()
    assert(reps.forall(_.batches.nonEmpty))
    val file = out.resolve("q_stream_xmatch_t.txt")
    val plan = Files.readString(file)
    assert(plan.contains("MicroBatchWrite") && plan.contains("Join") &&
      plan.contains(graft.spatial.CrossMatch.CellB), plan.take(3000))
    Files.delete(file)
    Files.delete(out)
  }

  test("a failing query is returned by name") {
    val boom = QuerySpec.smoke("q_boom")((_, _) => sys.error("boom"))
    assert(Profile.profileAll(spark, sfDir, Seq(boom), None) == Seq("q_boom"))
  }
}
