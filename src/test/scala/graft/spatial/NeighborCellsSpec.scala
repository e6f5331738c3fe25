package graft.spatial

import graft.{SparkEntry, SpecBase}
import graft.sources.SpatialWriter
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import scala.util.Random

/** The production neighbor explodes run inside whole-stage codegen:
  * no expression in their executed plans is `CodegenFallback` (an
  * interpreted-only expression evaluated per row, as `filter(...)` over
  * the neighbor array was). */
class NeighborCellsSpec extends SpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def fallbacks(plan: SparkPlan): Seq[String] =
    collectWithSubqueries(plan) { case p => p.expressions }.flatten
      .flatMap(_.collect { case e: CodegenFallback => e.prettyName })

  /** The executed plans of the queries `body` runs on this session. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      GraftShims.waitForListeners(spark)
    } finally spark.listenerManager.unregister(l)
    seen.toArray(Array.empty[SparkPlan]).toSeq
  }

  private val rnd = new Random(23)
  private lazy val sky = (0L until 400L).map { i =>
    (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1)))
  }.toDF("id", "lon", "lat")

  private def assertCodegen(what: String, plans: Seq[SparkPlan]): Unit = {
    assert(plans.exists(p => collect(p) { case g: GenerateExec => g }
      .nonEmpty), s"$what: no explode seen")
    val found = plans.flatMap(fallbacks)
    assert(found.isEmpty, s"$what runs interpreted-only expressions: $found")
  }

  test("margin write, Blocking cross-match and the q_tracklets explode " +
    "stay on codegen") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_nbcg").toString + "/cat"
    assertCodegen("margin write", executedPlans {
      SpatialWriter.write(sky, "lon", "lat", level = 3, path = path,
        margin = Some(0.5))
    })
    assertCodegen("Blocking pairs", executedPlans {
      CrossMatch.pairs(sky, CrossMatch.Blocking(sky), "id", "lon", "lat",
        "id", "lon", "lat", 0.5).collect()
    })
    assertCodegen("q_tracklets", executedPlans {
      SparkEntry.queries("q_tracklets")(spark, sfDir).collect()
    })
  }
}
