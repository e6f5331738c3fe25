package graft.tools

import graft.{LsdDb, Preflight, SpecBase}
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path}

class ScalePointSpec extends SpecBase {

  test("x2 keeps every column type, passes Preflight, doubles rows and a key join") {
    val dst = Files.createTempDirectory("scalepoint")
    try {
      ScalePoint.inflate(spark, sfDir, dst.toString, 2)
      Preflight.check(spark, dst.toString)
      for (t <- LsdDb.standardTables) {
        val (a, b) = (LsdDb.table(spark, sfDir, t),
          LsdDb.table(spark, dst.toString, t))
        assert(b.schema.map(f => f.name -> f.dataType) ==
          a.schema.map(f => f.name -> f.dataType), t)
        assert(b.count() == 2 * a.count(), t)
      }
      def customerNation(dir: String): Long =
        LsdDb.table(spark, dir, "customer")
          .join(LsdDb.table(spark, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .count()
      assert(customerNation(sfDir) > 0)
      assert(customerNation(dst.toString) == 2 * customerNation(sfDir))
    } finally {
      val w = Files.walk(dst)
      try w.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally w.close()
    }
  }

  test("a key column that is not int or bigint is rejected by name") {
    import spark.implicits._
    val df = Seq(("a", 1.0)).toDF("obj_id", "v")
    val e = intercept[IllegalArgumentException](
      ScalePoint.replicate(df, "objs", 2))
    assert(e.getMessage.contains("objs.obj_id"))
  }
}
