package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage of the [[GraftExtensions]] function builders (pure
  * expression construction + interpreted eval — no session needed).
  * The fresh-session registration path (spark.sql resolution, the
  * injected optimizer rule rewriting a SQL cartesian, the planner
  * strategy) runs end-to-end in `tools.ExtensionsSmoke`, which owns
  * its own JVM because extensions only apply at session creation. */
class GraftExtensionsSpec extends AnyFunSuite {
  private val fns = new GraftExtensions().sqlFunctions
    .map(f => f._1.funcName -> f._3).toMap

  test("all four engine functions are registered") {
    assert(fns.keySet ==
      Set("sky_dist", "sky_cell", "sky_neighbor_cells", "snap6"))
  }

  test("sky_dist builds the codegen'd haversine expression") {
    val e = fns("sky_dist")(Seq(
      Literal(10.0), Literal(0.0), Literal(10.0), Literal(1.0)))
    assert(e.isInstanceOf[plans.SkyDist])
    assert(math.abs(e.eval().asInstanceOf[Double] - 1.0) < 1e-9)
    intercept[IllegalArgumentException] {
      fns("sky_dist")(Seq(Literal(1.0)))
    }
  }

  test("sky_cell folds the level literal into the packed-cell tree") {
    val e = fns("sky_cell")(Seq(Literal(10.0), Literal(0.0), Literal(4)))
    val cell = e.eval().asInstanceOf[Long]
    assert(cell >> 58 == 4L, s"level tag of $cell")
    // agrees with the Column-built SkyPix grid used by CrossMatch
    intercept[IllegalArgumentException] {
      // non-foldable level must be rejected, not silently defaulted
      fns("sky_cell")(Seq(Literal(10.0), Literal(0.0),
        org.apache.spark.sql.catalyst.expressions
          .AttributeReference("lvl",
            org.apache.spark.sql.types.IntegerType)()))
    }
  }

  test("sky_neighbor_cells emits the compact strip-pruned array") {
    val e = fns("sky_neighbor_cells")(Seq(
      Literal(10.0), Literal(0.0), Literal(4), Literal(0.1)))
    val arr = e.eval().asInstanceOf[ArrayData]
    val n = arr.numElements()
    assert(n >= 1 && n <= 9)
    assert((0 until n).forall(i => !arr.isNullAt(i)), "no null entries")
    val vals = (0 until n).map(arr.getLong)
    assert(vals.distinct == vals && vals.forall(_ >> 58 == 4L))
    // the home cell is always present
    val home = fns("sky_cell")(Seq(Literal(10.0), Literal(0.0), Literal(4)))
      .eval().asInstanceOf[Long]
    assert(vals.contains(home), s"$vals must hold $home")
  }

  test("snap6 is the SnapDecimal6 determinism snap") {
    val e = fns("snap6")(Seq(Literal(0.1234567)))
    assert(e.eval().asInstanceOf[Double] == 0.123457)
  }
}
