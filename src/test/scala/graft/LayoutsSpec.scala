package graft

/** Every registered write-once layout really is written once: a second
  * call returns the same value and starts no Spark job. */
class LayoutsSpec extends SpecBase {

  test("layout names are unique") {
    val names = Registry.layouts.map(_._1)
    assert(names.distinct == names)
  }

  for ((name, build) <- Registry.layouts)
    test(s"layout $name: a second call returns the same value, no job") {
      val first = build(spark, sfDir)
      val (second, jobs) = jobsDuring(build(spark, sfDir))
      assert(second == first)
      assert(jobs.isEmpty, s"second call ran ${jobs.size} job(s): $jobs")
    }
}
