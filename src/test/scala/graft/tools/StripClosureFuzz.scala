package graft.tools

import graft.spatial.{NeighborCells, SkyPix}

/** Dev fuzz harness for the stripClosure property (PropertySuite):
  * samples the exact same distributions with a seeded RNG at much
  * higher volume so rare falsifying regions reproduce on demand.
  * Run: sbt "Test/runMain graft.tools.StripClosureFuzz [n] [seed]" */
object StripClosureFuzz {
  private def havDeg(lo1: Double, la1: Double,
                     lo2: Double, la2: Double): Double = {
    val dLat = math.toRadians(la2 - la1)
    val dLon = math.toRadians(lo2 - lo1)
    val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
      math.cos(math.toRadians(la1)) * math.cos(math.toRadians(la2)) *
        math.sin(dLon / 2) * math.sin(dLon / 2)
    math.toDegrees(2 * math.asin(math.sqrt(a)))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(2000000)
    val seed = args.lift(1).map(_.toLong).getOrElse(42L)
    val r = new java.util.Random(seed)
    def unif(a: Double, b: Double) = a + (b - a) * r.nextDouble()
    var failures = 0
    var i = 0
    while (i < n && failures < 10) {
      val lo = unif(-720, 720)
      val la = unif(-84, 84)
      val lv = 2 + r.nextInt(8)
      val margin0 = unif(0.01, 1.0)
      val ang = unif(0, 2 * math.Pi)
      val frac = unif(0, 1)
      val margin = math.min(math.max(0.01, margin0),
        360.0 / (1L << lv) / (math.Pi * 1.1))
      val d = margin * frac
      val lat2 = math.max(-89.9, math.min(89.9, la + d * math.sin(ang)))
      val lon2 = lo + d * math.cos(ang) /
        math.max(0.05, math.cos(math.toRadians(la)))
      // mirror the property's contract guard (CrossMatch.levelFor
      // bound): closure is only claimed where the margin's longitude
      // span fits one cell at this latitude
      val cosBound = 1.05 * margin * (1L << lv) / 360.0
      val latBound =
        if (cosBound >= 1.0) 0.0 else math.toDegrees(math.acos(cosBound))
      val latCap = math.min(84.0, latBound)
      val applicable = math.abs(la) <= latCap &&
        havDeg(lo, la, lon2, lat2) <= margin && math.abs(lat2) <= latCap
      if (applicable) {
        val home = SkyPix.cellId(lo, la, lv)
        if (!NeighborCells.ids(lon2, lat2, lv, margin).contains(home)) {
          failures += 1
          println(f"FAIL lo=$lo%.10f la=$la%.10f lv=$lv margin=$margin%.10f " +
            f"lon2=$lon2%.10f lat2=$lat2%.10f hav=${havDeg(lo, la, lon2, lat2)}%.10f")
        }
      }
      i += 1
    }
    println(s"$i samples, $failures failures")
  }
}
