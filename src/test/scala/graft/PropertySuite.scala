package graft

import graft.functions.Haversine
import graft.spatial.{NeighborCells, SkyPix}
import org.scalacheck.{Gen, Prop, Properties}

/** Pure-JVM ScalaCheck properties (no SparkSession — sbt runs
  * Properties suites natively via the ScalaCheck framework).
  * SURVEY.md §5 test strategy item 3. */
object PropertySuite extends Properties("graft") {

  private val lon = Gen.choose(-720.0, 720.0)
  private val lat = Gen.choose(-90.0, 90.0)
  private val level = Gen.choose(0, 12)

  property("skypix.levelTag") = Prop.forAll(lon, lat, level) { (lo, la, lv) =>
    (SkyPix.cellId(lo, la, lv) >> 58) == lv.toLong
  }

  property("skypix.lonPeriodic") = Prop.forAll(lon, lat, level) { (lo, la, lv) =>
    SkyPix.cellId(lo, la, lv) == SkyPix.cellId(lo + 360, la, lv)
  }

  property("skypix.quadtreeNesting") = Prop.forAll(lon, lat,
    Gen.choose(1, 12)) { (lo, la, lv) =>
    val mask = ~(31L << 58)
    ((SkyPix.cellId(lo, la, lv) & mask) >> 2) ==
      (SkyPix.cellId(lo, la, lv - 1) & mask)
  }

  property("skypix.cellRange") = Prop.forAll(lon, lat, level) { (lo, la, lv) =>
    val m = SkyPix.cellId(lo, la, lv) & ~(31L << 58)
    m >= 0 && m < (1L << (2 * lv))
  }

  property("haversine.symmetric") = Prop.forAll(lon, lat, lon, lat) {
    (lo1, la1, lo2, la2) =>
      val d1 = Haversine.distanceKm(la1, lo1, la2, lo2)
      val d2 = Haversine.distanceKm(la2, lo2, la1, lo1)
      math.abs(d1 - d2) < 1e-9
  }

  property("haversine.identityAndBounds") = Prop.forAll(lon, lat) { (lo, la) =>
    val self = Haversine.distanceKm(la, lo, la, lo)
    self == 0.0 && Haversine.distanceKm(la, lo, -la, lo + 180) <=
      math.Pi * Haversine.EarthRadiusKm + 1e-6
  }

  private def havDeg(lo1: Double, la1: Double,
                     lo2: Double, la2: Double): Double = {
    val dLat = math.toRadians(la2 - la1); val dLon = math.toRadians(lo2 - lo1)
    val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
      math.cos(math.toRadians(la1)) * math.cos(math.toRadians(la2)) *
        math.sin(dLon / 2) * math.sin(dLon / 2)
    math.toDegrees(2 * math.asin(math.sqrt(a)))
  }

  property("skypix.stripClosure") = Prop.forAll(lon,
    Gen.choose(-84.0, 84.0), Gen.choose(2, 9),
    Gen.choose(0.01, 1.0), Gen.choose(0.0, 2 * math.Pi),
    Gen.choose(0.0, 1.0)) { (lo, la, lv0, margin0, ang, frac) =>
    // any point within marginDeg must find its partner's home cell in
    // the strip-pruned neighborhood — the completeness property the
    // margin cache, the probe explode, and AutoSpatialJoin rely on
    val lv = math.max(2, math.min(9, lv0))
    // keep margin within the closure-valid range for the level
    // (mirrors CrossMatch.levelFor's bound) and below the cap zone
    val margin = math.min(math.max(0.01, margin0),
      360.0 / (1L << lv) / (math.Pi * 1.1))
    val d = margin * math.min(1.0, math.max(0.0, frac))
    val lat2 = math.max(-89.9, math.min(89.9, la + d * math.sin(ang)))
    val lon2 = lo + d * math.cos(ang) /
      math.max(0.05, math.cos(math.toRadians(la)))
    // ±1-cell closure is only CONTRACTED where the margin's longitude
    // span fits one cell: cos(lat) >= margin·2^lv/360 — exactly
    // CrossMatch.levelFor's bound (2^l <= 360·cos(capLat)/r). Beyond
    // that latitude the production paths route through the polar cap
    // channel, so the property must not claim closure there. The 1.05
    // absorbs the second-order sphere-vs-grid difference between the
    // haversine ball and the Δlon it induces near the bound.
    val cosBound = 1.05 * margin * (1L << lv) / 360.0
    val latBound =
      if (cosBound >= 1.0) 0.0 else math.toDegrees(math.acos(cosBound))
    val latCap = math.min(84.0, latBound)
    val applicable = math.abs(la) <= latCap &&
      havDeg(lo, la, lon2, lat2) <= margin && math.abs(lat2) <= latCap
    Prop(!applicable || {
      val home = SkyPix.cellId(lo, la, lv)
      NeighborCells.ids(lon2, lat2, lv, margin).contains(home)
    })
  }

  property("haversine.triangleOnEquator") = Prop.forAll(
    Gen.choose(0.0, 90.0), Gen.choose(0.0, 90.0)) { (a0, b0) =>
    // clamp: ScalaCheck shrinking can step outside the Gen bounds, and
    // additivity only holds while a+b ≤ 180 (no short-way wraparound)
    val a = math.min(a0.abs, 90.0)
    val b = math.min(b0.abs, 90.0)
    // along the equator distances are additive
    val d1 = Haversine.distanceKm(0, 0, 0, a)
    val d2 = Haversine.distanceKm(0, a, 0, a + b)
    val d3 = Haversine.distanceKm(0, 0, 0, a + b)
    math.abs(d1 + d2 - d3) < 1e-6
  }

  // Prefix-filter completeness (the theorem q_dedup_prefix rests on):
  // if Jaccard(A, B) >= 0.6, A and B MUST share a token within each
  // side's prefix of length sz - ceil(0.6·sz) + 1 under ANY common
  // total order of the token universe. Mirrors the query's integer
  // arithmetic exactly: prefLen = sz - (6·sz + 9) div 10 + 1.
  private val tokenSet: Gen[Set[Int]] =
    Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 60)).map(_.toSet))

  property("prefixFilter.complete") = Prop.forAll(tokenSet, tokenSet) {
    (a, b) =>
      val inter = (a & b).size
      val union = (a | b).size
      val jaccardAtLeast06 = 10 * inter >= 6 * union
      def prefix(s: Set[Int]): Set[Int] = {
        val sz = s.size
        val prefLen = (sz - (6 * sz + 9) / 10 + 1).max(0)
        s.toSeq.sorted.take(prefLen).toSet // "rarest-first" = any fixed order
      }
      Prop(!jaccardAtLeast06 || (prefix(a) & prefix(b)).nonEmpty)
  }

  // CharCounts byte-scan == per-code-point count for the 27-symbol
  // alphabet on ANY input, unicode included (the claim the entropy
  // kernel's oracle equivalence rests on).
  private val mixedText: Gen[String] = Gen.listOf(Gen.frequency[String](
    8 -> Gen.alphaLowerChar.map(_.toString),
    3 -> Gen.const(" "),
    2 -> Gen.alphaUpperChar.map(_.toString),
    2 -> Gen.oneOf("\u00e9", "\u00df", "\u6c49", "\ud83d\ude42", "0", "!"),
    1 -> Gen.const("\n"))).map(_.mkString)

  property("charCounts.matchesCodePointScan") = Prop.forAll(mixedText) { t =>
    val got = graft.functions.CharCounts(
      org.apache.spark.sql.catalyst.expressions.Literal.create(t))
      .eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray()
    val want = new Array[Long](27)
    t.codePoints().forEach { cp =>
      if (cp >= 'a' && cp <= 'z') want(cp - 'a') += 1
      else if (cp == ' ') want(26) += 1
    }
    got.toSeq == want.toSeq
  }

  // WAV round trip: encode → decode recovers rate and samples exactly.
  private val pcm: Gen[(Int, Array[Short])] = for {
    rate <- Gen.oneOf(8000, 16000, 44100)
    n <- Gen.chooseNum(0, 200)
    xs <- Gen.listOfN(n, Gen.chooseNum(Short.MinValue, Short.MaxValue))
  } yield (rate, xs.map(_.toShort).toArray)

  property("wavCodec.roundTrip") = Prop.forAll(pcm) { case (rate, xs) =>
    import graft.multimodal.Multimodal.{AudioClip, WavCodec}
    val back = WavCodec.decode(WavCodec.encode(AudioClip(rate, xs)))
    back.exists(c => c.sampleRate == rate && c.samples.sameElements(xs))
  }

  // Codec totality on dirty bytes: arbitrary payloads and truncated
  // valid containers must return None (or a valid clip for AVI
  // prefixes that still hold >= 1 whole frame), never throw — the
  // degrade-don't-die contract for 100 TB corpora.
  private val junk: Gen[Array[Byte]] =
    Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
      .map(_.toArray)

  property("codecs.neverThrowOnJunk") = Prop.forAll(junk) { bytes =>
    import graft.multimodal.Multimodal.{AviCodec, WavCodec}
    WavCodec.decode(bytes)
    AviCodec.decode(bytes)
    // RIFF-looking junk exercises the chunk walker, not the magic check
    val riff = "RIFF".getBytes("US-ASCII") ++ bytes ++
      "WAVE".getBytes("US-ASCII")
    WavCodec.decode(riff)
    true
  }

  property("aviCodec.truncationSafe") = {
    import graft.multimodal.Multimodal.AviCodec
    import java.awt.image.BufferedImage
    val img = new BufferedImage(8, 6, BufferedImage.TYPE_INT_RGB)
    val full = AviCodec.encode(Seq(img, img), fps = 10)
    Prop.forAll(Gen.chooseNum(0, full.length - 1)) { cut =>
      AviCodec.decode(java.util.Arrays.copyOfRange(full, 0, cut))
      true // no exception; None or a shorter-but-valid clip both fine
    }
  }

  /** GramUpperTri's rint fast path must agree with the exact
    * BigDecimal HALF_UP snap on every product — including dyadic
    * midpoints like 0.25·0.03125 = 0.0078125, whose ×1e6 lands
    * exactly on 7812.5 (HALF_UP 7813, where plain rint would give the
    * half-even 7812). The generator mixes smooth floats with
    * power-of-two values to hit the midpoint band. */
  property("gramUpperTri.snapMatchesBigDecimal") = {
    val d = 4
    val agg = new graft.functions.Aggregators.GramUpperTri(d)
    val pow2 = Gen.choose(-8, 2).map(e => math.pow(2, e).toFloat)
    val smooth = Gen.choose(-1.0, 1.0).map(_.toFloat)
    val f = Gen.oneOf(pow2, smooth, Gen.oneOf(0f, -0.25f, 0.0625f))
    Prop.forAll(Gen.listOfN(d, f)) { vs =>
      val v = vs.toArray
      val got = agg.reduce(agg.zero, v)
      var idx = 0
      var ok = true
      for (i <- 0 until d; j <- i until d) {
        val want = java.math.BigDecimal
          .valueOf(v(i).toDouble * v(j).toDouble)
          .setScale(6, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValue()
        ok &&= got(idx) == want
        idx += 1
      }
      ok
    }
  }
}
