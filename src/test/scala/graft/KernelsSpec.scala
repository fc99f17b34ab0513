package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernels._
import graft.kernels.Kernels.uni

/** Golden tests ported from the reference doctests (see FIXTURES.md §1;
  * citations are into /root/reference/tslearn). */
class KernelsSpec extends AnyFunSuite {
  def approx(a: Double, b: Double, tol: Double = 1e-6): Boolean = math.abs(a - b) <= tol

  test("dtw goldens (dtw_variants.py:438-443)") {
    assert(Kernels.dtw(uni(1, 2, 3), uni(1.0, 2.0, 2.0, 3.0)) == 0.0)
    assert(approx(Kernels.dtw(uni(1, 2, 3), uni(1.0, 2.0, 2.0, 3.0, 4.0)), 1.0))
  }

  test("dtw path golden (dtw_variants.py:166-174)") {
    val (path, dist) = Kernels.dtwPath(uni(1, 2, 3), uni(1.0, 2.0, 2.0, 3.0))
    assert(dist == 0.0)
    assert(path.toSeq == Seq((0, 0), (1, 1), (1, 2), (2, 3)))
  }

  test("dtw symmetry + triangle-ish sanity on multivariate") {
    val s1 = Array(Array(1.0, 2.0), Array(3.0, 4.0), Array(5.0, 6.0))
    val s2 = Array(Array(1.5, 2.5), Array(2.5, 3.5))
    assert(approx(Kernels.dtw(s1, s2), Kernels.dtw(s2, s1)))
  }

  test("cdist_dtw goldens (dtw_variants.py:1200-1205)") {
    val d1 = Array(uni(1, 2, 2, 3), uni(1.0, 2.0, 3.0, 4.0))
    assert(approx(Kernels.dtw(d1(0), d1(1)), 1.0))
    val d2 = Array(uni(1, 2, 3), uni(2.0, 3.0, 4.0, 5.0))
    assert(approx(Kernels.dtw(d1(0), d2(0)), 0.0))
    assert(approx(Kernels.dtw(d1(0), d2(1)), math.sqrt(6.0)))  // 2.449...
    assert(approx(Kernels.dtw(d1(1), d2(0)), 1.0))
    assert(approx(Kernels.dtw(d1(1), d2(1)), math.sqrt(2.0)))  // 1.414...
  }

  test("sakoe-chiba bounds match reference mask (dtw_variants.py:929-941)") {
    val b44 = Mask.sakoeChiba(4, 4, 1)
    assert(b44.jLo.toSeq == Seq(0, 0, 1, 2) && b44.jHi.toSeq == Seq(1, 2, 3, 3))
    val b73 = Mask.sakoeChiba(7, 3, 1)
    assert(b73.jLo.toSeq == Seq(0, 0, 0, 0, 0, 0, 1))
    assert(b73.jHi.toSeq == Seq(1, 2, 2, 2, 2, 2, 2))
  }

  test("itakura bounds match reference mask (dtw_variants.py:1032-1040)") {
    val b = Mask.itakura(6, 6)
    // reference mask rows: [0], [1,2], [1,2,3], [2,3,4], [3,4], [5]
    assert(b.jLo.toSeq == Seq(0, 1, 1, 2, 3, 5))
    assert(b.jHi.toSeq == Seq(0, 2, 3, 4, 4, 5))
  }

  test("constrained dtw >= unconstrained dtw") {
    val s1 = uni(0, 1, 4, 2, 1, 0, 4, 5)
    val s2 = uni(1, 2, 3, 1, 0, 2, 4)
    val free = Kernels.dtw(s1, s2)
    val band = Kernels.dtw(s1, s2, Mask.sakoeChiba(s1.length, s2.length, 1))
    assert(band >= free - 1e-12)
  }

  test("subsequence dtw golden (dtw_variants.py:884-889)") {
    val (path, dist) = Kernels.dtwSubsequencePath(uni(2.0, 3.0), uni(1.0, 2.0, 2.0, 3.0, 4.0))
    assert(dist == 0.0)
    assert(path.toSeq == Seq((0, 2), (1, 3)))
  }

  test("lcss goldens (dtw_variants.py:1508-1515)") {
    assert(approx(Kernels.lcss(uni(1, 2, 3), uni(1.0, 2.0, 2.0, 3.0)), 1.0))
    assert(approx(Kernels.lcss(uni(1, 2, 3), uni(1.0, 2.0, 2.0, 3.0, 4.0)), 1.0))
    assert(approx(Kernels.lcss(uni(1, 2, 3), uni(1.0, 2.0, 2.0, 2.0, 3.0), eps = 0), 1.0))
    assert(approx(Kernels.lcss(uni(1.0, 2.0, 3.0), uni(-2.0, 5.0, 7.0), eps = 3), 2.0 / 3, 1e-9))
  }

  test("gak goldens (softdtw_variants.py:70-76,120-125)") {
    assert(approx(Kernels.unnormalizedGak(uni(1, 2, 3), uni(1.0, 2.0, 2.0, 3.0), 2.0), 15.358, 1e-3))
    assert(approx(Kernels.unnormalizedGak(uni(1, 2, 3), uni(1.0, 2.0, 2.0, 3.0, 4.0), 1.0), 3.166, 1e-3))
    assert(approx(Kernels.gak(uni(1, 2, 3), uni(1.0, 2.0, 2.0, 3.0), 2.0), 0.839, 1e-3))
    assert(approx(Kernels.gak(uni(1, 2, 3), uni(1.0, 2.0, 2.0, 3.0, 4.0), 1.0), 0.273, 1e-3))
  }

  test("gak self-similarity is 1") {
    val s = uni(0.5, 1.5, -0.5, 2.0)
    assert(approx(Kernels.gak(s, s, 1.3), 1.0, 1e-9))
  }

  test("gakFromLogs of the three log GAKs == Kernels.gak, bit for bit") {
    val rng = new scala.util.Random(16)
    def series(): Kernels.TS =
      Array.fill(1 + rng.nextInt(30))(Array(rng.nextGaussian() * (1 + rng.nextInt(5))))
    for (_ <- 0 until 200) {
      val (x, y) = (series(), series())
      val sigma = 0.25 + rng.nextDouble() * 4
      val lg = (s: Kernels.TS, t: Kernels.TS) => Kernels.logUnnormalizedGak(s, t, sigma)
      val parts = Seq(lg(x, y), lg(x, x), lg(y, y))
      assert(parts.forall(v => !v.isInfinite && !v.isNaN), s"a log GAK is not finite: $parts")
      assert(Kernels.gakFromLogs(lg(x, y), lg(x, x), lg(y, y)) == Kernels.gak(x, y, sigma),
        s"lengths ${x.length}, ${y.length}, sigma $sigma")
    }
  }

  test("soft dtw goldens (softdtw_variants.py:352-360)") {
    assert(approx(Kernels.softDtw(uni(1, 2, 2, 3), uni(1.0, 2.0, 3.0, 4.0), gamma = 1.0), -0.89, 1e-2))
    // reference doctest prints 0.089... (float repr of ~0.0900)
    assert(approx(Kernels.softDtw(uni(1, 2, 3, 3), uni(1.0, 2.0, 2.1, 3.2), gamma = 0.01), 0.09, 1e-3))
  }

  test("soft dtw gamma=0 equals squared dtw") {
    val s1 = uni(1, 2, 3)
    val s2 = uni(1.0, 2.0, 2.0, 3.0, 4.0)
    val d = Kernels.dtw(s1, s2)
    assert(approx(Kernels.softDtw(s1, s2, gamma = 0.0), d * d, 1e-9))
  }

  test("soft dtw grad: value matches softDtw; grad is descent direction") {
    val s1 = uni(1.0, 2.0, 3.0, 4.0)
    val s2 = uni(1.0, 2.5, 2.5, 3.5)
    val (v, g) = Kernels.softDtwGrad(s1, s2, 1.0)
    assert(approx(v, Kernels.softDtw(s1, s2, 1.0), 1e-9))
    // finite-difference check on one coordinate
    val eps = 1e-6
    val s1b = s1.map(_.clone())
    s1b(1)(0) += eps
    val vb = Kernels.softDtw(s1b, s2, 1.0)
    assert(approx(g(1)(0), (vb - v) / eps, 1e-3))
  }

  test("lb envelope + keogh goldens (dtw_variants.py:1261-1270,1343-1356)") {
    val (low, up) = Kernels.lbEnvelope(Array(1.0, 2.0, 3.0, 2.0, 1.0), 1)
    assert(low.toSeq == Seq(1.0, 1.0, 2.0, 1.0, 1.0))
    assert(up.toSeq == Seq(2.0, 3.0, 3.0, 3.0, 2.0))
    val lb = Kernels.lbKeogh(Array(0.0, 0.0, 0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0, 2.0, 1.0), 1)
    assert(approx(lb, 2.8284271247461903, 1e-9))
  }

  test("lb_keogh lower-bounds dtw (property)") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 50) {
      val n = 8 + rng.nextInt(20)
      val a = Array.fill(n)(rng.nextGaussian())
      val b = Array.fill(n)(rng.nextGaussian())
      val r = 1 + rng.nextInt(3)
      val lb = Kernels.lbKeogh(a, b, r)
      val d = Kernels.dtw(uni(a.toIndexedSeq: _*), uni(b.toIndexedSeq: _*), Mask.sakoeChiba(n, n, r))
      assert(lb <= d + 1e-9, s"lb=$lb > dtw=$d")
    }
  }

  test("scalers match reference semantics (preprocessing.py:119-129,222-233)") {
    val z = Kernels.scaleMeanVariance(uni(0, 3, 6))
    assert(approx(z(0)(0), -1.22474487, 1e-6))
    assert(approx(z(1)(0), 0.0, 1e-9))
    assert(approx(z(2)(0), 1.22474487, 1e-6))
    val mm = Kernels.scaleMinMax(uni(0, 3, 6))
    assert(mm.map(_(0)).toSeq == Seq(0.0, 0.5, 1.0))
  }

  test("resample golden (preprocessing.py:26-31)") {
    val r = Kernels.resample(uni(0, 3, 6), 5).map(_(0))
    assert(r.toSeq == Seq(0.0, 1.5, 3.0, 4.5, 6.0))
  }

  test("paa on 2x6 data (piecewise.py:76-107)") {
    // PAA of [-1, 2, 3, 9, 12, 15] with 3 segments (segSz=2): [0.5, 6, 13.5]
    val p = Kernels.paa(uni(-1, 2, 3, 9, 12, 15), 3).map(_(0))
    assert(p.toSeq == Seq(0.5, 6.0, 13.5))
  }

  test("sax breakpoints match scipy values") {
    val bps = Sax.breakpoints(4)
    assert(approx(bps(0), -0.6744897501960817, 1e-8))
    assert(approx(bps(1), 0.0, 1e-9))
    assert(approx(bps(2), 0.6744897501960817, 1e-8))
    val med = Sax.binMedians(2)
    assert(approx(med(0), -0.67448975, 1e-6))
    assert(approx(med(1), 0.67448975, 1e-6))
  }

  test("sax symbolization (_paa_to_symbols, piecewise.py:15-31)") {
    val bps = Array(0.0)
    assert(Sax.toSymbol(-1.0, bps) == 0)
    assert(Sax.toSymbol(0.1, bps) == 1)
    assert(Sax.toSymbol(2.0, bps) == 1)
  }

  test("sax mindist lower-bounds euclidean on z-normed series (property)") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 30) {
      val n = 16
      val a = Array.fill(n)(rng.nextGaussian())
      val b = Array.fill(n)(rng.nextGaussian())
      val za = Kernels.scaleMeanVariance(uni(a.toIndexedSeq: _*))
      val zb = Kernels.scaleMeanVariance(uni(b.toIndexedSeq: _*))
      val sa = Sax.sax(za, 4, 8)
      val sb = Sax.sax(zb, 4, 8)
      val md = Sax.mindist(sa, sb, 8, n)
      val eu = Kernels.euclidean(za, zb)
      assert(md <= eu + 1e-9, s"mindist=$md > euclid=$eu")
    }
  }

  test("matrix profile golden (matrix_profile.py:101-108)") {
    val series = Array(0.0, 1.0, 3.0, 2.0, 9.0, 1.0, 14.0, 15.0, 1.0, 2.0, 2.0, 10.0, 7.0)
    val mp = Kernels.matrixProfile(series, 4, scale = false)
    val expected = Seq(6.85565460, 1.41421356, 6.16441400, 7.93725393, 11.40175425,
      13.56465997, 18.0, 13.96424004, 1.41421356, 6.16441400)
    assert(mp.length == expected.length)
    mp.zip(expected).foreach { case (got, exp) => assert(approx(got, exp, 1e-6), s"$got vs $exp") }
  }

  test("matrix profile with index: values match, index is the true nearest neighbor") {
    val rng = new scala.util.Random(11)
    val series = Array.tabulate(40)(t => math.sin(t * 0.5) + 0.1 * rng.nextGaussian())
    val m = 4
    val band = math.ceil(m / 4.0).toInt
    val withIdx = Kernels.matrixProfileWithIndex(series, m, scale = false)
    val mp = Kernels.matrixProfile(series, m, scale = false)
    assert(withIdx.length == mp.length)
    withIdx.zipWithIndex.foreach { case ((d, j), i) =>
      assert(d == mp(i), s"window $i: value ${d} != profile ${mp(i)}")
      // brute-force nearest neighbor (smallest j among exact ties)
      val cands = (0 until mp.length).filter(jj => math.abs(jj - i) > band)
        .map { jj =>
          val dd = math.sqrt((0 until m).map(k =>
            math.pow(series(i + k) - series(jj + k), 2)).sum)
          (dd, jj)
        }
      val bestD = cands.map(_._1).min
      val bestJ = cands.filter(_._1 == bestD).map(_._2).min
      assert(j == bestJ, s"window $i: idx $j != brute $bestJ")
      assert(math.abs(d - bestD) < 1e-9)
    }
  }

  test("ncc: autocorrelation peaks at zero shift with value 1") {
    val s = uni(1.0, 2.0, 3.0, 2.0, 1.0, 0.5)
    val cc = Ncc.normalizedCc(s, s)
    assert(cc.length == 11)
    assert(approx(cc(5), 1.0, 1e-9)) // zero shift
    assert(cc.forall(_ <= 1.0 + 1e-9))
  }

  test("ncc shift detection") {
    val a = uni(0.0, 0.0, 1.0, 2.0, 1.0, 0.0, 0.0, 0.0)
    val b = uni(0.0, 0.0, 0.0, 0.0, 1.0, 2.0, 1.0, 0.0) // a shifted by +2
    val cc = Ncc.normalizedCc(a, b)
    val best = cc.indexOf(cc.max) - (a.length - 1)
    assert(best == -2 || best == 2)
    val aligned = Ncc.shiftToAlign(a, b)
    assert(approx(Kernels.euclidean(a, aligned), 0.0, 1e-9))
  }

  test("slopes: exact linear segments") {
    val ts = uni(0.0, 2.0, 4.0, 6.0) // slope 2 everywhere
    val s = Sax.segmentSlopes(ts, 2)
    assert(approx(s(0)(0), 2.0, 1e-9) && approx(s(1)(0), 2.0, 1e-9))
  }

  test("dtwFlatEA: exact below/at cutoff, Inf-or-exact above, strict at the boundary") {
    val rng = new scala.util.Random(7)
    def series(n: Int) = Array.fill(n)(rng.nextGaussian())
    for (radius <- Seq(-1, 0, 3); (la, lb) <- Seq((24, 24), (24, 31)); _ <- 1 to 50) {
      val a = series(la); val b = series(lb)
      // the general multivariate kernel is the exact reference: a
      // separate DP implementation, bit-identical on univariate input
      val bounds = if (radius < 0) Mask.none(la, lb) else Mask.sakoeChiba(la, lb, radius)
      val exact = Kernels.dtw(uni(a), uni(b), bounds)
      // an infinite or NaN cutoff never abandons
      assert(Kernels.dtwFlatEA(a, b, radius, Double.PositiveInfinity) == exact)
      assert(Kernels.dtwFlatEA(a, b, radius, Double.NaN) == exact)
      // cutoff ABOVE the true distance: must return the exact value
      assert(Kernels.dtwFlatEA(a, b, radius, exact * 1.1) == exact)
      // cutoff EXACTLY the true distance: strict abandonment keeps ties
      // computable — the kth-best tie rule downstream depends on this
      assert(Kernels.dtwFlatEA(a, b, radius, exact) == exact)
      // cutoff below: sound — either the exact value or PositiveInfinity,
      // and Inf only when the distance really exceeds the cutoff
      val ea = Kernels.dtwFlatEA(a, b, radius, exact * 0.5)
      assert(ea == exact || (ea.isPosInfinity && exact > exact * 0.5))
    }
    // a far pair abandons (the row-min bound engages)
    val x = Array.fill(64)(0.0); val y = Array.fill(64)(100.0)
    assert(Kernels.dtwFlatEA(x, y, -1, 1.0).isPosInfinity)
  }

  /** The DP dtwFlatEA had before it filled only the band: every row
    * reset to +Inf in full, the band read from [[Mask.sakoeChiba]]. */
  private def fullFillDtw(a: Array[Double], b: Array[Double], radius: Int, cutoff: Double): Double = {
    val l1 = a.length; val l2 = b.length
    if (l1 == 0 || l2 == 0) return Double.NaN
    val bounds = if (radius < 0) Mask.none(l1, l2) else Mask.sakoeChiba(l1, l2, radius)
    val abandon = !(cutoff.isNaN || cutoff.isInfinity)
    var prev = Array.fill(l2 + 1)(Double.PositiveInfinity)
    var cur = new Array[Double](l2 + 1)
    prev(0) = 0.0
    for (i <- 1 to l1) {
      java.util.Arrays.fill(cur, Double.PositiveInfinity)
      var rowMin = Double.PositiveInfinity
      for (j <- bounds.lo(i - 1) + 1 to bounds.hi(i - 1) + 1) {
        val diff = a(i - 1) - b(j - 1)
        var m = prev(j)
        if (cur(j - 1) < m) m = cur(j - 1)
        if (prev(j - 1) < m) m = prev(j - 1)
        cur(j) = diff * diff + m
        if (cur(j) < rowMin) rowMin = cur(j)
      }
      if (abandon && math.sqrt(rowMin) > cutoff) return Double.PositiveInfinity
      val t = prev; prev = cur; cur = t
    }
    math.sqrt(prev(l2))
  }

  test("dtwFlatEA filling only the band is bit-identical to the full-fill DP") {
    val rng = new scala.util.Random(11)
    // rows reused across calls and dirtied in between: the kernel must
    // never read what a row held on entry
    val row0 = new Array[Double](64); val row1 = new Array[Double](64)
    for (_ <- 1 to 300) {
      val a = Array.fill(1 + rng.nextInt(40))(rng.nextGaussian())
      val b = Array.fill(1 + rng.nextInt(40))(rng.nextGaussian())
      val longest = math.max(a.length, b.length)
      for (radius <- Seq(-1, 0, 1, 12, longest, longest + 5)) {
        val exact = fullFillDtw(a, b, radius, Double.PositiveInfinity)
        for (cutoff <- Seq(Double.PositiveInfinity, exact * 0.5, math.nextDown(exact), exact,
                           math.nextUp(exact), exact * 2)) {
          val want = fullFillDtw(a, b, radius, cutoff)
          assert(Kernels.dtwFlatEA(a, b, radius, cutoff) == want,
            s"|a|=${a.length} |b|=${b.length} r=$radius cutoff=$cutoff")
          java.util.Arrays.fill(row0, Double.NaN)
          java.util.Arrays.fill(row1, -1.0)
          assert(Kernels.dtwFlatEA(a, b, radius, cutoff, row0, row1) == want,
            s"reused rows: |a|=${a.length} |b|=${b.length} r=$radius cutoff=$cutoff")
        }
      }
    }
  }

  test("lbRagged lower-bounds dtwFlatEA for any two lengths, radius and infinities") {
    val rng = new scala.util.Random(13)
    def value(): Double = rng.nextInt(50) match {
      case 0 => Double.PositiveInfinity
      case 1 => Double.NegativeInfinity
      case _ => rng.nextGaussian() * 3
    }
    def range(x: Array[Double]): (Double, Double) =
      if (x.isEmpty) (0.0, 0.0)
      else (x.reduce((u, v) => math.min(u, v)), x.reduce((u, v) => math.max(u, v)))
    val inf = Double.PositiveInfinity
    // an infinity meeting the same infinity at a corner makes the bound
    // NaN, which reads 0
    val fixed = Seq((Array(inf, 1.0, 2.0), Array(inf, 0.0)),
      (Array(0.0, 1.0, -inf), Array(5.0, -inf)), (Array(inf, inf), Array(inf, inf, inf)))
    for ((a, b) <- fixed)
      assert(Kernels.lbRagged(a, range(a)._1, range(a)._2, b, range(b)._1, range(b)._2) == 0.0)
    var bounded = 0
    val random = Iterator.fill(3000)((Array.fill(rng.nextInt(if (rng.nextBoolean()) 4 else 30))(value()),
      Array.fill(rng.nextInt(if (rng.nextBoolean()) 4 else 30))(value())))
    for ((a, b) <- fixed.iterator ++ random) {
      val (aLo, aHi) = range(a); val (bLo, bHi) = range(b)
      val lb = Kernels.lbRagged(a, aLo, aHi, b, bLo, bHi)
      assert(lb == Kernels.lbRagged(b, bLo, bHi, a, aLo, aHi), "lbRagged is symmetric")
      assert(!lb.isNaN && lb >= 0)
      if (a.length < 2 || b.length < 2) assert(lb == 0.0)
      for (radius <- Seq(-1, 0, 3)) {
        val d = Kernels.dtwFlatEA(a, b, radius, Double.PositiveInfinity)
        // the cascade's rounding margin: lb and d may each round by
        // about (|a| + |b|)·2⁻⁵³ relative
        assert(d.isNaN || lb * (1 - (a.length + b.length) * math.ulp(1.0)) <= d,
          s"lb $lb > dtw $d: ${a.toSeq} vs ${b.toSeq} r=$radius")
        if (lb > 0 && !d.isInfinite) bounded += 1
      }
    }
    // the bound is not vacuous: most finite pairs get a positive one
    assert(bounded > 1000, s"only $bounded positive bounds")
  }

  test("lbRagged equals DTW on constant series") {
    for ((n, m) <- Seq((2, 2), (5, 3), (3, 5), (7, 2))) {
      val a = Array.fill(n)(0.1); val b = Array.fill(m)(0.7)
      val d = Kernels.dtwFlatEA(a, b, -1, Double.PositiveInfinity)
      assert(Kernels.lbRagged(a, 0.1, 0.1, b, 0.7, 0.7) == d)
    }
  }
}
