package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.kernels.{Advanced, Barycenters, Kernels, Sax}

/** Round-2 metric/estimator API gaps (VERDICT r1 "What's missing"):
  * lcss_path(+from_metric), L-DTW path, 1d-SAX distance, petitjean DBA,
  * SVR, MLPRegressor. Goldens come from the reference's doctests. */
class MetricGapsSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  private def uni(xs: Double*): Kernels.TS = xs.toArray.map(Array(_))

  test("lcss_path golden (dtw_variants.py doctests)") {
    // >>> path, sim = lcss_path([1., 2., 3.], [1., 2., 2., 3.]) → path
    // [(0, 1), (1, 2), (2, 3)], sim 1.0
    val (p1, s1) = Advanced.lcssPath(uni(1, 2, 3), uni(1, 2, 2, 3))
    assert(s1 == 1.0)
    assert(p1.toSeq == Seq((0, 1), (1, 2), (2, 3)))
    // >>> lcss_path([1., 2., 3.], [1., 2., 2., 4.])[1] → 1.0
    assert(Advanced.lcssPath(uni(1, 2, 3), uni(1, 2, 2, 4))._2 == 1.0)
    // lcss doctest: eps=3 vs [-2, 5, 7] → 2/3
    val (_, s3) = Advanced.lcssPath(uni(1, 2, 3), uni(-2, 5, 7), eps = 3)
    assert(math.abs(s3 - 2.0 / 3.0) < 1e-12)
    // path score must agree with the score-only kernel
    val a = uni(0.5, 1.5, 2.5, 3.0, 1.0); val b = uni(0.4, 1.6, 2.4, 2.9)
    assert(Advanced.lcssPath(a, b, eps = 0.2)._2 == Kernels.lcss(a, b, eps = 0.2))
  }

  test("lcss_path_from_metric matches euclidean-local default") {
    val a = uni(1, 2, 3, 4); val b = uni(1.1, 2.2, 2.9, 4.4)
    val (p1, s1) = Advanced.lcssPath(a, b, eps = 0.3)
    val (p2, s2) = Advanced.lcssPathFromMetric(a, b, eps = 0.3,
      (x, y) => math.sqrt(Kernels.localSqDist(x, y)))
    assert(p1.toSeq == p2.toSeq && s1 == s2)
    // a different local metric changes the matching
    val (_, sManhattanLoose) = Advanced.lcssPathFromMetric(a, b, eps = 10.0,
      (x, y) => math.abs(x(0) - y(0)))
    assert(sManhattanLoose == 1.0)
  }

  test("L-DTW path: score matches score-only variant, path is valid and capped") {
    val a = uni(1, 2, 3, 4, 5); val b = uni(1, 2, 2.5, 3.5, 5)
    for (cap <- Seq(5, 6, 8)) {
      val scoreOnly = Advanced.dtwLimitedWarpingLength(a, b, cap)
      val (path, score) = Advanced.dtwLimitedWarpingLengthPath(a, b, cap)
      assert(math.abs(score - scoreOnly) < 1e-12, s"cap=$cap")
      assert(path.length <= cap, s"path length ${path.length} exceeds cap $cap")
      assert(path.head == (0, 0) && path.last == (4, 4))
      // contiguity: each step advances by (0|1, 0|1), not both zero
      path.sliding(2).foreach { case Array((i0, j0), (i1, j1)) =>
        assert((i1 - i0) >= 0 && (i1 - i0) <= 1 && (j1 - j0) >= 0 && (j1 - j0) <= 1)
        assert(i1 + j1 > i0 + j0)
      }
      // path cost must reproduce the score
      val cost = path.map { case (i, j) => Kernels.localSqDist(a(i), b(j)) }.sum
      assert(math.abs(math.sqrt(cost) - score) < 1e-9)
    }
    // unconstrained-length cap == plain DTW
    val full = Kernels.dtw(a, b)
    assert(math.abs(Advanced.dtwLimitedWarpingLengthPath(a, b, 9)._2 - full) < 1e-12)
  }

  test("1d-SAX distance: zero on identical symbols, lower-bounds on reconstructions") {
    val ts1 = uni(-1.2, -0.8, -0.1, 0.2, 0.9, 1.3, 0.4, -0.2)
    val ts2 = uni(-1.0, -0.9, 0.0, 0.1, 1.1, 1.2, 0.3, -0.3)
    val s1 = Sax.oneDSax(ts1, 4, 4, 4, sigmaL = 1.0)
    val s2 = Sax.oneDSax(ts2, 4, 4, 4, sigmaL = 1.0)
    assert(Sax.dist1dSax(s1, s1, 4, 4, 1.0, 8) == 0.0)
    val d = Sax.dist1dSax(s1, s2, 4, 4, 1.0, 8)
    assert(d >= 0.0)
    // the distance equals the euclidean distance between the piecewise
    // linear reconstructions (cysax.pyx:95-124 definition) — rebuild one
    // segment by hand to pin the formula
    val medAvg = Sax.binMedians(4)
    val medSlope = Sax.binMedians(4, 1.0)
    var expected = 0.0
    for (t <- 0 until 4; tt <- t * 2 until (t + 1) * 2) {
      val tMid = t * 2 + 1.0
      val r1 = medAvg(s1(t)(0)) + medSlope(s1(t)(1)) * (tt - tMid)
      val r2 = medAvg(s2(t)(0)) + medSlope(s2(t)(1)) * (tt - tMid)
      expected += (r1 - r2) * (r1 - r2)
    }
    assert(math.abs(d - math.sqrt(expected)) < 1e-12)
  }

  test("soft_dtw_alignment: value matches softDtw; small gamma concentrates on DTW path") {
    val a = uni(1, 2, 3, 4, 3); val b = uni(1, 2.2, 2.8, 4.1, 3.1)
    val (e, v) = Kernels.softDtwAlignment(a, b, gamma = 1.0)
    assert(math.abs(v - Kernels.softDtw(a, b, 1.0)) < 1e-12)
    assert(e.length == 5 && e(0).length == 5)
    assert(e.flatten.forall(x => x >= -1e-12 && x <= 1.0 + 1e-9))
    // gamma -> 0: alignment mass collapses onto the hard DTW path
    val (e0, _) = Kernels.softDtwAlignment(a, b, gamma = 1e-3)
    val (path, _) = Kernels.dtwPath(a, b)
    path.foreach { case (i, j) => assert(e0(i)(j) > 0.99, s"cell ($i,$j): ${e0(i)(j)}") }
  }

  test("inverse PAA / inverse 1d-SAX reconstructions (inv_transform semantics)") {
    val ts = uni(0.0, 0.2, 1.0, 1.2, -1.0, -1.2, 0.5, 0.7)
    val paa = Kernels.paa(ts, 4)
    val invP = Sax.inversePaa(paa, 8)
    assert(invP.length == 8)
    (0 until 4).foreach { s =>
      assert(invP(2 * s)(0) == paa(s)(0) && invP(2 * s + 1)(0) == paa(s)(0))
    }
    val sym = Sax.oneDSax(ts, 4, 4, 4, sigmaL = 1.0)
    val inv1 = Sax.inverse1dSax(sym, 4, 4, 1.0, 8)
    assert(inv1.length == 8)
    // reconstruction must agree with the dist1dSax model: distance between
    // a symbol set and itself through the reconstruction is zero
    val selfD = Sax.dist1dSax(sym, sym, 4, 4, 1.0, 8)
    assert(selfD == 0.0)
    // each segment is a line: second differences vanish within segments
    (0 until 4).foreach { s =>
      val t0 = 2 * s
      val slope = inv1(t0 + 1)(0) - inv1(t0)(0)
      assert(!slope.isNaN)
    }
  }

  test("petitjean DBA goldens (dba.py:112-144 doctests) + MM cross-check") {
    def flat(ts: Kernels.TS): Seq[Double] = ts.map(_(0)).toSeq
    val r1 = Barycenters.dbaPetitjean(
      Seq(uni(1, 2, 3, 4), uni(1, 2, 4, 5)), maxIter = 5)
    assert(flat(r1) == Seq(1.0, 2.0, 3.5, 4.5))
    val r2 = Barycenters.dbaPetitjean(
      Seq(uni(1, 2, 3, 4), uni(1, 2, 3, 4, 5)), maxIter = 5)
    assert(flat(r2) == Seq(1.0, 2.0, 3.0, 4.0, 4.5))
    val r3 = Barycenters.dbaPetitjean(
      Seq(uni(1, 2, 3, 4), uni(1, 2, 3, 4, 5)), maxIter = 5, barycenterSize = 3)
    assert(flat(r3).zip(Seq(1.5, 3.0, 4.33333333)).forall { case (a, b) => math.abs(a - b) < 1e-6 })
    val r4 = Barycenters.dbaPetitjean(
      Seq(uni(0, 0, 0), uni(10, 10, 10)), weights = Seq(0.75, 0.25))
    assert(flat(r4) == Seq(2.5, 2.5, 2.5))
    // non-regression role: MM variant agrees on the reference's golden
    val mm = Barycenters.dba(Seq(uni(1, 2, 3, 4), uni(1, 2, 4, 5)), maxIter = 5)
    assert(flat(mm) == flat(r1), "MM and petitjean disagree on the doctest input")
    // subgradient variant converges to the same barycenter (doctest target
    // [1, 2, 3.5, 4.5]; RNG differs from numpy so tolerance, not equality)
    val sg = Barycenters.dbaSubgradient(
      Seq(uni(1, 2, 3, 4), uni(1, 2, 4, 5)), maxIter = 10, seed = 0)
    flat(sg).zip(Seq(1.0, 2.0, 3.5, 4.5)).foreach { case (a, b) =>
      assert(math.abs(a - b) < 0.2, s"subgradient drifted: ${flat(sg)}")
    }
    // ssgUpdate IS the loop unit: one-series dbaSubgradient with a
    // constant step and a pinned init reproduces it exactly (the
    // ts_dba_ssg_step driver row leans on this extraction)
    val init = uni(1.5, 2.5, 3.0, 4.0)
    val one = Barycenters.dbaSubgradient(Seq(uni(1, 2, 4, 5)), maxIter = 1,
      initialStepSize = 0.05, finalStepSize = 0.05, tol = -1.0, init = init)
    val direct = Barycenters.ssgUpdate(init.map(_.clone()), uni(1, 2, 4, 5), 0.05)
    assert(flat(one) == flat(direct), "ssgUpdate != dbaSubgradient loop unit")
  }

  test("SVR: fits a smooth target within eps-tube on train, predicts distributed") {
    val rng = new scala.util.Random(5)
    val rows = (0 until 24).map { i =>
      val base = i % 6
      val vals = Array.tabulate(8)(t => base * 0.5 + 0.05 * rng.nextGaussian() + 0.1 * t)
      (i.toLong, vals, base * 1.0)
    }
    val df = rows.toDF("series_id", "values", "target").cache()
    val model = graft.ml.TimeSeriesSVR.fit(df, c = 10.0, eps = 0.1, sigma = 2.0)
    assert(model.svIds.nonEmpty)
    val pred = graft.ml.TimeSeriesSVR.predict(model, df, df)
      .join(df.select(col("series_id"), col("target")), "series_id")
      .select(abs(col("prediction") - col("target")).as("err"))
      .as[Double].collect()
    val within = pred.count(_ <= 0.5).toDouble / pred.length
    assert(within >= 0.8, s"only ${within * 100}% of train preds within 0.5 " +
      s"(max err ${pred.max})")
  }

  test("gradient shapelet refinement: loss decreases, train accuracy high") {
    val rng = new scala.util.Random(21)
    // class 0: flat + noise; class 1: a bump at a random position
    val rows = (0 until 40).map { i =>
      val cls = i % 2
      val vals = Array.tabulate(24)(t => 0.1 * rng.nextGaussian())
      if (cls == 1) {
        val p = 4 + rng.nextInt(12)
        (0 until 6).foreach(j => vals(p + j) += 2.0)
      }
      (i.toLong, vals, s"c$cls")
    }
    val df = rows.toDF("series_id", "values", "label").cache()
    val model = graft.ml.Shapelets.fitRefined(df, perSize = 3, iters = 25, lr = 0.1, seed = 4)
    assert(model.lossHistory.length == 25)
    val early = model.lossHistory.take(5).sum / 5
    val late = model.lossHistory.takeRight(5).sum / 5
    assert(late < early * 0.8, s"loss did not decrease: $early -> $late " +
      s"(history ${model.lossHistory.map(v => f"$v%.3f").mkString(",")})")
    val acc = model.predict(df)
      .join(df.select(col("series_id"), col("label").as("truth")), "series_id")
      .select(avg(when(col("label") === col("truth"), 1.0).otherwise(0.0)))
      .as[Double].head()
    assert(acc >= 0.9, s"refined train accuracy $acc")
  }

  test("MLPRegressor learns mean-of-series, beats predicting the global mean") {
    val rng = new scala.util.Random(11)
    val rows = (0 until 60).map { i =>
      val vals = Array.fill(6)(rng.nextGaussian())
      (i.toLong, vals, vals.sum / vals.length)
    }
    val df = rows.toDF("series_id", "values", "target").cache()
    val model = graft.ml.TimeSeriesMLPRegressor.fit(df, hidden = 16, maxIter = 300, seed = 2)
    val joined = model.predict(df)
      .join(df.select(col("series_id"), col("target")), "series_id")
      .select(col("prediction"), col("target")).as[(Double, Double)].collect()
    val mse = joined.map { case (p, t) => (p - t) * (p - t) }.sum / joined.length
    val varY = {
      val ys = joined.map(_._2); val mu = ys.sum / ys.length
      ys.map(v => (v - mu) * (v - mu)).sum / ys.length
    }
    assert(mse < 0.1 * varY, s"MLP train MSE $mse vs target variance $varY")
  }
}
