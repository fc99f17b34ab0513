package graft.kernels

/** Remaining alignment kernels: L-DTW, DTW over an arbitrary local metric,
  * and Canonical Time Warping. Citations into `/root/reference/tslearn/`.
  */
object Advanced {
  import Kernels.TS

  /** DTW under a path-length cap L — `dtw_variants.py:468-743`.
    * The reference's per-cell dict DP is re-expressed as a rolling
    * layer-per-step DP: O(L·n·m) time, O(n·m) space (the dict version is
    * O(n·m·L) space). Returns √(min cost over paths with ≤ L steps). */
  def dtwLimitedWarpingLength(s1: TS, s2: TS, maxLength: Int): Double = {
    val n = s1.length; val m = s2.length
    require(maxLength >= math.max(n, m),
      s"max_length $maxLength < max(sz1, sz2) = ${math.max(n, m)}: no admissible path")
    val Inf = Double.PositiveInfinity
    var prev = Array.fill(n, m)(Inf)
    var cur = Array.fill(n, m)(Inf)
    prev(0)(0) = Kernels.localSqDist(s1(0), s2(0)) // layer s=0 (1 cell)
    var best = if (n == 1 && m == 1) prev(0)(0) else Inf
    var s = 1
    while (s < maxLength) {
      var i = 0
      while (i < n) {
        java.util.Arrays.fill(cur(i), Inf)
        i += 1
      }
      i = 0
      while (i < n) {
        var j = 0
        while (j < m) {
          // unreachable cells stay Inf in prev, so reachability is
          // implicit in the min over predecessors
          var p = Inf
          if (i > 0) { if (prev(i - 1)(j) < p) p = prev(i - 1)(j) }
          if (j > 0) { if (prev(i)(j - 1) < p) p = prev(i)(j - 1) }
          if (i > 0 && j > 0) { if (prev(i - 1)(j - 1) < p) p = prev(i - 1)(j - 1) }
          if (p != Inf) cur(i)(j) = p + Kernels.localSqDist(s1(i), s2(j))
          j += 1
        }
        i += 1
      }
      if (cur(n - 1)(m - 1) < best) best = cur(n - 1)(m - 1)
      val t = prev; prev = cur; cur = t
      s += 1
    }
    math.sqrt(best)
  }

  /** L-DTW with path — `dtw_variants.py:620-743`. Keeps every DP layer
    * (O(L·n·m) memory, like the reference's per-cell maps) and backtracks
    * from the best final layer; [[dtwLimitedWarpingLength]] remains the
    * O(n·m)-memory score-only variant. */
  def dtwLimitedWarpingLengthPath(s1: TS, s2: TS, maxLength: Int): (Array[(Int, Int)], Double) = {
    val n = s1.length; val m = s2.length
    require(maxLength >= math.max(n, m),
      s"max_length $maxLength < max(sz1, sz2) = ${math.max(n, m)}: no admissible path")
    val Inf = Double.PositiveInfinity
    val layers = Array.fill(maxLength, n, m)(Inf)
    layers(0)(0)(0) = Kernels.localSqDist(s1(0), s2(0))
    var s = 1
    while (s < maxLength) {
      var i = 0
      while (i < n) {
        var j = 0
        while (j < m) {
          var p = Inf
          if (i > 0) { if (layers(s - 1)(i - 1)(j) < p) p = layers(s - 1)(i - 1)(j) }
          if (j > 0) { if (layers(s - 1)(i)(j - 1) < p) p = layers(s - 1)(i)(j - 1) }
          if (i > 0 && j > 0) { if (layers(s - 1)(i - 1)(j - 1) < p) p = layers(s - 1)(i - 1)(j - 1) }
          if (p != Inf) layers(s)(i)(j) = p + Kernels.localSqDist(s1(i), s2(j))
          j += 1
        }
        i += 1
      }
      s += 1
    }
    var bestS = -1; var best = Inf
    s = 0
    while (s < maxLength) {
      if (layers(s)(n - 1)(m - 1) < best) { best = layers(s)(n - 1)(m - 1); bestS = s }
      s += 1
    }
    // backtrack: predecessor in the previous layer whose value equals
    // cur − local cost; tie order diag, up, left (dtwPath rules)
    val path = scala.collection.mutable.ArrayBuffer((n - 1, m - 1))
    var (ci, cj, cs) = (n - 1, m - 1, bestS)
    while (cs > 0) {
      val target = layers(cs)(ci)(cj) - Kernels.localSqDist(s1(ci), s2(cj))
      val eps = 1e-9 * math.max(1.0, math.abs(target))
      if (ci > 0 && cj > 0 && math.abs(layers(cs - 1)(ci - 1)(cj - 1) - target) <= eps) {
        ci -= 1; cj -= 1
      } else if (ci > 0 && math.abs(layers(cs - 1)(ci - 1)(cj) - target) <= eps) {
        ci -= 1
      } else {
        cj -= 1
      }
      cs -= 1
      path += ((ci, cj))
    }
    (path.reverse.toArray, math.sqrt(best))
  }

  /** LCSS with path — `lcss_path` (`dtw_variants.py:1576-1690`): full int
    * DP matrix then the reference's backtrack (match ⇒ diagonal step,
    * else move toward the larger accumulated value). Score = LCS length /
    * min(sz1, sz2). */
  def lcssPath(s1: TS, s2: TS, eps: Double = 1.0,
               bounds: Bounds = null): (Array[(Int, Int)], Double) =
    lcssPathFromLocal(s1, s2, eps,
      (a, b) => math.sqrt(Kernels.localSqDist(a, b)), bounds)

  /** LCSS path under an arbitrary local metric —
    * `lcss_path_from_metric` (`dtw_variants.py:1693-1879`). */
  def lcssPathFromMetric(s1: TS, s2: TS, eps: Double,
                         local: (Array[Double], Array[Double]) => Double,
                         bounds: Bounds = null): (Array[(Int, Int)], Double) =
    lcssPathFromLocal(s1, s2, eps, local, bounds)

  private def lcssPathFromLocal(s1: TS, s2: TS, eps: Double,
                                local: (Array[Double], Array[Double]) => Double,
                                bounds0: Bounds): (Array[(Int, Int)], Double) = {
    val l1 = s1.length; val l2 = s2.length
    val bounds = if (bounds0 == null) Mask.none(l1, l2) else bounds0
    val acc = Array.ofDim[Int](l1 + 1, l2 + 1)
    var i = 1
    while (i <= l1) {
      val lo = bounds.lo(i - 1); val hi = bounds.hi(i - 1)
      var j = 1
      while (j <= l2) {
        if (j - 1 >= lo && j - 1 <= hi) {
          if (local(s1(i - 1), s2(j - 1)) <= eps) acc(i)(j) = 1 + acc(i - 1)(j - 1)
          else acc(i)(j) = math.max(acc(i)(j - 1), acc(i - 1)(j))
        }
        j += 1
      }
      i += 1
    }
    val path = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var pi = l1; var pj = l2
    while (pi > 0 && pj > 0) {
      val inBand = pj - 1 >= bounds.lo(pi - 1) && pj - 1 <= bounds.hi(pi - 1)
      if (inBand && local(s1(pi - 1), s2(pj - 1)) <= eps) {
        path += ((pi - 1, pj - 1)); pi -= 1; pj -= 1
      } else if (acc(pi - 1)(pj) > acc(pi)(pj - 1)) pi -= 1
      else pj -= 1
    }
    (path.reverse.toArray, acc(l1)(l2).toDouble / math.min(l1, l2))
  }

  /** DTW accumulated matrix over an arbitrary local distance —
    * `dtw_path_from_metric` (`dtw_variants.py:201-381`). */
  def dtwPathFromMetric(s1: TS, s2: TS,
                        local: (Array[Double], Array[Double]) => Double): (Array[(Int, Int)], Double) = {
    val l1 = s1.length; val l2 = s2.length
    val cum = Array.fill(l1 + 1, l2 + 1)(Double.PositiveInfinity)
    cum(0)(0) = 0.0
    var i = 1
    while (i <= l1) {
      var j = 1
      while (j <= l2) {
        var m = cum(i - 1)(j)
        if (cum(i)(j - 1) < m) m = cum(i)(j - 1)
        if (cum(i - 1)(j - 1) < m) m = cum(i - 1)(j - 1)
        cum(i)(j) = local(s1(i - 1), s2(j - 1)) + m
        j += 1
      }
      i += 1
    }
    (Kernels.returnPath(cum), cum(l1)(l2)) // note: raw accumulated cost, not sqrt
  }

  /** CCA transform weights fitted on (warped-aligned) row pairs: apply
    * `project` to ANY rows in the original feature space — this is the
    * `cca.fit(Wx·s1, Wy·s2); cca.transform(s1, s2)` split of the
    * reference (`ctw.py:157-159`), where fitting sees aligned rows but
    * the FULL series are projected. */
  private case class CcaSide(mu: breeze.linalg.DenseVector[Double],
                             w: breeze.linalg.DenseMatrix[Double]) {
    def project(rows: TS): TS = {
      import breeze.linalg._
      val m = DenseMatrix(rows: _*)
      val centered = m(*, ::) - mu
      val p = centered * w
      Array.tabulate(rows.length)(r => Array.tabulate(w.cols)(c => p(r, c)))
    }
  }

  /** Minimal CCA via the standard regularized generalized-eigen
    * formulation (public-textbook algorithm, replacing sklearn's NIPALS
    * CCA). Weight columns are scaled so the FIT rows project to unit
    * variance (sklearn's score scaling); the same affine map then applies
    * to arbitrary rows. */
  private def ccaFit(x: Array[Array[Double]], y: Array[Array[Double]],
                     nComp: Int): (CcaSide, CcaSide) = {
    import breeze.linalg._
    val xm = DenseMatrix(x: _*)
    val ym = DenseMatrix(y: _*)
    val muX = breeze.stats.mean(xm(::, *)).t
    val muY = breeze.stats.mean(ym(::, *)).t
    val xc = xm(*, ::) - muX
    val yc = ym(*, ::) - muY
    val n = xc.rows.toDouble
    val reg = 1e-8
    val sxx = (xc.t * xc) / n + DenseMatrix.eye[Double](xc.cols) * reg
    val syy = (yc.t * yc) / n + DenseMatrix.eye[Double](yc.cols) * reg
    val sxy = (xc.t * yc) / n
    val m1 = inv(sxx) * sxy * inv(syy) * sxy.t
    val es = eig(m1)
    val order = es.eigenvalues.toArray.zipWithIndex.sortBy(-_._1).map(_._2).take(nComp)
    val wx = DenseMatrix.horzcat(order.map(i => es.eigenvectors(::, i).toDenseMatrix.t): _*)
    // wy from wx: Syy⁻¹ Syx wx (up to scale)
    val wy = inv(syy) * sxy.t * wx
    // scale each weight column so fit-row projections have unit variance
    def scaleCols(w: DenseMatrix[Double], c0: DenseMatrix[Double]): DenseMatrix[Double] = {
      val out = w.copy
      val p = c0 * w
      for (c <- 0 until w.cols) {
        val sd = breeze.stats.stddev(p(::, c))
        if (sd > 1e-12) out(::, c) :/= sd
      }
      out
    }
    (CcaSide(muX, scaleCols(wx, xc)), CcaSide(muY, scaleCols(wy, yc)))
  }

  /** Canonical Time Warping — `ctw.py:39-364`. Alternates CCA feature
    * registration (fit on path-aligned rows, then project the FULL
    * series through the fitted weights — `ctw.py:157-159`) and DTW
    * alignment until the path reaches a fixpoint.
    * NOTE: the reference's convergence test compares the path with itself
    * (`ctw.py:168-169`) and therefore always stops after one CCA round;
    * we implement the *intended* fixpoint (previous vs current path) per
    * SURVEY §7.4 and document the deviation here. */
  def ctwPath(s1: TS, s2: TS, maxIter: Int = 100, nComponents: Int = -1):
      (Array[(Int, Int)], Double) = {
    val nc = if (nComponents > 0) nComponents else math.min(s1(0).length, s2(0).length)
    def truncate(s: TS): TS = s.map(_.take(nc))
    var (path, score) = Kernels.dtwPath(truncate(s1), truncate(s2))
    var it = 0
    var converged = false
    while (it < maxIter - 1 && !converged) {
      // fit CCA on the rows matched by the current path (Wx·s1 vs Wy·s2)
      val ax = path.map { case (i, _) => s1(i) }
      val ay = path.map { case (_, j) => s2(j) }
      val (cx, cy) = try ccaFit(ax, ay, nc) catch { case _: Throwable => return (path, score) }
      // project EVERY timestep of both series through the fitted weights
      val (newPath, newScore) = Kernels.dtwPath(cx.project(s1), cy.project(s2))
      if (newPath.sameElements(path)) converged = true
      path = newPath
      score = newScore
      it += 1
    }
    (path, score)
  }

  def ctw(s1: TS, s2: TS, maxIter: Int = 100): Double = ctwPath(s1, s2, maxIter)._2

  /** Fixed-round CTW: EXACTLY `rounds` CCA-project + DTW updates after
    * the initial raw-space DTW, with NO convergence break. Post-fixpoint
    * rounds are no-ops (the projection depends only on the path), so
    * this equals [[ctwPath]] whenever the fixpoint is reached within
    * `rounds`; the fixed count is what makes an external SQL replay
    * possible (ts_ctw_pairs). On UNIVARIATE input the per-round CCA has
    * a closed form the oracle mirrors: the 1×1 eigenvector is ±1 and
    * its sign is a common factor of both projections (DTW-invariant),
    * so px = (x − μx)/σx and py = sign(cov(x,y))·(y − μy)/σy with
    * μ/σ(sample)/cov taken over the path-aligned rows. */
  def ctwPathFixed(s1: TS, s2: TS, rounds: Int): (Array[(Int, Int)], Double) = {
    val nc = math.min(s1(0).length, s2(0).length)
    def truncate(s: TS): TS = s.map(_.take(nc))
    var (path, score) = Kernels.dtwPath(truncate(s1), truncate(s2))
    var it = 0
    while (it < rounds) {
      val ax = path.map { case (i, _) => s1(i) }
      val ay = path.map { case (_, j) => s2(j) }
      // same degenerate-input guard as ctwPath: a constant path-aligned
      // side makes sxx/syy near-singular — keep the current (path, score)
      val (cx, cy) = try ccaFit(ax, ay, nc) catch { case _: Throwable => return (path, score) }
      val (np, ns) = Kernels.dtwPath(cx.project(s1), cy.project(s2))
      path = np
      score = ns
      it += 1
    }
    (path, score)
  }

  def ctwFixed(s1: TS, s2: TS, rounds: Int): Double =
    ctwPathFixed(s1, s2, rounds)._2
}
