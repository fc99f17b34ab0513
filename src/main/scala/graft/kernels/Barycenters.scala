package graft.kernels

/** Barycenter kernels — semantics of
  * `/root/reference/tslearn/barycenters/` (euclidean.py, dba.py,
  * softdtw.py), pure Scala so they can run either on the driver or inside
  * a `mapGroups` task (one cluster per group — the scalable path for
  * k-means updates, SURVEY §7.4).
  */
object Barycenters {
  import Kernels.TS

  /** Weighted per-timestep mean across series — `euclidean.py:8-43`.
    * Ragged input: each timestep averages the series that reach it. */
  def euclidean(series: Seq[TS], weights: Seq[Double] = Nil): TS = {
    require(series.nonEmpty, "empty barycenter input")
    val w = if (weights.isEmpty) Seq.fill(series.length)(1.0) else weights
    val sz = series.map(_.length).max
    val d = series.head.headOption.map(_.length).getOrElse(1)
    val sums = Array.ofDim[Double](sz, d)
    val wsum = new Array[Double](sz)
    var si = 0
    while (si < series.length) {
      val s = series(si)
      var t = 0
      while (t < s.length) {
        var k = 0
        while (k < d) { sums(t)(k) += w(si) * s(t)(k); k += 1 }
        wsum(t) += w(si)
        t += 1
      }
      si += 1
    }
    Array.tabulate(sz)(t => Array.tabulate(d)(k => sums(t)(k) / wsum(t)))
  }

  /** DBA (DTW Barycenter Averaging, MM variant) — `dba.py:394-604`.
    * Per iteration: align every series to the barycenter with dtwPath,
    * accumulate per-barycenter-timestep assignment sums (the ΣV / ΣWx
    * update, `dba.py:221-345`), update, stop on cost tolerance.
    */
  def dba(series: Seq[TS], barycenterSize: Int = -1, maxIter: Int = 30,
          tol: Double = 1e-5, weights: Seq[Double] = Nil,
          init: TS = null): TS = {
    require(series.nonEmpty, "empty DBA input")
    val w = if (weights.isEmpty) Seq.fill(series.length)(1.0) else weights
    val eu = euclidean(series, w)
    val size = if (barycenterSize > 0) barycenterSize else eu.length
    var center: TS = if (init != null) init else Kernels.resample(eu, size)
    val d = center(0).length
    var prevCost = Double.PositiveInfinity
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      val sums = Array.ofDim[Double](size, d)
      val counts = new Array[Double](size)
      var cost = 0.0
      var si = 0
      while (si < series.length) {
        val (path, dist) = Kernels.dtwPath(center, series(si))
        cost += w(si) * dist * dist
        var p = 0
        while (p < path.length) {
          val (i, j) = path(p)
          var k = 0
          while (k < d) { sums(i)(k) += w(si) * series(si)(j)(k); k += 1 }
          counts(i) += w(si)
          p += 1
        }
        si += 1
      }
      center = Array.tabulate(size)(i => Array.tabulate(d)(k => sums(i)(k) / counts(i)))
      cost /= w.sum
      if (prevCost - cost < tol) done = true
      prevCost = cost
      iter += 1
    }
    center
  }

  /** DBA, Petitjean variant — `dba.py:60-176`. The reference keeps this
    * implementation "to check the documented one for non-regression"; we
    * keep it for the same reason (golden oracle for [[dba]]). Alignment
    * order matches the reference: `dtw_path(X[i], barycenter)` with the
    * assignment indexed by the barycenter timestep; cost is evaluated
    * against the PRE-update barycenter; stops on |Δcost| < tol or a cost
    * increase. */
  def dbaPetitjean(series: Seq[TS], barycenterSize: Int = -1, maxIter: Int = 30,
                   tol: Double = 1e-5, weights: Seq[Double] = Nil,
                   init: TS = null): TS = {
    require(series.nonEmpty, "empty DBA input")
    val w = if (weights.isEmpty) Seq.fill(series.length)(1.0) else weights
    val eu = euclidean(series, w)
    val size = if (init != null) init.length
      else if (barycenterSize > 0) barycenterSize else eu.length
    var center: TS = if (init != null) init else Kernels.resample(eu, size)
    val d = center(0).length
    var costPrev = Double.PositiveInfinity
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      val sums = Array.ofDim[Double](size, d)
      val wsum = new Array[Double](size)
      var cost = 0.0
      var si = 0
      while (si < series.length) {
        val (path, _) = Kernels.dtwPath(series(si), center)
        var p = 0
        while (p < path.length) {
          val (i, j) = path(p) // i: series timestep, j: barycenter timestep
          var k = 0
          var sq = 0.0
          while (k < d) {
            val v = series(si)(i)(k)
            sums(j)(k) += w(si) * v
            val df = v - center(j)(k)
            sq += df * df
            k += 1
          }
          wsum(j) += w(si)
          cost += w(si) * sq
          p += 1
        }
        si += 1
      }
      cost /= w.sum
      center = Array.tabulate(size)(j => Array.tabulate(d)(k =>
        if (wsum(j) > 0) sums(j)(k) / wsum(j) else center(j)(k)))
      if (math.abs(costPrev - cost) < tol || costPrev < cost) done = true
      else costPrev = cost
      iter += 1
    }
    center
  }

  /** One Schultz–Jain SSG update — the in-loop unit of `dbaSubgradient`
    * (`dba.py:607-740`): b′(i) = b(i) − (2η/w)·(V(i)·b(i) − Σ_{(i,j)∈path}
    * w·x(j)) at the DTW alignment of the current barycenter to series x.
    * Mutates `center` in place (the sequential loop's contract) and
    * returns it; callers that need the input preserved pass a clone. */
  def ssgUpdate(center: TS, x: TS, eta: Double, w: Double = 1.0): TS = {
    val (path, _) = Kernels.dtwPath(center, x)
    ssgApply(center, x, path, eta, w)
  }

  private def ssgApply(center: TS, x: TS, path: Array[(Int, Int)],
                       eta: Double, w: Double): TS = {
    val size = center.length
    val d = center(0).length
    val delta = Array.ofDim[Double](size, d)
    val v = new Array[Double](size)
    path.foreach { case (i, j) =>
      v(i) += w
      var k = 0
      while (k < d) { delta(i)(k) -= w * x(j)(k); k += 1 }
    }
    var i = 0
    while (i < size) {
      var k = 0
      while (k < d) {
        delta(i)(k) += v(i) * center(i)(k)
        center(i)(k) -= (2.0 * eta / w) * delta(i)(k)
        k += 1
      }
      i += 1
    }
    center
  }

  /** DBA via stochastic subgradient descent — `dba.py:607-740` (Schultz &
    * Jain SSG): one series per update, step from η_initial decaying
    * linearly to η_final during the first epoch. Δ = V·b − W·x at the DTW
    * alignment of the current barycenter to the sampled series. Sequential
    * by construction (each update depends on the previous), so it stays a
    * local kernel (SURVEY marks it low-priority for the distributed path).
    * RNG is Scala's, so shuffles differ from numpy's — convergence target,
    * not bit parity. */
  def dbaSubgradient(series: Seq[TS], barycenterSize: Int = -1, maxIter: Int = 30,
                     initialStepSize: Double = 0.05, finalStepSize: Double = 0.005,
                     tol: Double = 1e-5, seed: Long = 0L,
                     weights: Seq[Double] = Nil, init: TS = null): TS = {
    require(series.nonEmpty, "empty DBA input")
    val w = if (weights.isEmpty) Seq.fill(series.length)(1.0) else weights
    val eu = euclidean(series, w)
    val size = if (init != null) init.length
      else if (barycenterSize > 0) barycenterSize else eu.length
    val center: TS = if (init != null) init.map(_.clone()) else Kernels.resample(eu, size)
    val n = series.length
    val rng = new scala.util.Random(seed)
    var eta = initialStepSize
    var costPrev = Double.PositiveInfinity
    var cost = Double.PositiveInfinity
    var it = 0
    var done = false
    while (it < maxIter && !done) {
      val order = rng.shuffle(series.indices.toList)
      order.foreach { idx =>
        val x = series(idx)
        val (path, dist) = Kernels.dtwPath(center, x)
        cost = w(idx) * dist * dist
        // Δ(i) = V(i)·b(i) − Σ_{(i,j)∈path} w·x(j)   (V(i) = w·|{j: (i,j)∈path}|)
        ssgApply(center, x, path, eta, w(idx))
        if (it == 0) eta -= (initialStepSize - finalStepSize) / n
      }
      if (math.abs(costPrev - cost) < tol || costPrev < cost) done = true
      else costPrev = cost
      it += 1
    }
    center
  }

  /** soft-DTW barycenter: minimize Σ wᵢ·softDTW(b, xᵢ) by L-BFGS on the
    * flattened barycenter — `softdtw.py:17-113`. Gradient comes from the
    * soft-DTW backward pass (Kernels.softDtwGrad). */
  def softDtw(series: Seq[TS], gamma: Double = 1.0, barycenterSize: Int = -1,
              maxIter: Int = 30, tol: Double = 1e-3,
              weights: Seq[Double] = Nil): TS = {
    import breeze.linalg.DenseVector
    import breeze.optimize.{DiffFunction, LBFGS}
    require(series.nonEmpty, "empty barycenter input")
    val w = if (weights.isEmpty) Seq.fill(series.length)(1.0) else weights
    val eu = euclidean(series, w)
    val size = if (barycenterSize > 0) barycenterSize else eu.length
    val init = Kernels.resample(eu, size)
    val d = init(0).length
    def unflatten(v: DenseVector[Double]): TS =
      Array.tabulate(size)(t => Array.tabulate(d)(k => v(t * d + k)))
    val f = new DiffFunction[DenseVector[Double]] {
      def calculate(v: DenseVector[Double]): (Double, DenseVector[Double]) = {
        val b = unflatten(v)
        var value = 0.0
        val grad = DenseVector.zeros[Double](size * d)
        var si = 0
        while (si < series.length) {
          val (sv, g) = Kernels.softDtwGrad(b, series(si), gamma)
          value += w(si) * sv
          var t = 0
          while (t < size) {
            var k = 0
            while (k < d) { grad(t * d + k) += w(si) * g(t)(k); k += 1 }
            t += 1
          }
          si += 1
        }
        (value, grad)
      }
    }
    val x0 = DenseVector.tabulate(size * d)(i => init(i / d)(i % d))
    val lbfgs = new LBFGS[DenseVector[Double]](maxIter = maxIter, m = 5, tolerance = tol)
    unflatten(lbfgs.minimize(f, x0))
  }
}
