package graft.ml

import scala.collection.mutable
import org.apache.spark.sql.Dataset
import graft.kernels.{Kernels, Ncc}

/** Distributed barycenter / shape-extraction update passes.
  *
  * Semantics of `/root/reference/tslearn/barycenters/dba.py:221-345` (the
  * ΣV/ΣWx DBA update), `euclidean.py:8-43`, `softdtw.py:17-113` and
  * `clustering/kshape.py:118-137` (gram shape extraction), re-expressed as
  * one `treeAggregate` fold over (cluster, series) rows ([[byCluster]]).
  *
  * Each cluster's buffer is FIXED-SIZE — per-timestep sums (O(sz)), an
  * sz×sz gram, or a soft-DTW gradient — and the fold is associative, so
  * every task folds its own rows and no task ever materializes a whole
  * cluster: a skewed cluster costs O(sz²) memory per task instead of
  * O(|cluster|·sz). The driver updates centers from the k merged buffers
  * and re-broadcasts — one job per update, the same job shape at 300
  * series or 300M.
  */
object DistributedBary {

  /** One cluster's running sums: two arrays, a count and a scalar. The
    * caller gives them their meaning: per-timestep sums and weights, a
    * gradient, or a flattened gram and its members' vector sum. */
  private final class Sums extends Serializable {
    var a: Array[Double] = Array.emptyDoubleArray
    var b: Array[Double] = Array.emptyDoubleArray
    var n: Long = 0L
    var s: Double = 0.0

    /** Zero-pads `a` and `b` to at least these lengths. */
    def grow(aLen: Int, bLen: Int): Sums = {
      if (a.length < aLen) a = java.util.Arrays.copyOf(a, aLen)
      if (b.length < bLen) b = java.util.Arrays.copyOf(b, bLen)
      this
    }

    def add(o: Sums): Sums = {
      a = addInto(a, o.a); b = addInto(b, o.b); n += o.n; s += o.s
      this
    }
  }

  private def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    if (a.length == 0) return b
    if (b.length == 0) return a
    val (big, small) = if (a.length >= b.length) (a, b) else (b, a)
    var i = 0
    while (i < small.length) { big(i) += small(i); i += 1 }
    big
  }

  /** The one per-cluster pass: ONE `treeAggregate` job folds every row into
    * the buffer of the cluster it names — `fold(row, sums)` takes that
    * buffer from `sums(cid)` — and merges the per-task buffers by cluster
    * id. Returns the clusters that received at least one row. */
  private def byCluster[T](rows: Dataset[T])(fold: (T, Int => Sums) => Unit): Map[Int, Sums] =
    rows.rdd.treeAggregate(mutable.HashMap.empty[Int, Sums])({ (acc, row) =>
      fold(row, acc.getOrElseUpdate(_, new Sums))
      acc
    }, { (x, y) =>
      y.foreach { case (cid, s) => x(cid) = x.get(cid).fold(s)(_.add(s)) }
      x
    }).toMap

  private def uniCenters(centers: Array[Array[Double]]): Array[Kernels.TS] =
    centers.map(c => if (c == null) null else Kernels.uni(c))

  /** Adds x to ragged per-timestep sums (`a`) and weights (`b`). */
  private def addMean(sums: Sums, x: Array[Double]): Sums = {
    sums.grow(x.length, x.length)
    var t = 0
    while (t < x.length) { sums.a(t) += x(t); sums.b(t) += 1.0; t += 1 }
    sums.n += 1
    sums
  }

  private def means(bufs: Map[Int, Sums]): Map[Int, Array[Double]] =
    bufs.map { case (cid, m) => cid -> Array.tabulate(m.a.length)(t => m.a(t) / m.b(t)) }

  /** Σd² over all rows: the per-cluster sums `s`, in ascending cluster id. */
  private def totalS(bufs: Map[Int, Sums]): Double =
    bufs.toSeq.sortBy(_._1).map(_._2.s).sum

  /** Per-cluster ragged means (euclidean barycenter update) — each timestep
    * averages the members that reach it, matching `Barycenters.euclidean`. */
  def meanByCluster(rows: Dataset[(Int, Array[Double])]): Map[Int, Array[Double]] =
    means(byCluster(rows) { case ((cid, x), sums) => addMean(sums(cid), x) })

  /** One euclidean Lloyd step as one pass: each row joins its nearest
    * center (`TimeSeriesKMeans.nearest`, the assignment rule of
    * `assignDs`), and the same fold adds it to that cluster's
    * per-timestep sums and its squared distance to the cluster's Σd².
    * Returns the new means of the clusters that received a row, and Σd²
    * over all rows. */
  private[ml] def meansWithInertia(rows: Dataset[(Long, Array[Double])],
                                   centers: Array[Array[Double]]): (Map[Int, Array[Double]], Double) = {
    val dist = TimeSeriesKMeans.metricDist("euclidean", 1.0)
    val bufs = byCluster(rows) { case ((_, x), sums) =>
      val (cid, d) = TimeSeriesKMeans.nearest(centers, x, dist)
      addMean(sums(cid), x).s += d * d
    }
    (means(bufs), totalS(bufs))
  }

  /** Per-cluster DBA (MM) with `iters` distributed update steps starting
    * from `init` — the k-means `metric="dtw"` update pass. Each step aligns
    * every member to its cluster's center with dtwPath and accumulates the
    * per-center-timestep sums (`a`), weights (`b`) and squared DTW cost
    * (`s`). Stops early when the summed normalized cost stops improving by
    * `tol`. */
  def dbaByCluster(rows: Dataset[(Int, Array[Double])], init: Array[Array[Double]],
                   iters: Int, tol: Double = 1e-5): Map[Int, Array[Double]] = {
    val centers = init.map(c => if (c == null) null else c.clone())
    var present: Set[Int] = Set.empty
    var prevCost = Double.PositiveInfinity
    var it = 0
    var done = false
    while (it < iters && !done) {
      val cs = uniCenters(centers)
      val bufs = byCluster(rows) { case ((cid, x), sums) =>
        val center = cs(cid)
        val b = sums(cid).grow(center.length, center.length)
        val (path, dist) = Kernels.dtwPath(center, Kernels.uni(x))
        var p = 0
        while (p < path.length) {
          val (i, j) = path(p)
          b.a(i) += x(j); b.b(i) += 1.0
          p += 1
        }
        b.s += dist * dist; b.n += 1
      }
      present = bufs.keySet
      var cost = 0.0
      bufs.foreach { case (cid, b) =>
        centers(cid) = Array.tabulate(centers(cid).length)(t =>
          if (b.b(t) > 0) b.a(t) / b.b(t) else centers(cid)(t))
        cost += b.s / math.max(1L, b.n)
      }
      if (prevCost - cost < tol) done = true
      prevCost = cost
      it += 1
    }
    present.map(cid => cid -> centers(cid)).toMap
  }

  /** Soft-DTW barycenter objective: per cluster, Σ softDTW(center_cid, x)
    * (`s`) and its gradient w.r.t. the center (`a`) — one pass evaluates
    * every cluster. */
  private def softDtwGrads(rows: Dataset[(Int, Array[Double])],
                           centers: Array[Array[Double]], gamma: Double): Map[Int, Sums] = {
    val cs = uniCenters(centers)
    byCluster(rows) { case ((cid, x), sums) =>
      val center = cs(cid)
      val b = sums(cid).grow(center.length, 0)
      val (v, g) = Kernels.softDtwGrad(center, Kernels.uni(x), gamma)
      b.s += v
      var t = 0
      while (t < center.length) { b.a(t) += g(t)(0); t += 1 }
      b.n += 1
    }
  }

  /** Soft-DTW barycenter update as `steps` FIXED-η gradient-descent steps
    * from the CURRENT centers (the k-means `metric="softdtw"` update in
    * its oracle-replayable form): b ← b − η·Σ_{x∈cluster} ∇_b softDTW(b, x),
    * one distributed gradient pass per step evaluating all k clusters at
    * once. The deterministic analog of the reference's
    * `softdtw_barycenter(init=cluster_centers_[k])` L-BFGS solve
    * (`softdtw.py:17-113` via `kmeans.py:709-727`) — same init
    * convention (current center, not cluster mean), same sum-gradient,
    * but a replayable fixed-step descent instead of a line search.
    * Clusters with no members are absent from the result (caller
    * reseeds, as with [[dbaByCluster]]). */
  def softDtwGdByCluster(rows: Dataset[(Int, Array[Double])],
                         init: Array[Array[Double]], gamma: Double,
                         eta: Double, steps: Int): Map[Int, Array[Double]] = {
    val centers = init.map(c => if (c == null) null else c.clone())
    var present: Set[Int] = Set.empty
    var it = 0
    while (it < steps) {
      val bufs = softDtwGrads(rows, centers, gamma)
      present = bufs.keySet
      bufs.foreach { case (cid, b) =>
        val c = centers(cid)
        var t = 0
        while (t < c.length) { c(t) -= eta * b.a(t); t += 1 }
      }
      it += 1
    }
    present.map(cid => cid -> centers(cid)).toMap
  }

  /** Soft-DTW barycenters for every cluster at once: joint L-BFGS over the
    * concatenated centers (the objective separates per cluster, so one
    * distributed gradient pass evaluates all k). Mirrors
    * `softdtw.py:17-113` with the cluster's euclidean mean as init. */
  def softDtwByCluster(rows: Dataset[(Int, Array[Double])], sizes: Map[Int, Int],
                       gamma: Double, iters: Int): Map[Int, Array[Double]] = {
    import breeze.linalg.DenseVector
    import breeze.optimize.{DiffFunction, LBFGS}
    val means = meanByCluster(rows)
    if (means.isEmpty) return Map.empty
    val cids = means.keys.toArray.sorted
    val inits = cids.map { c =>
      val sz = sizes.getOrElse(c, means(c).length)
      Kernels.resample(Kernels.uni(means(c)), sz).map(_(0))
    }
    val offsets = inits.scanLeft(0)(_ + _.length)
    val kMax = cids.max + 1
    def unflatten(v: DenseVector[Double]): Array[Array[Double]] = {
      val out = new Array[Array[Double]](kMax)
      cids.indices.foreach { i =>
        out(cids(i)) = java.util.Arrays.copyOfRange(v.data, offsets(i), offsets(i + 1))
      }
      out
    }
    val f = new DiffFunction[DenseVector[Double]] {
      def calculate(v: DenseVector[Double]): (Double, DenseVector[Double]) = {
        val centers = unflatten(v)
        val bufs = softDtwGrads(rows, centers, gamma)
        val grad = DenseVector.zeros[Double](v.length)
        var value = 0.0
        cids.indices.foreach { i =>
          bufs.get(cids(i)).foreach { b =>
            value += b.s
            var t = 0
            while (t < b.a.length) { grad(offsets(i) + t) = b.a(t); t += 1 }
          }
        }
        (value, grad)
      }
    }
    val x0 = DenseVector(inits.flatten)
    val solved = new LBFGS[DenseVector[Double]](maxIter = iters, m = 5, tolerance = 1e-3)
      .minimize(f, x0)
    val centers = unflatten(solved)
    cids.map(c => c -> centers(c)).toMap
  }

  /** KShape shape extraction for every cluster: one distributed gram pass,
    * then a local sz×sz eigendecomposition per cluster (`kshape.py:118-137`).
    * Sign fix uses (Σ aligned members)·µ — order-independent, equivalent to
    * the reference's Σ‖Xp∓µ‖ comparison. */
  def shapeByCluster(rows: Dataset[(Int, Array[Double])],
                     centers: Array[Array[Double]]): Map[Int, Array[Double]] =
    shapes(shapeSums(rows, centers), centers, steps = 0)

  /** Adds x, SBD-aligned to its cluster's `center` and re-z-normed, to the
    * cluster's flattened gram (`a` += z·zᵀ) and vector sum (`b` += z). */
  private def addAligned(sums: Sums, center: Kernels.TS, x: Array[Double]): Sums = {
    val sz = center.length
    sums.grow(sz * sz, sz)
    val aligned = Ncc.shiftToAlign(center, Kernels.uni(x))
    val z = Kernels.scaleMeanVariance(aligned).map(_(0))
    var i = 0
    while (i < sz) {
      val zi = z(i)
      sums.b(i) += zi
      var j = 0
      while (j < sz) { sums.a(i * sz + j) += zi * z(j); j += 1 }
      i += 1
    }
    sums.n += 1
    sums
  }

  /** The gram pass of [[shapeByCluster]] / [[shapeByClusterPower]]. */
  private def shapeSums(rows: Dataset[(Int, Array[Double])],
                        centers: Array[Array[Double]]): Map[Int, Sums] = {
    val cs = uniCenters(centers)
    byCluster(rows) { case ((cid, x), sums) => addAligned(sums(cid), cs(cid), x) }
  }

  /** Each cluster's shape from its gram: `steps` power-method updates, or
    * eigSym when `steps` is 0. */
  private def shapes(bufs: Map[Int, Sums], centers: Array[Array[Double]],
                     steps: Int): Map[Int, Array[Double]] =
    bufs.map { case (cid, b) =>
      val sz = centers(cid).length
      cid -> (if (steps > 0) finishShapePower(b.a, b.b, sz, steps)
              else finishShapeEig(b.a, b.b, sz))
    }

  /** eigSym shape finisher over an accumulated gram/xsum pair. */
  private def finishShapeEig(gram: Array[Double], xsum: Array[Double],
                             sz: Int): Array[Double] = {
    import breeze.linalg.{DenseMatrix, eigSym}
    val s = new DenseMatrix[Double](sz, sz, gram)
    val q = DenseMatrix.tabulate(sz, sz)((i, j) =>
      (if (i == j) 1.0 else 0.0) - 1.0 / sz)
    val m = q.t * s * q
    val es = eigSym(m)
    val idx = es.eigenvalues.toArray.zipWithIndex.maxBy(_._1)._2
    val vec = es.eigenvectors(::, idx).toArray
    var dot = 0.0
    var i = 0
    while (i < sz) { dot += xsum(i) * vec(i); i += 1 }
    val signed = if (dot < 0) vec.map(-_) else vec
    Kernels.scaleMeanVariance(Kernels.uni(signed)).map(_(0))
  }

  /** Power-iteration start vector shared with the SQL oracle: the ramp
    * i − (sz−1)/2, ℓ2-normalized (zero-mean but outside null(M); see
    * [[shapeByClusterPower]]). sz = 1 degenerates to the zero ramp →
    * fall back to the unit vector. */
  def powerInit(sz: Int): Array[Double] = {
    val c = (sz - 1) / 2.0
    val raw = Array.tabulate(sz)(i => i - c)
    var n2 = 0.0
    var i = 0
    while (i < sz) { n2 += raw(i) * raw(i); i += 1 }
    val n = math.sqrt(n2)
    if (n == 0) Array.fill(sz)(1.0) else raw.map(_ / n)
  }

  /** Deterministic power-iteration variant of [[shapeByCluster]]: the
    * same distributed gram pass, but the dominant eigenvector is the
    * result of EXACTLY `steps` power-method updates from the ramp init
    * v0(i) ∝ i − (sz−1)/2 (ℓ2-normalized) — i.e. a reproducible
    * iterate, not an opaque LAPACK limit. The ramp is deliberately NOT
    * the constant vector: members are re-znormed (zero mean), so every
    * row of M = QᵀSQ sums to 0 and the constant direction is exactly
    * null(M) — a constant init would make the first matvec pure fp
    * cancellation noise. The ramp has zero mean too but is orthogonal
    * to none of the nontrivial eigendirections in general, so step 1 is
    * already a real iterate. An external SQL oracle can replay the
    * identical sequence (matvec → ℓ2-normalize, `steps` times; a
    * zero-norm matvec keeps the previous iterate on BOTH sides), which
    * makes the whole KShape shape-extraction path driver-verifiable
    * (ts_kshape_step).
    * M = QᵀSQ is PSD (S is a gram sum), so the iteration is monotone
    * toward the dominant eigenvector; with enough steps the result
    * matches [[shapeByCluster]] up to tolerance (spec-checked).
    * Same sign fix ((Σ aligned members)·v) and final z-norm. */
  def shapeByClusterPower(rows: Dataset[(Int, Array[Double])],
                          centers: Array[Array[Double]],
                          steps: Int = 60): Map[Int, Array[Double]] = {
    require(steps > 0, s"power iteration needs steps > 0, got $steps")
    shapes(shapeSums(rows, centers), centers, steps)
  }

  /** Power-method shape finisher (the oracle-replayable deterministic
    * eigenvector route). */
  private def finishShapePower(gram: Array[Double], xsum: Array[Double],
                               sz: Int, steps: Int): Array[Double] = {
    locally {
      // M = S − rowMean_i − rowMean_j + grandMean  (Q = I − J/sz, S sym.)
      val rowMean = new Array[Double](sz)
      var g = 0.0
      var i = 0
      while (i < sz) {
        var s = 0.0
        var j = 0
        while (j < sz) { s += gram(i * sz + j); j += 1 }
        rowMean(i) = s / sz
        g += s
        i += 1
      }
      val grand = g / (sz.toDouble * sz)
      val m = Array.tabulate(sz, sz)((p, q) =>
        gram(p * sz + q) - rowMean(p) - rowMean(q) + grand)
      val v = powerInit(sz)
      var t = 0
      while (t < steps) {
        val w = new Array[Double](sz)
        i = 0
        while (i < sz) {
          var s = 0.0
          var j = 0
          while (j < sz) { s += m(i)(j) * v(j); j += 1 }
          w(i) = s
          i += 1
        }
        var n2 = 0.0
        i = 0
        while (i < sz) { n2 += w(i) * w(i); i += 1 }
        val nrm = math.sqrt(n2)
        if (nrm > 0) {
          i = 0
          while (i < sz) { v(i) = w(i) / nrm; i += 1 }
        }
        t += 1
      }
      var dot = 0.0
      i = 0
      while (i < sz) { dot += xsum(i) * v(i); i += 1 }
      val signed = if (dot < 0) v.map(-_) else v
      Kernels.scaleMeanVariance(Kernels.uni(signed)).map(_(0))
    }
  }

  /** KShape gram + Σd² in one pass per Lloyd iteration: the per-cluster
    * shape grams and the inertia numerator of the same assignment rows.
    * Rows carry the SBD distance the assignment map computed, so no
    * distance is recomputed here. Returns (shapes, Σd² over all rows). */
  def shapesWithInertia(rows: Dataset[(Int, Double, Array[Double])],
                        centers: Array[Array[Double]],
                        steps: Int): (Map[Int, Array[Double]], Double) = {
    val cs = uniCenters(centers)
    val bufs = byCluster(rows) { case ((cid, d, x), sums) =>
      addAligned(sums(cid), cs(cid), x).s += d * d
    }
    (shapes(bufs, centers, steps), totalS(bufs))
  }

  /** Whole-dataset DBA (MM variant) — `dba.py:394-604` distributed: init
    * from the distributed euclidean mean, then one [[dbaByCluster]] pass
    * per MM iteration against the current center. */
  def dba(series: Dataset[Array[Double]], barycenterSize: Int = -1,
          maxIter: Int = 30, tol: Double = 1e-5): Array[Double] = {
    val spark = series.sparkSession
    import spark.implicits._
    // localCheckpoint: the mean pass + every MM iteration re-reads these
    // rows; without it the caller's (often expensive) upstream pipeline
    // re-evaluates once per iteration. Lazy, so the mean pass fills it
    // inside the try.
    val keyed = series.map(x => (0, x)).localCheckpoint(eager = false)
    try {
      val mean = meanByCluster(keyed)(0)
      val size = if (barycenterSize > 0) barycenterSize else mean.length
      val init = Kernels.resample(Kernels.uni(mean), size).map(_(0))
      dbaByCluster(keyed, Array(init), maxIter, tol)(0)
    } finally TimeSeriesKMeans.releaseLocalCheckpoint(keyed)
  }
}
