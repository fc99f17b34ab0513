package graft.ml

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import graft.kernels.{Kernels, Ncc}

/** Distributed barycenter / shape-extraction update passes.
  *
  * Semantics of `/root/reference/tslearn/barycenters/dba.py:221-345` (the
  * ΣV/ΣWx DBA update), `euclidean.py:8-43`, `softdtw.py:17-113` and
  * `clustering/kshape.py:118-137` (gram shape extraction), re-expressed as
  * typed Spark `Aggregator`s over (cluster, series) rows.
  *
  * Each buffer is FIXED-SIZE — per-timestep sums (O(sz)), an sz×sz gram,
  * or a soft-DTW gradient — and aggregation is associative, so Spark does
  * map-side partial aggregation and no task ever materializes a whole
  * cluster: a skewed cluster costs O(sz²) memory per task instead of
  * O(|cluster|·sz). The driver updates centers from the k collected
  * buffers and re-broadcasts — the same job shape at 300 series or 300M.
  */
object DistributedBary {

  /** Ragged per-timestep running mean (euclidean barycenter). */
  case class MeanBuf(var sums: Array[Double], var wsum: Array[Double])

  /** One DBA (MM) step: per-center-timestep alignment sums + weights +
    * summed squared DTW cost + member count. */
  case class DbaBuf(var sums: Array[Double], var wsum: Array[Double],
                    var cost: Double, var n: Long)

  /** Soft-DTW value + gradient w.r.t. the (broadcast) center. */
  case class GradBuf(var value: Double, var grad: Array[Double], var n: Long)

  /** KShape: flattened sz×sz gram of SBD-aligned z-normed members, their
    * vector sum (for the eigenvector sign fix), count, and the Σd²
    * inertia numerator of the same assignment rows. */
  case class GramD2Buf(var gram: Array[Double], var xsum: Array[Double],
                       var n: Long, var d2: Double)

  private def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    if (a.length == 0) return b
    if (b.length == 0) return a
    val (big, small) = if (a.length >= b.length) (a, b) else (b, a)
    var i = 0
    while (i < small.length) { big(i) += small(i); i += 1 }
    big
  }

  /** Per-cluster ragged per-timestep mean — each timestep averages the
    * members that reach it, matching `Barycenters.euclidean`. */
  class MeanBaryAgg extends Aggregator[(Int, Array[Double]), MeanBuf, MeanBuf]
      with Serializable {
    def zero: MeanBuf = MeanBuf(Array.emptyDoubleArray, Array.emptyDoubleArray)
    def reduce(b: MeanBuf, in: (Int, Array[Double])): MeanBuf = {
      val x = in._2
      if (b.sums.length < x.length) {
        b.sums = java.util.Arrays.copyOf(b.sums, x.length)
        b.wsum = java.util.Arrays.copyOf(b.wsum, x.length)
      }
      var t = 0
      while (t < x.length) { b.sums(t) += x(t); b.wsum(t) += 1.0; t += 1 }
      b
    }
    def merge(a: MeanBuf, b: MeanBuf): MeanBuf = {
      if (a.sums.length >= b.sums.length) {
        a.sums = addInto(a.sums, b.sums); a.wsum = addInto(a.wsum, b.wsum); a
      } else {
        b.sums = addInto(b.sums, a.sums); b.wsum = addInto(b.wsum, a.wsum); b
      }
    }
    def finish(b: MeanBuf): MeanBuf = b
    def bufferEncoder: Encoder[MeanBuf] = Encoders.product[MeanBuf]
    def outputEncoder: Encoder[MeanBuf] = Encoders.product[MeanBuf]
  }

  /** One DBA (MM) iteration: align each member to its cluster's broadcast
    * center with dtwPath, accumulate the per-center-timestep sums. The
    * centers array travels in the task closure (k·sz doubles — tiny). */
  class DbaStepAgg(centers: Array[Array[Double]])
      extends Aggregator[(Int, Array[Double]), DbaBuf, DbaBuf] with Serializable {
    @transient private lazy val centers2d: Array[Kernels.TS] =
      centers.map(c => if (c == null) null else Kernels.uni(c))
    def zero: DbaBuf = DbaBuf(Array.emptyDoubleArray, Array.emptyDoubleArray, 0.0, 0L)
    def reduce(b: DbaBuf, in: (Int, Array[Double])): DbaBuf = {
      val center = centers2d(in._1)
      val sz = center.length
      if (b.sums.length < sz) {
        b.sums = java.util.Arrays.copyOf(b.sums, sz)
        b.wsum = java.util.Arrays.copyOf(b.wsum, sz)
      }
      val (path, dist) = Kernels.dtwPath(center, Kernels.uni(in._2))
      var p = 0
      while (p < path.length) {
        val (i, j) = path(p)
        b.sums(i) += in._2(j); b.wsum(i) += 1.0
        p += 1
      }
      b.cost += dist * dist; b.n += 1
      b
    }
    def merge(a: DbaBuf, b: DbaBuf): DbaBuf = {
      a.sums = addInto(a.sums, b.sums); a.wsum = addInto(a.wsum, b.wsum)
      a.cost += b.cost; a.n += b.n
      a
    }
    def finish(b: DbaBuf): DbaBuf = b
    def bufferEncoder: Encoder[DbaBuf] = Encoders.product[DbaBuf]
    def outputEncoder: Encoder[DbaBuf] = Encoders.product[DbaBuf]
  }

  /** KShape gram pass: SBD-align each member to its cluster's current
    * center, z-norm, accumulate z·zᵀ (flattened) and Σz, plus the Σd² of
    * the rows' pre-computed SBD distances (inertia fused into the pass). */
  class GramD2Agg(centers: Array[Array[Double]])
      extends Aggregator[(Int, Double, Array[Double]), GramD2Buf, GramD2Buf]
      with Serializable {
    @transient private lazy val centers2d: Array[Kernels.TS] =
      centers.map(c => if (c == null) null else Kernels.uni(c))
    def zero: GramD2Buf =
      GramD2Buf(Array.emptyDoubleArray, Array.emptyDoubleArray, 0L, 0.0)
    def reduce(b: GramD2Buf, in: (Int, Double, Array[Double])): GramD2Buf = {
      val center = centers2d(in._1)
      val sz = center.length
      if (b.gram.length < sz * sz) {
        b.gram = java.util.Arrays.copyOf(b.gram, sz * sz)
        b.xsum = java.util.Arrays.copyOf(b.xsum, sz)
      }
      val aligned = Ncc.shiftToAlign(center, Kernels.uni(in._3))
      val z = Kernels.scaleMeanVariance(aligned).map(_(0))
      var i = 0
      while (i < sz) {
        val zi = z(i)
        b.xsum(i) += zi
        var j = 0
        while (j < sz) { b.gram(i * sz + j) += zi * z(j); j += 1 }
        i += 1
      }
      b.n += 1
      b.d2 += in._2 * in._2
      b
    }
    def merge(a: GramD2Buf, b: GramD2Buf): GramD2Buf = {
      a.gram = addInto(a.gram, b.gram); a.xsum = addInto(a.xsum, b.xsum)
      a.n += b.n; a.d2 += b.d2
      a
    }
    def finish(b: GramD2Buf): GramD2Buf = b
    def bufferEncoder: Encoder[GramD2Buf] = Encoders.product[GramD2Buf]
    def outputEncoder: Encoder[GramD2Buf] = Encoders.product[GramD2Buf]
  }

  /** Soft-DTW barycenter objective: Σ softDTW(center_cid, x) with gradient
    * w.r.t. the center, per cluster — one pass evaluates every cluster. */
  class SoftDtwGradAgg(centers: Array[Array[Double]], gamma: Double)
      extends Aggregator[(Int, Array[Double]), GradBuf, GradBuf] with Serializable {
    @transient private lazy val centers2d: Array[Kernels.TS] =
      centers.map(c => if (c == null) null else Kernels.uni(c))
    def zero: GradBuf = GradBuf(0.0, Array.emptyDoubleArray, 0L)
    def reduce(b: GradBuf, in: (Int, Array[Double])): GradBuf = {
      val center = centers2d(in._1)
      val sz = center.length
      if (b.grad.length < sz) b.grad = java.util.Arrays.copyOf(b.grad, sz)
      val (v, g) = Kernels.softDtwGrad(center, Kernels.uni(in._2), gamma)
      b.value += v
      var t = 0
      while (t < sz) { b.grad(t) += g(t)(0); t += 1 }
      b.n += 1
      b
    }
    def merge(a: GradBuf, b: GradBuf): GradBuf = {
      a.value += b.value; a.grad = addInto(a.grad, b.grad); a.n += b.n
      a
    }
    def finish(b: GradBuf): GradBuf = b
    def bufferEncoder: Encoder[GradBuf] = Encoders.product[GradBuf]
    def outputEncoder: Encoder[GradBuf] = Encoders.product[GradBuf]
  }

  /** Collect the per-cluster aggregation of `agg` over (cluster, series)
    * rows — k tiny rows on the driver. */
  private def aggByCluster[B](rows: Dataset[(Int, Array[Double])],
                              agg: Aggregator[(Int, Array[Double]), B, B]): Map[Int, B] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_._1).agg(agg.toColumn).collect().toMap
  }

  /** Per-cluster ragged means (euclidean barycenter update). */
  def meanByCluster(rows: Dataset[(Int, Array[Double])]): Map[Int, Array[Double]] =
    aggByCluster(rows, new MeanBaryAgg).map { case (cid, b) =>
      cid -> Array.tabulate(b.sums.length)(t => b.sums(t) / b.wsum(t))
    }

  /** Per-cluster DBA (MM) with `iters` distributed update steps starting
    * from `init` — the k-means `metric="dtw"` update pass. Stops early
    * when the summed normalized cost stops improving by `tol`. */
  def dbaByCluster(rows: Dataset[(Int, Array[Double])], init: Array[Array[Double]],
                   iters: Int, tol: Double = 1e-5): Map[Int, Array[Double]] = {
    val centers = init.map(c => if (c == null) null else c.clone())
    var present: Set[Int] = Set.empty
    var prevCost = Double.PositiveInfinity
    var it = 0
    var done = false
    while (it < iters && !done) {
      val bufs = aggByCluster(rows, new DbaStepAgg(centers))
      present = bufs.keySet
      var cost = 0.0
      bufs.foreach { case (cid, b) =>
        centers(cid) = Array.tabulate(centers(cid).length)(t =>
          if (b.wsum(t) > 0) b.sums(t) / b.wsum(t) else centers(cid)(t))
        cost += b.cost / math.max(1L, b.n)
      }
      if (prevCost - cost < tol) done = true
      prevCost = cost
      it += 1
    }
    present.map(cid => cid -> centers(cid)).toMap
  }

  /** Soft-DTW barycenter update as `steps` FIXED-η gradient-descent steps
    * from the CURRENT centers (the k-means `metric="softdtw"` update in
    * its oracle-replayable form): b ← b − η·Σ_{x∈cluster} ∇_b softDTW(b, x),
    * one distributed SoftDtwGradAgg pass per step evaluating all k
    * clusters at once. The deterministic analog of the reference's
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
      val bufs = aggByCluster(rows, new SoftDtwGradAgg(centers, gamma))
      present = bufs.keySet
      bufs.foreach { case (cid, b) =>
        val c = centers(cid)
        var t = 0
        while (t < c.length) { c(t) -= eta * b.grad(t); t += 1 }
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
        val bufs = aggByCluster(rows, new SoftDtwGradAgg(centers, gamma))
        val grad = DenseVector.zeros[Double](v.length)
        var value = 0.0
        cids.indices.foreach { i =>
          bufs.get(cids(i)).foreach { b =>
            value += b.value
            var t = 0
            while (t < b.grad.length) { grad(offsets(i) + t) = b.grad(t); t += 1 }
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
    shapesWithInertia(withZeroDist(rows), centers, steps = 0)._1

  private def withZeroDist(rows: Dataset[(Int, Array[Double])])
      : Dataset[(Int, Double, Array[Double])] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.map { case (c, v) => (c, 0.0, v) }
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
    shapesWithInertia(withZeroDist(rows), centers, steps)._1
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
      var v = powerInit(sz)
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

  /** KShape gram + Σd² fused pass (VERDICT r17 #6, guide §1.2): one job per
    * Lloyd iteration computes BOTH the per-cluster shape grams and the
    * inertia numerator that used to be a separate reduce over the same
    * cached assignment. Rows carry the SBD distance already computed by the
    * assignment map, so the distances are bit-identical to the two-job path
    * by construction (no cross-path recompute); the shape finishers are the
    * shared float paths above. Returns (shapes, Σd² over all rows) — the
    * Σd² total folds the k per-cluster sums in ascending cluster order. */
  def shapesWithInertia(rows: Dataset[(Int, Double, Array[Double])],
                        centers: Array[Array[Double]],
                        steps: Int): (Map[Int, Array[Double]], Double) = {
    val spark = rows.sparkSession
    import spark.implicits._
    val agg = new GramD2Agg(centers)
    val bufs = rows.groupByKey(_._1).agg(agg.toColumn).collect().toMap
    val shapes = bufs.map { case (cid, b) =>
      val sz = centers(cid).length
      cid -> (if (steps > 0) finishShapePower(b.gram, b.xsum, sz, steps)
              else finishShapeEig(b.gram, b.xsum, sz))
    }
    val d2 = bufs.toSeq.sortBy(_._1).map(_._2.d2).sum
    (shapes, d2)
  }

  /** Whole-dataset DBA (MM variant) — `dba.py:394-604` distributed: init
    * from the distributed euclidean mean, then one DbaStepAgg job per MM
    * iteration against the re-broadcast center. */
  def dba(series: Dataset[Array[Double]], barycenterSize: Int = -1,
          maxIter: Int = 30, tol: Double = 1e-5): Array[Double] = {
    val spark = series.sparkSession
    import spark.implicits._
    // localCheckpoint: the mean pass + every MM iteration re-reads these
    // rows; without it the caller's (often expensive) upstream pipeline
    // re-evaluates once per iteration
    val keyed = series.map(x => (0, x)).localCheckpoint()
    val mean = meanByCluster(keyed)(0)
    val size = if (barycenterSize > 0) barycenterSize else mean.length
    val init = Kernels.resample(Kernels.uni(mean), size).map(_(0))
    dbaByCluster(keyed, Array(init), maxIter, tol)(0)
  }
}
