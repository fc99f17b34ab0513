package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Cdist

/** ε-SVR with the Global Alignment Kernel — semantics of
  * `/root/reference/tslearn/svm/svm.py:276-421` (TimeSeriesSVR wraps an
  * ε-SVR over a precomputed GAK gram).
  *
  * Spark split mirrors [[TimeSeriesSVC]]: the O(n²) gram is computed
  * distributed by `Cdist.gakSelfGram` (triangle self-join + mirror, each
  * series' log self-GAK computed once) and collected, and predict's
  * probe × support-vector gram comes from `Cdist.gakCross`; the dual
  * solve runs on the driver (documented scale limit n ≲ 10⁴ candidate
  * support vectors — identical to the reference's libsvm solve).
  *
  * Dual: minimize ½βᵀKβ − βᵀy + ε‖β‖₁ s.t. Σβ = 0, β ∈ [−C, C]ⁿ, via
  * SMO-style pairwise updates (β_i + β_j invariant preserves Σβ = 0);
  * each 1-D subproblem is piecewise quadratic and solved exactly by
  * evaluating the four sign-region minimizers, the kinks and the box
  * edges. Prediction: f(x) = Σ β_j K(x_j, x) + b.
  */
object TimeSeriesSVR {

  /** Pairwise SMO on the precomputed kernel matrix (driver-side). */
  def smoSolveRegression(kMat: Array[Array[Double]], y: Array[Double], c: Double,
                         eps: Double, tol: Double = 1e-6, maxPasses: Int = 20,
                         seed: Long = 0L): (Array[Double], Double) = {
    val n = y.length
    val beta = new Array[Double](n)
    // F_i = Σ_m β_m K_im − y_i (gradient of the smooth part)
    val f = Array.tabulate(n)(i => -y(i))
    val rng = new scala.util.Random(seed)

    def objDelta(i: Int, j: Int, t: Double, eta: Double): Double =
      0.5 * eta * t * t + (f(i) - f(j)) * t +
        eps * (math.abs(beta(i) + t) - math.abs(beta(i))) +
        eps * (math.abs(beta(j) - t) - math.abs(beta(j)))

    var pass = 0
    while (pass < maxPasses) {
      var improved = 0
      var i = 0
      while (i < n) {
        var j = rng.nextInt(n - 1)
        if (j >= i) j += 1
        val eta = kMat(i)(i) + kMat(j)(j) - 2 * kMat(i)(j)
        if (eta > 1e-12) {
          val lo = math.max(-c - beta(i), beta(j) - c)
          val hi = math.min(c - beta(i), beta(j) + c)
          if (lo < hi) {
            // candidate minimizers: one per (sign(β_i+t), sign(β_j−t))
            // region, plus the two kinks and the box edges
            var bestT = 0.0; var bestV = 0.0
            val cands = Array(
              -(f(i) - f(j) + eps * (1 - 1)) / eta,
              -(f(i) - f(j) + eps * (1 + 1)) / eta,
              -(f(i) - f(j) + eps * (-1 - 1)) / eta,
              -(f(i) - f(j) + eps * (-1 + 1)) / eta,
              -beta(i), beta(j), lo, hi)
            var ci = 0
            while (ci < cands.length) {
              val t = math.max(lo, math.min(hi, cands(ci)))
              val v = objDelta(i, j, t, eta)
              if (v < bestV - 1e-15) { bestV = v; bestT = t }
              ci += 1
            }
            if (math.abs(bestT) > tol && bestV < -1e-12) {
              beta(i) += bestT; beta(j) -= bestT
              var m = 0
              while (m < n) { f(m) += bestT * (kMat(i)(m) - kMat(j)(m)); m += 1 }
              improved += 1
            }
          }
        }
        i += 1
      }
      if (improved == 0) pass += 1 else pass = 0
    }
    // bias from interior support vectors: y_i − Σβ K_i· − ε·sign(β_i)
    val interior = (0 until n).filter(i =>
      math.abs(beta(i)) > 1e-8 && math.abs(beta(i)) < c - 1e-8)
    val b =
      if (interior.nonEmpty)
        interior.map(i => y(i) - (f(i) + y(i)) - eps * math.signum(beta(i))).sum / interior.size
      else {
        // fallback: median residual over all points
        val res = (0 until n).map(i => y(i) - (f(i) + y(i))).sorted
        if (res.isEmpty) 0.0 else res(res.length / 2)
      }
    (beta, b)
  }

  case class Model(svIds: Array[Long], svBeta: Array[Double], b: Double, sigma: Double)

  /** Fit on (series_id, values, target DOUBLE). */
  def fit(df: DataFrame, c: Double = 1.0, eps: Double = 0.1, sigma: Double = -1.0,
          seed: Long = 0L, blocks: Int = 0): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val sig = if (sigma > 0) sigma else TimeSeriesSVC.sigmaGak(df)
    val gram = TimeSeriesSVC.collectGram(Cdist.gakSelfGram(df, sig, blocks))
    val labeled = df.select(col("series_id").cast("long"), col("target").cast("double"))
      .as[(Long, Double)].collect()
    val ids = labeled.map(_._1)
    val y = labeled.map(_._2)
    val kMat = Array.tabulate(ids.length, ids.length)((a, b) => gram((ids(a), ids(b))))
    val (beta, bias) = smoSolveRegression(kMat, y, c, eps, seed = seed)
    val sv = ids.indices.filter(i => math.abs(beta(i)) > 1e-9)
    Model(sv.map(ids(_)).toArray, sv.map(beta(_)).toArray, bias, sig)
  }

  /** Predict: distributed probe×SV gram, then one weighted-sum agg. */
  def predict(model: Model, probes: DataFrame, train: DataFrame): DataFrame = {
    val spark = probes.sparkSession
    val betaOf = model.svIds.zip(model.svBeta).toMap
    val bc = spark.sparkContext.broadcast(betaOf)
    val bias = model.b
    val svTrain = train.where(col("series_id").isin(model.svIds.toSeq: _*))
    val gram = Cdist.gakCross(probes, svTrain, model.sigma)
    val betaUdf = udf((id: Long) => bc.value(id))
    gram.withColumn("w", betaUdf(col("right_id")) * col("dist"))
      .groupBy(col("left_id").as("series_id"))
      .agg((sum("w") + bias).as("prediction"))
  }
}
