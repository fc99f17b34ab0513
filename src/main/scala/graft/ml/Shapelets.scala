package graft.ml

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Shapelet transform + classifier — semantics of
  * `/root/reference/tslearn/shapelets/shapelets.py:212-887`, Spark-first:
  *
  *  - shapelet → feature = min over positions of ‖patch − shapelet‖²/len
  *    (the `LocalSquaredDistanceLayer` + `GlobalMinPooling1D` pair,
  *    `shapelets.py:115-155,28-55`) — computed as ONE kernel call per row
  *    over the broadcast shapelet set, no per-(row,shapelet) join.
  *  - shapelet init = k-means over sampled segments
  *    (`shapelets.py:78-109`); sizes from the Grabocka heuristic
  *    (`:158-209`).
  *  - classification head = MLlib LogisticRegression on the transform
  *    features (replaces the Keras logistic head; the end-to-end gradient
  *    refinement of shapelet positions is documented future work,
  *    SURVEY §7.4).
  */
object Shapelets {

  /** Grabocka-heuristic shapelet sizes: l ≈ 0.15·sz, a few scales —
    * `shapelets.py:158-209` simplified to its published shape. */
  def suggestSizes(sz: Int, nScales: Int = 2): Seq[Int] =
    (1 to nScales).map(s => math.max(2, (0.15 * s * sz).toInt)).distinct

  /** The full Grabocka et al. (SIGKDD 2014) heuristic —
    * `grabocka_params_to_shapelet_size_dict` (`shapelets.py:158-209`):
    * r shapelet lengths at multiples of base = max(1, ⌊l·ts_sz⌋), each
    * with max(1, ⌊log₁₀(n_ts·(ts_sz−len+1)·(n_classes−1))⌋) shapelets. */
  def grabockaParamsToShapeletSizes(nTs: Int, tsSz: Int, nClasses: Int,
                                    l: Double, r: Int): Map[Int, Int] = {
    val base = math.max((l * tsSz).toInt, 1)
    (0 until math.min(r, tsSz)).map { i =>
      val sz = base * (i + 1)
      val n = math.max(1,
        math.log10(nTs.toDouble * (tsSz - sz + 1) * (nClasses - 1)).toInt)
      sz -> n
    }.toMap
  }

  /** Sample candidate segments and k-means them into shapelets (driver
    * side on a bounded sample — shapelet sets are small by design). */
  def initShapelets(df: DataFrame, sizes: Seq[Int], perSize: Int,
                    seed: Long = 0L, seriesCol: String = "values"): Array[Array[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    // seeded whole-dataset sample, not .take — take(200) reads the first
    // partition only, so sorted/partitioned input biases the shapelet pool
    val ds = df.select(col(seriesCol).cast("array<double>")).as[Array[Double]]
    val sampled = ds.sample(withReplacement = false, 0.2, seed).take(200)
    val sample = if (sampled.length >= 50) sampled else ds.take(200)
    val rng = new scala.util.Random(seed)
    sizes.flatMap { sz =>
      val segs = for {
        s <- sample.toSeq if s.length >= sz
        _ <- 1 to 4
      } yield {
        val start = rng.nextInt(s.length - sz + 1)
        java.util.Arrays.copyOfRange(s, start, start + sz)
      }
      // tiny local k-means to pick perSize representative segments
      kmeansLocal(segs.toArray, perSize, rng)
    }.toArray
  }

  private def kmeansLocal(xs: Array[Array[Double]], k: Int, rng: scala.util.Random,
                          iters: Int = 10): Array[Array[Double]] = {
    if (xs.isEmpty) return Array.empty
    var centers = Array.tabulate(math.min(k, xs.length))(_ => xs(rng.nextInt(xs.length)).clone())
    for (_ <- 1 to iters) {
      val assign = xs.map(x => centers.indices.minBy(c => sqDist(centers(c), x)))
      centers = centers.indices.map { c =>
        val members = xs.indices.filter(assign(_) == c)
        if (members.isEmpty) xs(rng.nextInt(xs.length)).clone()
        else {
          val out = new Array[Double](centers(c).length)
          members.foreach(m => xs(m).indices.foreach(i => out(i) += xs(m)(i)))
          out.map(_ / members.length)
        }
      }.toArray
    }
    centers
  }

  @inline private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Sliding min normalized squared distance of one shapelet within a
    * series (`shapelets.py:115-155` semantics). */
  def minDist(series: Array[Double], shapelet: Array[Double]): Double = {
    val m = shapelet.length
    if (series.length < m) return Double.PositiveInfinity
    var best = Double.PositiveInfinity
    var pos = 0
    while (pos <= series.length - m) {
      var s = 0.0; var i = 0
      while (i < m) { val d = series(pos + i) - shapelet(i); s += d * d; i += 1 }
      if (s < best) best = s
      pos += 1
    }
    best / m
  }

  /** Position of the best match (`locate`, `shapelets.py:560-585`). */
  def locate(series: Array[Double], shapelet: Array[Double]): Int = {
    val m = shapelet.length
    var best = Double.PositiveInfinity; var bestPos = 0
    var pos = 0
    while (pos <= series.length - m) {
      var s = 0.0; var i = 0
      while (i < m) { val d = series(pos + i) - shapelet(i); s += d * d; i += 1 }
      if (s < best) { best = s; bestPos = pos }
      pos += 1
    }
    bestPos
  }

  /** Shapelet-transform a series DataFrame: one feature column per
    * shapelet (single UDF call per row over the broadcast shapelet set). */
  def transform(df: DataFrame, shapelets: Array[Array[Double]],
                seriesCol: String = "values"): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(shapelets)
    val f = udf((s: scala.collection.Seq[Double]) => {
      val arr = s.toArray
      bc.value.map(sh => minDist(arr, sh))
    })
    df.withColumn("shapelet_features", f(col(seriesCol)))
  }

  case class Model(shapelets: Array[Array[Double]],
                   lr: org.apache.spark.ml.classification.LogisticRegressionModel,
                   labels: Array[String]) {
    def predict(df: DataFrame, seriesCol: String = "values"): DataFrame = {
      val feats = transform(df, shapelets, seriesCol)
      val assembled = feats.withColumn("features",
        arrayToVectorUdf(col("shapelet_features")))
      val out = lr.transform(assembled)
      val labelMap = labels
      val toLabel = udf((i: Double) => labelMap(i.toInt))
      out.select(col("series_id"), toLabel(col("prediction")).as("label"))
    }
  }

  private val arrayToVectorUdf = udf((a: scala.collection.Seq[Double]) =>
    org.apache.spark.ml.linalg.Vectors.dense(a.toArray))

  /** min distance AND its argmin position in one sweep. */
  def minDistWithPos(series: Array[Double], shapelet: Array[Double]): (Double, Int) = {
    val m = shapelet.length
    if (series.length < m) return (Double.PositiveInfinity, 0)
    var best = Double.PositiveInfinity; var bestPos = 0
    var pos = 0
    while (pos <= series.length - m) {
      var s = 0.0; var i = 0
      while (i < m) { val d = series(pos + i) - shapelet(i); s += d * d; i += 1 }
      if (s < best) { best = s; bestPos = pos }
      pos += 1
    }
    (best / m, bestPos)
  }

  /** Flat gradient buffer for one refinement step: shapelet grads ++
    * softmax-head grads ++ loss ++ count. */
  private class GradAgg(shapelets: Array[Array[Double]], w: Array[Array[Double]],
                        b: Array[Double])
      extends org.apache.spark.sql.expressions.Aggregator[
        (Array[Double], Int), Array[Double], Array[Double]] with Serializable {
    private val kS = shapelets.length
    private val nC = b.length
    private val shapeletLen = shapelets.map(_.length)
    private val shapeletOff = shapeletLen.scanLeft(0)(_ + _)
    private val nShapeletParams = shapeletOff.last
    private val size = nShapeletParams + nC * kS + nC + 2 // +loss +n

    def zero: Array[Double] = new Array[Double](size)

    def reduce(g: Array[Double], in: (Array[Double], Int)): Array[Double] = {
      val (x, y) = in
      // forward: features f_k = min-pos distance, remember argmin
      val f = new Array[Double](kS)
      val pos = new Array[Int](kS)
      var k = 0
      while (k < kS) {
        val (d, p) = minDistWithPos(x, shapelets(k))
        f(k) = d; pos(k) = p
        k += 1
      }
      val logits = Array.tabulate(nC) { c =>
        var s = b(c); var kk = 0
        while (kk < kS) { s += w(c)(kk) * f(kk); kk += 1 }
        s
      }
      val mx = logits.max
      val exps = logits.map(v => math.exp(v - mx))
      val z = exps.sum
      val p = exps.map(_ / z)
      g(size - 2) += -math.log(math.max(1e-12, p(y))) // loss
      g(size - 1) += 1.0 // count
      // backward
      val dLogit = Array.tabulate(nC)(c => p(c) - (if (c == y) 1.0 else 0.0))
      var c = 0
      while (c < nC) {
        g(nShapeletParams + nC * kS + c) += dLogit(c) // bias grad
        var kk = 0
        while (kk < kS) {
          g(nShapeletParams + c * kS + kk) += dLogit(c) * f(kk) // W grad
          kk += 1
        }
        c += 1
      }
      k = 0
      while (k < kS) {
        var gf = 0.0
        var cc = 0
        while (cc < nC) { gf += dLogit(cc) * w(cc)(k); cc += 1 }
        // d f_k / d S_k[t] = 2 (S_k[t] − x[p*+t]) / len — subgradient at
        // the argmin position (the reference's min-pooling backward)
        val len = shapeletLen(k)
        val p0 = pos(k)
        var t = 0
        while (t < len) {
          g(shapeletOff(k) + t) += gf * 2.0 * (shapelets(k)(t) - x(p0 + t)) / len
          t += 1
        }
        k += 1
      }
      g
    }

    def merge(a: Array[Double], b2: Array[Double]): Array[Double] = {
      var i = 0
      while (i < size) { a(i) += b2(i); i += 1 }
      a
    }
    def finish(g: Array[Double]): Array[Double] = g
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** Refined model: shapelets + softmax head trained END-TO-END. */
  case class RefinedModel(shapelets: Array[Array[Double]], w: Array[Array[Double]],
                          b: Array[Double], labels: Array[String],
                          lossHistory: Array[Double]) {
    def predict(df: DataFrame, seriesCol: String = "values"): DataFrame = {
      val spark = df.sparkSession
      val bcS = spark.sparkContext.broadcast(this)
      val f = udf((s: scala.collection.Seq[Double]) => {
        val m = bcS.value
        val x = s.toArray
        val feats = m.shapelets.map(sh => minDist(x, sh))
        val logits = m.b.indices.map { c =>
          m.b(c) + m.w(c).zip(feats).map { case (wv, fv) => wv * fv }.sum
        }
        m.labels(logits.zipWithIndex.maxBy { case (v, i) => (v, -i) }._2)
      })
      df.select(col("series_id"), f(col(seriesCol)).as("label"))
    }
  }

  /** End-to-end gradient refinement — the reference's training loop
    * (`shapelets.py:318-420`: min-pool features + softmax head, SGD into
    * the shapelets through the argmin) as driver Adam over ONE distributed
    * gradient aggregation per step. The gradient buffer is a fixed-size
    * flat array with map-side combine, so a step costs one job regardless
    * of data size; shapelets travel in the task closure (k·len doubles). */
  def fitRefined(df: DataFrame, perSize: Int = 4, iters: Int = 30,
                 lr: Double = 0.1, seed: Long = 0L): RefinedModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val sz = df.select(size(col("values"))).as[Int].head()
    val shapelets = initShapelets(df, suggestSizes(sz), perSize, seed)
    val labels = df.select(col("label").cast("string")).distinct()
      .as[String].collect().sorted
    val labelIdx = labels.zipWithIndex.toMap
    val nC = labels.length
    val kS = shapelets.length
    val rng = new scala.util.Random(seed)
    val w = Array.fill(nC, kS)(0.01 * rng.nextGaussian())
    val b = new Array[Double](nC)
    val rows = df.select(col("values").cast("array<double>"),
        col("label").cast("string"))
      .as[(Array[Double], String)]
      .map { case (v, l) => (v, labelIdx(l)) }
    // Adam state over the flat parameter vector
    val lens = shapelets.map(_.length)
    val offs = lens.scanLeft(0)(_ + _)
    val nP = offs.last + nC * kS + nC
    val mAdam = new Array[Double](nP)
    val vAdam = new Array[Double](nP)
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    TimeSeriesKMeans.withFitInput(rows) { (data, _) =>
      var it = 0
      while (it < iters) {
        val g = data.groupByKey(_ => 0)
          .agg(new GradAgg(shapelets, w, b).toColumn).collect().head._2
        val n = math.max(1.0, g(g.length - 1))
        losses += g(g.length - 2) / n
        adamStep(g, n, it + 1, lr, mAdam, vAdam, shapelets, w, b, offs)
        it += 1
      }
    }
    RefinedModel(shapelets, w, b, labels, losses.toArray)
  }

  /** One bias-corrected Adam update (β1=0.9, β2=0.999, ε=1e-8) applied
    * in place over the flat (shapelets ++ w ++ b) parameter vector. */
  private def adamStep(g: Array[Double], n: Double, t: Int, lr: Double,
                       mAdam: Array[Double], vAdam: Array[Double],
                       shapelets: Array[Array[Double]],
                       w: Array[Array[Double]], b: Array[Double],
                       offs: Array[Int]): Unit = {
    val nC = b.length
    val kS = shapelets.length
    val nP = offs.last + nC * kS + nC
    val (b1, b2, eps) = (0.9, 0.999, 1e-8)
    var i = 0
    while (i < nP) {
      val grad = g(i) / n
      mAdam(i) = b1 * mAdam(i) + (1 - b1) * grad
      vAdam(i) = b2 * vAdam(i) + (1 - b2) * grad * grad
      val mh = mAdam(i) / (1 - math.pow(b1, t))
      val vh = vAdam(i) / (1 - math.pow(b2, t))
      val step = lr * mh / (math.sqrt(vh) + eps)
      if (i < offs.last) {
        val k = offs.indices.dropRight(1).find(kk => i < offs(kk + 1)).get
        shapelets(k)(i - offs(k)) -= step
      } else if (i < offs.last + nC * kS) {
        val ci = (i - offs.last) / kS
        w(ci)((i - offs.last) % kS) -= step
      } else b(i - offs.last - nC * kS) -= step
      i += 1
    }
  }

  /** Fixed-iteration refined-gradient loop from EXPLICIT init — the
    * oracle-able whole of [[fitRefined]]: `iters` full bias-corrected
    * Adam steps (not the t=1 degenerate of [[refineStep]]), one GradAgg
    * distributed pass per step, deterministic given the inputs. The SQL
    * trace oracle (shapeletTraceSql) replays every step including the
    * Adam moment state, so the entire classifier fit is
    * driver-verifiable (ts_shapelet_classify). Returns the final
    * (shapelets, w, b). */
  def refineLoop(df: DataFrame, shapelets0: Array[Array[Double]],
                 w0: Array[Array[Double]], b0: Array[Double], lr: Double,
                 iters: Int, labels: Array[String])
      : (Array[Array[Double]], Array[Array[Double]], Array[Double]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val labelIdx = labels.zipWithIndex.toMap
    val shapelets = shapelets0.map(_.clone())
    val w = w0.map(_.clone())
    val b = b0.clone()
    val offs = shapelets.map(_.length).scanLeft(0)(_ + _)
    val nP = offs.last + b.length * shapelets.length + b.length
    val mAdam = new Array[Double](nP)
    val vAdam = new Array[Double](nP)
    val data = df.select(col("values").cast("array<double>"), col("label").cast("string"))
      .as[(Array[Double], String)]
      .map { case (v, l) => (v, labelIdx(l)) }
      .localCheckpoint(eager = false) // filled by the first step's pass
    try {
      var it = 0
      while (it < iters) {
        val g = data.groupByKey(_ => 0)
          .agg(new GradAgg(shapelets, w, b).toColumn).collect().head._2
        val n = math.max(1.0, g(g.length - 1))
        adamStep(g, n, it + 1, lr, mAdam, vAdam, shapelets, w, b, offs)
        it += 1
      }
    } finally TimeSeriesKMeans.releaseLocalCheckpoint(data)
    (shapelets, w, b)
  }

  /** ONE refined-gradient Adam step from EXPLICIT (shapelets, w, b) —
    * the oracle-able unit of [[fitRefined]]: the same GradAgg
    * distributed pass (min-pool forward, softmax head, argmin
    * subgradient backward), then the Adam update at t=1 with zero
    * moments, which algebraically reduces to
    * θ ← θ − lr·g/(|g|+ε). Deterministic given the inputs, so an
    * external SQL oracle can replay the whole step (ts_shapelet_step).
    * Returns the updated (shapelets, w, b). */
  def refineStep(df: DataFrame, shapelets0: Array[Array[Double]],
                 w0: Array[Array[Double]], b0: Array[Double], lr: Double,
                 labels: Array[String]): (Array[Array[Double]], Array[Array[Double]], Array[Double]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val labelIdx = labels.zipWithIndex.toMap
    val shapelets = shapelets0.map(_.clone())
    val w = w0.map(_.clone())
    val b = b0.clone()
    val data = df.select(col("values").cast("array<double>"), col("label").cast("string"))
      .as[(Array[Double], String)]
      .map { case (v, l) => (v, labelIdx(l)) }
    val g = data.groupByKey(_ => 0)
      .agg(new GradAgg(shapelets, w, b).toColumn).collect().head._2
    val n = math.max(1.0, g(g.length - 1))
    val nC = b.length
    val kS = shapelets.length
    val offs = shapelets.map(_.length).scanLeft(0)(_ + _)
    val nP = offs.last + nC * kS + nC
    val eps = 1e-8
    var i = 0
    while (i < nP) {
      val grad = g(i) / n
      // Adam t=1, zero moments: mhat = grad, vhat = grad²
      val step = lr * grad / (math.sqrt(grad * grad) + eps)
      if (i < offs.last) {
        val k = offs.indices.dropRight(1).find(kk => i < offs(kk + 1)).get
        shapelets(k)(i - offs(k)) -= step
      } else if (i < offs.last + nC * kS) {
        val ci = (i - offs.last) / kS
        w(ci)((i - offs.last) % kS) -= step
      } else b(i - offs.last - nC * kS) -= step
      i += 1
    }
    (shapelets, w, b)
  }

  /** Fit: init shapelets, transform, logistic head. Input needs
    * (series_id, values, label STRING). */
  def fit(df: DataFrame, perSize: Int = 4, seed: Long = 0L): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val sz = df.select(size(col("values"))).as[Int].head()
    val shapelets = initShapelets(df, suggestSizes(sz), perSize, seed)
    val labels = df.select(col("label").cast("string")).distinct()
      .as[String].collect().sorted
    val labelIdx = labels.zipWithIndex.toMap
    val toIdx = udf((l: String) => labelIdx(l).toDouble)
    val feats = transform(df, shapelets)
      .withColumn("features", arrayToVectorUdf(col("shapelet_features")))
      .withColumn("label_idx", toIdx(col("label").cast("string")))
      .select("series_id", "features", "label_idx")
    val lr = TimeSeriesKMeans.withFitInput(feats) { (data, _) =>
      new org.apache.spark.ml.classification.LogisticRegression()
        .setFeaturesCol("features").setLabelCol("label_idx")
        .setMaxIter(50).setRegParam(0.01)
        .fit(data)
    }
    Model(shapelets, lr, labels)
  }
}
