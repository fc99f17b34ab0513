package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Non-myopic early classification (Dachraoui et al., ECML/PKDD 2015) —
  * full-fidelity counterpart of
  * `/root/reference/tslearn/early_classification/early_classification.py:16-580`
  * (NonMyopicEarlyClassifier), including the per-(t, cluster) confusion
  * tensors (`:181-210`) and the expected-cost stopping rule (`:350-359`)
  * that the simplified [[EarlyClassifier]] fast path replaces with a
  * per-t accuracy scalar.
  *
  * Spark-first fit (three distributed passes over the series, no per-t job
  * fan-out):
  *   1. cluster: [[TimeSeriesKMeans]] (distributed assign/update);
  *   2. `pyck_`  — one `groupBy(label, cluster).count()`;
  *   3. `pyhatyck_` — each calibration-half row computes its 1NN label for
  *      EVERY truncation length t in a single incremental O(|train|·sz)
  *      pass (running squared prefix distances), then ONE
  *      `groupBy(t, cluster, y, yhat).count()` builds all sz confusion
  *      matrices at once — instead of the reference's sz sequential
  *      classifier fits.
  *
  * Determinism: the reference's `train_test_split(..., stratify=c_k,
  * random_state)` is replaced by a deterministic stratified split
  * (within each cluster, series ordered by id alternate train/calibrate).
  * Same stratification semantics, reproducible without NumPy RNG state.
  *
  * Driver/broadcast ceiling: like the reference (a single-node estimator),
  * the 1NN train half lives in a broadcast; n_train·sz doubles must fit in
  * executor memory. The confusion tensors are (sz·k·c²) — tiny.
  *
  * Input: DataFrame(series_id LONG, values ARRAY<DOUBLE>, label STRING),
  * equal-length series.
  */
class NonMyopicEarlyClassifier(
    val nClusters: Int = 2,
    val minT: Int = 1,
    val lamb: Double = 1.0,
    val costTimeParameter: Double = 1.0,
    val seed: Long = 0L) extends Serializable {

  case class Model(labels: Array[String],
                   centers: Array[Array[Double]],
                   trainValues: Array[Array[Double]],
                   trainLabelIdx: Array[Int],
                   pyck: Array[Array[Double]],               // [y][k]
                   pyhatyck: Array[Array[Array[Array[Double]]]], // [t-minT][k][y][yhat]
                   minT: Int, sz: Int, lamb: Double,
                   costTimeParameter: Double) extends Serializable {

    private def nClusters: Int = centers.length
    private def nClasses: Int = labels.length

    /** P(c_k | Xi) for a prefix — `early_classification.py:213-283`:
      * sigmoid of the relative gap to the mean center distance. */
    def clusterProbas(prefix: Array[Double]): Array[Double] = {
      val t = prefix.length
      val d = Array.tabulate(nClusters) { c =>
        var s = 0.0; var i = 0
        val ctr = centers(c)
        while (i < t && i < ctr.length) { val df = prefix(i) - ctr(i); s += df * df; i += 1 }
        math.sqrt(s)
      }
      val avg = d.sum / nClusters
      val sk =
        if (avg == 0.0) Array.fill(nClusters)(1.0)
        else d.map(x => 1.0 / (1.0 + math.exp(-lamb * (1.0 - x / avg))))
      val tot = sk.sum
      sk.map(_ / tot)
    }

    /** Expected future costs for horizons tau = 0..sz-t —
      * `early_classification.py:285-348`:
      * cost(tau) = Σ_k P(c_k|Xi) Σ_y P(y|c_k) Σ_ŷ P_{t+tau}(ŷ|y,c_k)
      * plus the time cost α·(t+tau). */
    def expectedCosts(prefix: Array[Double]): Array[Double] = {
      val t = prefix.length
      val pc = clusterProbas(prefix)
      Array.tabulate(sz - t + 1) { tau =>
        val conf = pyhatyck(t + tau - minT) // [k][y][yhat]
        var cost = 0.0
        var k = 0
        while (k < nClusters) {
          var y = 0
          while (y < nClasses) {
            var s = 0.0
            var yh = 0
            while (yh < nClasses) { s += conf(k)(y)(yh); yh += 1 }
            cost += pc(k) * pyck(y)(k) * s
            y += 1
          }
          k += 1
        }
        cost + costTimeParameter * (t + tau)
      }
    }

    /** 1NN label index among the train half's t-prefixes (first minimum in
      * deterministic train order, matching sklearn's first-hit argmin). */
    def classifyAt(prefix: Array[Double], t: Int): Int = {
      var best = 0; var bestD = Double.PositiveInfinity
      var j = 0
      while (j < trainValues.length) {
        var s = 0.0; var i = 0
        val tv = trainValues(j)
        while (i < t) { val df = prefix(i) - tv(i); s += df * df; i += 1 }
        if (s < bestD) { bestD = s; best = j }
        j += 1
      }
      trainLabelIdx(best)
    }

    /** Optimal prediction time — `early_classification.py:350-359`: walk t
      * from minT; stop when the expected-cost argmin is tau=0 (or at sz). */
    def predictionTime(xi: Array[Double]): Int = {
      var t = minT
      while (t < sz) {
        val costs = expectedCosts(xi.take(t))
        var argmin = 0; var mn = costs(0)
        var i = 1
        while (i < costs.length) { if (costs(i) < mn) { mn = costs(i); argmin = i }; i += 1 }
        if (argmin == 0) return t
        t += 1
      }
      sz
    }

    /** Batch predict: (series_id, decided_at, label, proba) — the
      * class-and-earliness / proba-and-earliness surface
      * (`early_classification.py:401-514`); 1NN proba is one-hot. */
    def predict(df: DataFrame, seriesCol: String = "values"): DataFrame = {
      val spark = df.sparkSession
      val bc = spark.sparkContext.broadcast(this)
      val f = udf((s: scala.collection.Seq[Double]) => {
        val m = bc.value
        val xi = s.toArray
        val t = m.predictionTime(xi)
        val yi = m.classifyAt(xi, t)
        val proba = Array.tabulate(m.labels.length)(i => if (i == yi) 1.0 else 0.0)
        (t, m.labels(yi), proba)
      })
      df.withColumn("_d", f(col(seriesCol)))
        .select(col("series_id"), col("_d._1").as("decided_at"),
          col("_d._2").as("label"), col("_d._3").as("proba"))
    }

    /** 1 - acc + α·mean(t_i) — `early_classification.py:519-574`. */
    def earlyClassificationCost(df: DataFrame): Double = {
      val out = predict(df.withColumnRenamed("label", "y"))
        .join(df.select(col("series_id"), col("label").cast("string").as("y")), "series_id")
      val row = out.agg(
        avg(when(col("label") === col("y"), 1.0).otherwise(0.0)),
        avg(col("decided_at").cast("double"))).head()
      (1.0 - row.getDouble(0)) + costTimeParameter * row.getDouble(1)
    }
  }

  def fit(df: DataFrame): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val data = df.select(col("series_id").cast("long"), col("values").cast("array<double>"),
      col("label").cast("string")).cache()
    try {
      val sz = data.select(size(col("values"))).head().getInt(0)
      val labels = data.select("label").distinct().as[String].collect().sorted
      val labelIdx = labels.zipWithIndex.toMap

      // 1. cluster (distributed k-means; deterministic by seed)
      val km = new TimeSeriesKMeans(nClusters, metric = "euclidean", seed = seed)
        .fit(data.select("series_id", "values"))
      val centers = km.centroids
      val assigned = km.predict(data.select("series_id", "values"))
        .select(col("series_id"), col("cluster"))
      val joined = data.join(assigned, "series_id")
        .select(col("series_id"), col("values"), col("label"), col("cluster")).cache()
      try {
        // 2. pyck_ : P(y | c_k) — one count aggregation, normalized per cluster
        //    (`early_classification.py:181-186`)
        val pyck = Array.fill(labels.length, nClusters)(0.0)
        joined.groupBy("label", "cluster").count().collect().foreach { r =>
          pyck(labelIdx(r.getString(0)))(r.getInt(1)) = r.getLong(2).toDouble
        }
        for (k <- 0 until nClusters) {
          var tot = 0.0
          for (y <- labels.indices) tot += pyck(y)(k)
          if (tot > 0) for (y <- labels.indices) pyck(y)(k) /= tot
        }

        // deterministic stratified split: within each cluster (ordered by id),
        // alternate train (rank 1,3,5..) / calibration (rank 2,4,..)
        val ranked = joined.withColumn("rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("cluster").orderBy("series_id")))
        val trainRows = ranked.where(col("rn") % 2 === 1)
          .orderBy("cluster", "series_id")
          .select(col("values").cast("array<double>"), col("label"))
          .as[(Array[Double], String)].collect()
        val trainValues = trainRows.map(_._1)
        val trainLabelIdx = trainRows.map(r => labelIdx(r._2))

        // 3. pyhatyck_ : every calibration row emits its 1NN label for ALL t
        //    in one incremental pass, then one groupBy builds every confusion
        //    matrix (`early_classification.py:187-210`)
        val bcTrain = spark.sparkContext.broadcast((trainValues, trainLabelIdx))
        val mT = minT
        val calib = ranked.where(col("rn") % 2 === 0)
          .select(col("cluster"), col("label"), col("values").cast("array<double>"))
          .as[(Int, String, Array[Double])]
        val counts = calib.flatMap { case (ck, y, xs) =>
          val (tv, tl) = bcTrain.value
          val cums = new Array[Double](tv.length)
          val out = new Array[(Int, Int, String, Int)](sz - mT + 1)
          var t = 1
          while (t <= sz) {
            var j = 0
            while (j < tv.length) {
              val d = xs(t - 1) - tv(j)(t - 1); cums(j) += d * d; j += 1
            }
            if (t >= mT) {
              var best = 0; var bestD = Double.PositiveInfinity
              j = 0
              while (j < tv.length) { if (cums(j) < bestD) { bestD = cums(j); best = j }; j += 1 }
              out(t - mT) = (t, ck, y, tl(best))
            }
            t += 1
          }
          out.toSeq
        }.toDF("t", "ck", "y", "yhat")
          .groupBy("t", "ck", "y", "yhat").count().collect()

        val pyhatyck = Array.fill(sz - minT + 1, nClusters, labels.length, labels.length)(0.0)
        counts.foreach { r =>
          pyhatyck(r.getInt(0) - minT)(r.getInt(1))(labelIdx(r.getString(2)))(r.getInt(3)) =
            r.getLong(4).toDouble
        }
        // reference normalization: per predicted-class COLUMN sums
        // (`conf_matrix.sum(axis=0)`), then zero the diagonal (δ_{y≠ŷ})
        for (ti <- 0 until (sz - minT + 1); k <- 0 until nClusters) {
          val m = pyhatyck(ti)(k)
          for (yh <- labels.indices) {
            var colSum = 0.0
            for (y <- labels.indices) colSum += m(y)(yh)
            if (colSum == 0.0) colSum = 1.0
            for (y <- labels.indices) m(y)(yh) /= colSum
          }
          for (y <- labels.indices) m(y)(y) = 0.0
        }
        Model(labels, centers, trainValues, trainLabelIdx, pyck, pyhatyck,
          minT, sz, lamb, costTimeParameter)
      } finally joined.unpersist()
    } finally data.unpersist()
  }
}
