package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MLP classifier on flattened series — semantics of
  * `/root/reference/tslearn/neural_network/neural_network.py:9-168`
  * (flatten `(n, sz, d)` → `(n, sz·d)` then delegate), mapped to MLlib's
  * MultilayerPerceptronClassifier. Equal-length input required. */
object TimeSeriesMLP {

  private val toVec = udf((a: scala.collection.Seq[Double]) =>
    org.apache.spark.ml.linalg.Vectors.dense(a.toArray))

  case class Model(mlp: org.apache.spark.ml.classification.MultilayerPerceptronClassificationModel,
                   labels: Array[String]) {
    def predict(df: DataFrame): DataFrame = {
      val labelMap = labels
      val toLabel = udf((i: Double) => labelMap(i.toInt))
      mlp.transform(df.withColumn("features", toVec(col("values"))))
        .select(col("series_id"), toLabel(col("prediction")).as("label"))
    }
  }

  def fit(df: DataFrame, hidden: Seq[Int] = Seq(32), maxIter: Int = 100,
          seed: Long = 0L): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val sz = df.select(size(col("values"))).as[Int].head()
    val labels = df.select(col("label").cast("string")).distinct().as[String].collect().sorted
    val labelIdx = labels.zipWithIndex.toMap
    val toIdx = udf((l: String) => labelIdx(l).toDouble)
    val prepared = df
      .withColumn("features", toVec(col("values")))
      .withColumn("label_idx", toIdx(col("label").cast("string")))
    val mlp = new org.apache.spark.ml.classification.MultilayerPerceptronClassifier()
      .setLayers((Seq(sz) ++ hidden ++ Seq(labels.length)).toArray)
      .setFeaturesCol("features").setLabelCol("label_idx")
      .setMaxIter(maxIter).setSeed(seed)
      .fit(prepared)
    Model(mlp, labels)
  }
}

/** MLP regressor on flattened series — semantics of
  * `TimeSeriesMLPRegressor` (`neural_network.py:96-168`: flatten, then a
  * dense MLP with squared loss). MLlib has no MLP regressor, so the net
  * is a single-hidden-layer tanh MLP trained with breeze L-BFGS on the
  * driver over collected features (same documented driver-size limit as
  * the SVC/SVR solves); prediction is a distributed single-pass UDF over
  * the broadcast weights. */
object TimeSeriesMLPRegressor {

  case class Model(w1: Array[Array[Double]], b1: Array[Double],
                   w2: Array[Double], b2: Double) {
    def predictOne(x: Array[Double]): Double = {
      var out = b2
      var h = 0
      while (h < b1.length) {
        var a = b1(h)
        var i = 0
        while (i < x.length) { a += w1(h)(i) * x(i); i += 1 }
        out += w2(h) * math.tanh(a)
        h += 1
      }
      out
    }
    def predict(df: DataFrame): DataFrame = {
      val bc = df.sparkSession.sparkContext.broadcast(this)
      val f = udf((a: scala.collection.Seq[Double]) => bc.value.predictOne(a.toArray))
      df.select(col("series_id"), f(col("values")).as("prediction"))
    }
  }

  /** One full-batch gradient step of the squared-loss tanh net as pure
    * DataFrame algebra — the distributed twin of one `calculate` call in
    * [[fit]]'s L-BFGS objective (forward, backward, fixed-η update; no
    * L2 term). Scale shape: every gradient is a grouped sum over the
    * exploded features, so the RESULT relation has h·d + 2h + 1 rows no
    * matter how many series went in — the same d-bounded-output design
    * as the hashed-BoW quality-filter step.
    *
    * Inputs: `df` = (series_id, values ARRAY<DOUBLE>, target DOUBLE);
    * weight relations `w1`(h, i, w), `b1`(h, b), `w2`(h, w) — tiny,
    * broadcast everywhere. Output: (param, idx1, idx2, value) — the
    * POST-step parameters (idx = −1 where unused). */
  def gradStep(df: DataFrame, w1: DataFrame, b1: DataFrame, w2: DataFrame,
               b2: Double, eta: Double): DataFrame = {
    // One materialization of the caller's upstream pipeline (often a
    // full events→series→resample pass): the former shape evaluated it
    // THREE times — the n count, the xv build, and resid's target join
    // (guide §1.2: don't recompute what you already have). xv itself no
    // longer needs its own checkpoint: it derives from d0 by a narrow
    // posexplode, so each consumer replays only the explode.
    // read by the returned lazy frame: the ContextCleaner releases it once that frame is unreachable
    val d0 = df.select(col("series_id").as("sid"), col("target"),
      col("values")).localCheckpoint()
    val n = d0.count().toDouble
    val xv = d0.select(col("sid"), col("target"),
      posexplode(col("values")).as(Seq("i", "x")))
    // forward: a(sid,h) = tanh(b1_h + Σ_i w1[h][i]·x_i)
    val act = xv.join(broadcast(w1), Seq("i"))
      .groupBy(col("sid"), col("h"))
      .agg(sum(col("w") * col("x")).as("s"))
      .join(broadcast(b1), Seq("h"))
      .withColumn("a", tanh(col("s") + col("b")))
      .select("sid", "h", "a")
      // read by the returned lazy frame: the ContextCleaner releases it once that frame is unreachable
      .localCheckpoint() // read by pred, gW2 and gZ
    val w2r = w2.select(col("h"), col("w").as("w2"))
    val resid = act.join(broadcast(w2r), Seq("h"))
      .groupBy("sid").agg((sum(col("w2") * col("a")) + lit(b2)).as("pred"))
      .join(d0.select(col("sid"), col("target")), "sid")
      .select(col("sid"), ((col("pred") - col("target")) / lit(n)).as("gp"))
      // read by the returned lazy frame: the ContextCleaner releases it once that frame is unreachable
      .localCheckpoint()
    val gW2 = act.join(resid, "sid")
      .groupBy("h").agg(sum(col("a") * col("gp")).as("g"))
    val gB2 = resid.agg(sum("gp").as("g"))
    // backward through tanh: gz(sid,h) = gp·w2_h·(1 − a²)
    val gz = act.join(resid, "sid").join(broadcast(w2r), Seq("h"))
      .select(col("sid"), col("h"),
        (col("gp") * col("w2") * (lit(1.0) - col("a") * col("a"))).as("gz"))
    val gW1 = gz.join(xv.select("sid", "i", "x"), "sid")
      .groupBy("h", "i").agg(sum(col("gz") * col("x")).as("g"))
    val gB1 = gz.groupBy("h").agg(sum("gz").as("g"))
    val etaL = lit(eta)
    w1.join(gW1, Seq("h", "i"))
      .select(lit("w1").as("param"), col("h").cast("int").as("idx1"),
        col("i").cast("int").as("idx2"), (col("w") - etaL * col("g")).as("value"))
      .unionAll(b1.join(gB1, Seq("h"))
        .select(lit("b1"), col("h").cast("int"), lit(-1),
          col("b") - etaL * col("g")))
      .unionAll(w2.join(gW2, Seq("h"))
        .select(lit("w2"), col("h").cast("int"), lit(-1),
          col("w") - etaL * col("g")))
      .unionAll(gB2.select(lit("b2"), lit(-1), lit(-1),
        lit(b2) - etaL * col("g")))
  }

  /** Fit on (series_id, values, target DOUBLE). `alpha` is the L2 penalty
    * (sklearn's default 1e-4). */
  def fit(df: DataFrame, hidden: Int = 32, maxIter: Int = 200,
          alpha: Double = 1e-4, seed: Long = 0L): Model = {
    import breeze.linalg.{DenseMatrix, DenseVector, sum => bsum}
    import breeze.numerics.tanh
    import breeze.optimize.{DiffFunction, LBFGS}
    val spark = df.sparkSession
    import spark.implicits._
    val data = df.select(col("values").cast("array<double>"), col("target").cast("double"))
      .as[(Array[Double], Double)].collect()
    val n = data.length
    val d = data(0)._1.length
    val x = DenseMatrix(data.map(_._1): _*)
    val y = DenseVector(data.map(_._2))
    val nParams = hidden * d + hidden + hidden + 1
    val rng = new scala.util.Random(seed)
    // Glorot-ish init
    val x0 = DenseVector.tabulate(nParams)(i =>
      if (i < hidden * d + hidden) (rng.nextDouble() * 2 - 1) * math.sqrt(6.0 / (d + hidden))
      else 0.0)
    def unpack(v: DenseVector[Double]) = {
      val w1 = new DenseMatrix(d, hidden, v.slice(0, hidden * d).toArray)
      val b1 = v.slice(hidden * d, hidden * d + hidden).toDenseVector
      val w2 = v.slice(hidden * d + hidden, hidden * d + 2 * hidden).toDenseVector
      val b2 = v(nParams - 1)
      (w1, b1, w2, b2)
    }
    val obj = new DiffFunction[DenseVector[Double]] {
      def calculate(v: DenseVector[Double]): (Double, DenseVector[Double]) = {
        val (w1, b1, w2, b2) = unpack(v)
        val z = (x * w1).apply(breeze.linalg.*, ::) + b1 // n×h pre-activation
        val a = tanh(z)
        val pred = (a * w2) + b2
        val r = pred - y
        val loss = (r dot r) / (2.0 * n) + 0.5 * alpha * (v dot v)
        // backprop
        val gPred = r / n.toDouble
        val gW2 = a.t * gPred
        val gB2 = bsum(gPred)
        val gA = gPred * w2.t // n×h
        val gZ = gA *:* (DenseMatrix.ones[Double](n, hidden) - (a *:* a))
        val gW1 = x.t * gZ
        val gB1 = bsum(gZ(::, breeze.linalg.*)).t
        val grad = DenseVector.vertcat(
          DenseVector(gW1.toArray), gB1, gW2, DenseVector(gB2)) + v * alpha
        (loss, grad)
      }
    }
    val solved = new LBFGS[DenseVector[Double]](maxIter = maxIter, m = 7, tolerance = 1e-8)
      .minimize(obj, x0)
    val (w1, b1, w2, b2) = unpack(solved)
    Model(Array.tabulate(hidden)(h => Array.tabulate(d)(i => w1(i, h))),
      b1.toArray, w2.toArray, b2)
  }
}
