package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Early time-series classification — batch counterpart of
  * `/root/reference/tslearn/early_classification/early_classification.py`
  * (NonMyopicEarlyClassifier): choose, per series, the earliest prefix
  * length whose expected cost (misclassification + λ·t) is minimal.
  *
  * Faithful shape, simplified estimator: instead of the reference's
  * per-cluster confusion tensors (`:181-210`), we fit one nearest-centroid
  * classifier per truncation length (distributed: one groupBy per t over
  * resampled prefixes) and estimate per-t accuracy on the training set.
  * Predict walks the t-grid and stops when expected cost stops improving
  * (`:350-359` stopping-rule semantics).
  */
class EarlyClassifier(val tGrid: Seq[Int], val lambdaCost: Double = 0.01) extends Serializable {

  case class Model(centroids: Map[Int, Map[String, Array[Double]]],
                   accuracy: Map[Int, Double], lambdaCost: Double) extends Serializable {

    /** Classify a prefix (earliest t in grid that covers it). */
    def classifyPrefix(prefix: Array[Double]): (String, Double) = {
      val ts = centroids.keys.filter(_ <= prefix.length)
      if (ts.isEmpty) return ("?", 0.0)
      val t = ts.max
      val cents = centroids(t)
      val p = prefix.take(t)
      val scored = cents.toSeq.map { case (l, c) =>
        (l, graft.kernels.Kernels.euclidean(p.map(Array(_)), c.map(Array(_))))
      }.sortBy(_._2)
      val conf = if (scored.size < 2) 1.0
        else 1.0 - scored(0)._2 / math.max(1e-12, scored(0)._2 + scored(1)._2)
      (scored.head._1, conf)
    }

    /** Expected-cost stopping decision over the t-grid: stop at the first
      * t whose cost (1-acc) + λt is no worse than any later t. */
    def decisionTime(szAvailable: Int): Int = {
      val ts = tGridOf(this).filter(_ <= szAvailable)
      if (ts.isEmpty) return szAvailable
      val costs = ts.map(t => t -> ((1.0 - accuracy(t)) + lambdaCost * t)).toMap
      ts.find(t => ts.filter(_ > t).forall(later => costs(t) <= costs(later)))
        .getOrElse(ts.max)
    }

    /** Batch predict: (series_id, decided_at, label). */
    def predict(df: DataFrame, seriesCol: String = "values"): DataFrame = {
      val spark = df.sparkSession
      val bc = spark.sparkContext.broadcast(this)
      val f = udf((s: scala.collection.Seq[Double]) => {
        val m = bc.value
        val t = m.decisionTime(s.length)
        val (label, _) = m.classifyPrefix(s.take(t).toArray)
        (t, label)
      })
      df.withColumn("_d", f(col(seriesCol)))
        .select(col("series_id"), col("_d._1").as("decided_at"), col("_d._2").as("label"))
    }
  }

  private def tGridOf(m: Model): Seq[Int] = m.centroids.keys.toSeq.sorted

  /** Fit per-t nearest-centroid models: ONE t-exploded distributed
    * aggregation for the whole grid (prefix truncation is a column
    * slice — no reshuffle of the series) plus one accuracy pass. */
  def fit(df: DataFrame): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val series = df.select(col("series_id"), col("values").cast("array<double>"),
      col("label").cast("string"))
    TimeSeriesKMeans.withFitInput(series) { (data, _) =>
      // ONE t-exploded aggregation for every grid entry instead of one
      // centroid job per t (guide §1.2: |tGrid| corpus passes → 1). Each
      // (t, label, i) group averages exactly the rows the per-t pass
      // averaged (explode t, then the same size ≥ t filter and prefix
      // slice), so the centroids are unchanged.
      val tArr = array(tGrid.map(t => lit(t)): _*)
      val centroids = data
        .select(col("label"), col("values"), explode(tArr).as("t"))
        .where(size(col("values")) >= col("t"))
        .select(col("t"), col("label"),
          posexplode(slice(col("values"), lit(1), col("t"))).as(Seq("i", "v")))
        .groupBy("t", "label", "i").agg(avg("v").as("c"))
        .groupBy("t", "label")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
          x => x.getField("c")).as("centroid"))
        .as[(Int, String, Array[Double])].collect()
        .groupBy(_._1).map { case (t, rows) =>
          t -> rows.map(r => r._2 -> r._3).toMap
        }
      val model0 = Model(centroids, tGrid.map(_ -> 0.0).toMap, lambdaCost)
      // training-set accuracy: one pass emitting (t, ok) per valid grid
      // entry per row — the former per-t jobs re-scanned the input |tGrid|
      // times; ok is 0/1 so each t's average is an exact integer ratio,
      // identical to the per-t aggregation it replaces.
      val bc = spark.sparkContext.broadcast(model0)
      val grid = tGrid
      val fAll = udf((s: scala.collection.Seq[Double], l: String) =>
        grid.filter(_ <= s.length).map { t =>
          val (pred, _) = bc.value.classifyPrefix(s.take(t).toArray)
          (t, if (pred == l) 1.0 else 0.0)
        })
      val acc = data
        .select(explode(fAll(col("values"), col("label"))).as("e"))
        .groupBy(col("e._1").as("t")).agg(avg(col("e._2")).as("a"))
        .as[(Int, Double)].collect().toMap
      Model(centroids, acc, lambdaCost)
    }
  }
}
