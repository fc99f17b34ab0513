package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TsFunctions

/** Uniform estimator/model veneer + persistence — the reference's
  * `bases/bases.py:63-286` contract ({hyper_params, model_params} split,
  * `get_params`/`set_params`-style configuration, save/load across every
  * estimator) re-expressed for Spark.
  *
  * - [[GraftML.Estimator]]: `params` (string map, the reference's
  *   get_params), `copy(overrides)` (set_params), `fit(df)`.
  * - [[GraftML.Model]]: hyper + scalar params, array-valued model params
  *   as (family, key, values) rows, `transform(df)`.
  * - Storage layout (one directory per model):
  *     metadata.json    {"estimator", "hyper_params", "scalar_params"}
  *     arrays.parquet   (family STRING, key STRING, values ARRAY<DOUBLE>)
  *     nested/<name>/   nested Spark-ML models (e.g. the logistic head)
  *   `GraftML.save` / `GraftML.load` round-trip every estimator through
  *   this single layout — the driver-facing equivalent of to_hdf5/
  *   from_hdf5/to_json/from_json (format differences are storage, not
  *   semantics: Parquet is the Spark-native array container).
  */
object GraftML {

  trait Model extends Serializable {
    def estimator: String
    def hyper: Map[String, String]
    def scalars: Map[String, String]
    def arrays: Seq[(String, String, Array[Double])]
    def transform(df: DataFrame): DataFrame
    /** Hook for nested Spark-ML sub-models. */
    def saveNested(path: String): Unit = ()
  }

  trait Estimator extends Serializable {
    def name: String
    def params: Map[String, String]
    def copy(extra: Map[String, String]): Estimator = make(name, params ++ extra)
    def fit(df: DataFrame): Model
  }

  /** Factory / load-time dispatch. */
  def make(name: String, params: Map[String, String] = Map.empty): Estimator =
    name match {
      case "TimeSeriesKMeans" => KMeansEst(params)
      case "KernelKMeans" => KernelKMeansEst(params)
      case "KShape" => KShapeEst(params)
      case "KNeighborsTimeSeriesClassifier" => KnnEst(params)
      case "KNeighborsTimeSeriesRegressor" => KnnRegEst(params)
      case "TimeSeriesSVC" => SvcEst(params)
      case "TimeSeriesSVCNystrom" => NystromSvcEst(params)
      case "TimeSeriesSVR" => SvrEst(params)
      case "TimeSeriesMLPRegressor" => MlpRegEst(params)
      case "LearningShapelets" => ShapeletEst(params)
      // full-fidelity reference algorithm (confusion tensors + expected
      // cost); the simplified per-t-accuracy fast path keeps its own name
      case "NonMyopicEarlyClassifier" => NonMyopicEst(params)
      case "EarlyClassifier" => EarlyEst(params)
      case other => throw new IllegalArgumentException(s"unknown estimator '$other'")
    }

  def estimatorNames: Seq[String] = Seq(
    "TimeSeriesKMeans", "KernelKMeans", "KShape",
    "KNeighborsTimeSeriesClassifier", "KNeighborsTimeSeriesRegressor",
    "TimeSeriesSVC", "TimeSeriesSVCNystrom", "TimeSeriesSVR", "TimeSeriesMLPRegressor",
    "LearningShapelets", "NonMyopicEarlyClassifier", "EarlyClassifier")

  private def pget(m: Map[String, String], k: String, d: String): String = m.getOrElse(k, d)

  private def metricFn(name: String): (Column, Column) => Column = name match {
    case "dtw" => (a, b) => TsFunctions.dtwUdf(a, b)
    case "cosine" => (a, b) => -TsFunctions.cosineSim(a, b)
    case _ => (a, b) => graft.functions.NativeExpressions.euclideanNative(a, b)
  }

  // ---------------------------------------------------------------- kmeans

  case class KMeansEst(params: Map[String, String]) extends Estimator {
    def name = "TimeSeriesKMeans"
    def fit(df: DataFrame): Model = {
      val est = new TimeSeriesKMeans(
        k = pget(params, "k", "4").toInt,
        metric = pget(params, "metric", "euclidean"),
        maxIter = pget(params, "maxIter", "20").toInt,
        tol = pget(params, "tol", "1e-6").toDouble,
        nInit = pget(params, "nInit", "1").toInt,
        seed = pget(params, "seed", "0").toLong,
        gamma = pget(params, "gamma", "1.0").toDouble,
        barycenterMaxIter = pget(params, "barycenterMaxIter", "10").toInt)
      val m = est.fit(df)
      KMeansModel(params, m.centroids, m.inertia)
    }
  }

  case class KMeansModel(hyper: Map[String, String], centroids: Array[Array[Double]],
                         inertia: Double) extends Model {
    def estimator = "TimeSeriesKMeans"
    def scalars: Map[String, String] = Map("inertia" -> inertia.toString)
    def arrays: Seq[(String, String, Array[Double])] =
      centroids.zipWithIndex.map { case (c, i) => ("centroids", i.toString, c) }.toSeq
    def transform(df: DataFrame): DataFrame =
      TimeSeriesKMeans.assign(df, centroids,
        pget(hyper, "metric", "euclidean"), pget(hyper, "gamma", "1.0").toDouble)
  }

  // ---------------------------------------------------------- kernel-kmeans

  case class KernelKMeansEst(params: Map[String, String]) extends Estimator {
    def name = "KernelKMeans"
    def fit(df: DataFrame): Model = {
      val est = new KernelKMeans(
        k = pget(params, "k", "4").toInt,
        maxIter = pget(params, "maxIter", "10").toInt,
        tol = pget(params, "tol", "1e-6").toDouble,
        sigma = pget(params, "sigma", "1.0").toDouble,
        seed = pget(params, "seed", "0").toLong,
        blocks = pget(params, "blocks", "0").toInt)
      KernelKMeansModel(params, est.fitModel(df))
    }
  }

  case class KernelKMeansModel(hyper: Map[String, String],
                               inner: KernelKMeans#Model) extends Model {
    def estimator = "KernelKMeans"
    def scalars: Map[String, String] =
      Map("inertia" -> inner.inertia.toString) ++
        inner.assignments.map { case (id, _, c) => s"cluster_$id" -> c.toString } ++
        inner.term3.map { case (c, v) => s"term3_$c" -> v.toString }
    def arrays: Seq[(String, String, Array[Double])] =
      inner.assignments.map { case (id, v, _) => ("train", id.toString, v) }.toSeq
    def transform(df: DataFrame): DataFrame = inner.predict(df)
  }

  // ---------------------------------------------------------------- kshape

  case class KShapeEst(params: Map[String, String]) extends Estimator {
    def name = "KShape"
    def fit(df: DataFrame): Model = {
      val est = new KShape(
        k = pget(params, "k", "4").toInt,
        maxIter = pget(params, "maxIter", "20").toInt,
        tol = pget(params, "tol", "1e-6").toDouble,
        seed = pget(params, "seed", "0").toLong)
      val m = est.fit(df)
      KShapeModel(params, m.centroids, m.inertia)
    }
  }

  case class KShapeModel(hyper: Map[String, String], centroids: Array[Array[Double]],
                         inertia: Double) extends Model {
    def estimator = "KShape"
    def scalars: Map[String, String] = Map("inertia" -> inertia.toString)
    def arrays: Seq[(String, String, Array[Double])] =
      centroids.zipWithIndex.map { case (c, i) => ("centroids", i.toString, c) }.toSeq
    def transform(df: DataFrame): DataFrame = {
      val ks = new KShape(k = centroids.length)
      ks.Model(centroids, inertia).predict(df)
    }
  }

  // ------------------------------------------------------------------ knn

  case class KnnEst(params: Map[String, String]) extends Estimator {
    def name = "KNeighborsTimeSeriesClassifier"
    /** "fit" = remember the training set (brute-force kNN, as the
      * reference's algorithm='brute'). */
    def fit(df: DataFrame): Model = {
      val spark = df.sparkSession
      import spark.implicits._
      val train = df.select(col("series_id").cast("long"),
          col("values").cast("array<double>"), col("label").cast("string"))
        .as[(Long, Array[Double], String)].collect()
      KnnModel(params, train)
    }
  }

  case class KnnModel(hyper: Map[String, String],
                      train: Array[(Long, Array[Double], String)]) extends Model {
    def estimator = "KNeighborsTimeSeriesClassifier"
    def scalars: Map[String, String] =
      train.map { case (id, _, l) => s"label_$id" -> l }.toMap
    def arrays: Seq[(String, String, Array[Double])] =
      train.map { case (id, v, _) => ("train", id.toString, v) }.toSeq
    def transform(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val trainDf = spark.createDataset(train.toIndexedSeq)
        .toDF("series_id", "values", "label")
      KNeighbors.classify(df, trainDf, pget(hyper, "k", "5").toInt,
        metricFn(pget(hyper, "metric", "dtw")),
        weights = pget(hyper, "weights", "uniform"))
        .select(col("probe_id").as("series_id"), col("label"))
    }
  }

  case class KnnRegEst(params: Map[String, String]) extends Estimator {
    def name = "KNeighborsTimeSeriesRegressor"
    def fit(df: DataFrame): Model = {
      val spark = df.sparkSession
      import spark.implicits._
      val train = df.select(col("series_id").cast("long"),
          col("values").cast("array<double>"), col("y").cast("double"))
        .as[(Long, Array[Double], Double)].collect()
      KnnRegModel(params, train)
    }
  }

  case class KnnRegModel(hyper: Map[String, String],
                         train: Array[(Long, Array[Double], Double)]) extends Model {
    def estimator = "KNeighborsTimeSeriesRegressor"
    def scalars: Map[String, String] =
      train.map { case (id, _, y) => s"y_$id" -> y.toString }.toMap
    def arrays: Seq[(String, String, Array[Double])] =
      train.map { case (id, v, _) => ("train", id.toString, v) }.toSeq
    def transform(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val trainDf = spark.createDataset(train.toIndexedSeq)
        .toDF("series_id", "values", "y")
      KNeighbors.regress(df, trainDf, pget(hyper, "k", "5").toInt,
        metricFn(pget(hyper, "metric", "dtw")),
        weights = pget(hyper, "weights", "uniform"))
        .select(col("probe_id").as("series_id"), col("y_pred"))
    }
  }

  // ------------------------------------------------------------------ svc

  case class SvcEst(params: Map[String, String]) extends Estimator {
    def name = "TimeSeriesSVC"
    def fit(df: DataFrame): Model = {
      val spark = df.sparkSession
      import spark.implicits._
      val m = TimeSeriesSVC.fit(df,
        c = pget(params, "C", "1.0").toDouble,
        sigma = pget(params, "sigma", "-1.0").toDouble,
        seed = pget(params, "seed", "0").toLong,
        blocks = pget(params, "blocks", "0").toInt)
      val svIds = m.binaries.values.flatMap(_.ids).toSet
      val svSeries = df.where(col("series_id").isin(svIds.toSeq: _*))
        .select(col("series_id").cast("long"), col("values").cast("array<double>"))
        .as[(Long, Array[Double])].collect().toMap
      SvcModel(params, m, svSeries)
    }
  }

  case class SvcModel(hyper: Map[String, String], inner: TimeSeriesSVC.Model,
                      svSeries: Map[Long, Array[Double]]) extends Model {
    def estimator = "TimeSeriesSVC"
    def scalars: Map[String, String] =
      Map("sigma" -> inner.sigma.toString) ++
        inner.classes.zipWithIndex.map { case (c, i) => s"class_$i" -> c }
    def arrays: Seq[(String, String, Array[Double])] = {
      val bins = inner.binaries.toSeq.flatMap { case ((ci, cj), bm) =>
        Seq(("binary_ids", s"${ci}_$cj", bm.ids.map(_.toDouble)),
          ("binary_alphaY", s"${ci}_$cj", bm.alphaY),
          ("binary_b", s"${ci}_$cj", Array(bm.b)))
      }
      bins ++ svSeries.toSeq.map { case (id, v) => ("sv_series", id.toString, v) }
    }
    def transform(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val trainDf = spark.createDataset(svSeries.toSeq.toIndexedSeq)
        .toDF("series_id", "values")
      TimeSeriesSVC.predict(inner, df, trainDf)
    }
  }

  // --------------------------------------------------------- svc (Nyström)

  case class NystromSvcEst(params: Map[String, String]) extends Estimator {
    def name = "TimeSeriesSVCNystrom"
    def fit(df: DataFrame): Model = {
      val m = TimeSeriesSVC.fitNystrom(df,
        m = pget(params, "m", "32").toInt,
        c = pget(params, "C", "1.0").toDouble,
        sigma = pget(params, "sigma", "-1.0").toDouble,
        seed = pget(params, "seed", "0").toLong,
        maxIter = pget(params, "maxIter", "50").toInt)
      NystromSvcModel(params, m)
    }
  }

  case class NystromSvcModel(hyper: Map[String, String],
                             inner: TimeSeriesSVC.NystromModel) extends Model {
    def estimator = "TimeSeriesSVCNystrom"
    def scalars: Map[String, String] =
      Map("sigma" -> inner.sigma.toString) ++
        inner.classes.zipWithIndex.map { case (c, i) => s"class_$i" -> c }
    def arrays: Seq[(String, String, Array[Double])] =
      inner.landmarks.zipWithIndex.map { case (l, i) =>
        ("landmark", i.toString, l) }.toSeq ++
        inner.mapping.zipWithIndex.map { case (row, i) => ("mapping", i.toString, row) } :+
        (("landmark_self", "0", inner.landmarkSelf))
    def transform(df: DataFrame): DataFrame = TimeSeriesSVC.predictNystrom(inner, df)
    override def saveNested(path: String): Unit =
      inner.ovr.zipWithIndex.foreach { case (svc, i) =>
        svc.write.overwrite().save(s"$path/nested/ovr_$i") }
  }

  // ------------------------------------------------------------------ svr

  case class SvrEst(params: Map[String, String]) extends Estimator {
    def name = "TimeSeriesSVR"
    def fit(df: DataFrame): Model = {
      val spark = df.sparkSession
      import spark.implicits._
      val m = TimeSeriesSVR.fit(df,
        c = pget(params, "C", "1.0").toDouble,
        eps = pget(params, "epsilon", "0.1").toDouble,
        sigma = pget(params, "sigma", "-1.0").toDouble,
        seed = pget(params, "seed", "0").toLong,
        blocks = pget(params, "blocks", "0").toInt)
      val svSeries = df.where(col("series_id").isin(m.svIds.toSeq: _*))
        .select(col("series_id").cast("long"), col("values").cast("array<double>"))
        .as[(Long, Array[Double])].collect().toMap
      SvrModel(params, m, svSeries)
    }
  }

  case class SvrModel(hyper: Map[String, String], inner: TimeSeriesSVR.Model,
                      svSeries: Map[Long, Array[Double]]) extends Model {
    def estimator = "TimeSeriesSVR"
    def scalars: Map[String, String] =
      Map("sigma" -> inner.sigma.toString, "b" -> inner.b.toString)
    def arrays: Seq[(String, String, Array[Double])] =
      Seq(("sv_ids", "0", inner.svIds.map(_.toDouble)),
        ("sv_beta", "0", inner.svBeta)) ++
        svSeries.toSeq.map { case (id, v) => ("sv_series", id.toString, v) }
    def transform(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val trainDf = spark.createDataset(svSeries.toSeq.toIndexedSeq)
        .toDF("series_id", "values")
      TimeSeriesSVR.predict(inner, df, trainDf)
    }
  }

  // ------------------------------------------------------------- mlp (reg)

  case class MlpRegEst(params: Map[String, String]) extends Estimator {
    def name = "TimeSeriesMLPRegressor"
    def fit(df: DataFrame): Model = {
      val m = TimeSeriesMLPRegressor.fit(df,
        hidden = pget(params, "hidden", "32").toInt,
        maxIter = pget(params, "maxIter", "200").toInt,
        alpha = pget(params, "alpha", "1e-4").toDouble,
        seed = pget(params, "seed", "0").toLong)
      MlpRegModel(params, m)
    }
  }

  case class MlpRegModel(hyper: Map[String, String],
                         inner: TimeSeriesMLPRegressor.Model) extends Model {
    def estimator = "TimeSeriesMLPRegressor"
    def scalars: Map[String, String] = Map("b2" -> inner.b2.toString)
    def arrays: Seq[(String, String, Array[Double])] =
      inner.w1.zipWithIndex.map { case (r, h) => ("w1", h.toString, r) }.toSeq ++
        Seq(("b1", "0", inner.b1), ("w2", "0", inner.w2))
    def transform(df: DataFrame): DataFrame = inner.predict(df)
  }

  // ------------------------------------------------------------ shapelets

  case class ShapeletEst(params: Map[String, String]) extends Estimator {
    def name = "LearningShapelets"
    /** refineIters > 0 trains shapelets end-to-end by gradient (the
      * reference's Keras loop); 0 = k-means init + logistic head. */
    def fit(df: DataFrame): Model = {
      val refineIters = pget(params, "refineIters", "0").toInt
      if (refineIters > 0)
        RefinedShapeletModel(params, Shapelets.fitRefined(df,
          perSize = pget(params, "perSize", "4").toInt,
          iters = refineIters,
          lr = pget(params, "lr", "0.1").toDouble,
          seed = pget(params, "seed", "0").toLong))
      else
        ShapeletModel(params, Shapelets.fit(df,
          perSize = pget(params, "perSize", "4").toInt,
          seed = pget(params, "seed", "0").toLong))
    }
  }

  case class RefinedShapeletModel(hyper: Map[String, String],
                                  inner: Shapelets.RefinedModel) extends Model {
    def estimator = "LearningShapelets"
    def scalars: Map[String, String] =
      inner.labels.zipWithIndex.map { case (l, i) => s"label_$i" -> l }.toMap
    def arrays: Seq[(String, String, Array[Double])] =
      inner.shapelets.zipWithIndex.map { case (s, i) => ("shapelets", i.toString, s) }.toSeq ++
        inner.w.zipWithIndex.map { case (r, c) => ("w", c.toString, r) }.toSeq ++
        Seq(("b", "0", inner.b), ("loss_history", "0", inner.lossHistory))
    def transform(df: DataFrame): DataFrame = inner.predict(df)
  }

  case class ShapeletModel(hyper: Map[String, String],
                           inner: Shapelets.Model) extends Model {
    def estimator = "LearningShapelets"
    def scalars: Map[String, String] =
      inner.labels.zipWithIndex.map { case (l, i) => s"label_$i" -> l }.toMap
    def arrays: Seq[(String, String, Array[Double])] =
      inner.shapelets.zipWithIndex.map { case (s, i) => ("shapelets", i.toString, s) }.toSeq
    def transform(df: DataFrame): DataFrame = inner.predict(df)
    override def saveNested(path: String): Unit =
      inner.lr.write.overwrite().save(s"$path/nested/lr")
  }

  // ---------------------------------------------------------------- early

  case class NonMyopicEst(params: Map[String, String]) extends Estimator {
    def name = "NonMyopicEarlyClassifier"
    def fit(df: DataFrame): Model = {
      val est = new NonMyopicEarlyClassifier(
        nClusters = pget(params, "nClusters", "2").toInt,
        minT = pget(params, "minT", "1").toInt,
        lamb = pget(params, "lamb", "1.0").toDouble,
        costTimeParameter = pget(params, "costTimeParameter", "1.0").toDouble,
        seed = pget(params, "seed", "0").toLong)
      NonMyopicModel(params, est.fit(df))
    }
  }

  case class NonMyopicModel(hyper: Map[String, String],
                            inner: NonMyopicEarlyClassifier#Model) extends Model {
    def estimator = "NonMyopicEarlyClassifier"
    def scalars: Map[String, String] =
      Map("minT" -> inner.minT.toString, "sz" -> inner.sz.toString,
        "lamb" -> inner.lamb.toString,
        "costTimeParameter" -> inner.costTimeParameter.toString) ++
        inner.labels.zipWithIndex.map { case (l, i) => s"label_$i" -> l }
    def arrays: Seq[(String, String, Array[Double])] =
      inner.centers.zipWithIndex.map { case (c, i) => ("centers", i.toString, c) }.toSeq ++
        inner.trainValues.zipWithIndex.map { case (v, j) => ("train", j.toString, v) } ++
        Seq(("train_label_idx", "0", inner.trainLabelIdx.map(_.toDouble))) ++
        inner.pyck.zipWithIndex.map { case (row, y) => ("pyck", y.toString, row) } ++
        inner.pyhatyck.toSeq.zipWithIndex.flatMap { case (byK, ti) =>
          byK.toSeq.zipWithIndex.flatMap { case (byY, k) =>
            byY.toSeq.zipWithIndex.map { case (row, y) => ("pyhatyck", s"${ti}_${k}_$y", row) }
          }
        }
    def transform(df: DataFrame): DataFrame = inner.predict(df)
  }

  case class EarlyEst(params: Map[String, String]) extends Estimator {
    def name = "EarlyClassifier"
    def fit(df: DataFrame): Model = {
      val tGrid = pget(params, "tGrid", "8,16,32").split(",").map(_.trim.toInt).toSeq
      val lambdaCost = pget(params, "lambdaCost", "0.01").toDouble
      val est = new EarlyClassifier(tGrid, lambdaCost)
      EarlyModel(params, est.fit(df))
    }
  }

  case class EarlyModel(hyper: Map[String, String],
                        inner: EarlyClassifier#Model) extends Model {
    def estimator = "EarlyClassifier"
    def scalars: Map[String, String] =
      Map("lambdaCost" -> inner.lambdaCost.toString) ++
        inner.accuracy.map { case (t, a) => s"acc_$t" -> a.toString }
    def arrays: Seq[(String, String, Array[Double])] =
      inner.centroids.toSeq.flatMap { case (t, byLabel) =>
        byLabel.toSeq.map { case (l, c) => (s"centroids_$t", l, c) }
      }
    def transform(df: DataFrame): DataFrame = inner.predict(df)
  }

  // ----------------------------------------------------------- save / load

  private def jq(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jmap(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${jq(k)}: ${jq(v)}" }
      .mkString("{", ", ", "}")

  def save(spark: SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    val meta = s"""{"estimator": ${jq(model.estimator)}, """ +
      s""""hyper_params": ${jmap(model.hyper)}, """ +
      s""""scalar_params": ${jmap(model.scalars)}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$path/metadata.json"), meta)
    model.arrays.toDF("family", "key", "values")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/arrays.parquet")
    model.saveNested(path)
  }

  /** Import a model package written by the REFERENCE library's own
    * `to_json` (`bases/bases.py:212-224`: a single JSON object
    * `{"hyper_params": get_params(), "model_params": {attr_: nested
    * lists}}`, numpy arrays listified) into a GraftML [[Model]], so a
    * migrating user can load real tslearn artifacts directly and keep
    * predicting. The package does NOT record its class (the reference's
    * `from_json` is a classmethod of the target estimator), so the
    * caller names it — mirroring `TimeSeriesKMeans.from_json(path)`.
    *
    * Supported: the centroid models ("TimeSeriesKMeans", "KShape") with
    * univariate centers; `cluster_centers_` is (n_clusters, sz, d=1)
    * with the reference's trailing-NaN padding stripped per centroid
    * (ts_size semantics, `utils.py:386-424`). Hyper names map to the
    * GraftML spelling (n_clusters→k, max_iter→maxIter, n_init→nInit,
    * random_state→seed); unknown hypers are carried through verbatim. */
  def importTslearnJson(path: String, estimator: String): Model = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // Python's json.dump writes float('nan') as the bare token NaN —
    // invalid JSON that Jackson rejects; normalize to null (num() below
    // maps null back to Double.NaN, which is what the padding means).
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      .replaceAll("\\bNaN\\b", "null")
    val j = JsonMethods.parse(text)
    def sval(v: JValue): Option[String] = v match {
      case JString(s) => Some(s)
      case JInt(i) => Some(i.toString)
      case JLong(l) => Some(l.toString)
      case JDouble(d) => Some(d.toString)
      case JDecimal(d) => Some(d.toString)
      case JBool(b) => Some(b.toString)
      case _ => None // null / nested → not a scalar hyper
    }
    val rawHyper: Map[String, String] = (j \ "hyper_params") match {
      case JObject(fs) => fs.flatMap { case (k, v) => sval(v).map(k -> _) }.toMap
      case _ => Map.empty
    }
    val renames = Map("n_clusters" -> "k", "max_iter" -> "maxIter",
      "n_init" -> "nInit", "random_state" -> "seed",
      "max_iter_barycenter" -> "barycenterMaxIter")
    val hyper = rawHyper.map { case (k, v) => renames.getOrElse(k, k) -> v }
    def num(v: JValue): Double = v match {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
      case JDecimal(d) => d.toDouble
      case _ => Double.NaN
    }
    val mp = j \ "model_params"
    val centroids: Array[Array[Double]] = (mp \ "cluster_centers_") match {
      case JArray(cs) =>
        cs.map {
          case JArray(ts) =>
            val frames = ts.map {
              case JArray(ds) => ds.map(num).toArray // (sz, d) frame
              case scalar => Array(num(scalar)) // (n, sz) tolerance
            }.toArray
            require(frames.forall(_.length == 1),
              s"only univariate centers supported (d=${frames.map(_.length).max})")
            // strip the reference's trailing-NaN padding (ts_size)
            val flat = frames.map(_(0))
            val sz = {
              var e = flat.length
              while (e > 0 && flat(e - 1).isNaN) e -= 1
              e
            }
            flat.take(sz)
          case _ => throw new IllegalArgumentException(
            "cluster_centers_ entries must be arrays")
        }.toArray
      case _ => throw new IllegalArgumentException(
        s"model_params.cluster_centers_ missing in $path")
    }
    val inertia = num(mp \ "inertia_") // absent → NaN, as unknown
    estimator match {
      case "TimeSeriesKMeans" => KMeansModel(hyper, centroids, inertia)
      case "KShape" => KShapeModel(hyper, centroids, inertia)
      case other => throw new IllegalArgumentException(
        s"tslearn-json import supports TimeSeriesKMeans/KShape, got '$other'")
    }
  }

  def load(spark: SparkSession, path: String): Model = {
    import spark.implicits._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val meta = JsonMethods.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$path/metadata.json")))
    implicit val fmts: Formats = DefaultFormats
    val est = (meta \ "estimator").extract[String]
    val hyper = (meta \ "hyper_params").extract[Map[String, String]]
    val scalars = (meta \ "scalar_params").extract[Map[String, String]]
    val arrays = spark.read.parquet(s"$path/arrays.parquet")
      .as[(String, String, Array[Double])].collect()
    def fam(f: String): Seq[(String, Array[Double])] =
      arrays.filter(_._1 == f).map(a => (a._2, a._3)).toSeq
    def famSorted(f: String): Array[Array[Double]] =
      fam(f).sortBy(_._1.toInt).map(_._2).toArray

    est match {
      case "TimeSeriesKMeans" =>
        KMeansModel(hyper, famSorted("centroids"), scalars("inertia").toDouble)
      case "KernelKMeans" =>
        val train = fam("train").map { case (kk, v) =>
          (kk.toLong, v, scalars(s"cluster_$kk").toInt)
        }.sortBy(_._1).toArray
        val term3 = scalars.collect {
          case (kk, v) if kk.startsWith("term3_") =>
            kk.stripPrefix("term3_").toInt -> v.toDouble
        }
        val est = new KernelKMeans(
          k = pget(hyper, "k", "4").toInt,
          sigma = pget(hyper, "sigma", "1.0").toDouble)
        KernelKMeansModel(hyper, est.Model(train, term3, scalars("inertia").toDouble))
      case "KShape" =>
        KShapeModel(hyper, famSorted("centroids"), scalars("inertia").toDouble)
      case "KNeighborsTimeSeriesClassifier" =>
        val train = fam("train").map { case (k, v) =>
          (k.toLong, v, scalars(s"label_$k"))
        }.sortBy(_._1).toArray
        KnnModel(hyper, train)
      case "KNeighborsTimeSeriesRegressor" =>
        val train = fam("train").map { case (k, v) =>
          (k.toLong, v, scalars(s"y_$k").toDouble)
        }.sortBy(_._1).toArray
        KnnRegModel(hyper, train)
      case "TimeSeriesSVC" =>
        val classes = scalars.keys.filter(_.startsWith("class_")).toSeq
          .sortBy(_.stripPrefix("class_").toInt).map(scalars).toArray
        val binIds = fam("binary_ids").toMap
        val binAlpha = fam("binary_alphaY").toMap
        val binB = fam("binary_b").toMap
        val binaries = binIds.keys.map { key =>
          val Array(ci, cj) = key.split("_").map(_.toInt)
          (ci, cj) -> TimeSeriesSVC.BinaryModel(
            binIds(key).map(_.toLong), binAlpha(key), binB(key)(0))
        }.toMap
        val sv = fam("sv_series").map { case (k, v) => k.toLong -> v }.toMap
        SvcModel(hyper,
          TimeSeriesSVC.Model(classes, binaries, scalars("sigma").toDouble,
            sv.keys.toArray.sorted),
          sv)
      case "TimeSeriesSVCNystrom" =>
        val classes = scalars.keys.filter(_.startsWith("class_")).toSeq
          .sortBy(_.stripPrefix("class_").toInt).map(scalars).toArray
        val ovr = classes.indices.map(i =>
          org.apache.spark.ml.classification.LinearSVCModel
            .load(s"$path/nested/ovr_$i")).toArray
        NystromSvcModel(hyper, TimeSeriesSVC.NystromModel(
          famSorted("landmark"), famSorted("mapping"),
          fam("landmark_self").head._2, scalars("sigma").toDouble, classes, ovr))
      case "TimeSeriesSVR" =>
        val sv = fam("sv_series").map { case (k, v) => k.toLong -> v }.toMap
        SvrModel(hyper,
          TimeSeriesSVR.Model(fam("sv_ids").head._2.map(_.toLong),
            fam("sv_beta").head._2, scalars("b").toDouble, scalars("sigma").toDouble),
          sv)
      case "TimeSeriesMLPRegressor" =>
        MlpRegModel(hyper, TimeSeriesMLPRegressor.Model(
          famSorted("w1"), fam("b1").head._2, fam("w2").head._2,
          scalars("b2").toDouble))
      case "LearningShapelets" =>
        val labels = scalars.keys.filter(_.startsWith("label_")).toSeq
          .sortBy(_.stripPrefix("label_").toInt).map(scalars).toArray
        if (arrays.exists(_._1 == "w")) // refined: softmax head stored inline
          RefinedShapeletModel(hyper, Shapelets.RefinedModel(
            famSorted("shapelets"), famSorted("w"), fam("b").head._2, labels,
            fam("loss_history").head._2))
        else {
          val lr = org.apache.spark.ml.classification.LogisticRegressionModel
            .load(s"$path/nested/lr")
          ShapeletModel(hyper, Shapelets.Model(famSorted("shapelets"), lr, labels))
        }
      case "NonMyopicEarlyClassifier" =>
        val labels = scalars.keys.filter(_.startsWith("label_")).toSeq
          .sortBy(_.stripPrefix("label_").toInt).map(scalars).toArray
        val centers = famSorted("centers")
        val train = famSorted("train")
        val tIdx = fam("train_label_idx").head._2.map(_.toInt)
        val minT = scalars("minT").toInt
        val sz = scalars("sz").toInt
        val pyck = famSorted("pyck")
        val ph = fam("pyhatyck").toMap
        val pyhatyck = Array.tabulate(sz - minT + 1, centers.length, labels.length)(
          (ti, k, y) => ph(s"${ti}_${k}_$y"))
        val lamb = scalars("lamb").toDouble
        val ctp = scalars("costTimeParameter").toDouble
        val est = new NonMyopicEarlyClassifier(
          nClusters = centers.length, minT = minT, lamb = lamb,
          costTimeParameter = ctp)
        NonMyopicModel(hyper, est.Model(labels, centers, train, tIdx, pyck,
          pyhatyck, minT, sz, lamb, ctp))
      case "EarlyClassifier" =>
        val centroids = arrays.filter(_._1.startsWith("centroids_"))
          .groupBy(_._1.stripPrefix("centroids_").toInt)
          .map { case (t, rows) => t -> rows.map(r => r._2 -> r._3).toMap }
        val acc = scalars.collect {
          case (k, v) if k.startsWith("acc_") => k.stripPrefix("acc_").toInt -> v.toDouble
        }
        val lambdaCost = scalars("lambdaCost").toDouble
        val ec = new EarlyClassifier(centroids.keys.toSeq.sorted, lambdaCost)
        EarlyModel(hyper, ec.Model(centroids, acc, lambdaCost))
      case other => throw new IllegalArgumentException(s"unknown estimator '$other'")
    }
  }
}
