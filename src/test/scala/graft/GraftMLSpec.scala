package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.GraftML

/** SURVEY §5.3 shared estimator contract: for EVERY veneer estimator —
  * params round-trip, copy(overrides), fit, transform schema, and
  * save→load→transform equality through the uniform persistence layout
  * (the bases.py:63-286 {hyper_params, model_params} contract). */
class GraftMLSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  private lazy val rng = new scala.util.Random(3)

  /** Two well-separated classes of length-12 series. */
  private lazy val classified: DataFrame = {
    val rows = (0 until 40).map { i =>
      val cls = i % 2
      val base = if (cls == 0) 0.0 else 3.0
      (i.toLong, Array.tabulate(12)(t => base + math.sin(t * 0.5) + 0.1 * rng.nextGaussian()),
        s"c$cls")
    }
    rows.toDF("series_id", "values", "label").cache()
  }

  private lazy val regression: DataFrame =
    classified.withColumn("target",
      aggregate(col("values"), lit(0.0), (acc, x) => acc + x) / size(col("values")))
      .drop("label").cache()

  private lazy val unlabeled: DataFrame = classified.drop("label").cache()

  case class Fixture(name: String, params: Map[String, String], data: () => DataFrame)

  private val fixtures = Seq(
    Fixture("TimeSeriesKMeans", Map("k" -> "2", "maxIter" -> "5", "seed" -> "1"),
      () => unlabeled),
    Fixture("KShape", Map("k" -> "2", "maxIter" -> "4", "seed" -> "1"),
      () => unlabeled),
    // blocks=2 exercises the no-broadcast gram path through the veneer
    Fixture("KernelKMeans",
      Map("k" -> "2", "maxIter" -> "4", "sigma" -> "2.0", "blocks" -> "2"),
      () => unlabeled),
    Fixture("KNeighborsTimeSeriesClassifier", Map("k" -> "3", "metric" -> "dtw"),
      () => classified),
    Fixture("KNeighborsTimeSeriesRegressor",
      Map("k" -> "3", "metric" -> "euclidean", "weights" -> "distance"),
      () => regression.withColumnRenamed("target", "y")),
    Fixture("TimeSeriesSVC", Map("C" -> "1.0", "sigma" -> "2.0"),
      () => classified),
    Fixture("TimeSeriesSVCNystrom",
      Map("m" -> "6", "C" -> "1.0", "sigma" -> "2.0", "seed" -> "1", "maxIter" -> "20"),
      () => classified),
    Fixture("TimeSeriesSVR", Map("C" -> "5.0", "epsilon" -> "0.1", "sigma" -> "2.0"),
      () => regression),
    Fixture("TimeSeriesMLPRegressor",
      Map("hidden" -> "8", "maxIter" -> "150", "seed" -> "2"),
      () => regression),
    Fixture("LearningShapelets", Map("perSize" -> "2", "seed" -> "1"),
      () => classified),
    Fixture("LearningShapelets",
      Map("perSize" -> "2", "seed" -> "1", "refineIters" -> "10"),
      () => classified),
    Fixture("EarlyClassifier",
      Map("tGrid" -> "4,8,12", "lambdaCost" -> "0.01"),
      () => classified),
    // full-fidelity confusion-tensor algorithm behind the reference name
    Fixture("NonMyopicEarlyClassifier",
      Map("nClusters" -> "2", "minT" -> "4", "costTimeParameter" -> "0.01",
        "seed" -> "1"),
      () => classified)
  )

  test("factory covers every declared estimator and rejects unknowns") {
    GraftML.estimatorNames.foreach(n => assert(GraftML.make(n).name == n))
    assertThrows[IllegalArgumentException](GraftML.make("NopeEstimator"))
    assert(fixtures.map(_.name).distinct.sorted == GraftML.estimatorNames.sorted,
      "behavior suite must cover every estimator")
  }

  fixtures.zipWithIndex.foreach { case (fx, fi) =>
    test(s"${fx.name} [#$fi]: params/copy/fit/transform/save/load contract") {
      val est = GraftML.make(fx.name, fx.params)
      assert(est.name == fx.name)
      assert(est.params == fx.params, "get_params round-trip")
      val est2 = est.copy(Map("seed" -> "99"))
      assert(est2.params("seed") == "99" && est2.name == fx.name, "set_params copy")
      assert(est.params.get("seed") != Some("99"), "copy must not mutate the original")

      val data = fx.data()
      val model = est.fit(data)
      assert(model.estimator == fx.name)
      assert(model.hyper == fx.params, "model keeps its hyper_params")

      val out1 = model.transform(data)
      assert(out1.columns.contains("series_id"), s"schema: ${out1.columns.toSeq}")
      val rows1 = out1.orderBy("series_id").collect()
      assert(rows1.nonEmpty)

      val dir = java.nio.file.Files.createTempDirectory(s"graftml_${fx.name}").toString
      GraftML.save(spark, model, dir)
      assert(new java.io.File(s"$dir/metadata.json").exists)
      val loaded = GraftML.load(spark, dir)
      assert(loaded.estimator == fx.name)
      assert(loaded.hyper == fx.params, "hyper_params survive the round-trip")
      val rows2 = loaded.transform(data).orderBy("series_id").collect()
      assert(rows1.length == rows2.length)
      rows1.zip(rows2).foreach { case (a, b) =>
        assert(a == b, s"${fx.name}: transform drift after save/load: $a vs $b")
      }
    }
  }

  test("tslearn to_json package import (bases.py:212-224 schema)") {
    // A package exactly as the reference writes it: get_params() hypers
    // (nulls and non-scalars included), cluster_centers_ as (n, sz, d=1)
    // nested lists with one center carrying trailing-NaN padding (the
    // ragged encoding of utils.py:212-215), inertia_ as a model param.
    val fixture =
      """{"hyper_params": {"n_clusters": 2, "max_iter": 50, "tol": 1e-06,
        |  "n_init": 1, "metric": "dtw", "max_iter_barycenter": 100,
        |  "metric_params": null, "n_jobs": null, "dtype": "float64",
        |  "random_state": 7, "init": "k-means++", "verbose": 0},
        | "model_params": {
        |  "cluster_centers_": [
        |    [[0.0], [0.5], [1.0], [1.5]],
        |    [[5.0], [5.5], [6.0], [NaN]]],
        |  "inertia_": 0.125, "n_iter_": 3}}""".stripMargin
    val f = java.nio.file.Files.createTempFile("tslearn_km", ".json")
    java.nio.file.Files.writeString(f, fixture)
    val m = GraftML.importTslearnJson(f.toString, "TimeSeriesKMeans")
    assert(m.estimator == "TimeSeriesKMeans")
    // hyper renames applied; unknown scalars carried through; nulls dropped
    assert(m.hyper("k") == "2" && m.hyper("maxIter") == "50" &&
      m.hyper("nInit") == "1" && m.hyper("seed") == "7" &&
      m.hyper("metric") == "dtw" && m.hyper("init") == "k-means++")
    assert(!m.hyper.contains("metric_params") && !m.hyper.contains("n_jobs"))
    assert(m.scalars("inertia").toDouble == 0.125)
    // NaN padding stripped from the second center (ts_size semantics)
    val arrs = m.arrays.filter(_._1 == "centroids").sortBy(_._2.toInt)
    assert(arrs(0)._3.toSeq == Seq(0.0, 0.5, 1.0, 1.5))
    assert(arrs(1)._3.toSeq == Seq(5.0, 5.5, 6.0))
    // the imported model predicts: nearest-centroid assignment
    val data = Seq(
      (0L, Array(0.1, 0.4, 1.1, 1.4)),
      (1L, Array(5.1, 5.6, 5.9, 5.8))).toDF("series_id", "values")
    val assigned = m.transform(data).orderBy("series_id")
      .select("cluster").as[Int].collect()
    assert(assigned.toSeq == Seq(0, 1))
    // and round-trips through the native persistence layout
    val dir = java.nio.file.Files.createTempDirectory("tslearn_import").toString
    GraftML.save(spark, m, dir)
    val re = GraftML.load(spark, dir)
    assert(re.transform(data).orderBy("series_id").select("cluster")
      .as[Int].collect().toSeq == Seq(0, 1))
    // KShape route dispatches too
    val ks = GraftML.importTslearnJson(f.toString, "KShape")
    assert(ks.estimator == "KShape")
    java.nio.file.Files.delete(f)
  }
}
