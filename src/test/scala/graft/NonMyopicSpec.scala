package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ml.NonMyopicEarlyClassifier

/** Golden tests for the full-fidelity non-myopic early classifier against
  * the reference doctests (`early_classification.py:65-102`, `:246-334`,
  * `:548-570`). The fixture's three groups of identical series make the
  * doctest outputs invariant to the train/calibration split and to 1NN tie
  * order (symmetry), so the deterministic split reproduces them exactly.
  * Cluster NUMBERING depends on seeding, so assertions map clusters by
  * their center shape rather than by index. */
class NonMyopicSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  // to_time_series_dataset([[1,2,3,4,5,6] x3, [1,2,3,3,2,1] x3,
  //                         [3,2,1,1,2,3] x2]); y = [0,0,0,1,1,1,0,0]
  private val shapeA = Array(1.0, 2, 3, 4, 5, 6)
  private val shapeB = Array(1.0, 2, 3, 3, 2, 1)
  private val shapeC = Array(3.0, 2, 1, 1, 2, 3)
  private def fixture = Seq(
    (0L, shapeA, "0"), (1L, shapeA, "0"), (2L, shapeA, "0"),
    (3L, shapeB, "1"), (4L, shapeB, "1"), (5L, shapeB, "1"),
    (6L, shapeC, "0"), (7L, shapeC, "0")
  ).toDF("series_id", "values", "label")

  /** Index of the cluster whose center matches the given shape. */
  private def clusterOf(centers: Array[Array[Double]], shape: Array[Double]): Int = {
    val hits = centers.indices.filter(c =>
      centers(c).zip(shape).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    assert(hits.size == 1, s"expected exactly one cluster for shape ${shape.mkString(",")}")
    hits.head
  }

  test("doctest: pyck_, predicted classes, earliness, probas (ec.py:65-102)") {
    val model = new NonMyopicEarlyClassifier(nClusters = 3, lamb = 1000.0,
      costTimeParameter = 0.1, seed = 0).fit(fixture)

    // kmeans on three identical groups must recover the exact partition
    val (ca, cb, cc) = (clusterOf(model.centers, shapeA),
      clusterOf(model.centers, shapeB), clusterOf(model.centers, shapeC))

    // reference: print(model.pyck_) -> [[0,1,1],[1,0,0]] with clusters
    // ordered (B, A, C); i.e. P(y=0|B)=0, P(y=0|A)=1, P(y=0|C)=1
    assert(model.pyck(0)(cb) === 0.0 && model.pyck(1)(cb) === 1.0)
    assert(model.pyck(0)(ca) === 1.0 && model.pyck(1)(ca) === 0.0)
    assert(model.pyck(0)(cc) === 1.0 && model.pyck(1)(cc) === 0.0)

    // preds = [0,0,0,1,1,1,0,0]; pred_times = [4,4,4,4,4,4,1,1]
    val out = model.predict(fixture).orderBy("series_id")
      .select("series_id", "decided_at", "label")
      .as[(Long, Int, String)].collect()
    assert(out.map(_._3).toSeq == Seq("0", "0", "0", "1", "1", "1", "0", "0"))
    assert(out.map(_._2).toSeq == Seq(4, 4, 4, 4, 4, 4, 1, 1))

    // predict_proba one-hot rows ordered by class label
    val probas = model.predict(fixture).orderBy("series_id")
      .select("proba").as[Array[Double]].collect()
    val expect = Seq(Array(1.0, 0), Array(1.0, 0), Array(1.0, 0),
      Array(0.0, 1), Array(0.0, 1), Array(0.0, 1), Array(1.0, 0), Array(1.0, 0))
    probas.zip(expect).foreach { case (p, e) => assert(p.toSeq == e.toSeq) }

    // early_classification_cost(dataset, y) = 0.325 (ec.py:548-570)
    assert(math.abs(model.earlyClassificationCost(fixture) - 0.325) < 1e-12)
  }

  test("doctest: get_cluster_probas sigmoid gating (ec.py:246-275)") {
    // lamb=0 -> uniform [1/3, 1/3, 1/3] for ts0=[1,2]
    val flat = new NonMyopicEarlyClassifier(nClusters = 3, lamb = 0.0, seed = 0)
      .fit(fixture)
    flat.clusterProbas(Array(1.0, 2.0)).foreach(p => assert(math.abs(p - 1.0 / 3) < 1e-9))

    // lamb=10000 -> ts0=[1,2]: 0.5/0.5 on the two clusters sharing that
    // prefix (A, B), 0 on C; ts1=[3,2]: all mass on C
    val sharp = new NonMyopicEarlyClassifier(nClusters = 3, lamb = 10000.0, seed = 0)
      .fit(fixture)
    val (ca, cb, cc) = (clusterOf(sharp.centers, shapeA),
      clusterOf(sharp.centers, shapeB), clusterOf(sharp.centers, shapeC))
    val p0 = sharp.clusterProbas(Array(1.0, 2.0))
    assert(math.abs(p0(ca) - 0.5) < 1e-6 && math.abs(p0(cb) - 0.5) < 1e-6)
    assert(p0(cc) < 1e-6)
    val p1 = sharp.clusterProbas(Array(3.0, 2.0))
    assert(math.abs(p1(cc) - 1.0) < 1e-6)
  }

  test("doctest: _expected_costs on ts1=[3,2] -> [2,3,4,5,6] (ec.py:314-334)") {
    val model = new NonMyopicEarlyClassifier(nClusters = 3, lamb = 10000.0,
      costTimeParameter = 1.0, seed = 0).fit(fixture)
    val costs = model.expectedCosts(Array(3.0, 2.0))
    assert(costs.length == 5)
    costs.zip(Seq(2.0, 3.0, 4.0, 5.0, 6.0)).foreach { case (c, e) =>
      assert(math.abs(c - e) < 1e-9, s"cost $c != $e")
    }
  }

  test("min_t respected and sz fallback decision") {
    val model = new NonMyopicEarlyClassifier(nClusters = 3, minT = 2,
      lamb = 1000.0, costTimeParameter = 0.1, seed = 0).fit(fixture)
    val out = model.predict(fixture).orderBy("series_id")
      .select("decided_at").as[Int].collect()
    assert(out.forall(_ >= 2), "no decision before min_t")
  }
}
