package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pca

class PcaSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  // deterministic anisotropic cloud: dominant axis u (variance ~25),
  // secondary axis w (variance ~4), tiny ripple on the rest
  private def cloud(d: Int, n: Int) = {
    val u = Array.tabulate(d)(j => if (j < 2) math.sqrt(0.5) else 0.0)
    val w = Array.tabulate(d)(j =>
      if (j == 0) math.sqrt(0.5) else if (j == 1) -math.sqrt(0.5) else 0.0)
    (0 until n).map { i =>
      val a = 5.0 * math.sin(i * 1.7)     // spread along u
      val b = 2.0 * math.cos(i * 2.3)     // spread along w
      (i.toLong, Array.tabulate(d)(j =>
        (3.0 + a * u(j) + b * w(j) + 0.01 * math.sin(i + j)).toFloat))
    }
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }

  test("PCA recovers the dominant axes of an anisotropic cloud") {
    val d = 16
    val df = cloud(d, 400).toDF("vec_id", "embedding")
    val m = Pca.fit(df, k = 2, steps = 60)
    val u = Array.tabulate(d)(j => if (j < 2) math.sqrt(0.5) else 0.0)
    val w = Array.tabulate(d)(j =>
      if (j == 0) math.sqrt(0.5) else if (j == 1) -math.sqrt(0.5) else 0.0)
    assert(math.abs(cos(m.comps(0), u)) > 0.999,
      s"pc1 not aligned with dominant axis: ${cos(m.comps(0), u)}")
    assert(math.abs(cos(m.comps(1), w)) > 0.999,
      s"pc2 not aligned with secondary axis: ${cos(m.comps(1), w)}")
    assert(m.eigs(0) > m.eigs(1) && m.eigs(1) > 0,
      s"eigenvalues not descending-positive: ${m.eigs.toSeq}")
    // orthonormal components
    assert(math.abs(m.comps(0).map(x => x * x).sum - 1.0) < 1e-9)
    assert(math.abs(m.comps(1).map(x => x * x).sum - 1.0) < 1e-9)
    assert(math.abs(m.comps(0).zip(m.comps(1)).map { case (a, b) => a * b }.sum) < 1e-6,
      "components not orthogonal")
    // eigenvalues ≈ the constructed axis variances (E[a²]≈12.5, E[b²]≈2)
    assert(math.abs(m.eigs(0) - 12.5) < 0.5, s"λ1 ${m.eigs(0)}")
    assert(math.abs(m.eigs(1) - 2.0) < 0.2, s"λ2 ${m.eigs(1)}")
  }

  test("fit is partition-independent; projections are centered") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Pca.fit(df, k = 2, steps = 60)
    val b = Pca.fit(df.repartition(13, col("label")), k = 2, steps = 60)
    a.comps.zip(b.comps).foreach { case (va, vb) =>
      va.zip(vb).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-8, s"component drifted under repartition: $x vs $y")
      }
    }
    val proj = Pca.project(df, a).agg(avg("pc1"), avg("pc2"))
      .as[(Double, Double)].head()
    assert(math.abs(proj._1) < 1e-6 && math.abs(proj._2) < 1e-6,
      s"projections not centered: $proj")
    // whitened components have unit population variance (= λ/λ)
    val wv = Pca.project(df, a, whiten = true)
      .agg(avg(col("pc1") * col("pc1")), avg(col("pc2") * col("pc2")))
      .as[(Double, Double)].head()
    assert(math.abs(wv._1 - 1.0) < 1e-6 && math.abs(wv._2 - 1.0) < 1e-6,
      s"whitened variance not 1: $wv")
  }

  test("projection is map-only: no exchange, no UDF") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m = Pca.fit(df, k = 2, steps = 10)
    val p = Pca.project(df, m).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"projection grew a shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"projection fell off codegen:\n$p")
  }
}
