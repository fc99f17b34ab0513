package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.kernels.{Advanced, Kernels}
import graft.kernels.Kernels.uni

class AdvancedSpec extends AnyFunSuite with TestSpark {
  test("L-DTW >= DTW; unconstrained L equals DTW (test_metrics.py:74-112 invariants)") {
    val rng = new scala.util.Random(11)
    for (_ <- 1 to 30) {
      val n = 4 + rng.nextInt(8)
      val m = 4 + rng.nextInt(8)
      val a = uni(Array.fill(n)(rng.nextGaussian()).toIndexedSeq: _*)
      val b = uni(Array.fill(m)(rng.nextGaussian()).toIndexedSeq: _*)
      val d = Kernels.dtw(a, b)
      val ldtwFree = Advanced.dtwLimitedWarpingLength(a, b, n + m)
      assert(math.abs(ldtwFree - d) < 1e-9, s"L=n+m should equal dtw: $ldtwFree vs $d")
      val ldtwTight = Advanced.dtwLimitedWarpingLength(a, b, math.max(n, m))
      assert(ldtwTight >= d - 1e-9, "L-DTW must be >= DTW")
    }
  }

  test("L-DTW rejects unfeasible max length") {
    intercept[IllegalArgumentException] {
      Advanced.dtwLimitedWarpingLength(uni(1, 2, 3), uni(1, 2, 3, 4), 3)
    }
  }

  test("dtwPathFromMetric with euclidean local dist reproduces L1-style path") {
    val (path, cost) = Advanced.dtwPathFromMetric(uni(1, 2, 3), uni(1.0, 2.0, 2.0, 3.0),
      (a, b) => math.abs(a(0) - b(0)))
    assert(cost == 0.0)
    assert(path.toSeq == Seq((0, 0), (1, 1), (1, 2), (2, 3)))
  }

  test("ctw path on univariate matches dtw path (ctw.py doctest)") {
    val (path, dist) = Advanced.ctwPath(uni(1, 2, 3), uni(1.0, 2.0, 2.0, 3.0))
    assert(path.head == (0, 0) && path.last == (2, 3))
    assert(dist >= 0.0 && java.lang.Double.isFinite(dist))
  }

  test("ctwFixed: extra rounds past the fixpoint are no-ops") {
    // the projection depends only on the path, so once the path repeats
    // every further round is identical — the property the ts_ctw_pairs
    // fixed-round oracle rests on
    val a = uni((0 until 24).map(i => math.sin(i * 0.3)): _*)
    val b = uni((0 until 24).map(i => math.cos(i * 0.25) + 0.05 * (i % 5)): _*)
    val d6 = Advanced.ctwFixed(a, b, 6)
    val d7 = Advanced.ctwFixed(a, b, 7)
    val d12 = Advanced.ctwFixed(a, b, 12)
    assert(d6 == d7 && d7 == d12,
      s"rounds 6/7/12 disagree: $d6 / $d7 / $d12 — path not at fixpoint")
  }

  test("ctw aligns different-dimension series") {
    val s1 = uni(1, 2, 3)
    val s2 = Array(Array(1.0, 1.0), Array(2.0, 2.0), Array(2.0, 2.0), Array(3.0, 3.0))
    val (path, dist) = Advanced.ctwPath(s1, s2)
    assert(path.head == (0, 0) && path.last == (2, 3))
    assert(java.lang.Double.isFinite(dist))
  }

  test("shapelets: transform separates blobs, classifier fits") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val rows = (0 until 40).map { i =>
      val blob = i / 20
      val base = if (blob == 0) (t: Int) => math.sin(t / 2.0) * 2 else (t: Int) => if (t % 8 < 4) 2.0 else -2.0
      (i.toLong, Array.tabulate(32)(t => base(t) + rng.nextGaussian() * 0.05), blob.toString)
    }
    val df = rows.toDF("series_id", "values", "label")
    val model = graft.ml.Shapelets.fit(df, perSize = 3, seed = 2)
    val pred = model.predict(df)
      .join(df.select(col("series_id"), col("label").as("truth")), "series_id")
    val acc = pred.where(col("label") === col("truth")).count().toDouble / 40
    assert(acc >= 0.9, s"shapelet classifier accuracy $acc")
  }

  test("grabocka shapelet-size heuristic matches the reference doctest") {
    // shapelets.py:185-191: n_ts=100, ts_sz=100, n_classes=3, l=0.1, r=2
    val d = graft.ml.Shapelets.grabockaParamsToShapeletSizes(
      nTs = 100, tsSz = 100, nClasses = 3, l = 0.1, r = 2)
    assert(d == Map(10 -> 4, 20 -> 4))
    // r is clamped to ts_sz; every length gets at least one shapelet
    val tiny = graft.ml.Shapelets.grabockaParamsToShapeletSizes(
      nTs = 2, tsSz = 3, nClasses = 2, l = 0.1, r = 5)
    assert(tiny.keySet == Set(1, 2, 3) && tiny.values.forall(_ == 1))
  }

  test("early classifier decides earlier for easy series") {
    import spark.implicits._
    val rng = new scala.util.Random(9)
    val rows = (0 until 30).map { i =>
      val blob = i / 15
      val base = if (blob == 0) 5.0 else -5.0
      (i.toLong, Array.fill(24)(base + rng.nextGaussian() * 0.1), blob.toString)
    }
    val df = rows.toDF("series_id", "values", "label")
    val ec = new graft.ml.EarlyClassifier(tGrid = Seq(4, 8, 16, 24), lambdaCost = 0.01)
    val model = ec.fit(df)
    assert(model.accuracy(4) == 1.0, "easy blobs should classify perfectly at t=4")
    val pred = model.predict(df)
    val decidedAt = pred.select(avg(col("decided_at"))).head().getDouble(0)
    assert(decidedAt <= 8.0, s"should decide early, got $decidedAt")
    val acc = pred.join(df.select(col("series_id"), col("label").as("truth")), "series_id")
      .where(col("label") === col("truth")).count().toDouble / 30
    assert(acc == 1.0)
  }

  test("native DTW expression matches UDF kernel exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.{NativeExpressions, TsFunctions}
    val rng = new scala.util.Random(21)
    val df = (0 until 50).map(i =>
      (i.toLong, Array.fill(20 + rng.nextInt(10))(rng.nextGaussian()),
        Array.fill(20 + rng.nextInt(10))(rng.nextGaussian())))
      .toDF("id", "a", "b")
    val both = df.select(
      NativeExpressions.dtwNative(col("a"), col("b")).as("native"),
      TsFunctions.dtwUdf(col("a"), col("b")).as("viaUdf"),
      NativeExpressions.dtwNative(col("a"), col("b"), 3).as("nativeBand"),
      TsFunctions.dtwSakoeUdf(col("a"), col("b"), lit(3)).as("udfBand")).collect()
    both.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "unconstrained mismatch")
      assert(r.getDouble(2) == r.getDouble(3), "banded mismatch")
    }
  }

  test("TsFunctions.register: re-registering works and SQL ts_dtw equals Kernels.dtw") {
    import graft.functions.TsFunctions
    // the SQL surface README documents; a second register must replace,
    // not fail
    TsFunctions.register(spark)
    TsFunctions.register(spark)
    val a = Array(0.0, 1.0, 2.5, 1.0, -0.5)
    val b = Array(0.5, 2.0, 2.0, 0.0)
    val got = spark.sql(
      s"SELECT ts_dtw(array(${a.mkString(", ")}), array(${b.mkString(", ")}))")
      .head().getDouble(0)
    assert(got == Kernels.dtw(uni(a), uni(b)))
  }

  test("native expressions COMPILE under codegen (no fallback) and match eval") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.functions.DtwExpression
    val at = ArrayType(DoubleType, containsNull = false)
    val a = Array(1.0, 2.0, 3.0, 4.0)
    val b = Array(1.0, 2.5, 2.5, 4.0)
    val row = InternalRow(new GenericArrayData(a), new GenericArrayData(b))
    val dtwE = DtwExpression(BoundReference(0, at, nullable = false),
      BoundReference(1, at, nullable = false), 2)
    // GenerateMutableProjection compiles doGenCode directly — a broken
    // implementation throws here instead of silently falling back
    val proj = GenerateMutableProjection.generate(Seq(dtwE))
    val out = proj(row)
    assert(out.getDouble(0) == graft.kernels.Kernels.dtwFlatEA(a, b, 2, Double.PositiveInfinity))
  }
}
