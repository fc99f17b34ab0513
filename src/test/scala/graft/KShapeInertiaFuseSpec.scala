package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.kernels.Kernels
import graft.ml.{DistributedBary, KShape}

/** VERDICT r17 #6: KShape's per-iteration inertia reduce is fused into the
  * gram aggregation (one job per Lloyd iteration instead of two plus a
  * cache). The fuse is only admissible if the fused path reproduces the
  * two-job path bit-for-bit — the SBD distances feed the trace-replaying
  * oracle. This spec replays the PRE-FUSE loop verbatim (assignment map →
  * cache → separate inertia reduce → shapeByClusterPower/shapeByCluster
  * gram pass) and asserts the fused `fit` yields bit-equal centroids at
  * every iteration and the same inertia. Distances are bit-equal by
  * construction (computed once in the assignment map, threaded through),
  * so the centroid trace — the value the oracle replays — is locked at
  * 0 ulp. The inertia TOTAL folds the identical d² multiset in a different
  * association order (per-cluster subtotals vs raw row order), so it is
  * compared at 1e-12 relative instead; inertia's only consumers are the
  * tol gate (tol = −1 in the declared query — a 1-ulp wiggle cannot flip
  * `prev − inertia < −1`) and the never-emitted Model.inertia scalar. */
class KShapeInertiaFuseSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  // deterministic ragged-free fixture: 30 series of length 16 with three
  // planted shape families (shifted sines, ramps, square-ish), so the fit
  // does real reassignment work across iterations
  private def fixture = (0L until 30L).map { id =>
    val fam = (id % 3).toInt
    val vs = Array.tabulate(16) { t =>
      fam match {
        case 0 => math.sin((t + id % 5).toDouble / 3.0) + 0.01 * id
        case 1 => (t * (1 + id % 4)).toDouble / 7.0 - 1.0
        case _ => (if ((t / 4) % 2 == 0) 1.0 else -1.0) + 0.02 * (id % 7)
      }
    }
    (id, vs)
  }.toDF("series_id", "values")

  /** The pre-fuse KShape.fit loop, verbatim: two jobs per iteration.
    * Returns (per-iteration centroids, final inertia). */
  private def replayOldLoop(df: org.apache.spark.sql.DataFrame, k: Int,
                            maxIter: Int, shapeSteps: Int)
      : (Seq[Array[Array[Double]]], Double) = {
    val data0 = df.select(col("series_id").cast("long"), col("values").cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (id, vs) =>
        (id, Kernels.scaleMeanVariance(Kernels.uni(vs.toIndexedSeq: _*)).map(_(0)))
      }
      .localCheckpoint()
    val n = data0.count()
    val nPart = math.max(1, math.min(spark.sparkContext.defaultParallelism, n / 10000).toInt)
    val data = data0.repartition(nPart).cache()
    var centroids: Array[Array[Double]] =
      data0.toDF("id", "vs").orderBy("id").limit(k)
        .as[(Long, Array[Double])].collect().sortBy(_._1).map(_._2)
    var inertia = Double.PositiveInfinity
    val trace = scala.collection.mutable.ArrayBuffer[Array[Array[Double]]]()
    for (_ <- 0 until maxIter) {
      val bc = spark.sparkContext.broadcast(centroids)
      val assigned = data.map { case (id, vs) =>
        val (c, d) = KShape.nearest(vs, bc.value)
        (id, c, d, vs)
      }.cache()
      inertia = assigned.map(r => r._3 * r._3).reduce(_ + _) / n
      val updated =
        if (shapeSteps > 0)
          DistributedBary.shapeByClusterPower(
            assigned.map(t => (t._2, t._4)), centroids, shapeSteps)
        else DistributedBary.shapeByCluster(
          assigned.map(t => (t._2, t._4)), centroids)
      centroids = Array.tabulate(k)(c => updated.getOrElse(c, centroids(c)))
      assigned.unpersist()
      trace += centroids.map(_.clone())
    }
    data.unpersist()
    (trace.toSeq, inertia)
  }

  private def assertFusedEqualsOld(shapeSteps: Int): Unit = {
    val df = fixture.localCheckpoint()
    val k = 3; val iters = 5
    val fused = new KShape(k = k, maxIter = iters, tol = -1.0,
      init = "first", shapeSteps = shapeSteps).fit(df)
    val (oldTrace, oldInertia) = replayOldLoop(df, k, iters, shapeSteps)
    val oldFinal = oldTrace.last
    for (c <- 0 until k) {
      assert(java.util.Arrays.equals(fused.centroids(c), oldFinal(c)),
        s"centroid $c drifted from the two-job trace (shapeSteps=$shapeSteps)")
    }
    assert(math.abs(fused.inertia - oldInertia) <= 1e-12 * math.abs(oldInertia),
      s"inertia ${fused.inertia} != two-job ${oldInertia} (shapeSteps=$shapeSteps)")
  }

  test("fused iteration == two-job trace, power-method route (the ts_kshape shape)") {
    assertFusedEqualsOld(shapeSteps = 60)
  }

  test("fused iteration == two-job trace, eigSym production route") {
    assertFusedEqualsOld(shapeSteps = 0)
  }
}
