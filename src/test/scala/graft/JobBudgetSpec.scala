package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.{KShape, KernelKMeans, TimeSeriesKMeans}

/** Spark jobs per k-means fit:
  *  - kernel k-means: one to collect the rows, one to broadcast the gram's
  *    input, one per Lloyd iteration, one for the model's term3;
  *  - euclidean k-means (init = "first"): one to count the rows (it fills
  *    the fit's local checkpoint), one for the init collect, one per Lloyd
  *    iteration;
  *  - KShape: the same with init = "first"; with init = "sample", the init
  *    is `takeSample`'s two (its count and its sample collect);
  *  - k-means++ seeding (`kmeansPlusPlusInit`): one to count the rows, one
  *    fold for the round-0 pick and one per round; under init =
  *    "k-means++det" the fit's own count serves it.
  * A regression gate on the shape of the fit: each extra coordination
  * round, per iteration or before the first one, shows up here. */
class JobBudgetSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  private def input: DataFrame = {
    val rng = new scala.util.Random(11)
    (0 until 16).map(i => (i.toLong, Array.fill(32)(rng.nextGaussian() + i % 3)))
      .toDF("series_id", "values")
  }

  /** Jobs started while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc); n.get() }
    finally sc.removeSparkListener(listener)
  }

  private def km(maxIter: Int, blocks: Int) =
    new KernelKMeans(k = 3, maxIter = maxIter, tol = Double.NegativeInfinity, blocks = blocks)

  test("fitModel runs at most maxIter + 3 jobs, fitAssign at most maxIter + 2") {
    val df = input
    for (maxIter <- Seq(2, 4)) {
      val model = jobs(km(maxIter, 0).fitModel(df))
      assert(model <= maxIter + 3, s"fitModel(maxIter $maxIter) ran $model jobs")
      val assign = jobs(km(maxIter, 0).fitAssign(df).collect())
      assert(assign <= maxIter + 2, s"fitAssign(maxIter $maxIter) ran $assign jobs")
    }
  }

  test("each Lloyd iteration is one job on both gram routes") {
    val df = input
    for (blocks <- Seq(0, 2)) {
      val two = jobs(km(2, blocks).fitModel(df))
      val four = jobs(km(4, blocks).fitModel(df))
      assert(four - two == 2, s"blocks $blocks: maxIter 2 ran $two jobs, maxIter 4 ran $four")
    }
  }

  test("euclidean k-means and KShape fits run at most maxIter + 3 jobs") {
    val df = input
    val fits: Seq[(String, Int => Unit)] = Seq(
      "k-means first" -> (m => new TimeSeriesKMeans(k = 3, maxIter = m,
        tol = Double.NegativeInfinity, init = "first").fit(df)),
      "KShape first" -> (m => new KShape(k = 3, maxIter = m,
        tol = Double.NegativeInfinity, init = "first").fit(df)),
      "KShape sample" -> (m => new KShape(k = 3, maxIter = m,
        tol = Double.NegativeInfinity).fit(df)))
    for ((name, fit) <- fits; maxIter <- Seq(2, 4)) {
      val n = jobs(fit(maxIter))
      assert(n <= maxIter + 3, s"$name (maxIter $maxIter) ran $n jobs")
    }
  }

  // init = "first" seeds k-means with one series of each of the input's
  // three offset groups, so no cluster empties and no reseed sample job
  // runs (KShape keeps an emptied cluster's centroid: no job either way)
  test("each euclidean k-means and KShape Lloyd iteration is one job") {
    val df = input
    val fits: Seq[(String, Int => Unit)] = Seq(
      "k-means" -> (m => new TimeSeriesKMeans(k = 3, maxIter = m,
        tol = Double.NegativeInfinity, init = "first").fit(df)),
      "KShape" -> (m => new KShape(k = 3, maxIter = m,
        tol = Double.NegativeInfinity, init = "first").fit(df)))
    for ((name, fit) <- fits) {
      val (two, four) = (jobs(fit(2)), jobs(fit(4)))
      assert(four - two == 2, s"$name: maxIter 2 ran $two jobs, maxIter 4 ran $four")
    }
  }

  test("k-means++ seeding runs at most k + 2 jobs, its fit at most maxIter + k + 2") {
    val df = input
    for (metric <- Seq("euclidean", "dtw"); k <- Seq(2, 3)) {
      val n = jobs(TimeSeriesKMeans.kmeansPlusPlusInit(df, k = k, metric = metric).collect())
      assert(n <= k + 2, s"kmeansPlusPlusInit($metric, k $k) ran $n jobs")
    }
    for (k <- Seq(2, 3); maxIter <- Seq(2, 4)) {
      val n = jobs(new TimeSeriesKMeans(k = k, maxIter = maxIter, tol = Double.NegativeInfinity,
        init = "k-means++det").fit(df))
      assert(n <= maxIter + k + 2, s"k-means++det fit (k $k, maxIter $maxIter) ran $n jobs")
    }
  }
}
