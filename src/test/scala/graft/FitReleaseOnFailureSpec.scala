package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.{DistributedBary, EarlyClassifier, KShape, NonMyopicEarlyClassifier,
  Shapelets, TimeSeriesKMeans}

/** An iterative fit that fails partway through releases what it persisted:
  * every job that starts once the fit holds a persisted RDD of its own is
  * cancelled, the fit must fail with the cancel, and
  * `sc.getPersistentRDDs` must be left as the fit found it. */
class FitReleaseOnFailureSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  /** Two separable label groups of 24 series of length 16. */
  private def input: DataFrame = {
    val rng = new scala.util.Random(3)
    (0 until 24).map { i =>
      val g = i % 2
      (i.toLong, Array.tabulate(16)(t =>
        math.sin(0.4 * t + 2 * g) + 0.1 * rng.nextGaussian()), g.toString)
    }.toDF("series_id", "values", "label")
  }

  private def cancelledFit(fit: => Any): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cancelled = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if ((sc.getPersistentRDDs.keySet -- before).nonEmpty) {
          cancelled.incrementAndGet()
          sc.cancelJob(e.jobId)
        }
    }
    sc.addSparkListener(listener)
    try {
      val err = intercept[Exception](fit)
      assert(cancelled.get() > 0, "no job ran while the fit held a persisted RDD")
      assert(err.getMessage.contains("cancel"), err.getMessage)
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"persisted RDDs left by the failed fit: $leaked")
    } finally sc.removeSparkListener(listener)
  }

  private val fits: Seq[(String, DataFrame => Any)] = Seq(
    "TimeSeriesKMeans.fit" -> (df => new TimeSeriesKMeans(k = 2, maxIter = 3,
      init = "first").fit(df)),
    "KShape.fit" -> (df => new KShape(k = 2, maxIter = 3).fit(df)),
    "EarlyClassifier.fit" -> (df => new EarlyClassifier(tGrid = Seq(4, 8, 16)).fit(df)),
    "NonMyopicEarlyClassifier.fit" -> (df => new NonMyopicEarlyClassifier(nClusters = 2)
      .fit(df)),
    "Shapelets.fit" -> (df => Shapelets.fit(df, perSize = 2, seed = 1)),
    "Shapelets.fitRefined" -> (df => Shapelets.fitRefined(df, perSize = 2, iters = 3,
      seed = 1)),
    "Shapelets.refineLoop" -> (df => Shapelets.refineLoop(df,
      Array(Array(0.0, 1.0, 0.0, -1.0)), Array(Array(0.1), Array(0.2)), new Array[Double](2),
      lr = 0.1, iters = 3, labels = Array("0", "1"))),
    "DistributedBary.dba" -> (df => DistributedBary.dba(
      df.select($"values").as[Array[Double]], maxIter = 3)))

  for ((name, fit) <- fits)
    test(s"$name releases its persisted input when a job is cancelled") {
      cancelledFit(fit(input))
    }
}
