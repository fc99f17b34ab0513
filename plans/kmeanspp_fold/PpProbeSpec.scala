package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.TimeSeriesKMeans

/** Jobs per kmeansPlusPlusInit call and per k-means++det fit on the
  * JobBudgetSpec input, and the exact seeding traces (pot as hex) of the
  * ClusteringSpec inputs. As written it runs the parent's exploded-input
  * API; on the change, `pp` passes `df` itself (outputs: probe_parent.txt,
  * probe_change.txt). Run: copy into src/test/scala/graft of a scratch
  * checkout, `sbt "testOnly graft.PpProbeSpec"`, grep PROBE. */
class PpProbeSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._
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
  private def exploded(df: DataFrame): DataFrame =
    df.select(col("series_id"), posexplode(col("values")).as(Seq("j", "v")))
  private def pp(df: DataFrame, k: Int, metric: String): DataFrame =
    TimeSeriesKMeans.kmeansPlusPlusInit(exploded(df), k = k, metric = metric)
  private def show(name: String, df: DataFrame): Unit =
    println(s"PROBE $name " + df.as[(Int, Long, Double)].collect().sortBy(_._1)
      .map(t => s"(${t._1},${t._2},${java.lang.Double.toHexString(t._3)}=${t._3})").mkString(" "))

  test("probe") {
    val rng = new scala.util.Random(11)
    val input = (0 until 16).map(i => (i.toLong, Array.fill(32)(rng.nextGaussian() + i % 3)))
      .toDF("series_id", "values")
    for (metric <- Seq("euclidean", "dtw"); k <- Seq(2, 3))
      println(s"PROBE jobs kmeansPlusPlusInit $metric k=$k: " + jobs(pp(input, k, metric).collect()))
    for (maxIter <- Seq(2, 4))
      println(s"PROBE jobs fit k-means++det maxIter=$maxIter: " + jobs(new TimeSeriesKMeans(k = 3,
        maxIter = maxIter, tol = Double.NegativeInfinity, init = "k-means++det").fit(input)))
    val degen = (0 until 6).map { i =>
      (i.toLong, Array.tabulate(8)(j => if (i % 2 == 0) j.toDouble else 10.0 - j))
    }.toDF("series_id", "values")
    for (metric <- Seq("euclidean", "dtw")) show(s"degenerate $metric", pp(degen, 3, metric))
    val three = (0 until 30).map { i =>
      val base = (i % 3) * 100.0
      (i.toLong, Array.tabulate(8)(j => base + (i / 3) * 0.01 + j * 0.001))
    }.toDF("series_id", "values")
    for (metric <- Seq("euclidean", "dtw")) show(s"three $metric", pp(three, 3, metric))
    for (metric <- Seq("euclidean", "dtw")) show(s"jobbudget $metric", pp(input, 3, metric))
    val m = new TimeSeriesKMeans(k = 3, init = "k-means++det", maxIter = 5).fit(three)
    println("PROBE fit3 inertia " + m.inertia + " " + m.centroids.map(_.mkString(",")).mkString(" | "))
  }
}
