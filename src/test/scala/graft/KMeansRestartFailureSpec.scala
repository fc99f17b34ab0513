package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.TimeSeriesKMeans

/** A best-of-n k-means fit whose restart fails must fail as a whole, and
  * only after its sibling restarts have finished: no job of the fit may
  * outlive the call, and every cache the fit made is released. */
class KMeansRestartFailureSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  test("a cancelled restart job surfaces, with no job still running and no cache left behind") {
    val sc = spark.sparkContext
    val rng = new scala.util.Random(5)
    val df = (0 until 40).map(i => (i.toLong, Array.tabulate(16)(t =>
        math.sin(0.3 * t + 2 * (i % 2)) + 0.1 * rng.nextGaussian())))
      .toDF("series_id", "values")
    val persistedBefore = sc.getPersistentRDDs.keySet
    // cancel the first barycenter-update job (it runs inside a restart
    // attempt); the other attempt keeps running its Lloyd iterations
    val cancelled = new AtomicBoolean(false)
    val submitted = new ConcurrentLinkedQueue[java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        submitted.add(e.time)
        if (e.stageInfos.exists(_.name.contains("DistributedBary")) &&
            cancelled.compareAndSet(false, true))
          sc.cancelJob(e.jobId)
      }
    }
    sc.addSparkListener(listener)
    try {
      val err = intercept[Exception] {
        new TimeSeriesKMeans(k = 2, maxIter = 15, tol = -1.0, nInit = 2,
          init = "first").fit(df)
      }
      val returnedAt = System.currentTimeMillis()
      assert(cancelled.get(), "no update job was cancelled")
      assert(err.getMessage.contains("cancel"), err.getMessage)
      // the status store trails the scheduler by a listener-bus hop
      val deadline = System.nanoTime() + 2000000000L
      while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(sc.statusTracker.getActiveJobIds.isEmpty,
        s"jobs still active: ${sc.statusTracker.getActiveJobIds.toSeq}")
      Thread.sleep(500)
      val late = submitted.asScala.count(_ > returnedAt)
      assert(late == 0, s"$late jobs were submitted after fit returned")
      val leaked = sc.getPersistentRDDs.keySet -- persistedBefore
      assert(leaked.isEmpty, s"persisted RDDs left by the fit: $leaked")
    } finally sc.removeSparkListener(listener)
  }
}
