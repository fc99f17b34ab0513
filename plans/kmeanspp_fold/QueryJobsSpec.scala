package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Jobs and wall per run of the two k-means++ queries at sf0.1, three
  * runs each. Run: copy into src/test/scala/graft of a scratch checkout
  * whose ./testdata holds sf0.1, then `sbt "testOnly graft.QueryJobsSpec"`
  * and grep PROBE (output of one run per side: query_jobs.txt). */
class QueryJobsSpec extends AnyFunSuite with TestSpark {
  test("jobs") {
    val sc = spark.sparkContext
    for (q <- Seq("ts_kmeanspp_init", "ts_kmeanspp_dtw"); rep <- 1 to 3) {
      val n = new AtomicInteger()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      ListenerBusDrain(sc)
      sc.addSparkListener(l)
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(q)(spark, "testdata/sf0.1").collect().length
      val w = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain(sc)
      sc.removeSparkListener(l)
      println(f"PROBE $q rep=$rep rows=$rows jobs=${n.get()} wall=$w%.3f s")
    }
  }
}
