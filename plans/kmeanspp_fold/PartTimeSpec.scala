package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TsFunctions
import graft.ml.TimeSeriesKMeans

/** Wall of a euclidean k-means fit on the PartProbeSpec synthetic shapes
  * (20k / 60k series of 2 events, resampled + z-normed to 32), with
  * withFitInput's coalesce(nPart) and with repartition(nPart), alternating.
  * Run: in a scratch checkout, make withFitInput's body call
  * `if (sys.props.get("probe.repart").contains("1")) data.repartition(nPart)
  * else data.coalesce(nPart)`, copy this file into src/test/scala/graft,
  * `sbt "testOnly graft.PartTimeSpec"`, grep PROBE (output: part_time.txt). */
class PartTimeSpec extends AnyFunSuite {
  test("time") {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4").config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    for (users <- Seq(20000L, 60000L)) {
      val per = 2L
      val ev = spark.range(users * per).select((col("id") % users).as("user_id"), col("id").as("event_id"),
        col("id").as("ts_us"), (rand(1) * 10).as("value"))
      val s = ev.groupBy(col("user_id").as("series_id"))
        .agg(transform(array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("value")))),
          x => x.getField("value")).as("values"))
        .select(col("series_id"), TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
        .localCheckpoint()
      val n = s.count()
      println(s"PROBE users=$users n=$n parts=${s.rdd.getNumPartitions}")
      def fit(): Double = {
        val t0 = System.nanoTime()
        new TimeSeriesKMeans(k = 4, maxIter = 10, tol = -1.0, init = "first").fit(s)
        (System.nanoTime() - t0) / 1e9
      }
      fit() // warm-up
      for (rep <- 1 to 5; mode <- (if (rep % 2 == 1) Seq("0", "1") else Seq("1", "0"))) {
        System.setProperty("probe.repart", mode)
        val w = fit()
        val load = scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        println(f"PROBE users=$users rep=$rep mode=${if (mode == "1") "repartition" else "coalesce"} wall=$w%.3f s load=$load")
      }
      s.unpersist()
    }
  }
}
