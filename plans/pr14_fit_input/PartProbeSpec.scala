package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.TSModel
import graft.functions.TsFunctions

/** Partition counts of fit inputs as they come out of a shuffle read:
  * the sf0.001 / sf0.01 / sf0.1 events through TSModel.eventsToSeries and
  * resample + z-norm, and synthetic event sets of 20k-200k series, each
  * next to the partition count `TimeSeriesKMeans.withFitInput`'s rule
  * asks for. Run: copy into src/test/scala/graft of a scratch checkout
  * whose ./testdata holds the sf dirs, then
  * `sbt "testOnly graft.PartProbeSpec"` and grep PROBE (output of
  * one run on 4 cores: partition_probe.txt). */
class PartProbeSpec extends AnyFunSuite {
  test("probe") {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4").config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    println("PROBE conf parallelismFirst=" + spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") +
      " minPartitionSize=" + spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"))
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val s = TSModel.eventsToSeries(spark, s"testdata/$sf").select(col("series_id"),
        TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values")).localCheckpoint()
      println(s"PROBE $sf n=${s.count()} parts=${s.rdd.getNumPartitions}")
    }
    for (users <- Seq(20000L, 60000L, 200000L); per <- Seq(2L, 10L)) {
      val ev = spark.range(users * per).select((col("id") % users).as("user_id"), col("id").as("event_id"),
        col("id").as("ts_us"), (rand(1) * 10).as("value"))
      val s = ev.groupBy(col("user_id").as("series_id"))
        .agg(transform(array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("value")))),
          x => x.getField("value")).as("values"))
        .select(col("series_id"), TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
        .localCheckpoint()
      val n = s.count()
      println(s"PROBE synthetic users=$users events/user=$per n=$n parts=${s.rdd.getNumPartitions} nPart=${math.max(1, math.min(4, n / 10000))}")
    }
  }
}
