package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucketing leg of the 100 TB design: a fact table that is joined
  * repeatedly on the same key (events by user, documents by doc_id,
  * embeddings by vec_id) should be WRITTEN bucketed on that key, so every
  * downstream equi-join and aggregation is co-located — zero shuffle at
  * read time, at any scale. Locked here as a plan shape: two tables
  * bucketed on the join key sort-merge-join with NO Exchange.
  */
class BucketedJoinSpec extends AnyFunSuite {
  lazy val warehouse: String =
    java.nio.file.Files.createTempDirectory("graft_warehouse").toString
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", warehouse)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SMJ path
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("bucketed-by-key tables join and aggregate with zero exchange") {
    val sf = "/root/testdata/sf0.001"
    // when the suite shares an existing SparkSession the warehouse config
    // is fixed at first creation: drop both tables AND their physical
    // locations (a stale dir without a catalog entry — e.g. from a prior
    // in-memory-catalog JVM — still fails CTAS with LOCATION_ALREADY_EXISTS)
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("ev_bucketed", "users_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(wh, t)
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("value"))
    val users = ev.groupBy("user_id").agg(count(lit(1)).as("n"))

    // the write-side investment: bucket both relations on the join key
    ev.write.mode("overwrite").bucketBy(8, "user_id")
      .sortBy("user_id").saveAsTable("ev_bucketed")
    users.write.mode("overwrite").bucketBy(8, "user_id")
      .sortBy("user_id").saveAsTable("users_bucketed")

    val joined = spark.table("ev_bucketed")
      .join(spark.table("users_bucketed"), "user_id")
      .groupBy("user_id").agg(sum("value").as("sv"), first("n").as("n"))
    val plan = joined.queryExecution.executedPlan.toString

    // the read-side payoff: no shuffle anywhere — not for the join, not
    // for the aggregation (both consume the bucketed distribution)
    assert(!plan.contains("Exchange"),
      s"bucketed join/agg must be exchange-free:\n$plan")

    // and it is the same answer as the shuffled plan
    val expect = ev.join(users, "user_id")
      .groupBy("user_id").agg(sum("value").as("sv"), first("n").as("n"))
      .orderBy("user_id").collect()
    val got = joined.orderBy("user_id").collect()
    assert(got.toSeq == expect.toSeq)
  }
}
