package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TsFunctions
import graft.model.TSModel

/** Query-side preps shared by the query families. */
object QueryPrep {

  /** events.parquet with a canonical µs `ts_us` clock — schema-adaptive
    * (the generator has produced both TIMESTAMP(NANOS) and plain µs
    * TIMESTAMP schemas across rounds); see TSModel.eventsWithTsUs. */
  private[graft] def ev(s: SparkSession, dir: String) = TSModel.eventsWithTsUs(s, dir)
  private[graft] def li(s: SparkSession, dir: String) = s.read.parquet(s"$dir/lineitem.parquet")

  // Schema-normalizing readers (generator drift guard — see
  // TSModel.normalizeColumns; round 8 went red on an events variant)
  private[graft] def docs(s: SparkSession, dir: String) = TSModel.documents(s, dir)
  private[graft] def emb(s: SparkSession, dir: String) = TSModel.embeddings(s, dir)

  /** Best-effort recursive delete of a scratch directory the query
    * itself created (sink round trips) — failures are ignored so a
    * locked file can never fail a query. */
  private[graft] def deleteRecursively(path: String): Unit = {
    def loop(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(loop)
      f.delete(): Unit
    }
    try loop(new java.io.File(path)) catch { case _: Exception => () }
  }

  /** (user_id, t [1-based], n, value) — canonical exploded series view of
    * the events table; one window, no extra shuffle beyond the partition
    * by user. */
  private[graft] def explodedEvents(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
    val wAll = Window.partitionBy("user_id")
    ev(s, dir).select(
      col("user_id"), col("value"),
      row_number().over(w).as("t"),
      count(lit(1)).over(wAll).as("n"))
  }

  /** Linear-interp resample of every user's event series to `target`
    * points — the ts_resample computation, shared (unrounded) by the
    * pairwise-metric queries so their oracles can reproduce the prep with
    * the SAME interpolation CTE. Output: (user_id, j, v). */
  private[graft] def resampledEvents(s: SparkSession, dir: String, target: Int): DataFrame = {
    val grid = s.range(0, target).select(col("id").cast("int").as("j"))
    val keyed = explodedEvents(s, dir).select(col("user_id"), col("t"), col("n"), col("value"))
    // pos = j*(n-1)/(target-1); interpolate between floor and ceil rows
    val wanted = keyed.select(col("user_id"), col("n")).distinct()
      .crossJoin(broadcast(grid))
      .withColumn("pos", col("j") * (col("n") - 1) / (target - 1))
      .withColumn("i0", floor(col("pos")).cast("int"))
      .withColumn("i1", least(col("i0") + 1, col("n") - 1).cast("int"))
      .withColumn("frac", col("pos") - col("i0"))
    wanted
      .join(keyed.select(col("user_id"), (col("t") - 1).as("i0"), col("value").as("v0")),
        Seq("user_id", "i0"))
      .join(keyed.select(col("user_id"), (col("t") - 1).as("i1"), col("value").as("v1")),
        Seq("user_id", "i1"))
      .select(col("user_id"), col("j"),
        (col("v0") * (lit(1.0) - col("frac")) + col("v1") * col("frac")).as("v"))
  }

  /** Every user's event series resampled to `sz` points and z-normed:
    * (series_id, values). */
  private[graft] def znormedSeries(s: SparkSession, dir: String, sz: Int): DataFrame =
    TSModel.eventsToSeries(s, dir)
      .select(col("series_id"), TsFunctions.resampleZnormUdf(col("values"), lit(sz)).as("values"))

  /** SAX symbols (alphabet 4, 8 segments) of every user's raw series plus
    * its length — the ts_sax computation, shared by the MINDIST query.
    * Output: (user_id, seg, symbol, n). */
  private[graft] def saxSymbolsOf(s: SparkSession, dir: String): DataFrame = {
    val nSeg = 8
    val bps = graft.kernels.Sax.breakpoints(4)
    val wAll = Window.partitionBy("user_id")
    explodedEvents(s, dir)
      .withColumn("m", avg("value").over(wAll))
      .withColumn("sd", stddev_pop("value").over(wAll))
      .withColumn("z", (col("value") - col("m")) /
        when(col("sd") === 0, 1.0).otherwise(col("sd")))
      .withColumn("seg_sz", (col("n") / nSeg).cast("int"))
      .where((col("t") - 1) < col("seg_sz") * nSeg)
      .withColumn("seg", ((col("t") - 1) / col("seg_sz")).cast("int"))
      .groupBy("user_id", "seg")
      .agg(avg("z").as("paa"), first("n").as("n"))
      .select(col("user_id"), col("seg"),
        (when(col("paa") < bps(0), 0)
          .when(col("paa") < bps(1), 1)
          .when(col("paa") < bps(2), 2)
          .otherwise(3)).as("symbol"), col("n"))
  }
}
