package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TsFunctions
import graft.model.TSModel
import graft.operators.Cdist

/** Driver contract — one entry per implemented operator from SURVEY.md §2,
  * plus DuckDB oracle SQL for every SQL-expressible one.
  *
  * Each query family is one object under `queries/` that owns its query
  * closures next to their oracle SQL: two maps, keyed alike. `queries`
  * and `oracleSql` here are the union of those maps.
  *
  * Query style: time-series operators run in the exploded long form
  * `(series_id, t, value)` — Spark's Window/groupBy primitives — so each
  * has an exact relational oracle. Kernel-DP metrics (DTW, GAK, …) that
  * SQL can't express are exposed as rows-only queries and golden-tested in
  * ScalaTest instead (KernelsSpec).
  */
object SparkEntry {

  /** Flagship: 1-NN DTW over z-normalized per-user event series
    * (SURVEY §7.2 shape: broadcast cdist self-join + window top-1). */
  def entry(spark: SparkSession): DataFrame = {
    TsFunctions.register(spark)
    val series = TSModel.eventsToSeries(spark, "/root/testdata/sf0.001")
      .select(col("series_id"), TsFunctions.znormUdf(col("values")).as("values"))
    val d = Cdist.selfCross(series, (a, b) => TsFunctions.dtwUdf(a, b), computeDiagonal = false)
    val w = Window.partitionBy("left_id").orderBy(col("dist").asc, col("right_id").asc)
    d.withColumn("rank", row_number().over(w)).where(col("rank") === 1)
      .select(col("left_id").as("series_id"), col("right_id").as("nn_id"), col("dist"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++
      TransformQueries.queries ++
      EventTimeQueries.queries ++
      MatrixProfileQueries.queries ++
      TextQueries.queries ++
      EmbeddingQueries.queries ++
      MultimodalQueries.queries ++
      ClusteringQueries.queries ++
      AlignmentQueries.queries ++
      EstimatorQueries.queries

  def oracleSql: Map[String, String] =
    RelationalQueries.oracleSql ++
      TransformQueries.oracleSql ++
      EventTimeQueries.oracleSql ++
      MatrixProfileQueries.oracleSql ++
      TextQueries.oracleSql ++
      EmbeddingQueries.oracleSql ++
      MultimodalQueries.oracleSql ++
      ClusteringQueries.oracleSql ++
      AlignmentQueries.oracleSql ++
      EstimatorQueries.oracleSql
}
