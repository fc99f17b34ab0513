package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import QueryPrep._

/** Event-time windows and sessions, batch and streaming. */
object EventTimeQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_hourly" -> ((s, dir) => {
      ev(s, dir)
        .groupBy((expr("ts_us div 3600000000") * 3600L).as("hour_epoch"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
    }),

    "ts_sessionize" -> ((s, dir) => {
      val gapMin = 30
      val w = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
      ev(s, dir)
        .withColumn("prev_ts", lag("ts_us", 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            col("ts_us") - col("prev_ts") > gapMin * 60L * 1000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum("new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
    }),

    // The other streaming operators run in BATCH mode too (window /
    // session_window / the contamination UDF are batch-legal; the
    // watermark is a no-op) — driver rows through the REAL StreamingOps
    // expressions, so the exact streaming aggregation semantics (incl.
    // session_window's merge-iff-gap-strictly-smaller rule, which
    // differs from the batch ts_sessionize query's > rule at the exact
    // boundary) are oracle signal.
    "ts_stream_hourly" -> ((s, dir) => {
      val events = ev(s, dir)
        .withColumn("ts", timestamp_micros(col("ts_us")))
      graft.streaming.StreamingOps.hourlyCounts(events)
        .select((unix_micros(col("hour")) / 1000000L).cast("long").as("hour_epoch"),
          col("event_type"), col("n"), round(col("sum_v"), 2).as("sum_v"))
    }),

    "ts_stream_sessionize" -> ((s, dir) => {
      val events = ev(s, dir)
        .withColumn("ts", timestamp_micros(col("ts_us")))
      graft.streaming.StreamingOps.sessionize(events)
        .select(col("user_id"), unix_micros(col("session_start")).as("session_start_us"),
          col("n_events"), col("duration_ms"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    // hour buckets align with date_trunc (tumbling 1h windows at epoch)
    "ts_stream_hourly" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |  event_type, count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY 1, 2""".stripMargin,

    // session_window merges iff the gap is STRICTLY below 30 min (each
    // event spans [ts, ts+gap); touching windows don't overlap), so the
    // break rule here is >= — unlike ts_sessionize's > rule. Duration
    // mirrors unix_millis(max) − unix_millis(min): per-event ms
    // truncation FIRST, then the difference.
    "ts_stream_sessionize" ->
      """WITH e0 AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events
        |), e AS (
        |  SELECT user_id, ts_us, event_id,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |         OR ts_us - lag(ts_us) OVER w >= 30 * 60 * 1000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e0
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), s AS (
        |  SELECT user_id, ts_us,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM e
        |)
        |SELECT user_id, CAST(min(ts_us) AS BIGINT) AS session_start_us,
        |  count(*) AS n_events,
        |  CAST(max(ts_us // 1000) - min(ts_us // 1000) AS BIGINT) AS duration_ms
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    "ts_hourly" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |  event_type, count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY 1, 2""".stripMargin,

    // Spark sessionizes on the µs clock (ts div 1000); order, gap and
    // duration must all use the SAME µs truncation here — ordering by the
    // native TIMESTAMP_NS shifts boundaries for events equal at µs but
    // distinct at ns (round-1 red row).
    "ts_sessionize" ->
      """WITH e0 AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events
        |), e AS (
        |  SELECT user_id, ts_us, event_id,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |         OR ts_us - lag(ts_us) OVER w > 30 * 60 * 1000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e0
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), s AS (
        |  SELECT user_id, ts_us,
        |    -- CAST: DuckDB integer sum() yields HUGEINT, which arrow/pandas
        |    -- renders as float64 ("1.0") and breaks an exact hash compare
        |    -- against Spark's BIGINT ("1"); the round-2 red row.
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM e
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  max(ts_us) - min(ts_us) AS duration_us
        |FROM s GROUP BY 1, 2""".stripMargin
  )
}
