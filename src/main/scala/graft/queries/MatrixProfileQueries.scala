package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TsFunctions
import graft.model.TSModel
import QueryPrep._
import OracleSqlGen._

/** Matrix profile, discords and motifs (SURVEY §2.4/2.6). */
object MatrixProfileQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_matrix_profile" -> ((s, dir) => {
      val m = 8
      val series = TSModel.eventsToSeries(s, dir)
        .where(size(col("values")) >= m * 2)
      series
        .select(col("series_id").as("user_id"),
          posexplode(TsFunctions.matrixProfileUdf(col("values"), lit(m), lit(false)))
            .as(Seq("i", "mp")))
        .select(col("user_id"), col("i"), round(col("mp"), 4).as("mp"))
    }),

    // The tiled NO-BROADCAST matrix profile (operators
    // .MatrixProfileDist.matrixProfileTiled — the >1G-point scale path
    // where the series itself is distributed) as driver signal: the
    // smallest eligible user's series becomes an (idx, v) relation,
    // blockSize=32 forces a real multi-tile decomposition (partial tail
    // tile, band-excluded adjacent corners, the tile-pair shuffle), and
    // the oracle replays the profile relationally for that one series.
    "ts_matrix_profile_tiled" -> ((s, dir) => {
      val m = 8
      val series = TSModel.eventsToSeries(s, dir)
        .where(size(col("values")) >= m * 2)
      val uid = series.agg(min(col("series_id"))).head().getLong(0)
      val vals = series.where(col("series_id") === uid)
        .select(posexplode(col("values")).as(Seq("idx", "v")))
        .select(col("idx").cast("long").as("idx"), col("v").cast("double").as("v"))
      graft.operators.MatrixProfileDist.matrixProfileTiled(s, vals, m, blockSize = 32)
        .select(lit(uid).as("user_id"), col("i"),
          round(col("mp"), 4).as("mp"))
    }),

    // The ANYTIME/CHUNKED matrix profile (MatrixProfileDist
    // .matrixProfileDiagBand — the bounded-job formulation past ~10⁹
    // points, SCALEPROBE r14 fourteenth probe) as driver signal: the
    // same single series as ts_matrix_profile_tiled swept as THREE
    // diagonal-band chunks folded by element-wise min — the fold must
    // equal the full profile exactly (each diagonal swept exactly
    // once), so the oracle is the tiled query's relational replay
    // verbatim. Since r16 the chunks sweep a SHARED prebuilt segment
    // relation (segmentSeries — VERDICT r15 #5): the oracle now checks
    // the exact route a 10⁹-point resumable run takes, not the
    // per-chunk-rebuild form it replaced (the two are spec-locked
    // float-identical, so the oracle SQL is unchanged).
    "ts_matrix_profile_chunked" -> ((s, dir) => {
      val m = 8
      val series = TSModel.eventsToSeries(s, dir)
        .where(size(col("values")) >= m * 2)
      val uid = series.agg(min(col("series_id"))).head().getLong(0)
      val vals = series.where(col("series_id") === uid)
        .select(posexplode(col("values")).as(Seq("idx", "v")))
        .select(col("idx").cast("long").as("idx"), col("v").cast("double").as("v"))
        .localCheckpoint()
      val n = vals.count() - m + 1
      val seg = graft.operators.MatrixProfileDist
        .segmentSeries(vals, m, blockSize = 32)
      val band = math.ceil(m / 4.0).toLong
      val w = math.max(1L, (n - 1 - band + 2) / 3)
      val chunks = (0 until 3).flatMap { c =>
        val gFrom = band + c * w
        val gTo = math.min(band + (c + 1) * w, n - 1)
        if (gFrom < n - 1)
          Some(graft.operators.MatrixProfileDist
            .matrixProfileDiagBand(s, seg, gFrom, gTo))
        else None
      }
      // Materialize the fold EAGERLY so the persisted segment relation can
      // be released before returning (ADVICE r16: the lazy form pinned one
      // MEMORY_AND_DISK copy of segs per invocation — every Bench repeat —
      // for the session's lifetime; localCheckpoint blocks by contrast are
      // dropped by the ContextCleaner once the returned frame is GC'd).
      val folded = chunks.reduce(_ unionByName _)
        .groupBy("i").agg(min(col("mp")).as("mp"))
        .select(lit(uid).as("user_id"), col("i"), round(col("mp"), 4).as("mp"))
        .localCheckpoint()
      seg.unpersist()
      folded
    }),

    // Discord discovery: the TOP anomalous window per series = argmax
    // of the matrix profile (ties lowest i) — what a user actually
    // runs the profile FOR. One min_by aggregation over the profile
    // rows; no window over the corpus.
    "ts_discord" -> ((s, dir) => {
      val m = 8
      TSModel.eventsToSeries(s, dir)
        .where(size(col("values")) >= m * 2)
        .select(col("series_id").as("user_id"),
          posexplode(TsFunctions.matrixProfileUdf(col("values"), lit(m), lit(false)))
            .as(Seq("i", "mp")))
        .groupBy("user_id")
        // argmax over the ROUNDED profile (same cross-engine ulp
        // robustness as ts_motif), ties lowest i
        .agg(min_by(struct(col("i"), round(col("mp"), 4).as("mp")),
          struct(negate(round(col("mp"), 4)), col("i"))).as("d"))
        .select(col("user_id"), col("d.i").as("i"), col("d.mp").as("mp"))
    }),

    // Motif discovery: the most-repeated pattern per series = the
    // argmin window of the profile WITH its nearest-neighbor index j
    // (matrixProfileWithIndex at decimals=4: distances compared ROUNDED
    // — a full-precision argmin-j is fragile across engines, same ulp
    // story as the i tie-break — and strict-< updates keep the smallest
    // j on rounded ties, which the oracle replays as ORDER BY d, j).
    "ts_motif" -> ((s, dir) => {
      val m = 8
      TSModel.eventsToSeries(s, dir)
        .where(size(col("values")) >= m * 2)
        .select(col("series_id").as("user_id"),
          posexplode(TsFunctions.matrixProfileIdxUdf(
            col("values"), lit(m), lit(false), lit(4)))
            .as(Seq("i", "p")))
        // mp is already rounded by the kernel; ties across i break lowest-i
        .groupBy("user_id")
        .agg(min_by(struct(col("i"), col("p._1").as("mp"), col("p._2").as("j")),
          struct(col("p._1"), col("i"))).as("d"))
        .select(col("user_id"), col("d.i").as("i"), col("d.mp").as("mp"),
          col("d.j").cast("int").as("j"))
    }),

    // z-normalized matrix profile — the reference DEFAULT
    // (MatrixProfile(scale=True), matrix_profile.py): every window
    // z-normed (population σ, var ≤ 0 → 1) before the band-excluded
    // min; the scale=false raw variant is ts_matrix_profile.
    "ts_matrix_profile_znorm" -> ((s, dir) => {
      val m = 8
      val series = TSModel.eventsToSeries(s, dir)
        .where(size(col("values")) >= m * 2)
      series
        .select(col("series_id").as("user_id"),
          posexplode(TsFunctions.matrixProfileUdf(col("values"), lit(m), lit(true)))
            .as(Seq("i", "mp")))
        .select(col("user_id"), col("i"), round(col("mp"), 4).as("mp"))
    }),

    // Streaming left matrix profile (the STAMPI-style operator,
    // StreamingOps.leftMatrixProfile) driver-verified through the SAME
    // flatMapGroupsWithState code path run in BATCH mode (Spark invokes
    // the state function once per key with empty initial state — the
    // identical newest-window-vs-priors loop the stream executes
    // incrementally; streaming ≡ batch is spec-locked in StreamingSpec).
    // m=8 raw-value windows, m/2 exclusion zone, emit sqrt(min d²).
    "ts_left_matrix_profile" -> ((s, dir) => {
      import s.implicits._
      val pts = explodedEvents(s, dir)
        .where(col("user_id") < 8)
        .select(col("user_id"), (col("t") - 1).cast("long").as("seq"), col("value"))
        .as[graft.streaming.StreamingOps.MpPoint]
      graft.streaming.StreamingOps.leftMatrixProfile(pts, m = 8)
        .toDF("user_id", "i", "mp")
        .select(col("user_id"), col("i"), (round(col("mp"), 4) + lit(0.0)).as("mp"))
    })
  )

  /** Band-excluded pairwise window distances `dists(user_id, i, j, d)`
    * over the caller's window starts `seg` and points `pos`: m = 8,
    * exclusion 2. */
  private val mpDistsCte: String =
    """
      |, dists AS (
      |  SELECT a.user_id, a.i AS i, b.i AS j,
      |    sqrt(sum((pa.value - pb.value) * (pa.value - pb.value))) AS d
      |  FROM seg a
      |  JOIN seg b ON a.user_id = b.user_id AND abs(a.i - b.i) > 2
      |  JOIN pos pa ON pa.user_id = a.user_id AND pa.i BETWEEN a.i AND a.i + 7
      |  JOIN pos pb ON pb.user_id = b.user_id AND pb.i = b.i + (pa.i - a.i)
      |  GROUP BY 1, 2, 3
      |)""".stripMargin

  /** The raw profile of the smallest eligible user only: the oracle of
    * both single-series routes (tiled and chunked). */
  private val oneSeriesProfileSql: String = evCte +
    """
      |, eligible AS (SELECT user_id FROM v GROUP BY 1 HAVING count(*) >= 16)
      |, pick AS (SELECT min(user_id) AS u FROM eligible)
      |, pos AS (
      |  SELECT v.user_id, v.t - 1 AS i, v.value
      |  FROM v JOIN pick ON v.user_id = pick.u
      |), seg AS (
      |  SELECT user_id, t - 1 AS i FROM v JOIN pick ON v.user_id = pick.u
      |  WHERE t - 1 <= n - 8)""".stripMargin + mpDistsCte +
    """
      |SELECT user_id, i, round(min(d), 4) AS mp
      |FROM dists GROUP BY 1, 2""".stripMargin

  /** Shared CTE chain of the raw (scale=false) matrix-profile oracles:
    * band-excluded pairwise window distances as `dists(user_id, i, j, d)`
    * over users with >= 16 points, m = 8, exclusion 2. */
  private val matrixProfileRawCtes: String = evCte +
    """
      |, eligible AS (SELECT user_id FROM v GROUP BY 1 HAVING count(*) >= 16)
      |, pos AS (
      |  SELECT v.user_id, v.t - 1 AS i, v.value FROM v JOIN eligible USING (user_id)
      |), seg AS (
      |  SELECT user_id, t - 1 AS i FROM v JOIN eligible USING (user_id)
      |  WHERE t - 1 <= n - 8)""".stripMargin + mpDistsCte

  def oracleSql: Map[String, String] = Map(
    // Left matrix profile: per user (< 8), window start i vs every
    // prior start j < i with i − j > m/2 = 4; d² summed over the m=8
    // aligned raw values; emit sqrt(min) where any j is admissible.
    "ts_left_matrix_profile" ->
      (evCte +
        """
          |, s AS (
          |  SELECT user_id, t - 1 AS j, value FROM v WHERE user_id < 8
          |), n AS (
          |  SELECT user_id, max(j) AS mx FROM s GROUP BY 1
          |), d AS (
          |  SELECT wa.user_id, wa.i, wb.i AS j2,
          |    sum((sa.value - sb.value) * (sa.value - sb.value)) AS d2
          |  FROM (SELECT user_id, j AS i FROM s) wa
          |  JOIN n ON n.user_id = wa.user_id AND wa.i + 7 <= n.mx
          |  JOIN (SELECT user_id, j AS i FROM s) wb
          |    ON wb.user_id = wa.user_id AND wb.i < wa.i AND wa.i - wb.i > 4
          |  JOIN s sa ON sa.user_id = wa.user_id
          |    AND sa.j BETWEEN wa.i AND wa.i + 7
          |  JOIN s sb ON sb.user_id = wa.user_id
          |    AND sb.j = wb.i + (sa.j - wa.i)
          |  GROUP BY 1, 2, 3
          |)
          |SELECT user_id, CAST(i AS BIGINT) AS i,
          |  round(sqrt(min(d2)), 4) + 0.0 AS mp
          |FROM d GROUP BY 1, 2""".stripMargin),

    "ts_matrix_profile" -> (matrixProfileRawCtes +
      """
        |SELECT user_id, i, round(min(d), 4) AS mp
        |FROM dists GROUP BY 1, 2""".stripMargin),

    // tiled path: identical profile semantics, restricted to the
    // smallest eligible user (the engine side pins the same user), so
    // DuckDB replays one series' O(n²) pair space instead of all users'
    "ts_matrix_profile_tiled" -> oneSeriesProfileSql,

    // chunked path: IDENTICAL semantics to the tiled query — the
    // engine folds three diagonal-band chunks whose union is every
    // band-excluded pair exactly once, so the oracle replay is the
    // same single-series O(n²) pair space
    "ts_matrix_profile_chunked" -> oneSeriesProfileSql,

    // ts_motif: nearest neighbor per window with its index j
    // (ORDER BY round(d,4), j — the kernel compares ROUNDED distances
    // with strict-<, keeping the smallest j on rounded ties), then the
    // per-series argmin pair (ties: lowest i).
    "ts_motif" -> (matrixProfileRawCtes +
      """
        |, nn AS (SELECT user_id, i, j, round(d, 4) AS mp,
        |    row_number() OVER (PARTITION BY user_id, i
        |      ORDER BY round(d, 4), j) AS rn
        |  FROM dists)
        |SELECT user_id, i, mp, j FROM (
        |  SELECT user_id, i, mp, CAST(j AS INT) AS j,
        |    row_number() OVER (PARTITION BY user_id ORDER BY mp, i) AS rn2
        |  FROM nn WHERE rn = 1) WHERE rn2 = 1""".stripMargin),

    // ts_discord: the top anomalous window per series — argmax of the
    // SAME raw matrix profile (ties: lowest i), the classic discord
    // discovery application.
    "ts_discord" -> (matrixProfileRawCtes +
      """
        |, mp AS (SELECT user_id, i, round(min(d), 4) AS mp
        |         FROM dists GROUP BY 1, 2)
        |SELECT user_id, i, mp FROM (
        |  SELECT user_id, i, mp,
        |    row_number() OVER (PARTITION BY user_id ORDER BY mp DESC, i) AS rn
        |  FROM mp)
        |WHERE rn = 1""".stripMargin),

    // per-window z-norm (kernel scaleMeanVariance: avg(x²)−avg(x)² var,
    // var ≤ 0 → sd 1) ahead of the same band-excluded pair min
    "ts_matrix_profile_znorm" -> (evCte +
      """
        |, eligible AS (SELECT user_id FROM v GROUP BY 1 HAVING count(*) >= 16)
        |, pos AS (
        |  SELECT v.user_id, v.t - 1 AS i, v.value FROM v JOIN eligible USING (user_id)
        |), seg AS (
        |  SELECT user_id, t - 1 AS i FROM v JOIN eligible USING (user_id)
        |  WHERE t - 1 <= n - 8)
        |, st AS (
        |  SELECT s.user_id, s.i, avg(p.value) AS mu,
        |    avg(p.value * p.value) - avg(p.value) * avg(p.value) AS var
        |  FROM seg s
        |  JOIN pos p ON p.user_id = s.user_id AND p.i BETWEEN s.i AND s.i + 7
        |  GROUP BY 1, 2
        |), wz AS (
        |  SELECT st.user_id, st.i, p.i - st.i AS t,
        |    (p.value - st.mu) /
        |      (CASE WHEN st.var <= 0 THEN 1.0 ELSE sqrt(st.var) END) AS z
        |  FROM st JOIN pos p ON p.user_id = st.user_id
        |    AND p.i BETWEEN st.i AND st.i + 7
        |), dists AS (
        |  SELECT a.user_id, a.i AS i, b.i AS j,
        |    sqrt(sum((a.z - b.z) * (a.z - b.z))) AS d
        |  FROM wz a
        |  JOIN wz b ON b.user_id = a.user_id AND b.t = a.t AND abs(a.i - b.i) > 2
        |  GROUP BY 1, 2, 3
        |)
        |SELECT user_id, i, round(min(d), 4) AS mp
        |FROM dists GROUP BY 1, 2""".stripMargin)
  )
}
