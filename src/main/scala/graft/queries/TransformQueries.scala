package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TsFunctions
import graft.model.TSModel
import QueryPrep._
import OracleSqlGen._

/** Per-series transforms: scalers, PAA / SAX / 1d-SAX and their
  * inverses, slopes, envelopes and the linear-interpolation resample. */
object TransformQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_znorm" -> ((s, dir) => {
      val wAll = Window.partitionBy("user_id")
      explodedEvents(s, dir)
        .withColumn("m", avg("value").over(wAll))
        .withColumn("sd", stddev_pop("value").over(wAll))
        .select(col("user_id"), col("t"),
          round((col("value") - col("m")) /
            when(col("sd") === 0, 1.0).otherwise(col("sd")), 6).as("z"))
    }),

    "ts_minmax" -> ((s, dir) => {
      val wAll = Window.partitionBy("user_id")
      explodedEvents(s, dir)
        .withColumn("mn", min("value").over(wAll))
        .withColumn("mx", max("value").over(wAll))
        .select(col("user_id"), col("t"),
          round(when(col("mx") === col("mn"), 0.0)
            .otherwise((col("value") - col("mn")) / (col("mx") - col("mn"))), 6).as("v"))
    }),

    "ts_paa" -> ((s, dir) => {
      val nSeg = 8
      explodedEvents(s, dir)
        .withColumn("seg_sz", (col("n") / nSeg).cast("int"))
        .where((col("t") - 1) < col("seg_sz") * nSeg)
        .withColumn("seg", ((col("t") - 1) / col("seg_sz")).cast("int"))
        .groupBy("user_id", "seg")
        .agg(round(avg("value"), 6).as("paa"))
    }),

    "ts_sax" -> ((s, dir) => saxSymbolsOf(s, dir)
      .select(col("user_id"), col("seg"), col("symbol"))),

    // SAX MINDIST (cysax.pyx:39-55) between consecutive users' SAX words:
    // adjacent symbols contribute 0, else (bp[max−1]−bp[min])²; scaled by
    // √(n_left/8). Previously golden-only; now oracle-backed.
    "ts_sax_mindist_pairs" -> ((s, dir) => {
      val bps = graft.kernels.Sax.breakpoints(4)
      // localCheckpoint: sym (a windowed z-norm + segment agg) is both
      // sides of the adjacent-pair join
      val sym = saxSymbolsOf(s, dir).localCheckpoint()
      val a = sym.select(col("user_id"), col("seg"), col("symbol").as("sa"), col("n"))
      val b = sym.select((col("user_id") - 1).as("user_id"), col("seg"),
        col("symbol").as("sb"))
      val bpOf = (i: Column) =>
        when(i === 0, bps(0)).when(i === 1, bps(1)).otherwise(bps(2))
      a.join(b, Seq("user_id", "seg"))
        .withColumn("cell",
          when(abs(col("sa") - col("sb")) <= 1, 0.0)
            .otherwise(pow(bpOf(greatest(col("sa"), col("sb")) - 1) -
              bpOf(least(col("sa"), col("sb"))), 2)))
        .groupBy("user_id")
        .agg(round(sqrt(sum("cell") * first("n") / 8.0), 4).as("mindist"))
    }),

    "ts_slope" -> ((s, dir) => {
      val nSeg = 8
      explodedEvents(s, dir)
        .withColumn("seg_sz", (col("n") / nSeg).cast("int"))
        .where((col("t") - 1) < col("seg_sz") * nSeg)
        .withColumn("seg", ((col("t") - 1) / col("seg_sz")).cast("int"))
        .groupBy("user_id", "seg")
        .agg(round(regr_slope(col("value"), col("t").cast("double")), 6).as("slope"))
    }),

    "ts_envelope" -> ((s, dir) => {
      val r = 2
      val w = Window.partitionBy("user_id").orderBy(col("t").asc).rowsBetween(-r, r)
      explodedEvents(s, dir)
        .select(col("user_id"), col("t"),
          round(min("value").over(w), 6).as("low"),
          round(max("value").over(w), 6).as("up"))
    }),

    "ts_resample" -> ((s, dir) => resampledEvents(s, dir, 16)
      .select(col("user_id"), col("j"), round(col("v"), 6).as("v"))),

    // consecutive-user pairs (u, u+1) over the oracle-proven resampled
    // view: each gives a previously golden-only metric a full oracle
    "ts_paa_dist_pairs" -> ((s, dir) => {
      // PAA distance (piecewise.py:191-236): ‖p1−p2‖·√(sz/nSeg), sz=16, 4 segs
      val paa = resampledEvents(s, dir, 16)
        .withColumn("seg", (col("j") / 4).cast("int"))
        .groupBy("user_id", "seg").agg(avg("v").as("p"))
        .localCheckpoint() // both sides of the pair self-join below
      paa.select(col("user_id"), col("seg"), col("p"))
        .join(paa.select((col("user_id") - 1).as("user_id"), col("seg"), col("p").as("pb")),
          Seq("user_id", "seg"))
        .groupBy("user_id")
        .agg(round(sqrt(sum(pow(col("p") - col("pb"), 2))) * 2.0, 4).as("paa_dist"))
    }),

    // 1d-SAX distance (cysax.pyx:95-124) through the KERNEL path
    // (oneDSax + dist1dSax) on raw-length series: (avg, slope) symbols
    // per segment, distance = per-timestep reconstruction difference.
    // originalSz convention on ragged pairs: the left series' length
    // (same as ts_sax_mindist_pairs; the reference uses its fit-time sz).
    "ts_1dsax_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"), TsFunctions.znormUdf(col("values")).as("values"),
          size(col("values")).as("n"))
        .select(col("series_id"),
          TsFunctions.oneDSaxUdf(col("values"), lit(8), lit(4), lit(4), lit(1.0)).as("sym"),
          col("n"))
        .localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          (round(TsFunctions.dist1dSaxUdf(col("a.sym"), col("b.sym"),
            lit(4), lit(4), lit(1.0), col("a.n")), 4) + lit(0.0)).as("dist_1dsax"))
    }),

    // The three inverse_transform surfaces (inv_transform_paa /
    // inv_transform_sax / inv_transform_1d_sax, cysax.pyx:127-151),
    // each through the full KERNEL transform+inverse on raw-length
    // z-normed series: PAA repeats segment means, SAX maps symbols to
    // Gaussian bin medians, 1d-SAX reconstructs avg + slope·(t − t_mid).
    "ts_paa_inverse" -> ((s, dir) => {
      TSModel.eventsToSeries(s, dir)
        .select(col("series_id"), TsFunctions.znormUdf(col("values")).as("values"))
        .select(col("series_id").as("user_id"),
          posexplode(TsFunctions.inversePaaUdf(col("values"), lit(8))).as(Seq("t", "v")))
        .select(col("user_id"), col("t"), (round(col("v"), 4) + lit(0.0)).as("v"))
    }),

    "ts_sax_inverse" -> ((s, dir) => {
      TSModel.eventsToSeries(s, dir)
        .select(col("series_id"), TsFunctions.znormUdf(col("values")).as("values"))
        .select(col("series_id").as("user_id"),
          posexplode(TsFunctions.inverseSaxUdf(col("values"), lit(8), lit(4)))
            .as(Seq("t", "v")))
        .select(col("user_id"), col("t"), (round(col("v"), 4) + lit(0.0)).as("v"))
    }),

    "ts_1dsax_inverse" -> ((s, dir) => {
      TSModel.eventsToSeries(s, dir)
        .select(col("series_id"), TsFunctions.znormUdf(col("values")).as("values"))
        .select(col("series_id").as("user_id"),
          posexplode(TsFunctions.inverse1dSaxUdf(col("values"),
            lit(8), lit(4), lit(4), lit(1.0))).as(Seq("t", "v")))
        .select(col("user_id"), col("t"), (round(col("v"), 4) + lit(0.0)).as("v"))
    })
  )

  /** DuckDB oracle for ts_1dsax_pairs (`cysax.pyx:95-124`): per-user
    * raw-length z-norm → per-segment (avg, OLS slope) → symbols via the
    * kernel's Acklam breakpoints (inlined below so SQL and Scala agree
    * bit-for-bit) → distance = Σ_seg Σ_k (Δavg_med + Δslope_med·(k −
    * segSz/2))², segSz from the LEFT series (the query's documented
    * ragged convention). */
  /** Shared frame for the inverse-transform oracles
    * (`piecewise.py` inverse_transform, `cysax.pyx:127-151`): raw
    * z-norm, per-user segment size (n // nSeg), per-segment avg
    * (+ OLS slope for 1d-SAX), then every original timestep t joined to
    * its inverse segment least(nSeg−1, t // segsz) — the kernel's
    * min(nSeg−1, t/segSz) tail rule. `valueExpr` maps the joined
    * per-segment columns (p.pavg[, p.pslope], p.seg, i.segsz, i.t) to
    * the reconstructed value. */
  private def inverseTransformOracleSql(nSeg: Int, withSlope: Boolean,
                                        valueExpr: String): String = {
    val slopeCol =
      if (withSlope) ",\n    regr_slope(z.val, CAST(z.j AS DOUBLE)) AS pslope" else ""
    rawZnormCte +
      s"""
         |, seg0 AS (
         |  SELECT user_id, n, n // $nSeg AS segsz
         |  FROM (SELECT DISTINCT user_id, n FROM v)
         |), p AS (
         |  SELECT z.user_id, CAST(z.j // s.segsz AS INT) AS seg,
         |    avg(z.val) AS pavg$slopeCol
         |  FROM z JOIN seg0 s USING (user_id)
         |  WHERE z.j < s.segsz * $nSeg
         |  GROUP BY 1, 2
         |), idx AS (
         |  SELECT user_id, segsz,
         |    unnest(generate_series(0, CAST(n AS INT) - 1)) AS t
         |  FROM seg0
         |)
         |SELECT i.user_id, CAST(i.t AS INT) AS t,
         |  round($valueExpr, 4) + 0.0 AS v
         |FROM idx i JOIN p ON p.user_id = i.user_id
         |  AND p.seg = LEAST(${nSeg - 1}, CAST(i.t // i.segsz AS INT))""".stripMargin
  }

  private def saxSymCase(alpha: Int, v: String): String = {
    val bps = graft.kernels.Sax.breakpoints(alpha)
    s"CASE WHEN $v < ${bps(0)} THEN 0 WHEN $v < ${bps(1)} THEN 1 " +
      s"WHEN $v < ${bps(2)} THEN 2 ELSE 3 END"
  }

  private def saxMedCase(alpha: Int, sym: String): String = {
    val med = graft.kernels.Sax.binMedians(alpha)
    s"CASE $sym WHEN 0 THEN ${med(0)} WHEN 1 THEN ${med(1)} " +
      s"WHEN 2 THEN ${med(2)} ELSE ${med(3)} END"
  }

  /** ts_sax_inverse: symbolize the per-segment means, map each symbol to
    * its Gaussian bin median, repeat over the segment's timesteps. */
  private def saxInverseOracleSql(nSeg: Int, alpha: Int): String =
    inverseTransformOracleSql(nSeg, withSlope = false,
      saxMedCase(alpha, saxSymCase(alpha, "p.pavg")))

  /** ts_1dsax_inverse: v(t) = medAvg(sym_avg) + medSlope(sym_slope)·
    * (t − t_mid), t_mid = seg·segsz + segsz/2 (sigmaL = 1 ⇒ the slope
    * alphabet shares the unscaled breakpoints/medians). */
  private def oneDSaxInverseOracleSql(nSeg: Int, alpha: Int): String =
    inverseTransformOracleSql(nSeg, withSlope = true,
      s"(${saxMedCase(alpha, saxSymCase(alpha, "p.pavg"))}) + " +
        s"(${saxMedCase(alpha, saxSymCase(alpha, "p.pslope"))}) * " +
        "(i.t - (p.seg * i.segsz + 0.5 * i.segsz))")

  private def oneDSaxOracleSql(nSeg: Int, alpha: Int): String = {
    val bps = graft.kernels.Sax.breakpoints(alpha)
    val med = graft.kernels.Sax.binMedians(alpha)
    def symCase(v: String): String =
      s"CASE WHEN $v < ${bps(0)} THEN 0 WHEN $v < ${bps(1)} THEN 1 " +
        s"WHEN $v < ${bps(2)} THEN 2 ELSE 3 END"
    def medCase(sym: String): String =
      s"CASE $sym WHEN 0 THEN ${med(0)} WHEN 1 THEN ${med(1)} " +
        s"WHEN 2 THEN ${med(2)} ELSE ${med(3)} END"
    rawZnormCte +
      s"""
         |, seg0 AS (
         |  SELECT user_id, n, n // $nSeg AS segsz
         |  FROM (SELECT DISTINCT user_id, n FROM v)
         |), p AS (
         |  SELECT z.user_id, CAST(z.j // s.segsz AS INT) AS seg,
         |    avg(z.val) AS pavg,
         |    regr_slope(z.val, CAST(z.j AS DOUBLE)) AS pslope
         |  FROM z JOIN seg0 s USING (user_id)
         |  WHERE z.j < s.segsz * $nSeg
         |  GROUP BY 1, 2
         |), sym AS (
         |  SELECT user_id, seg,
         |    ${symCase("pavg")} AS sa,
         |    ${symCase("pslope")} AS ss
         |  FROM p
         |), cells AS (
         |  SELECT a.user_id, a.seg, s0.segsz,
         |    (${medCase("a.sa")}) - (${medCase("b.sa")}) AS da,
         |    (${medCase("a.ss")}) - (${medCase("b.ss")}) AS ds
         |  FROM sym a
         |  JOIN sym b ON b.user_id = a.user_id + 1 AND b.seg = a.seg
         |  JOIN seg0 s0 ON s0.user_id = a.user_id
         |), expand AS (
         |  SELECT user_id, da, ds, segsz,
         |    unnest(generate_series(0, CAST(segsz AS INT) - 1)) AS k
         |  FROM cells
         |)
         |SELECT user_id,
         |  round(sqrt(sum((da + ds * (k - 0.5 * segsz)) *
         |                 (da + ds * (k - 0.5 * segsz)))), 4) + 0.0 AS dist_1dsax
         |FROM expand GROUP BY 1""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "ts_paa_inverse" -> inverseTransformOracleSql(8, withSlope = false, "p.pavg"),

    "ts_sax_inverse" -> saxInverseOracleSql(8, 4),

    "ts_1dsax_inverse" -> oneDSaxInverseOracleSql(8, 4),

    "ts_1dsax_pairs" -> oneDSaxOracleSql(8, 4),

    "ts_paa_dist_pairs" -> (evCte + resampleCte +
      """
        |, paa AS (
        |  SELECT user_id, j // 4 AS seg, avg(val) AS p FROM r GROUP BY 1, 2
        |)
        |SELECT a.user_id,
        |  round(sqrt(sum((a.p - b.p) * (a.p - b.p))) * 2.0, 4) AS paa_dist
        |FROM paa a JOIN paa b ON b.user_id = a.user_id + 1 AND b.seg = a.seg
        |GROUP BY 1""".stripMargin),

    "ts_sax_mindist_pairs" -> (evCte +
      """
        |, z AS (
        |  SELECT user_id, t, n,
        |    (value - avg(value) OVER (PARTITION BY user_id)) /
        |      (CASE WHEN stddev_pop(value) OVER (PARTITION BY user_id) = 0 THEN 1
        |            ELSE stddev_pop(value) OVER (PARTITION BY user_id) END) AS z
        |  FROM v
        |), p AS (
        |  SELECT user_id, CAST((t - 1) // (n // 8) AS INT) AS seg, avg(z) AS paa,
        |    max(n) AS n
        |  FROM z WHERE (t - 1) < (n // 8) * 8
        |  GROUP BY 1, 2
        |), s AS (
        |  SELECT user_id, seg, n,
        |    CASE WHEN paa < -0.6744897501960817 THEN 0
        |         WHEN paa < 0.0 THEN 1
        |         WHEN paa < 0.6744897501960817 THEN 2
        |         ELSE 3 END AS sym
        |  FROM p
        |), cells AS (
        |  SELECT a.user_id, a.n,
        |    CASE WHEN abs(a.sym - b.sym) <= 1 THEN 0.0
        |         ELSE pow(
        |           (CASE greatest(a.sym, b.sym) - 1
        |              WHEN 0 THEN -0.6744897501960817
        |              WHEN 1 THEN 0.0 ELSE 0.6744897501960817 END) -
        |           (CASE least(a.sym, b.sym)
        |              WHEN 0 THEN -0.6744897501960817
        |              WHEN 1 THEN 0.0 ELSE 0.6744897501960817 END), 2)
        |    END AS cell
        |  FROM s a JOIN s b ON b.user_id = a.user_id + 1 AND b.seg = a.seg
        |)
        |SELECT user_id, round(sqrt(sum(cell) * max(n) / 8.0), 4) AS mindist
        |FROM cells GROUP BY 1""".stripMargin),

    "ts_znorm" -> (evCte +
      """
        |SELECT user_id, t,
        |  round((value - avg(value) OVER (PARTITION BY user_id)) /
        |    (CASE WHEN stddev_pop(value) OVER (PARTITION BY user_id) = 0 THEN 1
        |          ELSE stddev_pop(value) OVER (PARTITION BY user_id) END), 6) AS z
        |FROM v""".stripMargin),

    "ts_minmax" -> (evCte +
      """
        |SELECT user_id, t,
        |  round(CASE WHEN max(value) OVER (PARTITION BY user_id) =
        |                  min(value) OVER (PARTITION BY user_id) THEN 0
        |             ELSE (value - min(value) OVER (PARTITION BY user_id)) /
        |                  (max(value) OVER (PARTITION BY user_id) -
        |                   min(value) OVER (PARTITION BY user_id)) END, 6) AS v
        |FROM v""".stripMargin),

    "ts_paa" -> (evCte +
      """
        |SELECT user_id, CAST((t - 1) // seg_sz AS INT) AS seg, round(avg(value), 6) AS paa
        |FROM (SELECT user_id, t, value, n // 8 AS seg_sz FROM v) s
        |WHERE (t - 1) < seg_sz * 8
        |GROUP BY 1, 2""".stripMargin),

    "ts_sax" -> (evCte +
      """
        |, z AS (
        |  SELECT user_id, t, n,
        |    (value - avg(value) OVER (PARTITION BY user_id)) /
        |      (CASE WHEN stddev_pop(value) OVER (PARTITION BY user_id) = 0 THEN 1
        |            ELSE stddev_pop(value) OVER (PARTITION BY user_id) END) AS z
        |  FROM v
        |), p AS (
        |  SELECT user_id, CAST((t - 1) // (n // 8) AS INT) AS seg, avg(z) AS paa
        |  FROM z WHERE (t - 1) < (n // 8) * 8
        |  GROUP BY 1, 2
        |)
        |SELECT user_id, seg,
        |  CASE WHEN paa < -0.6744897501960817 THEN 0
        |       WHEN paa < 0.0 THEN 1
        |       WHEN paa < 0.6744897501960817 THEN 2
        |       ELSE 3 END AS symbol
        |FROM p""".stripMargin),

    "ts_slope" -> (evCte +
      """
        |SELECT user_id, CAST((t - 1) // seg_sz AS INT) AS seg,
        |  round(regr_slope(value, CAST(t AS DOUBLE)), 6) AS slope
        |FROM (SELECT user_id, t, value, n // 8 AS seg_sz FROM v) s
        |WHERE (t - 1) < seg_sz * 8
        |GROUP BY 1, 2""".stripMargin),

    "ts_envelope" -> (evCte +
      """
        |SELECT user_id, t,
        |  round(min(value) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS low,
        |  round(max(value) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS up
        |FROM v""".stripMargin),

    "ts_resample" -> (evCte + resampleGridCtes(16) +
      """
        |)
        |SELECT w.user_id, w.j,
        |  round(v0.value * (1.0 - w.frac) + v1.value * w.frac, 6) AS v
        |FROM w
        |JOIN v v0 ON v0.user_id = w.user_id AND v0.t - 1 = w.i0
        |JOIN v v1 ON v1.user_id = w.user_id AND v1.t - 1 = w.i1""".stripMargin)
  )
}
