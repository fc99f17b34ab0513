package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TsFunctions
import graft.model.TSModel
import graft.operators.Cdist
import QueryPrep._
import OracleSqlGen._

/** Alignment metrics: DTW and its constrained, ragged, multivariate,
  * path and kNN forms, LCSS, CTW, SBD, GAK and soft-DTW. */
object AlignmentQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_lbkeogh_pairs" -> ((s, dir) => {
      // LB_Keogh(query u, candidate u+1) with radius 2 over the resampled
      // view — the kNN prune bound, oracle-checked end to end.
      // localCheckpoint: r feeds both the envelope window and the join.
      val r = resampledEvents(s, dir, 16).localCheckpoint()
      val wEnv = Window.partitionBy("user_id").orderBy(col("j").asc).rowsBetween(-2, 2)
      val env = r.select(col("user_id"), col("j"),
          min("v").over(wEnv).as("lo"), max("v").over(wEnv).as("up"))
        .select((col("user_id") - 1).as("user_id"), col("j"), col("lo"), col("up"))
      r.join(env, Seq("user_id", "j"))
        .withColumn("ex",
          when(col("v") > col("up"), pow(col("v") - col("up"), 2))
            .when(col("v") < col("lo"), pow(col("lo") - col("v"), 2))
            .otherwise(0.0))
        .groupBy("user_id")
        .agg(round(sqrt(sum("ex")), 4).as("lb"))
    }),

    // the flat-metric family of the kNN estimator (euclidean /
    // sqeuclidean / cityblock, neighbors.py metric options) over
    // consecutive-user pairs — fully oracle-checked
    "ts_dist_pairs" -> ((s, dir) => {
      // localCheckpoint: r is both sides of the consecutive-pair join
      val r = resampledEvents(s, dir, 16).localCheckpoint()
      val b = r.select((col("user_id") - 1).as("user_id"), col("j"), col("v").as("vb"))
      r.join(b, Seq("user_id", "j"))
        .groupBy("user_id")
        .agg(round(sqrt(sum(pow(col("v") - col("vb"), 2))), 4).as("euclidean"),
          round(sum(pow(col("v") - col("vb"), 2)), 4).as("sqeuclidean"),
          round(sum(abs(col("v") - col("vb"))), 4).as("cityblock"))
    }),

    // Integer-only output (probe, rank, neighbor) so the DuckDB oracle
    // (LB-prune mirror + banded DTW DP unrolled as a 32-step CTE chain,
    // knnDtwOracleSql) compares without float-hash fragility.
    "knn_dtw_users" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 32).localCheckpoint() // both kNN sides; GC-managed, no session pin
      Cdist.knnDtwPruned(series, series, k = 4, radius = 4)
        .where(col("probe_id") =!= col("neighbor_id")).where(col("rank") <= 3)
        .select(col("probe_id"), col("rank"), col("neighbor_id"))
    }),

    // The SAME kNN through the no-broadcast blocked route, called
    // directly (the front door takes it past 100,000 train rows, as at a
    // 100× train scale-up): tiled salted LB phase, winners-only rejoin,
    // the early-abandon cascade.
    // Output is route-independent (CdistBlockSpec parity, and the sf1
    // parity of SCALEPROBE.md), so the oracle is knn_dtw_users' own SQL — this row makes
    // the blocked path driver signal, not just spec signal.
    "knn_dtw_blocked" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 32).localCheckpoint()
      Cdist.knnDtwBlocked(series, series, k = 4, radius = 4)
        .where(col("probe_id") =!= col("neighbor_id")).where(col("rank") <= 3)
        .select(col("probe_id"), col("rank"), col("neighbor_id"))
    }),

    // Ragged kNN — the variable-length dispatch as a checked query (VERDICT
    // r12 #8: every other knn_dtw_* row resamples to 32 first, so
    // sz1 ≠ sz2 had never flowed through the kNN cascade under the
    // oracle). No resample: raw per-user event series (lengths 49–86
    // at sf0.01), UNCONSTRAINED DTW — LB_Keogh is invalid for unequal
    // sizes (`dtw_variants.py:1248-1251`), so the route orders every
    // pair by the any-length corner-and-range bound (Kernels.lbRagged)
    // through the k-slot cascade (the LB_Keogh routes loudly reject
    // ragged input instead of silently mis-pruning). Subset
    // user_id % 10 = 0 keeps the all-pairs oracle DP-chain replay
    // affordable. The published rank is recomputed on round(dist, 4) —
    // the cascade and the oracle's
    // cumsum DP sum identical terms in different float association
    // order, the same last-ulp near-tie class the ADC/rerank keys
    // round away; the operator's unrounded k=4 shortlist carries one
    // buffer slot past keep=3 so the re-rank sees any boundary tie.
    "knn_dtw_ragged" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") % 10 === 0)
        .localCheckpoint()
      val w = Window.partitionBy("probe_id")
        .orderBy(round(col("dist"), 4), col("neighbor_id"))
      Cdist.knnDtwRagged(series, series, k = 4)
        .withColumn("rank", row_number().over(w))
        .where(col("probe_id") =!= col("neighbor_id")).where(col("rank") <= 3)
        .select(col("probe_id"), col("rank"), col("neighbor_id"),
          (round(col("dist"), 4) + lit(0.0)).as("dist"))
    }),

    // PenDigits-shaped: each user's events become a 2-channel series
    // (value, Δt µs), each channel resampled to 16 and z-normed, then
    // full multivariate DTW between adjacent users — proves the d>1
    // kernel path (Kernels.TS with d=2) end-to-end against a DuckDB
    // oracle (mvDtwOracleSql: the same DP unrolled as a 16-step CTE
    // chain with local cost summed over both dims).
    // Univariate CTW driver signal: on d=1 each CCA round degenerates to
    // a closed form (the 1×1 eigenvector is ±1, a DTW-invariant common
    // sign), so the CCA-project→DTW alternation is relationally
    // replayable — EXACTLY 3 fixed rounds (Advanced.ctwPathFixed), the
    // path backtracked per round with the dbaTraceSql recursive-CTE
    // machinery. Closes the one metric (ctw) that kept
    // cdist_metrics_sample rows-only.
    "ts_ctw_pairs" -> ((s, dir) => {
      val z = znormedSeries(s, dir, 16).localCheckpoint()
      z.alias("a")
        .join(z.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          (round(TsFunctions.ctwFixedUdf(
            col("a.values"), col("b.values"), lit(3)), 4) + lit(0.0)).as("ctw"))
    }),

    // Variable-length driver signal: adjacent-user DTW with NO resample —
    // every other ts oracle fixes sz first, so this is the one
    // CORRECTNESS row where sz1 ≠ sz2 flows through the DP itself
    // (reference VARIABLE_LENGTH_METRICS contract; VariableLengthSpec
    // locks the kernels, this locks the driver signal). Unbanded on
    // purpose: Sakoe-Chiba on ragged pairs is a separate semantics
    // (band around the resampled diagonal), kept out of the oracle.
    "ts_dtw_ragged_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir).localCheckpoint()
      series.alias("a")
        .join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          round(graft.functions.NativeExpressions.dtwNative(
            col("a.values").cast("array<double>"),
            col("b.values").cast("array<double>")), 4).as("dtw"))
    }),

    "ts_dtw_mv_pairs" -> ((s, dir) => {
      val series = valueGapSeries(s, dir)
        // localCheckpoint: both sides of the adjacent-pair self-join read
        // the same derived series; uncheckpointed, the whole groupBy +
        // two resample UDFs evaluate twice
        .localCheckpoint()
      series.alias("a")
        .join(series.alias("b"), col("b.user_id") === col("a.user_id") + 1)
        .select(col("a.user_id").as("user_id"),
          round(TsFunctions.dtwMvUdf(col("a.mv"), col("b.mv")), 4).as("dtw_mv"))
    }),

    // sklearn flat cast as driver signal — to_sklearn_dataset
    // (`cast.py:15-56`): the (sz, d) nested series flattened time-major
    // to one sz·d vector, AND the inverse cast back to (sz, d). Every
    // flat cell is emitted at its flat index alongside the value the
    // inverse restores at (idx/d, idx%d) — a wrong flatten order or a
    // broken inverse breaks the idx↔(t, channel) correspondence the
    // oracle computes arithmetically, over the valueGapSeries.
    "ts_sklearn_cast" -> ((s, dir) => {
      valueGapSeries(s, dir)
        .select(col("user_id"), TSModel.toSklearnFlat(col("mv")).as("flat"))
        .withColumn("rest", TSModel.fromSklearnFlat(col("flat"), 2))
        .select(col("user_id"), col("rest"), posexplode(col("flat")).as(Seq("idx", "vf")))
        .select(col("user_id"), col("idx"),
          (round(col("vf"), 4) + lit(0.0)).as("v_flat"),
          (round(element_at(element_at(col("rest"),
            (col("idx") / 2).cast("int") + 1), (col("idx") % 2).cast("int") + 1), 4)
            + lit(0.0)).as("v_restored"))
    }),

    // LCSS / SBD / GAK / soft-DTW between adjacent users. Each of these
    // was previously golden-tested only; the DuckDB oracles make the
    // kernel DPs driver-verified: LCSS as a running-max DP chain
    // (lcssOracleSql), SBD as direct O(sz²) cross-correlation
    // (sbdOracleSql), GAK and soft-DTW through one shared sum-product
    // chain (sumProdChainSql) — soft-DTW's exp(-cost/γ) substitution
    // turns its soft-min recurrence into GAK's sum-product shape.
    "ts_lcss_pairs" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 32).localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          // lcss() returns len/min(l1,l2); both sides are sz=32 so the
          // raw integer DP length is exactly recoverable (dyadic ratio)
          round(TsFunctions.lcssUdf(col("a.values"), col("b.values"), lit(0.5)) * 32)
            .cast("int").as("lcss_len"))
    }),

    "ts_sbd_pairs" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 32).localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          round(TsFunctions.sbdUdf(col("a.values"), col("b.values")), 4).as("sbd"))
    }),

    "ts_gak_pairs" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 16).localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          round(TsFunctions.gakUdf(col("a.values"), col("b.values"), lit(1.0)), 4).as("gak"))
    }),

    "ts_softdtw_pairs" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 16).localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          round(TsFunctions.softDtwUdf(col("a.values"), col("b.values"), lit(1.0)), 4)
            .as("softdtw"))
    }),

    // The triangle self-join itself (Cdist.selfCross) driver-verified:
    // all C(16,2)=120 DTW pairs over a 16-user slice at sz=24, against
    // the same unbanded DP chain oracle as ts_dtw_mv_pairs (univariate
    // local cost, all-pairs join).
    "cdist_dtw_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 16)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(24)).as("values"))
      Cdist.selfCross(series, (a, b) => TsFunctions.dtwUdf(a, b), computeDiagonal = false)
        .where(col("left_id") < col("right_id"))
        .select(col("left_id"), col("right_id"), round(col("dist"), 4).as("dtw"))
    }),

    // silhouette_score over PRECOMPUTED DTW distances — the reference's
    // headline composition (silhouette_score(cdist_dtw(X), labels,
    // metric="precomputed"), clustering/utils.py:66-197): the green
    // selfCross DTW pair machinery feeding the green silhouette
    // aggregation, pinned parity labels.
    "ts_silhouette_dtw" -> ((s, dir) => {
      import s.implicits._
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 16)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(24)).as("values"))
        .localCheckpoint()
      val pairs = Cdist.selfCross(series, (a, b) => TsFunctions.dtwUdf(a, b),
        computeDiagonal = false)
      val assign = series.select(col("series_id"),
        pmod(col("series_id"), lit(2)).cast("string").as("cluster"))
      val score = graft.ml.TimeSeriesKMeans.silhouette(pairs, assign)
      Seq(math.rint(score * 1e4) / 1e4).toDF("silhouette")
    }),

    // The 6-metric sampler, fully oracle-backed since round 6: the ctw
    // column moved from the fixpoint ctw to the SQL-replayable
    // 3-round Advanced.ctwFixed (equal at the fixpoint, AdvancedSpec),
    // which let metricsSampleOracleSql replay ALL six metrics — the
    // last rows-only query.
    "cdist_metrics_sample" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 20)
        // fixed length for the equal-size metrics (SBD); DTW/GAK/LCSS
        // accept ragged input but share the resampled view here. sz=16:
        // the log-space sum-product row solve (GAK/soft-DTW oracles)
        // spans ~36·sz nats of dynamic range per row — 16 keeps it
        // inside double range (the same bound that sized ts_gak_pairs/
        // ts_softdtw_pairs), 48 underflows the running exp-sum.
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
      val pairs = Cdist.selfCross(series, (a, b) => TsFunctions.dtwUdf(a, b),
        computeDiagonal = false)
        .where(col("left_id") < col("right_id"))
      val withSeries = pairs
        .join(series.select(col("series_id").as("left_id"), col("values").as("lv")), "left_id")
        .join(series.select(col("series_id").as("right_id"), col("values").as("rv")), "right_id")
      withSeries.select(
        col("left_id"), col("right_id"),
        (round(col("dist"), 4) + lit(0.0)).as("dtw"),
        (round(TsFunctions.softDtwUdf(col("lv"), col("rv"), lit(1.0)), 4) + lit(0.0)).as("softdtw"),
        (round(TsFunctions.gakUdf(col("lv"), col("rv"), lit(1.0)), 4) + lit(0.0)).as("gak"),
        (round(TsFunctions.lcssUdf(col("lv"), col("rv"), lit(0.5)), 4) + lit(0.0)).as("lcss"),
        (round(TsFunctions.sbdUdf(col("lv"), col("rv")), 4) + lit(0.0)).as("sbd"),
        (round(TsFunctions.ctwFixedUdf(col("lv"), col("rv"), lit(3)), 4) + lit(0.0)).as("ctw"))
    }),

    // The last golden-only DP metrics driver-verified. L-DTW
    // (dtw_limited_warping_length, dtw_variants.py:468-743) replays as a
    // layered path-length DP: layer s = min cost of reaching each cell
    // in exactly s+1 steps, answer = min over layers at the terminal
    // cell. The DP here is Advanced.dtwLimitedWarpingLength's rolling
    // two-layer loop.
    "ts_ldtw_pairs" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 12).localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          round(TsFunctions.ldtwUdf(col("a.values"), col("b.values"), lit(16)), 4)
            .as("ldtw"))
    }),

    // Subsequence DTW (dtw_variants.py:746-903): query = series 0
    // resampled to 8, matched open-begin/open-end inside every other
    // series at sz=24. Differs from plain DTW only in the free first
    // row (raw local cost — any start) and the argmin over the last row
    // (any end); end_pos is the kernel's strict-< argmin (lowest j wins).
    "ts_subseq_match" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir).localCheckpoint()
      val query = series.where(col("series_id") === 0)
        .select(TsFunctions.resampleZnormUdf(col("values"), lit(8)).as("qv"))
      val longs = series.where(col("series_id") > 0)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(24)).as("values"))
      longs.crossJoin(broadcast(query))
        .select(col("series_id").as("user_id"),
          TsFunctions.dtwSubseqMatchUdf(col("qv"), col("values")).as("m"))
        .select(col("user_id"), col("m._1").as("end_pos"),
          (round(col("m._2"), 4) + lit(0.0)).as("dist"))
    }),

    // cdist_soft_dtw_normalized (softdtw_variants.py:451-605): the full
    // 12×12 normalized matrix D(x,y) − ½(D(x,x)+D(y,y)) through the
    // operator's diagonal-reuse join; oracle = the green soft-DTW
    // sum-product chain over all ordered pairs incl. self.
    "cdist_softdtw_norm" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 12)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      Cdist.softDtwNormalized(series, series, 1.0)
        .select(col("left_id"), col("right_id"),
          (round(col("dist"), 4) + lit(0.0)).as("softdtw_norm"))
    }),

    // sigma_gak bandwidth heuristic (softdtw_variants.py:221-272) as a
    // deterministic exact-median replay: sample = all timestep values
    // of series < 4, medians = exact k-th smallest (k = n/2). The
    // production sigmaGak (RNG sample + approxQuantile) stays golden;
    // this locks the median-of-pairwise-distances × √(median length)
    // semantics with a driver row.
    "ts_sigma_gak" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
      graft.ml.TimeSeriesSVC.sigmaGakExact(series, maxId = 4)
        .select(round(col("sigma"), 4).as("sigma"))
    }),

    // gamma_soft_dtw = 2·sigma_gak² (softdtw_variants.py:275-313) —
    // the soft-DTW bandwidth heuristic, same exact-median driver row.
    "ts_gamma_softdtw" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
      graft.ml.TimeSeriesSVC.gammaSoftDtwExact(series, maxId = 4)
        .select((round(col("gamma"), 4) + lit(0.0)).as("gamma"))
    }),

    // LCSS on RAW lengths (sz1≠sz2 through the int DP) — with
    // ts_dtw_ragged_pairs, ts_sax / ts_sax_mindist_pairs (already raw-
    // length), and the resample path for ctw/gak/softdtw, this closes
    // the VARIABLE_LENGTH_METRICS driver-signal list
    // (metrics/__init__.py:29). z-norm keeps each series' own length.
    "ts_lcss_ragged_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"), TsFunctions.znormUdf(col("values")).as("values"),
          size(col("values")).as("n"))
        .localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          // lcss() returns len/min(l1,l2); multiply back to the raw
          // integer DP length (exact up to fp, recovered by round)
          round(TsFunctions.lcssUdf(col("a.values"), col("b.values"), lit(0.5)) *
            least(col("a.n"), col("b.n"))).cast("int").as("lcss_len"))
    }),

    // GAK and soft-DTW with sz1≠sz2 through the DPs: each series
    // resampled to its OWN length 8 + (id % 5)·2 ≤ 16 (inside the
    // log-space oracle's double-range ceiling). With these, every
    // VARIABLE_LENGTH_METRICS entry (ctw dtw gak sax softdtw lcss) has
    // a ragged driver row.
    "ts_gak_ragged_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"),
            (lit(8) + pmod(col("series_id"), lit(5)) * 2).cast("int")).as("values"))
        .localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          round(TsFunctions.gakUdf(col("a.values"), col("b.values"), lit(1.0)), 4).as("gak"))
    }),

    // CTW with sz1≠sz2 through the full CCA-project→DTW alternation —
    // the last VARIABLE_LENGTH_METRICS member (metrics/__init__.py:29)
    // whose ragged path had no driver signal (ts_ctw_pairs resamples
    // both sides to 16). Same per-series own-length scheme as the GAK /
    // soft-DTW ragged rows.
    "ts_ctw_ragged_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"),
            (lit(8) + pmod(col("series_id"), lit(5)) * 2).cast("int")).as("values"))
        .localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          (round(TsFunctions.ctwFixedUdf(
            col("a.values"), col("b.values"), lit(3)), 4) + lit(0.0)).as("ctw"))
    }),

    "ts_softdtw_ragged_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"),
            (lit(8) + pmod(col("series_id"), lit(5)) * 2).cast("int")).as("values"))
        .localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          round(TsFunctions.softDtwUdf(col("a.values"), col("b.values"), lit(1.0)), 4)
            .as("softdtw"))
    }),

    // The optimal DTW alignment path ITSELF (dtw_path,
    // dtw_variants.py:109-198) as driver output — previously verified
    // only embedded inside the DBA trace oracles. Path cells are a set
    // per pair (the driver compare sorts rows), so (user_id, i, j) rows
    // hash-verify the full backtrack incl. the diag-then-up tie-break.
    // L-DTW alignment path (dtw_variants.py:620-743): the layered DP's
    // backtrack — best final layer, then per-layer predecessor matching
    // with the engine's eps-tolerant diag-up-left order. (step, i, j)
    // rows pin the whole path incl. its length (= best layer + 1).
    "ts_ldtw_path_pairs" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 12).localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          posexplode(TsFunctions.ldtwPathUdf(col("a.values"), col("b.values"), lit(16))
            .getField("_1")))
        .select(col("user_id"), col("pos").as("step"),
          col("col")(0).cast("int").as("i"), col("col")(1).cast("int").as("j"))
    }),

    "ts_dtw_path_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 12)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          explode(TsFunctions.dtwPathUdf(col("a.values"), col("b.values"))
            .getField("_1")).as("cell"))
        .select(col("user_id"), col("cell")(0).cast("int").as("i"),
          col("cell")(1).cast("int").as("j"))
    }),

    // Itakura-constrained DTW (itakura_parallelogram,
    // dtw_variants.py:958-1012): the last warping-constraint variant
    // with no driver row (sakoe-chiba is inside knn_dtw_users). The
    // oracle runs the same banded min-plus chain with loc restricted to
    // the parallelogram bounds — exact at sz=16/slope=2 where every
    // bound value is a multiple of 0.5 (the reference's
    // round-to-2-decimals quirk is the identity there).
    "ts_dtw_itakura_pairs" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 16).localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          round(TsFunctions.dtwItakuraUdf(col("a.values"), col("b.values"), lit(2.0)), 4)
            .as("dtw"))
    }),

    // Sakoe-Chiba banded DTW as a DIRECT row (the constraint is only
    // exercised inside knn_dtw_users' pruned pipeline otherwise) —
    // radius 2 at sz=16, same banded chain with |i−j| ≤ r bounds.
    "ts_dtw_sakoe_pairs" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 16).localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          round(TsFunctions.dtwSakoeUdf(col("a.values"), col("b.values"), lit(2)), 4)
            .as("dtw"))
    }),

    // dtw_path_from_metric (dtw_variants.py:201-381) with a cityblock
    // local cost: raw accumulated total (no sqrt) — the arbitrary-
    // local-metric DTW surface, previously golden-only.
    "ts_dtw_cityblock_pairs" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 16).localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          round(TsFunctions.dtwCityblockUdf(col("a.values"), col("b.values")), 4)
            .as("dtw"))
    }),

    // The LCSS alignment path (lcss_path, dtw_variants.py:1693-1879):
    // only match cells are path members; backtrack rule match⇒diag,
    // else argmax(up, left) with left on ties — mirrored exactly in
    // the recursive oracle.
    "ts_lcss_path_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 12)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          explode(TsFunctions.lcssPathUdf(col("a.values"), col("b.values"), lit(0.5))
            .getField("_1")).as("cell"))
        .select(col("user_id"), col("cell")(0).cast("int").as("i"),
          col("cell")(1).cast("int").as("j"))
    }),

    // soft-DTW GRADIENT wrt the left series (soft_dtw_fast.pyx:69-104)
    // — the backward pass the soft-DTW barycenter (softdtw.py:17-113)
    // descends on, previously golden-only (finite-diff spec). The
    // oracle avoids replaying the backward DP via the path-split
    // identity E = F·B/(k·F_total), with B the green forward chain run
    // on index-reversed cells (see softDtwGradOracleSql).
    "ts_softdtw_grad_pairs" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 16).localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          posexplode(TsFunctions.softDtwGradUdf(col("a.values"), col("b.values"), lit(1.0))))
        .select(col("user_id"), col("pos").as("t"),
          (round(col("col"), 4) + lit(0.0)).as("g"))
    }),

    // soft-DTW ALIGNMENT matrix (soft_dtw_alignment,
    // softdtw_variants.py:377-448): every (i,j) expected-alignment-mass
    // cell E(i,j) as driver output — previously only the E·jacobian
    // contraction (ts_softdtw_grad_pairs) was visible; this pins the
    // backward pass cell by cell at sz=8.
    "ts_softdtw_align_pairs" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 8).localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          posexplode(TsFunctions.softDtwAlignmentValueUdf(
            col("a.values"), col("b.values"), lit(1.0)).getField("_1")))
        .select(col("user_id"), col("pos").as("i"), posexplode(col("col")))
        .select(col("user_id"), col("i"), col("pos").as("j"),
          (round(col("col"), 4) + lit(0.0)).as("e"))
    }),

    // lcss_path_from_metric (dtw_variants.py:1693-1879) with a CITYBLOCK
    // local gate over the d=2 (value, Δt) channels of ts_dtw_mv_pairs —
    // at d=1 any monotone local metric is threshold-equivalent to the
    // default euclidean gate, so the multivariate channels are what make
    // this a distinct surface (|dx|+|dy| ≤ ε vs √(dx²+dy²) ≤ ε). The
    // engine runs the full DP + reference backtrack and returns the
    // path length (≡ the DP's LCS length); integer output.
    "ts_lcss_cityblock_pairs" -> ((s, dir) => {
      val series = valueGapSeries(s, dir).localCheckpoint()
      series.alias("a")
        .join(series.alias("b"), col("b.user_id") === col("a.user_id") + 1)
        .select(col("a.user_id").as("user_id"),
          TsFunctions.lcssMvCityblockUdf(col("a.mv"), col("b.mv"), lit(1.0))
            .cast("int").as("lcss_len"))
    })
  )

  /** The d=2 series (user_id, mv) of the multivariate queries: each
    * user's events in (ts_us, event_id) order as a value channel and an
    * inter-arrival channel (Δts_us, 0 first), each resampled to 16 and
    * z-normed, zipped to one (value, gap) pair per step. */
  private def valueGapSeries(s: SparkSession, dir: String): DataFrame = {
    val sorted = ev(s, dir).groupBy("user_id").agg(
      array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("value")))).as("sv"))
    sorted.select(col("user_id"),
      TsFunctions.resampleZnormUdf(expr("transform(sv, e -> e.value)"), lit(16)).as("x"),
      TsFunctions.resampleZnormUdf(
        expr("transform(sv, (e, i) -> CASE WHEN i = 0 THEN CAST(0 AS DOUBLE) " +
          "ELSE CAST(e.ts_us - sv[i-1].ts_us AS DOUBLE) END)"),
        lit(16)).as("y"))
      .select(col("user_id"), zip_with(col("x"), col("y"), (a, b) => array(a, b)).as("mv"))
  }

  /** DuckDB oracle for knn_dtw_users — mirrors knnDtwPruned exactly:
    * LB_Keogh (radius 4) against each candidate's envelope, keep the
    * k·factor=16 nearest by (lb, cand_id), run the Sakoe-Chiba-banded
    * DTW on the survivors, rank by (dtw, cand_id). The 32-row DP runs as
    * an unrolled CTE chain using the prefix-min identity
    * new[j] = cum[j] + min_{k<=j}(min(prev[k], prev[k-1]) − cum[k-1]),
    * which DuckDB evaluates with two running windows per step. */
  private def knnDtwOracleSql(sz: Int, radius: Int, kf: Int, keep: Int): String = {
    val sb = new StringBuilder(evCte + resampleZnormCte(sz))
    sb ++=
      s"""
         |, env AS (
         |  SELECT user_id, j,
         |    min(val) OVER (PARTITION BY user_id ORDER BY j
         |      ROWS BETWEEN $radius PRECEDING AND $radius FOLLOWING) AS lo,
         |    max(val) OVER (PARTITION BY user_id ORDER BY j
         |      ROWS BETWEEN $radius PRECEDING AND $radius FOLLOWING) AS up
         |  FROM r
         |), lb AS (
         |  SELECT q.user_id AS pr, e.user_id AS cd,
         |    sum(CASE WHEN q.val > e.up THEN (q.val - e.up) * (q.val - e.up)
         |             WHEN q.val < e.lo THEN (e.lo - q.val) * (e.lo - q.val)
         |             ELSE 0.0 END) AS lb2
         |  FROM r q JOIN env e ON e.j = q.j
         |  GROUP BY 1, 2
         |), cand AS (
         |  SELECT pr, cd FROM (
         |    SELECT pr, cd,
         |      row_number() OVER (PARTITION BY pr ORDER BY lb2, cd) AS rn
         |    FROM lb)
         |  WHERE rn <= $kf
         |), loc AS (
         |  SELECT c.pr, c.cd, rp.j AS i, rc.j AS j,
         |    (rp.val - rc.val) * (rp.val - rc.val) AS d
         |  FROM cand c
         |  JOIN r rp ON rp.user_id = c.pr
         |  JOIN r rc ON rc.user_id = c.cd
         |    AND rc.j BETWEEN rp.j - $radius AND rp.j + $radius
         |)""".stripMargin
    sb ++= minPlusChainCtes(Seq("pr", "cd"), "loc", "t", sz)
    sb ++=
      s"""
         |, dtw AS (
         |  SELECT pr, cd, sqrt(cost) AS dist FROM t${sz - 1} WHERE j = ${sz - 1}
         |)
         |SELECT pr AS probe_id, rn AS rank, cd AS neighbor_id FROM (
         |  SELECT pr, cd,
         |    row_number() OVER (PARTITION BY pr ORDER BY dist, cd) AS rn
         |  FROM dtw)
         |WHERE pr <> cd AND rn <= $keep""".stripMargin
    materialized(sb.toString)
  }

  /** The rounds shared by ctwTraceSql and ctwRaggedTraceSql, after the
    * caller's px0 / py0: per round k the DTW cost matrix `cumc<k>` over
    * the round's projected pair (n row CTEs), and before every round but
    * the last the diag-first backtrack `pathc<k>`, seeded by the row
    * `seed(k)`, then the d=1 CCA closed form that projects px<k+1>,
    * py<k+1>. */
  private def ctwRoundCtes(n: Int, rounds: Int, seed: Int => String): String = {
    val sb = new StringBuilder
    for (k <- 0 to rounds) {
      sb ++=
        s"""
           |, locC$k AS (
           |  SELECT a.pr, a.t AS i, b.t AS j, (a.p - b.p) * (a.p - b.p) AS d
           |  FROM px$k a JOIN py$k b ON b.pr = a.pr
           |)""".stripMargin
      sb ++= minPlusChainCtes(Seq("pr"), s"locC$k", s"c${k}x", n)
      sb ++= s"\n, cumc$k AS (\n" +
        (0 until n).map(i => s"  SELECT pr, $i AS i, j, cost FROM c${k}x$i")
          .mkString("", "\n  UNION ALL\n", "\n)")
      if (k < rounds) {
        sb ++=
          s"""
             |, pathc$k AS (
             |  ${seed(k)}
             |  UNION ALL
             |  SELECT p.pr,
             |${dtwBacktrackStep("cd")}
             |  FROM pathc$k p
             |  LEFT JOIN cumc$k cd ON cd.pr = p.pr AND cd.i = p.i - 1 AND cd.j = p.j - 1
             |  LEFT JOIN cumc$k cu ON cu.pr = p.pr AND cu.i = p.i - 1 AND cu.j = p.j
             |  LEFT JOIN cumc$k cl ON cl.pr = p.pr AND cl.i = p.i AND cl.j = p.j - 1
             |  WHERE p.i > 0 OR p.j > 0
             |), st$k AS (
             |  SELECT pa.pr,
             |    avg(x.p) AS mux, stddev_samp(x.p) AS sdx,
             |    avg(y.p) AS muy, stddev_samp(y.p) AS sdy,
             |    covar_pop(x.p, y.p) AS cv
             |  FROM pathc$k pa
             |  JOIN px0 x ON x.pr = pa.pr AND x.t = pa.i
             |  JOIN py0 y ON y.pr = pa.pr AND y.t = pa.j
             |  GROUP BY 1
             |), px${k + 1} AS (
             |  SELECT x.pr, x.t, (x.p - s.mux) / s.sdx AS p
             |  FROM px0 x JOIN st$k s ON s.pr = x.pr
             |), py${k + 1} AS (
             |  SELECT y.pr, y.t,
             |    (CASE WHEN s.cv < 0 THEN -1.0 WHEN s.cv > 0 THEN 1.0 ELSE 0.0 END)
             |      * (y.p - s.muy) / s.sdy AS p
             |  FROM py0 y JOIN st$k s ON s.pr = y.pr
             |)""".stripMargin
      }
    }
    sb.toString
  }

  /** DuckDB oracle for ts_ctw_pairs — `rounds` fixed univariate CTW
    * updates (Advanced.ctwPathFixed) replayed relationally. Per round k:
    * DTW cost matrix over the round's projected pair (dbaTraceSql's
    * row-chain DP), recursive-CTE backtrack (diag-first tie-break),
    * then the d=1 CCA closed form over the path-aligned ORIGINAL rows —
    * px = (x − μx)/σx, py = sign(cov)·(y − μy)/σy with sample σ
    * (breeze stddev is ddof=1) and population cov (only its sign
    * matters; the 1×1 eigenvector's ±1 is a common factor of both
    * projections and cancels in DTW). Output: the final round's DTW
    * score per adjacent pair. */
  private def ctwTraceSql(sz: Int, rounds: Int): String = {
    val last = sz - 1
    val sb = new StringBuilder(
      evCte.replaceFirst("WITH ", "WITH RECURSIVE ") + resampleZnormCte(sz))
    sb ++=
      """
        |, px0 AS (
        |  SELECT user_id AS pr, j AS t, val AS p FROM r
        |), py0 AS (
        |  SELECT user_id - 1 AS pr, j AS t, val AS p FROM r
        |)""".stripMargin
    sb ++= ctwRoundCtes(sz, rounds,
      k => s"SELECT pr, $last AS i, $last AS j FROM (SELECT DISTINCT pr FROM locC$k)")
    sb ++=
      s"""
         |SELECT pr AS user_id, round(sqrt(cost), 4) + 0.0 AS ctw
         |FROM cumc$rounds WHERE i = $last AND j = $last""".stripMargin
    materialized(sb.toString)
      .replaceAll(", (pathc\\d+) AS MATERIALIZED \\(", ", $1 AS (")
  }

  /** DuckDB oracle for ts_ctw_ragged_pairs — ctwTraceSql's fixed-round
    * univariate CTW replay with sz1 ≠ sz2 through every stage: ragged
    * per-user resample (each series to its own length 8 + (id%5)·2, the
    * ts_gak_ragged_pairs scheme), a DP whose shorter pairs are simply
    * absent from the high-i CTEs (raggedDtwOracleSql's trick), a
    * backtrack recursion SEEDED PER PAIR at (sz1−1, sz2−1) from the
    * lens CTE instead of a fixed corner, and the same d=1 closed-form
    * CCA over path-aligned rows between rounds. */
  private def ctwRaggedTraceSql(rounds: Int): String = {
    val maxSz = 16
    val sb = new StringBuilder(
      evCte.replaceFirst("WITH ", "WITH RECURSIVE ") + raggedResampleCtes +
      """
         |), lens AS (
         |  SELECT a.user_id AS pr, a.tl AS l1, b.tl AS l2
         |  FROM tgt a JOIN tgt b ON b.user_id = a.user_id + 1
         |), px0 AS (
         |  SELECT user_id AS pr, j AS t, val AS p FROM r
         |), py0 AS (
         |  SELECT user_id - 1 AS pr, j AS t, val AS p FROM r
         |)""".stripMargin)
    sb ++= ctwRoundCtes(maxSz, rounds, _ => "SELECT pr, l1 - 1 AS i, l2 - 1 AS j FROM lens")
    sb ++=
      s"""
         |SELECT c.pr AS user_id, round(sqrt(c.cost), 4) + 0.0 AS ctw
         |FROM cumc$rounds c JOIN lens ln ON ln.pr = c.pr
         |WHERE c.i = ln.l1 - 1 AND c.j = ln.l2 - 1""".stripMargin
    sb.toString.replaceAll("(?m)^(WITH RECURSIVE |WITH |, |\\), )(\\w+) AS \\($",
        "$1$2 AS MATERIALIZED (")
      .replaceAll(", (pathc\\d+) AS MATERIALIZED \\(", ", $1 AS (")
  }

  /** DuckDB oracle for cdist_metrics_sample — ALL six metrics over the
    * all-pairs (pr < cd, user_id < maxId) sample, replayed with the
    * same machinery the per-metric oracles use, keyed (pr, cd):
    * hard-min DTW row chain (cdistDtwOracleSql), log-space sum-product
    * chains for GAK (with self-pairs for normalization) and soft-DTW
    * (sumProdChainSql's closed-form row solve), the LCSS running-max
    * chain, SBD direct correlation, and the fixed-round univariate CTW
    * trace (ctwTraceSql's closed-form CCA + recursive backtrack, with
    * round 0 reusing the DTW chain's accumulated matrix). */
  private def metricsSampleOracleSql(sz: Int, maxId: Int, ctwRounds: Int,
                                     eps: Double): String = {
    val last = sz - 1
    val sb = new StringBuilder(
      evCte.replaceFirst("WITH ", "WITH RECURSIVE ") + resampleZnormCte(sz))
    sb ++=
      s"""
         |, rs AS (
         |  SELECT user_id, j, val FROM r WHERE user_id < $maxId
         |), prs AS (
         |  SELECT a.user_id AS pr, b.user_id AS cd
         |  FROM (SELECT DISTINCT user_id FROM rs) a
         |  JOIN (SELECT DISTINCT user_id FROM rs) b ON b.user_id > a.user_id
         |)""".stripMargin

    // hard-min DTW row chain over `locName` (pr, cd, i, j, d) → ${p}cum
    def dtwChain(p: String, locName: String): Unit = {
      sb ++= "\n" + minPlusChainCtes(Seq("pr", "cd"), locName, s"${p}x", sz)
      sb ++= s"\n, ${p}cum AS (\n" +
        (0 until sz).map(i => s"  SELECT pr, cd, $i AS i, j, cost FROM ${p}x$i")
          .mkString("", "\n  UNION ALL\n", "\n)")
    }

    // diag-first backtrack of ${cum} → $pathName (recursive, never
    // materialized)
    def backtrack(pathName: String, cum: String, loc: String): Unit = {
      sb ++=
        s"""
           |, $pathName AS (
           |  SELECT pr, cd, $last AS i, $last AS j
           |  FROM (SELECT DISTINCT pr, cd FROM $loc)
           |  UNION ALL
           |  SELECT p.pr, p.cd,
           |${dtwBacktrackStep("cd2")}
           |  FROM $pathName p
           |  LEFT JOIN $cum cd2 ON cd2.pr = p.pr AND cd2.cd = p.cd
           |    AND cd2.i = p.i - 1 AND cd2.j = p.j - 1
           |  LEFT JOIN $cum cu ON cu.pr = p.pr AND cu.cd = p.cd
           |    AND cu.i = p.i - 1 AND cu.j = p.j
           |  LEFT JOIN $cum cl ON cl.pr = p.pr AND cl.cd = p.cd
           |    AND cl.i = p.i AND cl.j = p.j - 1
           |  WHERE p.i > 0 OR p.j > 0
           |)""".stripMargin
    }

    // log-space sum-product chain (GAK / soft-DTW) over loc (pr,cd,i,j,lg).
    // Unlike sumProdChainSql's sz=16 instantiations, sz=48 rows span a
    // dynamic range past double underflow: the cumulative exp-sum can hit
    // exactly 0 for cells > ~745 nats below the row max — greatest(se,
    // 1e-308) keeps ln finite; a cell that far down is dead weight at
    // round(4) either way.
    def sumProdChain(p: String, locName: String): Unit = {
      sb ++=
        s"""
           |, ${p}x0 AS (
           |  SELECT pr, cd, j, sum(lg) OVER (PARTITION BY pr, cd ORDER BY j) AS lw
           |  FROM $locName WHERE i = 0
           |)""".stripMargin
      for (i <- 1 until sz) sb ++= sumProdRowCte(locName, s"${p}x", i, "greatest(se, 1e-308)")
    }

    // ---- DTW (shared with CTW round 0)
    sb ++=
      """
        |, locd AS (
        |  SELECT p.pr, p.cd, a.j AS i, b.j AS j,
        |    (a.val - b.val) * (a.val - b.val) AS d
        |  FROM prs p
        |  JOIN rs a ON a.user_id = p.pr
        |  JOIN rs b ON b.user_id = p.cd
        |)""".stripMargin
    dtwChain("d", "locd")

    // ---- soft-DTW (γ=1)
    sb ++=
      """
        |, locs AS (
        |  SELECT pr, cd, i, j, -d AS lg FROM locd
        |)""".stripMargin
    sumProdChain("s", "locs")

    // ---- GAK (σ=1; self-pairs for the normalization)
    sb ++=
      s"""
         |, gprs AS (
         |  SELECT user_id AS pr, user_id AS cd FROM (SELECT DISTINCT user_id FROM rs)
         |  UNION ALL
         |  SELECT pr, cd FROM prs
         |), locg AS (
         |  SELECT p.pr, p.cd, a.j AS i, b.j AS j,
         |    -(a.val - b.val) * (a.val - b.val) / 2.0
         |      - ln(2.0 - exp(-(a.val - b.val) * (a.val - b.val) / 2.0)) AS lg
         |  FROM gprs p
         |  JOIN rs a ON a.user_id = p.pr
         |  JOIN rs b ON b.user_id = p.cd
         |)""".stripMargin
    sumProdChain("g", "locg")

    // ---- LCSS (running-max row chain)
    sb ++=
      s"""
         |, locl AS (
         |  SELECT pr, cd, i, j,
         |    CASE WHEN sqrt(d) <= $eps THEN 1 ELSE 0 END AS m
         |  FROM locd
         |), lx0 AS (
         |  SELECT pr, cd, j, max(m) OVER (PARTITION BY pr, cd ORDER BY j) AS len
         |  FROM locl WHERE i = 0
         |)""".stripMargin
    for (i <- 1 until sz) {
      sb ++=
        s"""
           |, lx$i AS (
           |  SELECT pr, cd, j, max(c) OVER (PARTITION BY pr, cd ORDER BY j) AS len
           |  FROM (
           |    SELECT l.pr, l.cd, l.j,
           |      CASE WHEN l.m = 1 THEN coalesce(pk1.len, 0) + 1
           |           ELSE coalesce(pk.len, 0) END AS c
           |    FROM locl l
           |    LEFT JOIN lx${i - 1} pk
           |      ON pk.pr = l.pr AND pk.cd = l.cd AND pk.j = l.j
           |    LEFT JOIN lx${i - 1} pk1
           |      ON pk1.pr = l.pr AND pk1.cd = l.cd AND pk1.j = l.j - 1
           |    WHERE l.i = $i)
           |)""".stripMargin
    }

    // ---- SBD (direct correlation over all pair shifts)
    sb ++=
      """
        |, nrm AS (
        |  SELECT user_id, sqrt(sum(val * val)) AS nrm FROM rs GROUP BY 1
        |), ccx AS (
        |  SELECT p.pr, p.cd, a.j - b.j AS sft, sum(a.val * b.val) AS corr
        |  FROM prs p
        |  JOIN rs a ON a.user_id = p.pr
        |  JOIN rs b ON b.user_id = p.cd
        |  GROUP BY 1, 2, 3
        |), sbdf AS (
        |  SELECT c.pr, c.cd,
        |    1.0 - max(c.corr /
        |      (CASE WHEN na.nrm * nb.nrm = 0 THEN 1.0 ELSE na.nrm * nb.nrm END)) AS sbd
        |  FROM ccx c
        |  JOIN nrm na ON na.user_id = c.pr
        |  JOIN nrm nb ON nb.user_id = c.cd
        |  GROUP BY 1, 2
        |)""".stripMargin

    // ---- CTW: round 0 reuses dcum; per round the d=1 CCA closed form
    sb ++=
      """
        |, cx0 AS (
        |  SELECT p.pr, p.cd, a.j AS t, a.val AS p FROM prs p
        |  JOIN rs a ON a.user_id = p.pr
        |), cy0 AS (
        |  SELECT p.pr, p.cd, b.j AS t, b.val AS p FROM prs p
        |  JOIN rs b ON b.user_id = p.cd
        |)""".stripMargin
    for (k <- 0 until ctwRounds) {
      val cum = if (k == 0) "dcum" else s"c${k}cum"
      val loc = if (k == 0) "locd" else s"locc$k"
      backtrack(s"cpath$k", cum, loc)
      sb ++=
        s"""
           |, cst$k AS (
           |  SELECT pa.pr, pa.cd,
           |    avg(x.p) AS mux, stddev_samp(x.p) AS sdx,
           |    avg(y.p) AS muy, stddev_samp(y.p) AS sdy,
           |    covar_pop(x.p, y.p) AS cv
           |  FROM cpath$k pa
           |  JOIN cx0 x ON x.pr = pa.pr AND x.cd = pa.cd AND x.t = pa.i
           |  JOIN cy0 y ON y.pr = pa.pr AND y.cd = pa.cd AND y.t = pa.j
           |  GROUP BY 1, 2
           |), cx${k + 1} AS (
           |  SELECT x.pr, x.cd, x.t, (x.p - s.mux) / s.sdx AS p
           |  FROM cx0 x JOIN cst$k s ON s.pr = x.pr AND s.cd = x.cd
           |), cy${k + 1} AS (
           |  SELECT y.pr, y.cd, y.t,
           |    (CASE WHEN s.cv < 0 THEN -1.0 WHEN s.cv > 0 THEN 1.0 ELSE 0.0 END)
           |      * (y.p - s.muy) / s.sdy AS p
           |  FROM cy0 y JOIN cst$k s ON s.pr = y.pr AND s.cd = y.cd
           |), locc${k + 1} AS (
           |  SELECT a.pr, a.cd, a.t AS i, b.t AS j, (a.p - b.p) * (a.p - b.p) AS d
           |  FROM cx${k + 1} a
           |  JOIN cy${k + 1} b ON b.pr = a.pr AND b.cd = a.cd
           |)""".stripMargin
      dtwChain(s"c${k + 1}", s"locc${k + 1}")
    }

    sb ++=
      s"""
         |SELECT dd.pr AS left_id, dd.cd AS right_id,
         |  round(sqrt(dd.cost), 4) + 0.0 AS dtw,
         |  round(-1.0 * ss.lw, 4) + 0.0 AS softdtw,
         |  round(exp(gab.lw - 0.5 * (gaa.lw + gbb.lw)), 4) + 0.0 AS gak,
         |  round(CAST(ll.len AS DOUBLE) / $sz, 4) + 0.0 AS lcss,
         |  round(sbdf.sbd, 4) + 0.0 AS sbd,
         |  round(sqrt(cc.cost), 4) + 0.0 AS ctw
         |FROM dx$last dd
         |JOIN sx$last ss ON ss.pr = dd.pr AND ss.cd = dd.cd AND ss.j = $last
         |JOIN gx$last gab ON gab.pr = dd.pr AND gab.cd = dd.cd AND gab.j = $last
         |JOIN gx$last gaa ON gaa.pr = dd.pr AND gaa.cd = dd.pr AND gaa.j = $last
         |JOIN gx$last gbb ON gbb.pr = dd.cd AND gbb.cd = dd.cd AND gbb.j = $last
         |JOIN lx$last ll ON ll.pr = dd.pr AND ll.cd = dd.cd AND ll.j = $last
         |JOIN sbdf ON sbdf.pr = dd.pr AND sbdf.cd = dd.cd
         |JOIN c${ctwRounds}x$last cc ON cc.pr = dd.pr AND cc.cd = dd.cd AND cc.j = $last
         |WHERE dd.j = $last""".stripMargin
    materialized(sb.toString)
      .replaceAll(", (cpath\\d+) AS MATERIALIZED \\(", ", $1 AS (")
  }

  /** DuckDB oracle for ts_dtw_ragged_pairs — unbanded DTW over RAW
    * adjacent-user event series with NO resample: each pair's own
    * (sz1, sz2) drives the DP. Row i of the DP is one CTE
    * (mvDtwOracleSql's running-sum + window-min row recurrence); a pair
    * shorter than i is simply absent from t{i}, and the final SELECT
    * picks each pair's (sz1−1, sz2−1) cell via the lens join. `maxSz`
    * bounds the unroll above the generator's series lengths (n≈45–99);
    * a longer series would lose its pair from the oracle side and fail
    * the row-count compare LOUDLY rather than silently truncate. */
  private def raggedDtwOracleSql(maxSz: Int): String = {
    val sb = new StringBuilder(
      s"""WITH v AS (
         |  SELECT user_id, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_ns(ts) // 1000, event_id) - 1 AS j
         |  FROM events
         |), lens AS (
         |  SELECT a.user_id AS pr, a.n AS len1, b.n AS len2
         |  FROM (SELECT user_id, count(*) AS n FROM v GROUP BY 1) a
         |  JOIN (SELECT user_id, count(*) AS n FROM v GROUP BY 1) b
         |    ON b.user_id = a.user_id + 1
         |), loc AS (
         |  SELECT a.user_id AS pr, a.j AS i, b.j AS j,
         |    (a.value - b.value) * (a.value - b.value) AS d
         |  FROM v a JOIN v b ON b.user_id = a.user_id + 1
         |)""".stripMargin)
    sb ++= minPlusChainCtes(Seq("pr"), "loc", "t", maxSz)
    sb ++= "\n, ans AS (\n  SELECT pr, 0 AS i, j, cost FROM t0"
    for (i <- 1 until maxSz)
      sb ++= s"\n  UNION ALL SELECT pr, $i, j, cost FROM t$i"
    sb ++=
      s"""
         |)
         |SELECT u.pr AS user_id, round(sqrt(u.cost), 4) AS dtw
         |FROM ans u JOIN lens ln ON ln.pr = u.pr
         |WHERE u.i = ln.len1 - 1 AND u.j = ln.len2 - 1""".stripMargin
    materialized(sb.toString)
  }

  /** DuckDB oracle for knn_dtw_ragged — all ordered pairs of the
    * user_id % `mod` subset through the UNBANDED variable-length DTW
    * (the [[raggedDtwOracleSql]] DP chain generalized from adjacent
    * pairs to a (pr, cd) pair space), self pairs appended at dist 0,
    * then the same rank/filter the engine row applies. */
  private def raggedKnnOracleSql(maxSz: Int, mod: Int, keep: Int): String = {
    val sb = new StringBuilder(
      s"""WITH v AS (
         |  SELECT user_id, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_ns(ts) // 1000, event_id) - 1 AS j
         |  FROM events WHERE user_id % $mod = 0
         |), lens AS (
         |  SELECT user_id, count(*) AS n FROM v GROUP BY 1
         |), guard AS (
         |  SELECT CASE WHEN max(n) > $maxSz THEN error(
         |      'raggedKnnOracleSql: longest series (' || CAST(max(n) AS VARCHAR)
         |      || ' points) exceeds the ' || '$maxSz' || '-layer DP chain — raise maxSz '
         |      || 'or the final DP cell is silently unreachable and pairs vanish')
         |    ELSE 1 END AS ok FROM lens
         |), loc AS (
         |  SELECT a.user_id AS pr, b.user_id AS cd, a.j AS i, b.j AS j,
         |    (a.value - b.value) * (a.value - b.value) AS d
         |  FROM v a JOIN v b ON b.user_id <> a.user_id
         |)""".stripMargin)
    sb ++= minPlusChainCtes(Seq("pr", "cd"), "loc", "t", maxSz)
    sb ++= "\n, ans AS (\n  SELECT pr, cd, 0 AS i, j, cost FROM t0"
    for (i <- 1 until maxSz)
      sb ++= s"\n  UNION ALL SELECT pr, cd, $i, j, cost FROM t$i"
    sb ++=
      s"""
         |), dtw AS (
         |  SELECT u.pr, u.cd, sqrt(u.cost) AS dist
         |  FROM ans u
         |  JOIN lens la ON la.user_id = u.pr
         |  JOIN lens lb2 ON lb2.user_id = u.cd
         |  WHERE u.i = la.n - 1 AND u.j = lb2.n - 1
         |  UNION ALL SELECT user_id, user_id, 0.0 FROM lens
         |)
         |SELECT pr AS probe_id, rn AS rank, cd AS neighbor_id,
         |  round(dist, 4) + 0.0 AS dist FROM (
         |  SELECT pr, cd, dist,
         |    row_number() OVER (PARTITION BY pr
         |      ORDER BY round(dist, 4), cd) AS rn
         |  FROM dtw)
         |WHERE pr <> cd AND rn <= $keep AND (SELECT ok FROM guard) = 1""".stripMargin
    materialized(sb.toString)
  }

  /** d=2 (value, Δt) channel prep shared by the multivariate oracles
    * (mvDtwOracleSql, lcssMvCityblockOracleSql): per-channel resample to
    * `sz` + z-norm, yielding r(user_id, j, x, y) — mirrors the Spark
    * side's two resampleZnormUdf calls over the sorted event structs. */
  private def mvChannelsCte(sz: Int): String = {
    val last = sz - 1
    s"""WITH v AS (
       |  SELECT user_id, value, epoch_ns(ts) // 1000 AS ts_us,
       |         row_number() OVER (PARTITION BY user_id
       |           ORDER BY epoch_ns(ts) // 1000, event_id) AS t,
       |         count(*) OVER (PARTITION BY user_id) AS n
       |  FROM events
       |), v2 AS (
       |  SELECT user_id, t, n, value,
       |    CAST(coalesce(ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY t), 0)
       |      AS DOUBLE) AS dt
       |  FROM v
       |), grid AS (
       |  SELECT u.user_id, u.n, g.j, g.j * (u.n - 1) / $last.0 AS pos
       |  FROM (SELECT DISTINCT user_id, n FROM v2) u,
       |       (SELECT unnest(generate_series(0, $last)) AS j) g
       |), w AS (
       |  SELECT user_id, j, CAST(floor(pos) AS INT) AS i0,
       |    LEAST(CAST(floor(pos) AS INT) + 1, n - 1) AS i1,
       |    pos - floor(pos) AS frac
       |  FROM grid
       |), r0 AS (
       |  SELECT w.user_id, w.j,
       |    a.value * (1.0 - w.frac) + b.value * w.frac AS xv,
       |    a.dt * (1.0 - w.frac) + b.dt * w.frac AS yv
       |  FROM w
       |  JOIN v2 a ON a.user_id = w.user_id AND a.t - 1 = w.i0
       |  JOIN v2 b ON b.user_id = w.user_id AND b.t - 1 = w.i1
       |), st AS (
       |  SELECT user_id,
       |    avg(xv) AS mx, avg(xv * xv) - avg(xv) * avg(xv) AS vx,
       |    avg(yv) AS my, avg(yv * yv) - avg(yv) * avg(yv) AS vy
       |  FROM r0 GROUP BY 1
       |), r AS (
       |  SELECT r0.user_id, r0.j,
       |    (xv - mx) / (CASE WHEN vx <= 0 THEN 1.0 ELSE sqrt(vx) END) AS x,
       |    (yv - my) / (CASE WHEN vy <= 0 THEN 1.0 ELSE sqrt(vy) END) AS y
       |  FROM r0 JOIN st USING (user_id)
       |)""".stripMargin
  }

  /** DuckDB oracle for ts_dtw_mv_pairs: build the d=2 (value, Δt)
    * channels, resample + z-norm each channel exactly as the Spark side
    * (resampleZnormUdf per channel), then full (unbanded) multivariate
    * DTW between adjacent users unrolled as a `sz`-step DP CTE chain —
    * the same row-by-row recurrence as knnDtwOracleSql with the local
    * cost summed over both dims. */
  private def mvDtwOracleSql(sz: Int): String = {
    val last = sz - 1
    val sb = new StringBuilder(mvChannelsCte(sz))
    sb ++=
      s"""
         |, loc AS (
         |  SELECT a.user_id AS pr, b.user_id AS cd, a.j AS i, b.j AS j,
         |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d
         |  FROM r a JOIN r b ON b.user_id = a.user_id + 1
         |)""".stripMargin
    sb ++= minPlusChainCtes(Seq("pr", "cd"), "loc", "t", sz)
    sb ++=
      s"""
         |SELECT pr AS user_id, round(sqrt(cost), 4) AS dtw_mv
         |FROM t$last WHERE j = $last""".stripMargin
    materialized(sb.toString)
  }

  /** DuckDB oracle for ts_lcss_pairs: the ε-LCSS DP unrolled as a
    * running-max CTE chain. The within-row dependency
    * cur(j)=max(cur(j-1), …) collapses to a running max over candidate
    * values c(j') = prev(j'-1)+1 on an ε-match else prev(j') — the
    * standard LCS monotonicity L(i,j) ≤ L(i,j-1)+1 makes the match case
    * dominate cur(j-1), so one window per row suffices. Integer output:
    * no float-hash fragility. */
  private def lcssOracleSql(sz: Int, eps: Double): String =
    lcssChainSql(sz, evCte + resampleZnormCte(sz),
      s"""
         |, loc AS (
         |  SELECT a.user_id AS pr, b.user_id AS cd, a.j AS i, b.j AS j,
         |    CASE WHEN abs(a.val - b.val) <= $eps THEN 1 ELSE 0 END AS m
         |  FROM r a JOIN r b ON b.user_id = a.user_id + 1
         |)""".stripMargin)

  /** DuckDB oracle for ts_lcss_cityblock_pairs: the SAME running-max
    * chain over the d=2 (value, Δt) channels with the cityblock match
    * gate |dx| + |dy| ≤ ε (`dtw_variants.py:1693-1879`). */
  private def lcssMvCityblockOracleSql(sz: Int, eps: Double): String =
    lcssChainSql(sz, mvChannelsCte(sz),
      s"""
         |, loc AS (
         |  SELECT a.user_id AS pr, b.user_id AS cd, a.j AS i, b.j AS j,
         |    CASE WHEN abs(a.x - b.x) + abs(a.y - b.y) <= $eps THEN 1 ELSE 0 END AS m
         |  FROM r a JOIN r b ON b.user_id = a.user_id + 1
         |)""".stripMargin)

  /** The ε-LCSS running-max rows `t0..t{sz-1}(pr, cd, j, len)` over a
    * 0/1 match CTE `loc(pr, cd, i, j, m)`, shared by lcssChainSql and
    * lcssPathOracleSql. Starts at `t0 AS (`: the caller writes the
    * separator. */
  private def lcssRowCtes(sz: Int): String = {
    val sb = new StringBuilder(
      """t0 AS (
        |  SELECT pr, cd, j,
        |    max(m) OVER (PARTITION BY pr, cd ORDER BY j) AS len
        |  FROM loc WHERE i = 0
        |)""".stripMargin)
    for (i <- 1 until sz) {
      sb ++=
        s"""
           |, t$i AS (
           |  SELECT pr, cd, j,
           |    max(c) OVER (PARTITION BY pr, cd ORDER BY j) AS len
           |  FROM (
           |    SELECT l.pr, l.cd, l.j,
           |      CASE WHEN l.m = 1 THEN coalesce(pk1.len, 0) + 1
           |           ELSE coalesce(pk.len, 0) END AS c
           |    FROM loc l
           |    LEFT JOIN t${i - 1} pk
           |      ON pk.pr = l.pr AND pk.cd = l.cd AND pk.j = l.j
           |    LEFT JOIN t${i - 1} pk1
           |      ON pk1.pr = l.pr AND pk1.cd = l.cd AND pk1.j = l.j - 1
           |    WHERE l.i = $i)
           |)""".stripMargin
    }
    sb.toString
  }

  /** Shared ε-LCSS running-max DP chain over a 0/1 match CTE
    * `loc(pr, cd, i, j, m)` built by `locCte` on top of `prep`. */
  private def lcssChainSql(sz: Int, prep: String, locCte: String): String = {
    val sb = new StringBuilder(prep)
    sb ++= locCte
    sb ++= "\n, " + lcssRowCtes(sz)
    sb ++=
      s"""
         |SELECT pr AS user_id, CAST(len AS INT) AS lcss_len
         |FROM t${sz - 1} WHERE j = ${sz - 1}""".stripMargin
    materialized(sb.toString)
  }

  /** DuckDB oracle for ts_dtw_itakura_pairs: the banded min-plus chain
    * with loc restricted to the Itakura parallelogram
    * (`dtw_variants.py:958-1012`, Mask.itakura): cell (i,j) admissible
    * iff ceil(max(j/2, 2j−(sz−1))) ≤ i < floor(min(2j, (sz−1+j)/2)+1).
    * In-band cells are contiguous per row, so the prefix-sum row solve
    * applies unchanged (same shape as knnDtwOracleSql's radius band). */
  private def dtwItakuraOracleSql(sz: Int): String = {
    val last = sz - 1
    bandedDtwPairsOracleSql(sz,
      s"""a.j >= ceil(greatest(0.5 * b.j, 2.0 * b.j - $last))
         |    AND a.j < floor(least(2.0 * b.j, 0.5 * $last + 0.5 * b.j) + 1)""".stripMargin)
  }

  /** Sakoe-Chiba band |i−j| ≤ r at equal lengths (Mask.sakoeChiba). */
  private def dtwSakoePairsOracleSql(sz: Int, radius: Int): String =
    bandedDtwPairsOracleSql(sz, s"b.j BETWEEN a.j - $radius AND a.j + $radius")

  /** Shared banded DTW pair chain: the min-plus row solve over loc
    * restricted to `bandSql` (in-band cells must be contiguous per row,
    * true for both constraint masks). `dSql`/`finalExpr` default to the
    * squared-euclidean local cost + sqrt'd total; dtw_path_from_metric
    * variants swap them (e.g. cityblock local, raw total). */
  private def bandedDtwPairsOracleSql(sz: Int, bandSql: String,
      dSql: String = "(a.val - b.val) * (a.val - b.val)",
      finalExpr: String = "sqrt(cost)"): String = {
    val last = sz - 1
    val sb = new StringBuilder(evCte + resampleZnormCte(sz))
    sb ++=
      s"""
         |, loc AS (
         |  SELECT a.user_id AS pr, b.user_id AS cd, a.j AS i, b.j AS j,
         |    $dSql AS d
         |  FROM r a JOIN r b ON b.user_id = a.user_id + 1
         |  WHERE $bandSql
         |)""".stripMargin
    sb ++= minPlusChainCtes(Seq("pr", "cd"), "loc", "t", sz)
    sb ++=
      s"""
         |SELECT pr AS user_id, round($finalExpr, 4) AS dtw
         |FROM t$last WHERE j = $last""".stripMargin
    materialized(sb.toString)
  }

  /** DuckDB oracle for ts_lcss_path_pairs: the LCSS alignment path
    * (`lcss_path`, `dtw_variants.py:1693-1879`; Advanced.lcssPathFromLocal)
    * — the running-max DP chain of [[lcssOracleSql]] kept as a full
    * matrix, then a recursive-CTE backtrack with the kernel's exact
    * rule: match ⇒ emit cell + diag; else up if acc(i−1,j) > acc(i,j−1)
    * else left. Only MATCH cells are path members. */
  private def lcssPathOracleSql(sz: Int, eps: Double, maxId: Int): String = {
    val sb = new StringBuilder(
      evCte.replaceFirst("WITH ", "WITH RECURSIVE ") + resampleZnormCte(sz))
    sb ++=
      s"""
         |, rs AS (
         |  SELECT user_id, j, val FROM r WHERE user_id < $maxId
         |), loc AS (
         |  SELECT a.user_id AS pr, b.user_id AS cd, a.j AS i, b.j AS j,
         |    CASE WHEN abs(a.val - b.val) <= $eps THEN 1 ELSE 0 END AS m
         |  FROM rs a JOIN rs b ON b.user_id = a.user_id + 1""".stripMargin
    sb ++= "\n), " + lcssRowCtes(sz)
    sb ++= "\n, acc AS (\n" +
      (0 until sz).map(i => s"  SELECT pr, cd, ${i + 1} AS pi, j + 1 AS pj, len FROM t$i")
        .mkString("", "\n  UNION ALL\n", "\n)")
    sb ++=
      s"""
         |, path AS (
         |  SELECT pr, cd, $sz AS pi, $sz AS pj FROM (SELECT DISTINCT pr, cd FROM loc)
         |  UNION ALL
         |  SELECT p.pr, p.cd,
         |    CASE WHEN m.m = 1 THEN p.pi - 1
         |         WHEN coalesce(au.len, 0) > coalesce(al.len, 0) THEN p.pi - 1
         |         ELSE p.pi END AS pi,
         |    CASE WHEN m.m = 1 THEN p.pj - 1
         |         WHEN coalesce(au.len, 0) > coalesce(al.len, 0) THEN p.pj
         |         ELSE p.pj - 1 END AS pj
         |  FROM path p
         |  JOIN loc m ON m.pr = p.pr AND m.cd = p.cd
         |    AND m.i = p.pi - 1 AND m.j = p.pj - 1
         |  LEFT JOIN acc au ON au.pr = p.pr AND au.cd = p.cd
         |    AND au.pi = p.pi - 1 AND au.pj = p.pj
         |  LEFT JOIN acc al ON al.pr = p.pr AND al.cd = p.cd
         |    AND al.pi = p.pi AND al.pj = p.pj - 1
         |  WHERE p.pi > 0 AND p.pj > 0
         |)
         |SELECT p.pr AS user_id, CAST(p.pi - 1 AS INT) AS i, CAST(p.pj - 1 AS INT) AS j
         |FROM path p
         |JOIN loc m ON m.pr = p.pr AND m.cd = p.cd
         |  AND m.i = p.pi - 1 AND m.j = p.pj - 1
         |WHERE p.pi > 0 AND p.pj > 0 AND m.m = 1""".stripMargin
    materialized(sb.toString)
      .replace(", path AS MATERIALIZED (", ", path AS (")
  }

  /** DuckDB oracle for ts_lcss_ragged_pairs: the same running-max LCSS
    * row chain as lcssOracleSql but on RAW series lengths (sz1≠sz2
    * through the int DP) — the ragged driver signal for lcss in
    * VARIABLE_LENGTH_METRICS, mirroring raggedDtwOracleSql's shape. */
  private def lcssRaggedOracleSql(maxSz: Int, eps: Double): String = {
    val sb = new StringBuilder(rawZnormCte)
    sb ++=
      s"""
         |, lens AS (
         |  SELECT a.user_id AS pr, a.n AS len1, b.n AS len2
         |  FROM (SELECT DISTINCT user_id, n FROM v) a
         |  JOIN (SELECT DISTINCT user_id, n FROM v) b ON b.user_id = a.user_id + 1
         |), loc AS (
         |  SELECT a.user_id AS pr, a.j AS i, b.j AS j,
         |    CASE WHEN abs(a.val - b.val) <= $eps THEN 1 ELSE 0 END AS m
         |  FROM z a JOIN z b ON b.user_id = a.user_id + 1
         |), t0 AS (
         |  SELECT pr, j, max(m) OVER (PARTITION BY pr ORDER BY j) AS len
         |  FROM loc WHERE i = 0
         |)""".stripMargin
    for (i <- 1 until maxSz) {
      sb ++=
        s"""
           |, t$i AS (
           |  SELECT pr, j, max(c) OVER (PARTITION BY pr ORDER BY j) AS len
           |  FROM (
           |    SELECT l.pr, l.j,
           |      CASE WHEN l.m = 1 THEN coalesce(pk1.len, 0) + 1
           |           ELSE coalesce(pk.len, 0) END AS c
           |    FROM loc l
           |    LEFT JOIN t${i - 1} pk ON pk.pr = l.pr AND pk.j = l.j
           |    LEFT JOIN t${i - 1} pk1 ON pk1.pr = l.pr AND pk1.j = l.j - 1
           |    WHERE l.i = $i)
           |)""".stripMargin
    }
    sb ++= "\n, ans AS (\n  SELECT pr, 0 AS i, j, len FROM t0"
    for (i <- 1 until maxSz)
      sb ++= s"\n  UNION ALL SELECT pr, $i, j, len FROM t$i"
    sb ++=
      s"""
         |)
         |SELECT u.pr AS user_id, CAST(u.len AS INT) AS lcss_len
         |FROM ans u JOIN lens ln ON ln.pr = u.pr
         |WHERE u.i = ln.len1 - 1 AND u.j = ln.len2 - 1""".stripMargin
    materialized(sb.toString)
  }

  /** DuckDB oracle for ts_sbd_pairs: SBD = 1 − max-shift NCC, computed
    * as the direct O(sz²) cross-correlation sum (the FFT in Ncc.scala is
    * an implementation detail; the value is the plain correlation at
    * every shift, normalized by the Frobenius norms). */
  private def sbdOracleSql(sz: Int): String =
    (evCte + resampleZnormCte(sz) +
      """
        |, norms AS (
        |  SELECT user_id, sqrt(sum(val * val)) AS nrm FROM r GROUP BY 1
        |), cc AS (
        |  SELECT a.user_id AS pr, b.user_id AS cd, a.j - b.j AS s,
        |    sum(a.val * b.val) AS corr
        |  FROM r a JOIN r b ON b.user_id = a.user_id + 1
        |  GROUP BY 1, 2, 3
        |)
        |SELECT cc.pr AS user_id,
        |  round(1.0 - max(cc.corr /
        |    (CASE WHEN na.nrm * nb.nrm = 0 THEN 1.0 ELSE na.nrm * nb.nrm END)), 4) AS sbd
        |FROM cc
        |JOIN norms na ON na.user_id = cc.pr
        |JOIN norms nb ON nb.user_id = cc.cd
        |GROUP BY 1""".stripMargin)

  /** DuckDB oracle for cdist_dtw_pairs: unbanded univariate DTW between
    * ALL pairs (left < right) of the first `maxId` users at sz points —
    * the same row-chain DP as mvDtwOracleSql with a d=1 local cost and
    * an all-pairs join, verifying the triangle self-join output. */
  private def cdistDtwOracleSql(sz: Int, maxId: Int): String = {
    val last = sz - 1
    materialized(cdistDtwChainSql(sz, maxId) +
      s"""
         |SELECT pr AS left_id, cd AS right_id, round(sqrt(cost), 4) AS dtw
         |FROM t$last WHERE j = $last""".stripMargin)
  }

  /** DuckDB oracle for ts_silhouette_dtw: the cdist DTW triangle chain
    * mirrored to both directions, parity labels, then the silhouette
    * aggregation (per-(point, cluster) mean → a/b → mean (b−a)/max) —
    * `silhouette_score(cdist_dtw(X), labels, metric="precomputed")`,
    * `clustering/utils.py:66-197`. */
  private def silhouetteDtwOracleSql(sz: Int, maxId: Int): String = {
    val last = sz - 1
    materialized(cdistDtwChainSql(sz, maxId) +
      s"""
         |, pd AS (
         |  SELECT pr, cd, sqrt(cost) AS dist FROM t$last WHERE j = $last
         |), dd AS (
         |  SELECT pr AS l, cd AS r2, dist FROM pd
         |  UNION ALL
         |  SELECT cd, pr, dist FROM pd
         |), lab AS (
         |  SELECT DISTINCT user_id, user_id % 2 AS lc FROM rs
         |), dmat AS (
         |  SELECT dd.l, la.lc, lb.lc AS rc, dd.dist
         |  FROM dd
         |  JOIN lab la ON la.user_id = dd.l
         |  JOIN lab lb ON lb.user_id = dd.r2
         |), pc AS (
         |  SELECT l, lc, rc, avg(dist) AS md FROM dmat GROUP BY 1, 2, 3
         |), aa AS (
         |  SELECT l, md AS a FROM pc WHERE lc = rc
         |), bb AS (
         |  SELECT l, min(md) AS b FROM pc WHERE lc <> rc GROUP BY 1
         |), sil AS (
         |  SELECT (bb.b - aa.a) / greatest(aa.a, bb.b) AS s
         |  FROM aa JOIN bb ON aa.l = bb.l
         |)
         |SELECT round(avg(s), 4) AS silhouette FROM sil""".stripMargin)
  }

  /** Shared all-pairs (a < b triangle) DTW DP chain over the first
    * `maxId` users at `sz`, through cost table t{sz−1}. */
  private def cdistDtwChainSql(sz: Int, maxId: Int): String = {
    val sb = new StringBuilder(evCte + resampleZnormCte(sz))
    sb ++=
      s"""
         |, rs AS (
         |  SELECT user_id, j, val FROM r WHERE user_id < $maxId
         |), loc AS (
         |  SELECT a.user_id AS pr, b.user_id AS cd, a.j AS i, b.j AS j,
         |    (a.val - b.val) * (a.val - b.val) AS d
         |  FROM rs a JOIN rs b ON b.user_id > a.user_id
         |)""".stripMargin
    sb ++= minPlusChainCtes(Seq("pr", "cd"), "loc", "t", sz)
    sb.toString
  }

  /** DuckDB oracle for ts_dtw_path_pairs: the optimal DTW alignment
    * path itself (`dtw_variants.py:109-198`, Kernels.returnPath) for
    * adjacent pairs — full min-plus cost matrix kept per pair, then a
    * recursive-CTE backtrack with the kernel's exact tie-break (diag
    * preferred, then up), the same machinery the green ts_dba trace
    * uses per-iteration, here partitioned by (pr, cd). */
  private def dtwPathOracleSql(sz: Int, maxId: Int): String = {
    val last = sz - 1
    val sb = new StringBuilder(
      evCte.replaceFirst("WITH ", "WITH RECURSIVE ") + resampleZnormCte(sz))
    sb ++=
      s"""
         |, rs AS (
         |  SELECT user_id, j, val FROM r WHERE user_id < $maxId
         |), loc AS (
         |  SELECT a.user_id AS pr, b.user_id AS cd, a.j AS i, b.j AS j,
         |    (a.val - b.val) * (a.val - b.val) AS d
         |  FROM rs a JOIN rs b ON b.user_id = a.user_id + 1
         |)""".stripMargin
    sb ++= minPlusChainCtes(Seq("pr", "cd"), "loc", "t", sz)
    sb ++= "\n, cum AS (\n" +
      (0 until sz).map(i => s"  SELECT pr, cd, $i AS i, j, cost FROM t$i")
        .mkString("", "\n  UNION ALL\n", "\n)")
    sb ++=
      s"""
         |, path AS (
         |  SELECT pr, cd, $last AS i, $last AS j FROM (SELECT DISTINCT pr, cd FROM loc)
         |  UNION ALL
         |  SELECT p.pr, p.cd,
         |${dtwBacktrackStep("cd2")}
         |  FROM path p
         |  LEFT JOIN cum cd2 ON cd2.pr = p.pr AND cd2.cd = p.cd
         |    AND cd2.i = p.i - 1 AND cd2.j = p.j - 1
         |  LEFT JOIN cum cu ON cu.pr = p.pr AND cu.cd = p.cd
         |    AND cu.i = p.i - 1 AND cu.j = p.j
         |  LEFT JOIN cum cl ON cl.pr = p.pr AND cl.cd = p.cd
         |    AND cl.i = p.i AND cl.j = p.j - 1
         |  WHERE p.i > 0 OR p.j > 0
         |)
         |SELECT pr AS user_id, CAST(i AS INT) AS i, CAST(j AS INT) AS j
         |FROM path""".stripMargin
    materialized(sb.toString)
      .replace(", path AS MATERIALIZED (", ", path AS (")
  }

  /** Normalized GAK of each adjacent pair off a GAK sum-product chain's
    * `fin(pr, cd, lw)`: exp(lw_ab − ½(lw_aa + lw_bb)). */
  private val gakNormalizedSql =
    """SELECT ab.pr AS user_id,
      |  round(exp(ab.lw - 0.5 * (aa.lw + bb.lw)), 4) AS gak
      |FROM fin ab
      |JOIN fin aa ON aa.pr = ab.pr AND aa.cd = ab.pr
      |JOIN fin bb ON bb.pr = ab.cd AND bb.cd = ab.cd
      |WHERE ab.pr <> ab.cd""".stripMargin

  /** GAK with σ=1, normalized so k(x,x)=1 (Kernels.gak). */
  private def gakOracleSql(sz: Int): String = sumProdChainSql(
    sz,
    lgSql = gakLgSql,
    selfPairs = true,
    finalSql = gakNormalizedSql)

  /** soft-DTW with γ=1: value = −γ·ln W(sz,sz). */
  private def softDtwOracleSql(sz: Int): String = sumProdChainSql(
    sz,
    lgSql = "-(a.val - b.val) * (a.val - b.val)",
    selfPairs = false,
    finalSql =
      """SELECT pr AS user_id, round(-1.0 * lw, 4) AS softdtw FROM fin""".stripMargin)

  /** cdist_soft_dtw_normalized: D(x,y) − ½(D(x,x)+D(y,y)) where
    * D = −γ·ln W — the same sum-product chain over ALL ordered pairs
    * (incl. self, which the engine's diagonal-reuse join also emits). */
  private def softDtwNormOracleSql(sz: Int, maxId: Int): String = sumProdChainSql(
    sz,
    lgSql = "-(a.val - b.val) * (a.val - b.val)",
    selfPairs = false,
    allPairsMaxId = maxId,
    finalSql =
      """SELECT ab.pr AS left_id, ab.cd AS right_id,
        |  round((-1.0 * ab.lw) - 0.5 * ((-1.0 * aa.lw) + (-1.0 * bb.lw)), 4) + 0.0
        |    AS softdtw_norm
        |FROM fin ab
        |JOIN fin aa ON aa.pr = ab.pr AND aa.cd = ab.pr
        |JOIN fin bb ON bb.pr = ab.cd AND bb.cd = ab.cd""".stripMargin)

  /** DuckDB oracle for ts_softdtw_grad_pairs: the soft-DTW gradient wrt
    * the LEFT series — the soft-DTW barycenter's backward pass
    * (`soft_dtw_fast.pyx:69-104`, driven by `softdtw.py:17-113`) —
    * WITHOUT replaying the backward DP. The expected alignment mass
    * obeys the path-decomposition identity
    *   E(i,j) = F(i,j) · B(i,j) / (k(i,j) · F(last,last))
    * where F is the full forward sum-product matrix (every row of the
    * green soft-min chain, not just its terminal cell), B is the SAME
    * chain run on index-reversed cells (a forward pass over reversed
    * series IS the backward pass), and k(i,j) divides out the local
    * factor counted by both halves. Every monotone path through (i,j)
    * splits uniquely into a prefix ending there and a suffix starting
    * there, so the sum over paths factorizes — no new DP shape needed.
    * Then grad_t = Σ_j E(t,j) · 2·(x_t − y_j) (squared-euclidean
    * jacobian product, `Kernels.softDtwGrad`). */
  private def softDtwGradOracleSql(sz: Int): String =
    softDtwEMatrixCtes(sz) +
      s"""
         |SELECT e.pr AS user_id, e.i AS t,
         |  round(sum(e.ev * 2.0 * (a.val - b.val)), 4) + 0.0 AS g
         |FROM e
         |JOIN r a ON a.user_id = e.pr AND a.j = e.i
         |JOIN r b ON b.user_id = e.cd AND b.j = e.j
         |GROUP BY 1, 2""".stripMargin

  /** DuckDB oracle for ts_softdtw_align_pairs — the E matrix itself
    * (`soft_dtw_alignment`, `softdtw_variants.py:377-448`): every
    * (i, j) alignment-mass cell from the same path-split identity. */
  private def softDtwAlignOracleSql(sz: Int): String =
    softDtwEMatrixCtes(sz) +
      """
        |SELECT pr AS user_id, i, j, round(ev, 4) + 0.0 AS e FROM e""".stripMargin

  /** Shared CTE chain of the soft-DTW backward-pass oracles: forward
    * chain, reversed-cell backward chain, and the alignment-mass matrix
    * E via E = F·B/(k·F_total) (see softDtwGradOracleSql doc). */
  private def softDtwEMatrixCtes(sz: Int): String = {
    val sb = new StringBuilder(evCte + resampleZnormCte(sz))
    sb ++=
      s"""
         |, pairs AS (
         |  SELECT a.user_id AS pr, b.user_id AS cd
         |  FROM (SELECT DISTINCT user_id FROM r) a
         |  JOIN (SELECT DISTINCT user_id FROM r) b ON b.user_id = a.user_id + 1
         |), loc AS (
         |  SELECT p.pr, p.cd, a.j AS i, b.j AS j,
         |    -(a.val - b.val) * (a.val - b.val) AS lg
         |  FROM pairs p
         |  JOIN r a ON a.user_id = p.pr
         |  JOIN r b ON b.user_id = p.cd""".stripMargin
    sb ++= softDtwECtes(sz)
    materialized(sb.toString + "\n)")
  }

  /** Shared CTE core of the sigma_gak / gamma_soft_dtw oracles
    * (`softdtw_variants.py:221-313`): exact k-th-smallest medians
    * (k = n/2, the reference's sorted[n//2] upper middle) of the
    * pairwise |Δvalue| multiset over series < 4 and of the series
    * lengths — yields `md(med)` and `ms(med)` for the final SELECT. */
  private val sigmaGakOracleCore =
    """WITH v AS (
      |  SELECT user_id, value,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY epoch_ns(ts) // 1000, event_id) AS t
      |  FROM events
      |), s AS (
      |  SELECT user_id, t, value FROM v WHERE user_id < 4
      |), p AS (
      |  SELECT abs(a.value - b.value) AS d
      |  FROM s a JOIN s b
      |    ON (a.user_id < b.user_id OR (a.user_id = b.user_id AND a.t < b.t))
      |), cnt AS (SELECT count(*) AS n FROM p),
      |md AS (
      |  SELECT d AS med FROM
      |    (SELECT d, row_number() OVER (ORDER BY d) AS rn FROM p), cnt
      |  WHERE rn = n // 2 + 1
      |), lens AS (
      |  SELECT count(*) AS sz FROM v GROUP BY user_id
      |), c2 AS (SELECT count(*) AS m FROM lens),
      |ms AS (
      |  SELECT sz AS med FROM
      |    (SELECT sz, row_number() OVER (ORDER BY sz) AS rn FROM lens), c2
      |  WHERE rn = m // 2 + 1
      |)""".stripMargin

  /** The layered L-DTW DP shared by ldtwOracleSql and ldtwPathOracleSql:
    * `loc` holds the local cost of every cell of each consecutive pair,
    * and `s<s>` the cells reachable in exactly s+1 steps, for s <
    * maxLength. */
  private def ldtwLayerCtes(maxLength: Int): String = {
    val sb = new StringBuilder(
      """
        |, loc AS (
        |  SELECT a.user_id AS pr, a.j AS i, b.j AS j,
        |    (a.val - b.val) * (a.val - b.val) AS d
        |  FROM r a JOIN r b ON b.user_id = a.user_id + 1
        |), s0 AS (
        |  SELECT pr, i, j, d AS cost FROM loc WHERE i = 0 AND j = 0
        |)""".stripMargin)
    for (s <- 1 until maxLength) {
      sb ++=
        s"""
           |, s$s AS (
           |  SELECT l.pr, l.i, l.j,
           |    l.d + least(coalesce(up.cost, 1e308), coalesce(lf.cost, 1e308),
           |                coalesce(dg.cost, 1e308)) AS cost
           |  FROM loc l
           |  LEFT JOIN s${s - 1} up ON up.pr = l.pr AND up.i = l.i - 1 AND up.j = l.j
           |  LEFT JOIN s${s - 1} lf ON lf.pr = l.pr AND lf.i = l.i AND lf.j = l.j - 1
           |  LEFT JOIN s${s - 1} dg ON dg.pr = l.pr AND dg.i = l.i - 1 AND dg.j = l.j - 1
           |  WHERE coalesce(up.cost, lf.cost, dg.cost) IS NOT NULL
           |)""".stripMargin
    }
    sb.toString
  }

  /** DuckDB oracle for ts_ldtw_pairs: dtw_limited_warping_length
    * (`dtw_variants.py:468-743`) as a layered path-length DP — layer s
    * holds the min cost of reaching each cell in exactly s+1 steps
    * (cost = d(i,j) + min over the three layer-(s−1) predecessors;
    * cells with no reachable predecessor are absent, which is the
    * kernel's implicit-Inf reachability). Answer = √(min over layers at
    * the terminal cell). */
  private def ldtwOracleSql(sz: Int, maxLength: Int): String = {
    val last = sz - 1
    val sb = new StringBuilder(evCte + resampleZnormCte(sz) + ldtwLayerCtes(maxLength))
    sb ++= s"\n, fin AS (\n  SELECT pr, cost FROM s0 WHERE i = $last AND j = $last"
    for (s <- 1 until maxLength)
      sb ++= s"\n  UNION ALL SELECT pr, cost FROM s$s WHERE i = $last AND j = $last"
    sb ++=
      s"""
         |)
         |SELECT pr AS user_id, round(sqrt(min(cost)), 4) AS ldtw
         |FROM fin GROUP BY pr""".stripMargin
    materialized(sb.toString)
  }

  /** DuckDB oracle for ts_ldtw_path_pairs — the L-DTW backtrack
    * (`dtw_variants.py:620-743`, engine
    * `Advanced.dtwLimitedWarpingLengthPath`): the same layered DP as
    * ldtwOracleSql, the best terminal layer (strict < keeps the lowest
    * s, so ORDER BY cost, s), then a recursion that descends one layer
    * per step matching the engine's predecessor rule LITERALLY —
    * |pred − (cur − d)| ≤ 1e-9·max(1,|target|) tried diag, up, left
    * (absent preds coalesce to 1e308 and never match). */
  private def ldtwPathOracleSql(sz: Int, maxLength: Int): String = {
    val last = sz - 1
    val sb = new StringBuilder(
      (evCte + resampleZnormCte(sz)).replaceFirst("WITH ", "WITH RECURSIVE ") +
        ldtwLayerCtes(maxLength))
    sb ++= "\n, alls AS (\n  SELECT pr, 0 AS s, i, j, cost FROM s0"
    for (s <- 1 until maxLength)
      sb ++= s"\n  UNION ALL SELECT pr, $s, i, j, cost FROM s$s"
    sb ++=
      s"""
         |), beststart AS (
         |  SELECT pr, s, i, j FROM (
         |    SELECT pr, s, i, j,
         |      row_number() OVER (PARTITION BY pr ORDER BY cost, s) AS rn
         |    FROM alls WHERE i = $last AND j = $last) WHERE rn = 1
         |), pth AS (
         |  SELECT pr, s, i, j FROM beststart
         |  UNION ALL
         |  SELECT p.pr, p.s - 1,
         |    CASE WHEN abs(coalesce(cd.cost, 1e308) - (cur.cost - l.d))
         |             <= 1e-9 * greatest(1.0, abs(cur.cost - l.d)) THEN p.i - 1
         |         WHEN abs(coalesce(cu.cost, 1e308) - (cur.cost - l.d))
         |             <= 1e-9 * greatest(1.0, abs(cur.cost - l.d)) THEN p.i - 1
         |         ELSE p.i END AS i,
         |    CASE WHEN abs(coalesce(cd.cost, 1e308) - (cur.cost - l.d))
         |             <= 1e-9 * greatest(1.0, abs(cur.cost - l.d)) THEN p.j - 1
         |         WHEN abs(coalesce(cu.cost, 1e308) - (cur.cost - l.d))
         |             <= 1e-9 * greatest(1.0, abs(cur.cost - l.d)) THEN p.j
         |         ELSE p.j - 1 END AS j
         |  FROM pth p
         |  JOIN alls cur ON cur.pr = p.pr AND cur.s = p.s AND cur.i = p.i AND cur.j = p.j
         |  JOIN loc l ON l.pr = p.pr AND l.i = p.i AND l.j = p.j
         |  LEFT JOIN alls cd ON cd.pr = p.pr AND cd.s = p.s - 1
         |    AND cd.i = p.i - 1 AND cd.j = p.j - 1
         |  LEFT JOIN alls cu ON cu.pr = p.pr AND cu.s = p.s - 1
         |    AND cu.i = p.i - 1 AND cu.j = p.j
         |  WHERE p.s > 0
         |)
         |SELECT pr AS user_id, s AS step, i, j FROM pth""".stripMargin
    sb.toString.replaceAll("(?m)^(WITH RECURSIVE |WITH |, |\\), )(\\w+) AS \\($",
        "$1$2 AS MATERIALIZED (")
      .replaceAll(", (pth) AS MATERIALIZED \\(", ", $1 AS (")
  }

  /** DuckDB oracle for ts_subseq_match: open-begin/open-end DTW
    * (`dtw_variants.py:746-903`) of series 0 (resampled to qsz) inside
    * every other series (resampled to sz). Row 0 is the raw local cost
    * (free start); rows 1..qsz−1 are the standard DTW row chain; the
    * answer is the argmin over the last row (free end, lowest j on
    * ties — the kernel's strict-< scan). */
  private def subseqOracleSql(qsz: Int, sz: Int): String = {
    val sb = new StringBuilder(evCte)
    // query side: series 0 at qsz points, z-normed (same resample CTE
    // shape, restricted and renamed)
    sb ++=
      s"""
         |, qgrid AS (
         |  SELECT u.user_id, u.n, g.j, g.j * (u.n - 1) / ${qsz - 1}.0 AS pos
         |  FROM (SELECT DISTINCT user_id, n FROM v WHERE user_id = 0) u,
         |       (SELECT unnest(generate_series(0, ${qsz - 1})) AS j) g
         |), qw AS (
         |  SELECT user_id, j, CAST(floor(pos) AS INT) AS i0,
         |    LEAST(CAST(floor(pos) AS INT) + 1, n - 1) AS i1, pos - floor(pos) AS frac
         |  FROM qgrid
         |), qr0 AS (
         |  SELECT w.user_id, w.j, v0.value * (1.0 - w.frac) + v1.value * w.frac AS val
         |  FROM qw w
         |  JOIN v v0 ON v0.user_id = w.user_id AND v0.t - 1 = w.i0
         |  JOIN v v1 ON v1.user_id = w.user_id AND v1.t - 1 = w.i1
         |), qst AS (
         |  SELECT user_id, avg(val) AS mu,
         |    avg(val * val) - avg(val) * avg(val) AS var
         |  FROM qr0 GROUP BY 1
         |), q AS (
         |  SELECT r0.j, (r0.val - st.mu) /
         |    (CASE WHEN st.var <= 0 THEN 1.0 ELSE sqrt(st.var) END) AS val
         |  FROM qr0 r0 JOIN qst st USING (user_id)
         |)""".stripMargin
    sb ++= resampleZnormCte(sz)
    sb ++=
      s"""
         |, loc AS (
         |  SELECT l.user_id AS pr, q.j AS i, l.j AS j,
         |    (q.val - l.val) * (q.val - l.val) AS d
         |  FROM r l JOIN q ON true
         |  WHERE l.user_id > 0
         |)""".stripMargin
    sb ++= minPlusChainCtes(Seq("pr"), "loc", "t", qsz, freeStart = true)
    sb ++=
      s"""
         |SELECT pr AS user_id, CAST(j AS INT) AS end_pos,
         |  round(sqrt(cost), 4) + 0.0 AS dist
         |FROM (
         |  SELECT pr, j, cost,
         |    row_number() OVER (PARTITION BY pr ORDER BY cost, j) AS rn
         |  FROM t${qsz - 1})
         |WHERE rn = 1""".stripMargin
    materialized(sb.toString)
  }

  def oracleSql: Map[String, String] = Map(
    "ts_lcss_cityblock_pairs" -> lcssMvCityblockOracleSql(16, 1.0),

    "ts_lcss_pairs" -> lcssOracleSql(32, 0.5),

    "ts_sbd_pairs" -> sbdOracleSql(32),

    "ts_gak_pairs" -> gakOracleSql(16),

    "ts_softdtw_pairs" -> softDtwOracleSql(16),

    "ts_softdtw_grad_pairs" -> softDtwGradOracleSql(16),

    "ts_softdtw_align_pairs" -> softDtwAlignOracleSql(8),

    "ts_dtw_path_pairs" -> dtwPathOracleSql(16, 12),

    "ts_lcss_path_pairs" -> lcssPathOracleSql(16, 0.5, 12),

    "ts_dtw_itakura_pairs" -> dtwItakuraOracleSql(16),

    "ts_dtw_sakoe_pairs" -> dtwSakoePairsOracleSql(16, 2),

    "ts_dtw_cityblock_pairs" -> bandedDtwPairsOracleSql(16, "TRUE",
      dSql = "abs(a.val - b.val)", finalExpr = "cost"),

    "ts_ldtw_pairs" -> ldtwOracleSql(12, 16),

    "ts_ldtw_path_pairs" -> ldtwPathOracleSql(12, 16),

    "ts_subseq_match" -> subseqOracleSql(8, 24),

    "cdist_softdtw_norm" -> softDtwNormOracleSql(16, 12),

    "ts_lcss_ragged_pairs" -> lcssRaggedOracleSql(128, 0.5),

    "ts_gak_ragged_pairs" -> raggedSumProdChainSql(
      lgSql = gakLgSql,
      selfPairs = true,
      finalSql = gakNormalizedSql),

    "ts_softdtw_ragged_pairs" -> raggedSumProdChainSql(
      lgSql = "-(a.val - b.val) * (a.val - b.val)",
      selfPairs = false,
      finalSql =
        """SELECT pr AS user_id, round(-1.0 * lw, 4) AS softdtw FROM fin""".stripMargin),

    // ts_sigma_gak: exact k-th-smallest medians over the same bounded
    // sample (k = n/2, the reference's sorted[n//2] upper middle).
    "ts_sigma_gak" ->
      (sigmaGakOracleCore +
        "\nSELECT round(md.med * sqrt(ms.med), 4) AS sigma FROM md, ms"),

    // ts_gamma_softdtw: 2·sigma_gak² (softdtw_variants.py:275-313) —
    // sigma squared EXACTLY as the engine does (2·(med·√msz)·(med·√msz),
    // not the algebraic 2·med²·msz) so fp rounding matches.
    "ts_gamma_softdtw" ->
      (sigmaGakOracleCore +
        """
          |SELECT round(2.0 * (md.med * sqrt(ms.med)) * (md.med * sqrt(ms.med)), 4)
          |  + 0.0 AS gamma FROM md, ms""".stripMargin),

    "ts_dtw_mv_pairs" -> mvDtwOracleSql(16),

    // ts_sklearn_cast: the time-major flat index is pure arithmetic —
    // idx = d·t + channel — over the same two resampled-znormed
    // channels the mv queries replay; flat and restored values are the
    // same cell by construction, so a flatten-order or inverse bug in
    // the engine shows up as an idx mismatch here.
    "ts_sklearn_cast" -> (mvChannelsCte(16) +
      """
        |SELECT user_id, CAST(2 * r.j + ch.c AS INT) AS idx,
        |  round(CASE WHEN ch.c = 0 THEN r.x ELSE r.y END, 4) + 0.0 AS v_flat,
        |  round(CASE WHEN ch.c = 0 THEN r.x ELSE r.y END, 4) + 0.0 AS v_restored
        |FROM r, (SELECT unnest([0, 1]) AS c) ch""".stripMargin),

    "ts_dtw_ragged_pairs" -> raggedDtwOracleSql(128),

    "ts_ctw_pairs" -> ctwTraceSql(16, 3),

    "ts_ctw_ragged_pairs" -> ctwRaggedTraceSql(3),

    "cdist_metrics_sample" -> metricsSampleOracleSql(16, 20, 3, 0.5),

    "cdist_dtw_pairs" -> cdistDtwOracleSql(24, 16),

    "ts_silhouette_dtw" -> silhouetteDtwOracleSql(24, 16),

    "knn_dtw_users" -> knnDtwOracleSql(32, 4, 16, 3),

    // the blocked route computes the identical relation (route parity is
    // spec- and probe-locked), so it shares the broadcast route's oracle
    "knn_dtw_blocked" -> knnDtwOracleSql(32, 4, 16, 3),

    "knn_dtw_ragged" -> raggedKnnOracleSql(128, 10, 3),

    "ts_lbkeogh_pairs" -> (evCte + resampleCte +
      """
        |, env0 AS (
        |  SELECT user_id, j,
        |    min(val) OVER (PARTITION BY user_id ORDER BY j
        |      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS lo,
        |    max(val) OVER (PARTITION BY user_id ORDER BY j
        |      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS up
        |  FROM r
        |), env AS (
        |  SELECT user_id - 1 AS user_id, j, lo, up FROM env0
        |)
        |SELECT r.user_id,
        |  round(sqrt(sum(CASE WHEN r.val > env.up THEN (r.val - env.up) * (r.val - env.up)
        |                      WHEN r.val < env.lo THEN (env.lo - r.val) * (env.lo - r.val)
        |                      ELSE 0.0 END)), 4) AS lb
        |FROM r JOIN env ON env.user_id = r.user_id AND env.j = r.j
        |GROUP BY 1""".stripMargin),

    "ts_dist_pairs" -> (evCte + resampleCte +
      """
        |SELECT a.user_id,
        |  round(sqrt(sum((a.val - b.val) * (a.val - b.val))), 4) AS euclidean,
        |  round(sum((a.val - b.val) * (a.val - b.val)), 4) AS sqeuclidean,
        |  round(sum(abs(a.val - b.val)), 4) AS cityblock
        |FROM r a JOIN r b ON b.user_id = a.user_id + 1 AND b.j = a.j
        |GROUP BY 1""".stripMargin)
  )
}
