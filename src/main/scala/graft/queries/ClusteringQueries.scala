package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TsFunctions
import graft.model.TSModel
import QueryPrep._
import OracleSqlGen._

/** Clustering and barycenters: k-means (euclidean, DTW, soft-DTW,
  * k-means++), KShape, kernel k-means, DBA and the soft-DTW barycenter. */
object ClusteringQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // one exact Lloyd iteration over the resampled view, seeded from the
    // first 4 users' series: assignment → mean update → reassignment —
    // the k-means semantics with a full relational oracle (the ts_kmeans
    // estimator query remains the end-to-end rows-only run)
    "ts_kmeans_iter" -> ((s, dir) => {
      // localCheckpoint: consumed FOUR times (seeds + two assign joins +
      // update) and the prep is itself a 3-way join over a windowed
      // explode — uncheckpointed it re-evaluates per consumption
      val r = resampledEvents(s, dir, 16).localCheckpoint()
      val seeds = r.where(col("user_id") < 4)
        .select(col("user_id").cast("int").as("cell"), col("j"), col("v").as("c"))
      val a1 = r.join(broadcast(seeds), "j")
        .groupBy(col("user_id"), col("cell"))
        .agg(sum(pow(col("v") - col("c"), 2)).as("d2"))
        .groupBy("user_id")
        .agg(min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"))
      val upd = r.join(a1, "user_id").groupBy("cell", "j").agg(avg("v").as("c"))
      r.join(broadcast(upd), "j")
        .groupBy(col("user_id"), col("cell"))
        .agg(sum(pow(col("v") - col("c"), 2)).as("d2"))
        .groupBy("user_id")
        .agg(min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"),
          round(min(col("d2")), 4).as("d2"))
    }),

    // Deterministic distributed greedy k-means++ seeding
    // (TimeSeriesKMeans.kmeansPlusPlusInit): the reference's
    // _k_init_metric semantics (kmeans.py:50-140 — 2+⌊ln k⌋ candidate
    // trials per round ∝ D², keep the potential minimizer) with the
    // RNG replaced by md5-uniform exponential races, so every race,
    // every candidate D² pass and every potential argmin replays in
    // SQL. Output = the seeding trace (round, center_id, potential).
    "ts_kmeanspp_init" -> ((s, dir) =>
      graft.ml.TimeSeriesKMeans.kmeansPlusPlusInit(resampledSeries(s, dir, 16), k = 3)
        .select(col("round"), col("center_id"),
          (round(col("pot"), 4) + lit(0.0)).as("pot"))),

    // The same greedy k-means++ under metric="dtw" — what the
    // reference's _k_init_metric actually runs for
    // TimeSeriesKMeans(metric="dtw") (kmeans.py:636-651: metric_fun =
    // cdist_dtw, squared inside _k_init_metric as the D² weight). The
    // engine runs the same seeding body; only the distance its folds call
    // is the DTW kernel. Restricted to 24 users so the oracle's unrolled
    // DP chains stay cheap.
    "ts_kmeanspp_dtw" -> ((s, dir) =>
      graft.ml.TimeSeriesKMeans.kmeansPlusPlusInit(
          resampledSeries(s, dir, 16).where(col("series_id") < 24), k = 3, metric = "dtw")
        .select(col("round"), col("center_id"),
          (round(col("pot"), 4) + lit(0.0)).as("pot"))),

    // Full 10-iteration Lloyd trace of the estimator, oracle-backed:
    // init="first" seeds from series 0..k-1 and tol=-1 disables the
    // early stop, so the DuckDB oracle (an unrolled assign/update CTE
    // chain, kmeansTraceSql) reproduces the exact fixed-point. Lloyd
    // no-ops once converged, so running all 10 updates is equivalent to
    // the tol-gated loop on converged data.
    "ts_kmeans" -> ((s, dir) => {
      // localCheckpoint: fit and predict both consume the prepared
      // series; without it the events→series→resample pipeline runs twice
      val series = znormedSeries(s, dir, 32).localCheckpoint()
      val model = new graft.ml.TimeSeriesKMeans(k = 4, metric = "euclidean",
        maxIter = 10, tol = -1.0, init = "first").fit(series)
      model.predict(series)
        .select(col("series_id"), col("cluster"), round(col("dist"), 4).as("dist"))
    }),

    "ts_dba" -> ((s, dir) => {
      import s.implicits._
      val series = znormedSeries(s, dir, 32)
        .as[(Long, Array[Double])]
      // distributed DBA: one ΣV/ΣWx aggregation job per MM iteration
      // against the re-broadcast center — no single-task funnel.
      // tol = -1 disables the early stop so EXACTLY 10 MM updates run —
      // the dbaTraceSql oracle unrolls the same 10 (MM is monotone, so
      // post-fixed-point updates are no-ops and the trace is stable).
      val b = graft.ml.DistributedBary.dba(series.map(_._2), maxIter = 10, tol = -1.0)
      b.toSeq.zipWithIndex.map { case (v, t) => (t, v) }
        .toDF("t", "v")
        .select(col("t"), (round(col("v"), 4) + lit(0.0)).as("v"))
    }),

    // Full KShape fit, driver-verified end to end: deterministic
    // first-k init, EXACTLY 8 assign→shape-extract iterations (tol = -1
    // disables the early stop) with the power-iteration shape update
    // (shapeSteps = 60, the ts_kshape_step machinery), then the final
    // predict. kshapeTraceSql chains the identical 8 iterations as
    // materialized CTEs the way dbaTraceSql/kmeansTraceSql chain theirs.
    "ts_kshape" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleUdf(col("values"), lit(32)).as("values"))
        .localCheckpoint()
      val model = new graft.ml.KShape(k = 4, maxIter = 8, tol = -1.0,
        init = "first", shapeSteps = 60).fit(series)
      model.predict(series)
        .select(col("series_id"), col("cluster"),
          (round(col("dist"), 4) + lit(0.0)).as("dist"))
    }),

    // One KShape assignment pass against fixed centroids (the znormed
    // first-4 series) through the real KShape.Model.predict path —
    // oracle-able now that SBD is (sbdOracleSql's direct correlation);
    // mirrors how ts_kmeans_iter oracles one Lloyd step.
    "ts_kshape_assign" -> ((s, dir) => {
      val raw = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"), TsFunctions.resampleUdf(col("values"), lit(32)).as("values"))
        .localCheckpoint()
      val cents = raw.where(col("series_id") < 4)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
        .orderBy("series_id").collect().map(_.getSeq[Double](1).toArray)
      val ks = new graft.ml.KShape(k = 4)
      // + 0.0 normalizes IEEE -0.0 to +0.0 (a self-matching series rounds
      // to ±0.0 depending on the correlation epsilon's sign; the driver
      // hashes float bits, so -0.0 vs 0.0 is a red row)
      ks.Model(cents, 0.0).predict(raw)
        .select(col("series_id"), col("cluster"),
          (round(col("dist"), 4) + lit(0.0)).as("dist"))
    }),

    // One KShape UPDATE step, fully driver-verified: SBD-assign every
    // series to the fixed znormed-first-4 centroids, then shape
    // extraction per cluster — SBD alignment shift, re-znorm, gram
    // S = Σzzᵀ, centering M = QᵀSQ, and the dominant eigenvector as
    // EXACTLY 60 deterministic power-method updates from 1/√sz (the
    // oracle replays the identical matvec/normalize sequence; eigSym
    // stays the production path in KShape.fit — spec-checked equal).
    // This makes the one genuinely non-relational KShape ingredient
    // (the eigendecomposition) externally checkable.
    "ts_kshape_step" -> ((s, dir) => {
      import s.implicits._
      val z = znormedSeries(s, dir, 32).localCheckpoint()
      val cents = z.where(col("series_id") < 4)
        .orderBy("series_id").collect().map(_.getSeq[Double](1).toArray)
      val ks = new graft.ml.KShape(k = 4)
      val assigned = ks.Model(cents, 0.0).predict(z)
        .select(col("series_id"), col("cluster"))
      val rows = z.join(assigned, "series_id")
        .select(col("cluster"), col("values").cast("array<double>"))
        .as[(Int, Array[Double])]
      val shapes = graft.ml.DistributedBary.shapeByClusterPower(rows, cents, steps = 60)
      shapes.toSeq.sortBy(_._1).flatMap { case (cid, vec) =>
        vec.zipWithIndex.map { case (x, t) => (cid, t, x) }
      }.toDF("cluster", "t", "v")
        // same round + IEEE −0.0 normalization discipline as ts_kshape_assign
        .select(col("cluster"), col("t"), (round(col("v"), 4) + lit(0.0)).as("v"))
    }),

    // One DBA (MM) update from the deterministic euclidean-mean init —
    // the dbaByCluster path driver-verified (the full 10-iteration ts_dba
    // stays rows-only; the DuckDB mirror backtracks the DTW path with a
    // recursive CTE using the kernel's diag-first tie-break).
    "ts_dba_step" -> ((s, dir) => {
      import s.implicits._
      val series = znormedSeries(s, dir, 32)
        .as[(Long, Array[Double])]
      val b = graft.ml.DistributedBary.dba(series.map(_._2), maxIter = 1)
      b.toSeq.zipWithIndex.map { case (v, t) => (t, v) }
        .toDF("t", "v")
        .select(col("t"), (round(col("v"), 4) + lit(0.0)).as("v"))
    }),

    // The last estimator family with no driver signal, now a
    // deterministic fixed-iteration replay: GAK gram (σ=1, diag=1) over
    // 12 series at sz=16, init = series_id % 3, 4 assign rounds of the
    // kernel-trick distance K_ii − 2·Σ_{j∈c}K_ij/|c| + Σ_{j,l∈c}K_jl/|c|²
    // (kmeans.py:390-405). Oracle = the green GAK sum-product chain over
    // all ordered pairs feeding 4 chained group-sum/argmin CTE rounds.
    "ts_kernel_kmeans" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 12)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      val km = new graft.ml.KernelKMeans(k = 3, maxIter = 4,
        tol = Double.NegativeInfinity, sigma = 1.0, init = "mod")
      km.fitAssign(series)
        .select(col("series_id"), col("cluster"),
          (round(col("d2"), 4) + lit(0.0)).as("d2"))
    }),

    // KernelKMeans with an RBF kernel (kmeans.py kernel_params routes
    // any sklearn pairwise kernel; GAK is only the default) — the same
    // fixed-iteration trace as ts_kernel_kmeans but the gram is a pure
    // codegen'd zip_with/aggregate expression (no UDF at all), and the
    // oracle's kernel is one grouped sum instead of a DP chain.
    "ts_kernel_kmeans_rbf" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 12)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      val km = new graft.ml.KernelKMeans(k = 3, maxIter = 4,
        tol = Double.NegativeInfinity, init = "mod", kernel = "rbf",
        gamma = 0.1)
      km.fitAssign(series)
        .select(col("series_id"), col("cluster"),
          (round(col("d2"), 4) + lit(0.0)).as("d2"))
    }),

    // KernelKMeans.predict (kmeans.py:407-457): held-out probes 12..19
    // against the model fitted on 0..11 — the kernel-trick new-point
    // assignment (broadcast training set + per-cluster mean kernel +
    // fit-time term3 constants) through the real Model.predict path.
    "ts_kernel_kmeans_predict" -> ((s, dir) => {
      val all = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 20)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      val km = new graft.ml.KernelKMeans(k = 3, maxIter = 4,
        tol = Double.NegativeInfinity, sigma = 1.0, init = "mod")
      val model = km.fitModel(all.where(col("series_id") < 12))
      model.predict(all.where(col("series_id") >= 12))
        .select(col("series_id").as("probe_id"), col("cluster"))
    }),

    // soft-DTW BARYCENTER one-GD-step replay (softdtw.py:17-113): from
    // the euclidean-mean init b over series 0..3, one fixed-step update
    // b' = b − η·Σᵢ ∂softDTW(b,xᵢ)/∂b with pinned η — the descent
    // direction of the real barycenter objective through the green
    // gradient chain (ts_softdtw_grad_pairs); only the L-BFGS line
    // search stays golden, as SMO does for the SVC.
    "ts_softdtw_bary_step" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 4)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      val init = series
        .select(posexplode(col("values")).as(Seq("t", "v")))
        .groupBy(col("t")).agg(avg(col("v")).as("bv"))
        .agg(transform(array_sort(collect_list(struct(col("t"), col("bv")))),
          x => x.getField("bv")).as("b"))
      series.crossJoin(broadcast(init))
        .select(col("b"),
          TsFunctions.softDtwGradUdf(col("b"), col("values"), lit(1.0)).as("g"))
        .select(posexplode(arrays_zip(col("b"), col("g"))).as(Seq("t", "z")))
        .groupBy(col("t"))
        .agg((first(col("z.b")) - lit(0.05) * sum(col("z.g"))).as("raw"))
        .select(col("t"), (round(col("raw"), 4) + lit(0.0)).as("b_new"))
    }),

    // One Schultz–Jain SSG update (dba.py:607-740) per user from the
    // shared mean-init barycenter: b′ᵤ(i) = b(i) − 2η·(V(i)·b(i) −
    // Σ_{(i,j)∈path} xᵤ(j)) at the DTW alignment of b to user u's
    // series — the in-loop unit of Barycenters.dbaSubgradient
    // (ssgUpdate) driver-verified; the sequential epoch shuffle stays
    // golden. The DuckDB mirror backtracks each user's path with the
    // ts_dba_step recursive CTE and applies the update arithmetically.
    "ts_dba_ssg_step" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 32).localCheckpoint()
      val init = series
        .select(posexplode(col("values")).as(Seq("t", "v")))
        .groupBy(col("t")).agg(avg(col("v")).as("bv"))
        .agg(transform(array_sort(collect_list(struct(col("t"), col("bv")))),
          x => x.getField("bv")).as("b"))
      val ssgU = udf((b: scala.collection.Seq[Double], x: scala.collection.Seq[Double]) =>
        graft.kernels.Barycenters.ssgUpdate(
          b.map(Array(_)).toArray, x.map(Array(_)).toArray, eta = 0.05).map(_(0)))
      series.crossJoin(broadcast(init))
        .select(col("series_id").as("user_id"),
          posexplode(ssgU(col("b"), col("values"))).as(Seq("t", "v")))
        .select(col("user_id"), col("t"), (round(col("v"), 4) + lit(0.0)).as("v"))
    }),

    // Best-of-n_init restarts (kmeans.py:766-795) driver-verified: TWO
    // deterministic 10-iteration Lloyd traces (init blocks = series
    // 0..3 and 4..7 — init="first" with nInit=2 seeds restart a from id
    // block [a·k, (a+1)·k)), ranked by the engine's restart rule (the
    // last computed per-iteration inertia, attempt 0 wins ties), then
    // the winner's predict pass. The DuckDB mirror replays both traces
    // and the inertia compare.
    "ts_kmeans_best2" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 32).localCheckpoint()
      val model = new graft.ml.TimeSeriesKMeans(k = 4, metric = "euclidean",
        maxIter = 10, tol = -1.0, nInit = 2, init = "first").fit(series)
      model.predict(series)
        .select(col("series_id"), col("cluster"), round(col("dist"), 4).as("dist"))
    }),

    // metric="dtw" k-means FULL fit (kmeans.py metric="dtw"): DTW
    // assignment + a one-MM-step DBA update per Lloyd iteration
    // (barycenterMaxIter = 1), k = 2 over 16 series at sz = 16, 2
    // iterations, then the predict pass — the first driver signal for
    // a non-euclidean k-means fit (the euclidean trace is ts_kmeans).
    // kmeansDtwTraceSql replays every (user, centroid) DTW DP, the
    // assignment argmin, the path backtracks of the assigned pairs,
    // and the aligned-mean update with the wsum=0 keep-old rule.
    "ts_kmeans_dtw" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 16)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      val model = new graft.ml.TimeSeriesKMeans(k = 2, metric = "dtw",
        maxIter = 2, tol = -1.0, init = "first", barycenterMaxIter = 1).fit(series)
      model.predict(series)
        .select(col("series_id"), col("cluster"),
          (round(col("dist"), 4) + lit(0.0)).as("dist"))
    }),

    // The metric="softdtw" k-means END-TO-END fit (`kmeans.py:709-727`,
    // `_update_centroids` softdtw branch) — the last estimator
    // configuration without driver signal. Same deterministic contract
    // as ts_kmeans_dtw: init="first" (seeds = series 0..k-1), fixed
    // iteration count, and the centroid update in its oracle-replayable
    // form: one fixed-η GD step per Lloyd iteration from the CURRENT
    // center (barycenterSolver="gd" — the ts_softdtw_bary_step
    // convention, b′ = b − η·Σ∇, chained inside the real fit loop).
    // Oracle replays assignment (soft-min forward chains), the gradient
    // (forward×backward path-split E matrix) and the GD update per
    // iteration, then the final predict pass.
    "ts_kmeans_softdtw" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 8)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      val model = new graft.ml.TimeSeriesKMeans(k = 2, metric = "softdtw",
        maxIter = 2, tol = -1.0, init = "first", gamma = 1.0,
        barycenterMaxIter = 1, barycenterSolver = "gd",
        barycenterEta = 0.05).fit(series)
      model.predict(series)
        .select(col("series_id"), col("cluster"),
          (round(col("dist"), 4) + lit(0.0)).as("dist"))
    })
  )

  /** DuckDB oracle for ts_kmeans: the full Lloyd trace unrolled as
    * `iters` assign/update CTE pairs — exactly the estimator's loop with
    * init="first" (seeds = series 0..3) and no early stop. Assignment
    * tie-break (d2, cell) matches assignDs's strict `<` (lowest cell
    * wins). */
  private def kmeansTraceSql(iters: Int): String = {
    val sb = new StringBuilder(evCte + resampleZnormCte(32))
    sb ++= "\n, c0 AS (\n  SELECT CAST(user_id AS INT) AS cell, j, val AS c FROM r WHERE user_id < 4\n)"
    for (i <- 1 to iters) {
      sb ++=
        s"""
           |, a$i AS (
           |  SELECT user_id, cell FROM (
           |    SELECT r.user_id, s.cell,
           |      sum((r.val - s.c) * (r.val - s.c)) AS d2,
           |      row_number() OVER (PARTITION BY r.user_id
           |        ORDER BY sum((r.val - s.c) * (r.val - s.c)), s.cell) AS rn
           |    FROM r JOIN c${i - 1} s ON s.j = r.j
           |    GROUP BY 1, 2)
           |  WHERE rn = 1
           |), c$i AS (
           |  SELECT a.cell, r.j, avg(r.val) AS c
           |  FROM r JOIN a$i a ON a.user_id = r.user_id
           |  GROUP BY 1, 2
           |)""".stripMargin
    }
    sb ++=
      s"""
         |SELECT user_id AS series_id, cell AS cluster,
         |  round(sqrt(d2), 4) AS dist FROM (
         |  SELECT r.user_id, u.cell,
         |    sum((r.val - u.c) * (r.val - u.c)) AS d2,
         |    row_number() OVER (PARTITION BY r.user_id
         |      ORDER BY sum((r.val - u.c) * (r.val - u.c)), u.cell) AS rn
         |  FROM r JOIN c$iters u ON u.j = r.j
         |  GROUP BY 1, 2)
         |WHERE rn = 1""".stripMargin
    // MATERIALIZED: DuckDB inlines single-reference CTEs, and the
    // a/c chain would re-inline the whole resample pipeline into every
    // iteration layer (measured 560 s vs ~1 s for the 10-step trace).
    materialized(sb.toString)
  }

  /** DuckDB oracle for ts_kmeans_dtw — the metric="dtw" Lloyd fit
    * (`kmeans.py` metric="dtw": DTW assignment + one-MM-step DBA
    * update per iteration with barycenterMaxIter=1): per iteration,
    * one dbaStep-style DP chain per (user, centroid) keyed by
    * (user_id, c) gives BOTH the assignment argmin (cost at the
    * (sz−1, sz−1) cell, lowest c on ties — assignDs's strict <) and,
    * via the recursive backtrack restricted to the assigned pair, the
    * aligned-mean DBA update (wsum = 0 cells keep the old centroid
    * value, dbaByCluster's rule). Final layer = the predict pass. */
  private def kmeansDtwTraceSql(iters: Int, sz: Int, k: Int, nUsers: Int): String = {
    val last = sz - 1
    val sb = new StringBuilder(
      evCte.replaceFirst("WITH ", "WITH RECURSIVE ") + resampleZnormCte(sz))
    sb ++= s"\n, rr AS (\n  SELECT user_id, j, val FROM r WHERE user_id < $nUsers\n)"
    sb ++= s"\n, b0 AS (\n  SELECT CAST(user_id AS INT) AS c, j AS i, val AS bv" +
      s" FROM rr WHERE user_id < $k\n)"
    for (it <- 0 to iters) {
      sb ++=
        s"""
           |, loc$it AS (
           |  SELECT rr.user_id, b.c, b.i, rr.j,
           |    (b.bv - rr.val) * (b.bv - rr.val) AS d
           |  FROM rr JOIN b$it b ON TRUE
           |)""".stripMargin
      sb ++= minPlusChainCtes(Seq("user_id", "c"), s"loc$it", s"a${it}x", sz)
      sb ++= s"\n, asg$it AS (\n" +
        s"  SELECT user_id, c FROM (\n" +
        s"    SELECT user_id, c,\n" +
        s"      row_number() OVER (PARTITION BY user_id ORDER BY cost, c) AS rn\n" +
        s"    FROM a${it}x$last WHERE j = $last)\n  WHERE rn = 1\n)"
      if (it < iters) {
        sb ++= s"\n, cumA$it AS (\n" +
          (0 until sz).map(i => s"  SELECT user_id, c, $i AS i, j, cost FROM a${it}x$i")
            .mkString("", "\n  UNION ALL\n", "\n)")
        sb ++=
          s"""
             |, path$it AS (
             |  SELECT user_id, c, $last AS i, $last AS j FROM asg$it
             |  UNION ALL
             |  SELECT p.user_id, p.c,
             |${dtwBacktrackStep("cd")}
             |  FROM path$it p
             |  LEFT JOIN cumA$it cd ON cd.user_id = p.user_id AND cd.c = p.c
             |    AND cd.i = p.i - 1 AND cd.j = p.j - 1
             |  LEFT JOIN cumA$it cu ON cu.user_id = p.user_id AND cu.c = p.c
             |    AND cu.i = p.i - 1 AND cu.j = p.j
             |  LEFT JOIN cumA$it cl ON cl.user_id = p.user_id AND cl.c = p.c
             |    AND cl.i = p.i AND cl.j = p.j - 1
             |  WHERE p.i > 0 OR p.j > 0
             |), b${it + 1} AS (
             |  SELECT bb.c, bb.i, coalesce(m.v, bb.bv) AS bv
             |  FROM b$it bb
             |  LEFT JOIN (
             |    SELECT pa.c, pa.i, sum(rr.val) / count(*) AS v
             |    FROM path$it pa JOIN rr ON rr.user_id = pa.user_id AND rr.j = pa.j
             |    GROUP BY 1, 2) m ON m.c = bb.c AND m.i = bb.i
             |)""".stripMargin
      }
    }
    sb ++=
      s"""
         |SELECT a.user_id AS series_id, a.c AS cluster,
         |  round(sqrt(x.cost), 4) + 0.0 AS dist
         |FROM asg$iters a
         |JOIN a${iters}x$last x ON x.user_id = a.user_id AND x.c = a.c AND x.j = $last""".stripMargin
    materialized(sb.toString)
      .replaceAll(", (path\\d+) AS MATERIALIZED \\(", ", $1 AS (")
  }

  /** DuckDB oracle for ts_kmeans_best2: two full Lloyd traces (init
    * blocks user_id 0..k-1 and k..2k-1), each restart's ranking value
    * (the engine's LAST per-iteration inertia = mean over users of the
    * min d² against c_{iters-1}, i.e. the assignment made one update
    * before the final centroids), the attempt-0-wins-ties compare, and
    * the winner's final predict pass against its c_iters. */
  private def kmeansBest2TraceSql(iters: Int, k: Int): String = {
    val sb = new StringBuilder(evCte + resampleZnormCte(32))
    for (seed <- 0 to 1) {
      val off = seed * k
      sb ++= s"\n, s${seed}c0 AS (\n  SELECT CAST(user_id - $off AS INT) AS cell, j, val AS c" +
        s" FROM r WHERE user_id >= $off AND user_id < ${off + k}\n)"
      for (i <- 1 to iters) {
        sb ++=
          s"""
             |, s${seed}a$i AS (
             |  SELECT user_id, cell FROM (
             |    SELECT r.user_id, s.cell,
             |      sum((r.val - s.c) * (r.val - s.c)) AS d2,
             |      row_number() OVER (PARTITION BY r.user_id
             |        ORDER BY sum((r.val - s.c) * (r.val - s.c)), s.cell) AS rn
             |    FROM r JOIN s${seed}c${i - 1} s ON s.j = r.j
             |    GROUP BY 1, 2)
             |  WHERE rn = 1
             |), s${seed}c$i AS (
             |  SELECT a.cell, r.j, avg(r.val) AS c
             |  FROM r JOIN s${seed}a$i a ON a.user_id = r.user_id
             |  GROUP BY 1, 2
             |)""".stripMargin
      }
      sb ++=
        s"""
           |, s${seed}in AS (
           |  SELECT avg(md2) AS inertia FROM (
           |    SELECT user_id, min(d2) AS md2 FROM (
           |      SELECT r.user_id, s.cell,
           |        sum((r.val - s.c) * (r.val - s.c)) AS d2
           |      FROM r JOIN s${seed}c${iters - 1} s ON s.j = r.j
           |      GROUP BY 1, 2) GROUP BY 1)
           |)""".stripMargin
    }
    def predictSql(seed: Int): String =
      s"""SELECT user_id AS series_id, cell AS cluster,
         |  round(sqrt(d2), 4) AS dist FROM (
         |  SELECT r.user_id, u.cell,
         |    sum((r.val - u.c) * (r.val - u.c)) AS d2,
         |    row_number() OVER (PARTITION BY r.user_id
         |      ORDER BY sum((r.val - u.c) * (r.val - u.c)), u.cell) AS rn
         |  FROM r JOIN s${seed}c$iters u ON u.j = r.j
         |  GROUP BY 1, 2), win
         |WHERE rn = 1 AND win.w = $seed""".stripMargin
    sb ++=
      s"""
         |, win AS (
         |  SELECT CASE WHEN a.inertia <= b.inertia THEN 0 ELSE 1 END AS w
         |  FROM s0in a, s1in b
         |)
         |${predictSql(0)}
         |UNION ALL
         |${predictSql(1)}""".stripMargin
    materialized(sb.toString)
  }

  /** DuckDB oracle for ts_softdtw_bary_step — one gradient-descent step
    * of the soft-DTW barycenter objective (`softdtw.py:17-113`) from the
    * euclidean-mean init: b′ = b − η·Σᵢ grad(b, xᵢ), each per-series
    * gradient via softDtwGradOracleSql's path-split identity
    * E = F·B/(k·F_total) with the init as the LEFT series of every
    * chain (pr = cd = series id keys the per-series DP). */
  private def softDtwBaryStepOracleSql(sz: Int, nSeries: Int,
                                       eta: Double): String = {
    val sb = new StringBuilder(evCte + resampleZnormCte(sz))
    sb ++=
      s"""
         |, rs AS (
         |  SELECT user_id, j, val FROM r WHERE user_id < $nSeries
         |), binit AS (
         |  SELECT j, avg(val) AS val FROM rs GROUP BY 1
         |), loc AS (
         |  SELECT x.user_id AS pr, x.user_id AS cd, bi.j AS i, x.j AS j,
         |    -(bi.val - x.val) * (bi.val - x.val) AS lg
         |  FROM binit bi CROSS JOIN rs x""".stripMargin
    sb ++= softDtwECtes(sz)
    sb ++=
      s"""
         |), g AS (
         |  SELECT e.i AS t, sum(e.ev * 2.0 * (bi.val - x.val)) AS gsum
         |  FROM e
         |  JOIN binit bi ON bi.j = e.i
         |  JOIN rs x ON x.user_id = e.cd AND x.j = e.j
         |  GROUP BY 1
         |)
         |SELECT g.t, round(b.val - $eta * g.gsum, 4) + 0.0 AS b_new
         |FROM g JOIN binit b ON b.j = g.t""".stripMargin
    materialized(sb.toString)
  }

  /** DuckDB oracle for ts_kmeans_softdtw — the metric="softdtw" k-means
    * fit (`kmeans.py:709-727`) with the oracle-replayable GD centroid
    * update. Per Lloyd iteration: (a) assignment = soft-min forward
    * chains ([[rowChainCtes]]) for every (user, centroid) pair, argmin
    * over sqrt(max(0, −γ·lw)) with lowest-c ties (assignDs's strict <);
    * (b) gradient of the ASSIGNED pair via the forward×backward
    * path-split identity E = F·B/(k·F_total) (see
    * [[softDtwGradOracleSql]]); (c) b′(c,t) = b(c,t) − η·Σ_users
    * E(t,j)·2·(b_t − x_j) — the [[softDtwBaryStepOracleSql]] update
    * chained from the CURRENT centroid. Final layer = the predict pass
    * against b_iters. γ=1 is baked into lg = −Δ². */
  private def kmeansSoftDtwTraceSql(iters: Int, sz: Int, k: Int,
                                    nUsers: Int, eta: Double): String = {
    val last = sz - 1
    val sb = new StringBuilder(evCte + resampleZnormCte(sz))
    sb ++= s"\n, rr AS (\n  SELECT user_id, j, val FROM r WHERE user_id < $nUsers\n)"
    sb ++= s"\n, b0 AS (\n  SELECT CAST(user_id AS INT) AS c, j AS i, val AS bv" +
      s" FROM rr WHERE user_id < $k\n)"
    for (it <- 0 to iters) {
      // (a) assignment chains vs b$it: pr = user, cd = centroid,
      // i = centroid timestep (the gradient-side convention)
      sb ++=
        s"""
           |, al$it AS (
           |  SELECT rr.user_id AS pr, b.c AS cd, b.i, rr.j,
           |    -(b.bv - rr.val) * (b.bv - rr.val) AS lg
           |  FROM rr JOIN b$it b ON TRUE
           |)""".stripMargin
      sb ++= rowChainCtes(sz, s"al$it", s"a${it}f")
      sb ++=
        s"""
           |, asg$it AS (
           |  SELECT pr AS user_id, cd AS c, dist FROM (
           |    SELECT pr, cd, sqrt(greatest(0.0, -1.0 * lw)) AS dist,
           |      row_number() OVER (PARTITION BY pr
           |        ORDER BY sqrt(greatest(0.0, -1.0 * lw)), cd) AS rn
           |    FROM a${it}f$last WHERE j = $last)
           |  WHERE rn = 1
           |)""".stripMargin
      if (it < iters) {
        // (b) gradient chains restricted to the assigned pairs
        sb ++=
          s"""
             |, gl$it AS (
             |  SELECT l.pr, l.cd, l.i, l.j, l.lg FROM al$it l
             |  JOIN asg$it a ON a.user_id = l.pr AND a.c = l.cd
             |), glr$it AS (
             |  SELECT pr, cd, $last - i AS i, $last - j AS j, lg FROM gl$it
             |)""".stripMargin
        sb ++= rowChainCtes(sz, s"gl$it", s"g${it}f")
        sb ++= rowChainCtes(sz, s"glr$it", s"g${it}b")
        val matf = (0 until sz)
          .map(i => s"SELECT pr, cd, $i AS i, j, lw FROM g${it}f$i")
          .mkString("\n  UNION ALL ")
        val matb = (0 until sz)
          .map(i => s"SELECT pr, cd, $i AS i, j, lw FROM g${it}b$i")
          .mkString("\n  UNION ALL ")
        sb ++=
          s"""
             |, mf$it AS (
             |  $matf
             |), mbr$it AS (
             |  $matb
             |), mb$it AS (
             |  SELECT pr, cd, $last - i AS i, $last - j AS j, lw FROM mbr$it
             |), gfin$it AS (
             |  SELECT pr, cd, lw FROM g${it}f$last WHERE j = $last
             |), e$it AS (
             |  SELECT f.pr, f.cd, f.i, f.j,
             |    exp(f.lw + b2.lw - l.lg - fn.lw) AS ev
             |  FROM mf$it f
             |  JOIN mb$it b2 ON b2.pr = f.pr AND b2.cd = f.cd
             |    AND b2.i = f.i AND b2.j = f.j
             |  JOIN gl$it l ON l.pr = f.pr AND l.cd = f.cd
             |    AND l.i = f.i AND l.j = f.j
             |  JOIN gfin$it fn ON fn.pr = f.pr AND fn.cd = f.cd
             |), gsum$it AS (
             |  SELECT e.cd AS c, e.i, sum(e.ev * 2.0 * (b.bv - x.val)) AS g
             |  FROM e$it e
             |  JOIN b$it b ON b.c = e.cd AND b.i = e.i
             |  JOIN rr x ON x.user_id = e.pr AND x.j = e.j
             |  GROUP BY 1, 2
             |), b${it + 1} AS (
             |  SELECT bb.c, bb.i, bb.bv - $eta * coalesce(g.g, 0.0) AS bv
             |  FROM b$it bb LEFT JOIN gsum$it g ON g.c = bb.c AND g.i = bb.i
             |)""".stripMargin
      }
    }
    sb ++=
      s"""
         |SELECT user_id AS series_id, c AS cluster,
         |  round(dist, 4) + 0.0 AS dist
         |FROM asg$iters""".stripMargin
    materialized(sb.toString)
  }

  /** k-means++ race key of trial t in round rr: −ln(u) with u the md5
    * uniform the engine draws for `over`. */
  private def kppRace(rr: Int, t: Int, over: String) =
    s"""-ln((CAST(CONCAT('0x', substring(md5('kpp:$rr:$t:' || $over), 1, 15)) AS BIGINT) + 1.0)
       |      / 1152921504606846976.0)""".stripMargin

  /** k-means++ round rr's candidates `cand<rr>(cid)`: the winners of l
    * races weighted by 1/D² over d<rr−1>, smallest id on ties. */
  private def kppCandCte(rr: Int, l: Int): String = {
    val trials = (0 until l).map { t =>
      s"""  (SELECT user_id AS cid FROM d${rr - 1} WHERE d2 > 0
         |   ORDER BY ${kppRace(rr, t, "user_id")} / d2, user_id LIMIT 1)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""
       |, cand$rr AS (SELECT DISTINCT cid FROM (
       |$trials))""".stripMargin
  }

  /** k-means++ round rr's pick over the candidates' D² `dc<rr>(user_id,
    * cid, dc)`: `b<rr>` is the candidate of least potential (smallest
    * id on ties) and `d<rr>` the D² folded with it. Starts at `b<rr> AS
    * (`: the caller writes the separator. */
  private def kppPickCtes(rr: Int): String = {
    val dp = s"d${rr - 1}"
    s"""b$rr AS (
       |  SELECT cid, pot FROM (
       |    SELECT dc.cid, sum(LEAST(d.d2, dc.dc)) AS pot
       |    FROM dc$rr dc JOIN $dp d ON d.user_id = dc.user_id
       |    GROUP BY 1)
       |  ORDER BY pot, cid LIMIT 1
       |), d$rr AS (
       |  SELECT d.user_id, LEAST(d.d2, dc.dc) AS d2
       |  FROM $dp d JOIN dc$rr dc ON dc.user_id = d.user_id
       |  JOIN b$rr b ON b.cid = dc.cid
       |)""".stripMargin
  }

  /** The k-means++ trace rows: each round's center and potential. */
  private def kppResultSql(k: Int): String =
    s"""
       |SELECT 0 AS round, c0.cid AS center_id,
       |  round((SELECT sum(d2) FROM d0), 4) + 0.0 AS pot FROM c0""".stripMargin +
      (1 until k).map(rr => s"\nUNION ALL SELECT $rr, cid, round(pot, 4) + 0.0 FROM b$rr").mkString

  /** DuckDB oracle for ts_kmeanspp_init — the greedy k-means++ trace
    * replayed: the same md5 exponential races (−ln(u)/D², smallest-id
    * ties), per-round candidate D² joins, potential argmins and D²
    * folds, over the shared resample CTE. */
  private def kmeansppOracleSql(k: Int, l: Int): String = {
    val sb = new StringBuilder(evCte + resampleCte)
    sb ++=
      s"""
         |, ids AS (SELECT DISTINCT user_id FROM r)
         |, c0 AS (
         |  SELECT user_id AS cid FROM ids
         |  ORDER BY ${kppRace(0, 0, "user_id")}, user_id LIMIT 1
         |), cv0 AS (SELECT r.j, r.val FROM r JOIN c0 ON c0.cid = r.user_id)
         |, d0 AS (
         |  SELECT r.user_id, sum((r.val - cv0.val) * (r.val - cv0.val)) AS d2
         |  FROM r JOIN cv0 ON cv0.j = r.j
         |  GROUP BY 1
         |)""".stripMargin
    for (rr <- 1 until k) {
      sb ++= kppCandCte(rr, l)
      sb ++=
        s"""
           |, cv$rr AS (
           |  SELECT c.cid, r.j, r.val FROM r JOIN cand$rr c ON c.cid = r.user_id
           |), dc$rr AS (
           |  SELECT r.user_id, cv.cid, sum((r.val - cv.val) * (r.val - cv.val)) AS dc
           |  FROM r JOIN cv$rr cv ON cv.j = r.j
           |  GROUP BY 1, 2
           |), """.stripMargin + kppPickCtes(rr)
    }
    sb ++= kppResultSql(k)
    sb.toString
  }

  /** DuckDB oracle for ts_kmeanspp_dtw — the greedy k-means++ trace
    * under metric="dtw": same md5 races and potential argmins as
    * [[kmeansppOracleSql]], but every D² is the accumulated cost of a
    * full DTW DP chain (the ts_kmeans_dtw window-min recurrence, cost
    * at the (sz−1, sz−1) cell = dtw², no sqrt round trip). */
  private def kmeansppDtwOracleSql(k: Int, l: Int, sz: Int, nUsers: Int): String = {
    val last = sz - 1
    def chain(p: String, cvName: String): String = {
      val sb = new StringBuilder
      sb ++=
        s"""
           |, loc$p AS (
           |  SELECT rr.user_id, cv.cid, cv.i, rr.j,
           |    (cv.bv - rr.val) * (cv.bv - rr.val) AS d
           |  FROM rr JOIN $cvName cv ON TRUE
           |)""".stripMargin
      sb ++= minPlusChainCtes(Seq("user_id", "cid"), s"loc$p", s"${p}x", sz)
      sb.toString
    }
    val sb = new StringBuilder(evCte + resampleCte)
    sb ++=
      s"""
         |, rr AS (SELECT user_id, j, val FROM r WHERE user_id < $nUsers)
         |, ids AS (SELECT DISTINCT user_id FROM rr)
         |, c0 AS (
         |  SELECT user_id AS cid FROM ids
         |  ORDER BY ${kppRace(0, 0, "user_id")}, user_id LIMIT 1
         |), cv0 AS (
         |  SELECT c.cid, rr.j AS i, rr.val AS bv
         |  FROM rr JOIN c0 c ON c.cid = rr.user_id
         |)""".stripMargin
    sb ++= chain("a0", "cv0")
    sb ++=
      s"""
         |, d0 AS (SELECT user_id, cost AS d2 FROM a0x$last WHERE j = $last)""".stripMargin
    for (rr <- 1 until k) {
      sb ++= kppCandCte(rr, l)
      sb ++=
        s"""
           |, cv$rr AS (
           |  SELECT c.cid, rr.j AS i, rr.val AS bv
           |  FROM rr JOIN cand$rr c ON c.cid = rr.user_id
           |)""".stripMargin
      sb ++= chain(s"a$rr", s"cv$rr")
      sb ++=
        s"""
           |, dc$rr AS (
           |  SELECT user_id, cid, cost AS dc FROM a${rr}x$last WHERE j = $last
           |), """.stripMargin + kppPickCtes(rr)
    }
    sb ++= kppResultSql(k)
    // MATERIALIZED: inlined, each of the ~k·sz DP layers re-expands its
    // whole upstream (and re-opens the parquet per reference)
    materialized(sb.toString)
  }

  /** DuckDB oracle for ts_kernel_kmeans: the kernel k-means fit as a
    * fixed-iteration trace (`kmeans.py:136-457`). The GAK gram comes
    * from the green sum-product chain over all ordered pairs (diag
    * pinned to exactly 1.0 as the engine does); each round is two
    * grouped sums — term2(i,c)=Σ_{j∈c}K_ij/|c| per sample and
    * term3(c)=Σ_{j,l∈c}K_jl/|c|² per cluster (`kmeans.py:390-405`) —
    * then an argmin with the engine's (d2, cluster) tie-break. Empty
    * clusters drop out of both sums via the inner joins, mirroring the
    * engine's label-join semantics. */
  /** Shared fit-trace CTEs of the kernel-k-means oracles: normalized
    * gram off the sum-product chain, init="mod" labels over ids passing
    * `trainPred`, then `iters` two-grouped-sum assignment rounds. */
  private def kernelKMeansCoreCtes(k: Int, iters: Int,
                                   trainPred: String): String = {
    val sb = new StringBuilder()
    sb ++=
      s""", gram AS (
         |  SELECT ab.pr AS i, ab.cd AS j,
         |    CASE WHEN ab.pr = ab.cd THEN 1.0
         |         ELSE exp(ab.lw - 0.5 * (aa.lw + bb.lw)) END AS kv
         |  FROM fin ab
         |  JOIN fin aa ON aa.pr = ab.pr AND aa.cd = ab.pr
         |  JOIN fin bb ON bb.pr = ab.cd AND bb.cd = ab.cd
         |), lab0 AS (
         |  SELECT i AS id, CAST(i % $k AS INT) AS c
         |  FROM (SELECT DISTINCT pr AS i FROM fin) WHERE $trainPred
         |)""".stripMargin
    for (it <- 1 to iters) {
      sb ++=
        s"""
           |, s2_$it AS (
           |  SELECT g.i AS id, l.c, sum(g.kv) AS s, count(*) AS cnt
           |  FROM gram g JOIN lab${it - 1} l ON l.id = g.j
           |  GROUP BY 1, 2
           |), s3_$it AS (
           |  SELECT la.c AS c, sum(g.kv) AS s3, count(DISTINCT g.i) AS csz
           |  FROM gram g
           |  JOIN lab${it - 1} la ON la.id = g.i
           |  JOIN lab${it - 1} lb ON lb.id = g.j
           |  WHERE la.c = lb.c
           |  GROUP BY 1
           |), d_$it AS (
           |  SELECT s2.id, s2.c,
           |    1.0 - 2.0 * s2.s / s2.cnt + s3.s3 / (s3.csz * s3.csz) AS d2
           |  FROM s2_$it s2 JOIN s3_$it s3 ON s3.c = s2.c
           |), lab$it AS (
           |  SELECT id, c FROM (
           |    SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY d2, c) AS rn
           |    FROM d_$it) WHERE rn = 1
           |)""".stripMargin
    }
    sb.toString
  }

  /** DuckDB oracle for ts_kernel_kmeans_rbf — same fit trace as
    * [[kernelKMeansTraceSql]] but the `fin` relation carries
    * lw = −γ·Σ_t(x_t−y_t)² directly (k = exp(lw); self rows lw = 0, so
    * the core CTEs' exp(ab − ½(aa+bb)) normalization is the identity
    * and the diag pins to 1.0 exactly as the engine's union does). */
  private def kernelKMeansRbfTraceSql(sz: Int, maxId: Int, k: Int,
                                      iters: Int, gamma: Double): String = {
    val sb = new StringBuilder(evCte + resampleZnormCte(sz))
    sb ++=
      s"""
         |, fin AS (
         |  SELECT x.user_id AS pr, y.user_id AS cd,
         |    -$gamma * sum((x.val - y.val) * (x.val - y.val)) AS lw
         |  FROM r x JOIN r y ON y.j = x.j
         |  WHERE x.user_id < $maxId AND y.user_id < $maxId
         |  GROUP BY 1, 2
         |)""".stripMargin
    sb ++= kernelKMeansCoreCtes(k, iters, "TRUE")
    sb ++=
      s"""
         |SELECT l.id AS series_id, l.c AS cluster, round(d.d2, 4) + 0.0 AS d2
         |FROM lab$iters l JOIN d_$iters d ON d.id = l.id AND d.c = l.c""".stripMargin
    materialized(sb.toString)
  }

  private def kernelKMeansTraceSql(sz: Int, maxId: Int, k: Int, iters: Int): String =
    sumProdChainSql(
      sz,
      lgSql = gakLgSql,
      selfPairs = false,
      allPairsMaxId = maxId,
      finalSql = kernelKMeansCoreCtes(k, iters, "TRUE") +
        s"""
           |SELECT l.id AS series_id, l.c AS cluster, round(d.d2, 4) + 0.0 AS d2
           |FROM lab$iters l JOIN d_$iters d ON d.id = l.id AND d.c = l.c""".stripMargin)

  /** DuckDB oracle for ts_kernel_kmeans_predict — `kmeans.py:407-457`:
    * fit on ids < `trainMax` exactly as kernelKMeansTraceSql, then
    * assign each held-out probe (id ≥ trainMax) by the kernel-trick
    * distance 1 − 2·Σ_{j∈c}K(p,j)/|c| + term3(c), with term3 the
    * within-cluster constant of the FINAL labels and the engine's
    * (d2, cluster) tie-break. */
  private def kernelKMeansPredictSql(sz: Int, trainMax: Int, maxId: Int,
                                     k: Int, iters: Int): String =
    sumProdChainSql(
      sz,
      lgSql = gakLgSql,
      selfPairs = false,
      allPairsMaxId = maxId,
      finalSql = kernelKMeansCoreCtes(k, iters, s"i < $trainMax") +
        s"""
           |, ft3 AS (
           |  SELECT la.c AS c, sum(g.kv) AS s3, count(DISTINCT g.i) AS csz
           |  FROM gram g
           |  JOIN lab$iters la ON la.id = g.i
           |  JOIN lab$iters lb ON lb.id = g.j
           |  WHERE la.c = lb.c
           |  GROUP BY 1
           |), p2 AS (
           |  SELECT g.i AS id, l.c, sum(g.kv) AS s, count(*) AS cnt
           |  FROM gram g JOIN lab$iters l ON l.id = g.j
           |  WHERE g.i >= $trainMax
           |  GROUP BY 1, 2
           |), pd AS (
           |  SELECT p2.id, p2.c,
           |    1.0 - 2.0 * p2.s / p2.cnt + ft3.s3 / (ft3.csz * ft3.csz) AS d2
           |  FROM p2 JOIN ft3 ON ft3.c = p2.c
           |)
           |SELECT id AS probe_id, c AS cluster FROM (
           |  SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY d2, c) AS rn
           |  FROM pd) WHERE rn = 1""".stripMargin)

  /** The SBD of every series to the first k z-normed series as
    * centroids, `sbd(user_id, cluster, d)` via the direct O(sz²)
    * correlation `cc(user_id, cluster, s, corr)`; shared by the kshape
    * assign and step oracles. Ends inside `sbd`. */
  private def kshapeSbdCtes(sz: Int, k: Int): String =
    evCte + resampleZnormCte(sz) +
      s"""
         |, cents AS (
         |  SELECT user_id AS cluster, j, val AS cv FROM r WHERE user_id < $k
         |), norms AS (
         |  SELECT user_id, sqrt(sum(val * val)) AS nrm FROM r GROUP BY 1
         |), cnorms AS (
         |  SELECT cluster, sqrt(sum(cv * cv)) AS nrm FROM cents GROUP BY 1
         |), cc AS (
         |  SELECT a.user_id, c.cluster, a.j - c.j AS s, sum(a.val * c.cv) AS corr
         |  FROM r a JOIN cents c ON TRUE
         |  GROUP BY 1, 2, 3
         |), sbd AS (
         |  SELECT cc.user_id, cc.cluster,
         |    1.0 - max(cc.corr /
         |      (CASE WHEN na.nrm * nc.nrm = 0 THEN 1.0 ELSE na.nrm * nc.nrm END)) AS d
         |  FROM cc
         |  JOIN norms na ON na.user_id = cc.user_id
         |  JOIN cnorms nc ON nc.cluster = cc.cluster
         |  GROUP BY 1, 2""".stripMargin

  /** DuckDB oracle for ts_kshape_assign: SBD of every series to the four
    * fixed centroids via the direct O(sz²) correlation (as sbdOracleSql),
    * argmin with the kernel's strict-< tie-break (lowest cluster wins). */
  private def kshapeAssignOracleSql(sz: Int, k: Int): String =
    kshapeSbdCtes(sz, k) +
      """
        |)
        |SELECT user_id AS series_id, CAST(cluster AS INT) AS cluster,
        |  round(d, 4) + 0.0 AS dist
        |FROM (
        |  SELECT user_id, cluster, d,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d, cluster) AS rn
        |  FROM sbd)
        |WHERE rn = 1""".stripMargin

  /** DuckDB oracle for ts_kshape_step — the full shape-extraction update
    * (`kshape.py:118-137`) replayed relationally:
    *   1. assignment: SBD argmin to the znormed-first-k centroids
    *      (kshapeAssignOracleSql's direct-correlation logic);
    *   2. alignment: per member, the argmax-correlation shift against its
    *      centroid (earliest shift wins ties, matching the kernel's
    *      strict-> scan), zero-padded reconstruction;
    *   3. re-znorm (avg(x²)−avg² variance, var≤0 → sd 1 — the kernel's
    *      formula), gram S = Σ z·zᵀ and Σz per cluster;
    *   4. centering M = QᵀSQ = S − rowMean_i − rowMean_j + grandMean;
    *   5. EXACTLY `steps` power-method updates from the ramp init
    *      v0(i) ∝ i − (sz−1)/2 ℓ2-normalized (matvec → ℓ2 normalize; a
    *      zero-norm matvec keeps the previous iterate) — the engine's
    *      shapeByClusterPower replays the same sequence. The ramp init
    *      matters: re-znormed members make the constant direction
    *      exactly null(M), so a constant v0 would start from fp noise;
    *      the ramp makes step 1 a real iterate on both sides;
    *   6. sign fix by (Σz)·v, final z-norm. */
  private def kshapeStepOracleSql(sz: Int, k: Int, steps: Int): String = {
    // inline the engine's exact powerInit constants: (j − c) / n with c, n
    // as shortest-round-trip doubles reproduces powerInit(sz) bit-for-bit
    val pc = (sz - 1) / 2.0
    val pn = {
      var s = 0.0
      var i = 0
      while (i < sz) { val d = i - pc; s += d * d; i += 1 }
      math.sqrt(s)
    }
    val sb = new StringBuilder(kshapeSbdCtes(sz, k))
    sb ++=
      s"""
         |), assign AS (
         |  SELECT user_id, cluster FROM (
         |    SELECT user_id, cluster,
         |      row_number() OVER (PARTITION BY user_id ORDER BY d, cluster) AS rn
         |    FROM sbd)
         |  WHERE rn = 1
         |), best AS (
         |  -- alignment shift of each member against ITS centroid. cc's s
         |  -- = member_t − center_t is the NEGATIVE of the kernel's shift
         |  -- convention (cc[σ] = Σ_t c(t)·x(t−σ), σ = −s), so the
         |  -- kernel's earliest-most-negative-σ tie-break is s DESC here,
         |  -- and aligned(t) = x(t−σ) = x(t+s). The denominator is
         |  -- shift-independent, so raw corr suffices for the argmax.
         |  SELECT user_id, cluster, s AS shift FROM (
         |    SELECT cc.user_id, cc.cluster, cc.s,
         |      row_number() OVER (PARTITION BY cc.user_id
         |        ORDER BY cc.corr DESC, cc.s DESC) AS rn
         |    FROM cc JOIN assign a ON a.user_id = cc.user_id AND a.cluster = cc.cluster)
         |  WHERE rn = 1
         |), seqt AS (
         |  SELECT unnest(generate_series(0, ${sz - 1})) AS t
         |), aligned AS (
         |  SELECT b.user_id, b.cluster, q.t,
         |    coalesce(r2.val, 0.0) AS av
         |  FROM best b CROSS JOIN seqt q
         |  LEFT JOIN r r2 ON r2.user_id = b.user_id AND r2.j = q.t + b.shift
         |), zstats AS (
         |  SELECT user_id,
         |    avg(av) AS mu,
         |    CASE WHEN avg(av * av) - avg(av) * avg(av) <= 0 THEN 1.0
         |         ELSE sqrt(avg(av * av) - avg(av) * avg(av)) END AS sd
         |  FROM aligned GROUP BY 1
         |), za AS (
         |  SELECT al.user_id, al.cluster, al.t AS i, (al.av - zs.mu) / zs.sd AS z
         |  FROM aligned al JOIN zstats zs USING (user_id)
         |), gram AS (
         |  SELECT a.cluster, a.i, b.i AS j, sum(a.z * b.z) AS sv
         |  FROM za a JOIN za b ON b.user_id = a.user_id
         |  GROUP BY 1, 2, 3
         |), rowm AS (
         |  SELECT cluster, i, sum(sv) / $sz.0 AS m FROM gram GROUP BY 1, 2
         |), grand AS (
         |  SELECT cluster, sum(sv) / ${sz * sz}.0 AS g FROM gram GROUP BY 1
         |), mm AS (
         |  SELECT gr.cluster, gr.i, gr.j,
         |    gr.sv - ri.m - rj.m + gg.g AS mv
         |  FROM gram gr
         |  JOIN rowm ri ON ri.cluster = gr.cluster AND ri.i = gr.i
         |  JOIN rowm rj ON rj.cluster = gr.cluster AND rj.i = gr.j
         |  JOIN grand gg ON gg.cluster = gr.cluster
         |), xs AS (
         |  SELECT cluster, i, sum(z) AS x FROM za GROUP BY 1, 2
         |), pv0 AS (
         |  SELECT DISTINCT cluster, i AS j, (i - $pc) / $pn AS v FROM gram
         |)""".stripMargin
    for (t <- 1 to steps) {
      sb ++=
        s"""
           |, pv$t AS (
           |  SELECT q.cluster, q.i AS j,
           |    CASE WHEN q.nw = 0 THEN p0.v ELSE q.w / q.nw END AS v
           |  FROM (
           |    SELECT m.cluster, m.i, sum(m.mv * p.v) AS w,
           |      sqrt(sum(power(sum(m.mv * p.v), 2))
           |        OVER (PARTITION BY m.cluster)) AS nw
           |    FROM mm m JOIN pv${t - 1} p
           |      ON p.cluster = m.cluster AND p.j = m.j
           |    GROUP BY m.cluster, m.i) q
           |  JOIN pv${t - 1} p0 ON p0.cluster = q.cluster AND p0.j = q.i
           |)""".stripMargin
    }
    sb ++=
      s"""
         |, dotc AS (
         |  SELECT xs.cluster, sum(xs.x * p.v) AS dt
         |  FROM xs JOIN pv$steps p ON p.cluster = xs.cluster AND p.j = xs.i
         |  GROUP BY 1
         |), signedv AS (
         |  SELECT p.cluster, p.j,
         |    CASE WHEN d.dt < 0 THEN -p.v ELSE p.v END AS v
         |  FROM pv$steps p JOIN dotc d USING (cluster)
         |), fstats AS (
         |  SELECT cluster,
         |    avg(v) AS mu,
         |    CASE WHEN avg(v * v) - avg(v) * avg(v) <= 0 THEN 1.0
         |         ELSE sqrt(avg(v * v) - avg(v) * avg(v)) END AS sd
         |  FROM signedv GROUP BY 1
         |)
         |SELECT CAST(s.cluster AS INT) AS cluster, CAST(s.j AS INT) AS t,
         |  round((s.v - f.mu) / f.sd, 4) + 0.0 AS v
         |FROM signedv s JOIN fstats f USING (cluster)""".stripMargin
    // materialize the shared layers; the pv chain is small but each step
    // references the previous one once — materialize those too
    materialized(sb.toString)
  }

  /** DuckDB oracle for ts_kshape: the FULL `iters`-iteration fit trace —
    * kshapeStepOracleSql's assign→shape-extract machinery chained across
    * every iteration the way dbaTraceSql chains MM updates. Per
    * iteration i against centroids cents{i}: SBD argmin assignment
    * (lowest-cluster tie-break), per-member alignment shift (corr DESC,
    * s DESC), zero-padded reconstruction, re-znorm, gram + centering,
    * EXACTLY `steps` power-method updates from the ramp init (zero-norm
    * matvec keeps the previous iterate), sign fix, final z-norm →
    * cents{i+1} (a cluster that lost all members keeps its previous
    * centroid via the COALESCE, matching the engine's getOrElse). After
    * `iters` updates, the final predict pass re-runs the assignment and
    * emits (series_id, cluster, dist) — the exact output of
    * KShape(init="first", shapeSteps, tol=-1).fit(...).predict(...). */
  private def kshapeTraceSql(sz: Int, k: Int, iters: Int, steps: Int): String = {
    val pc = (sz - 1) / 2.0
    val pn = {
      var s = 0.0
      var i = 0
      while (i < sz) { val d = i - pc; s += d * d; i += 1 }
      math.sqrt(s)
    }
    val sb = new StringBuilder(evCte + resampleZnormCte(sz))
    sb ++=
      s"""
         |, norms AS (
         |  SELECT user_id, sqrt(sum(val * val)) AS nrm FROM r GROUP BY 1
         |), seqt AS (
         |  SELECT unnest(generate_series(0, ${sz - 1})) AS t
         |), cents0 AS (
         |  SELECT user_id AS cluster, j, val AS cv FROM r WHERE user_id < $k
         |)""".stripMargin
    for (i <- 0 until iters) {
      sb ++=
        s"""
           |, cn$i AS (
           |  SELECT cluster, sqrt(sum(cv * cv)) AS nrm FROM cents$i GROUP BY 1
           |), cc$i AS (
           |  SELECT a.user_id, c.cluster, a.j - c.j AS s, sum(a.val * c.cv) AS corr
           |  FROM r a JOIN cents$i c ON TRUE
           |  GROUP BY 1, 2, 3
           |), sbd$i AS (
           |  SELECT cc.user_id, cc.cluster,
           |    1.0 - max(cc.corr /
           |      (CASE WHEN na.nrm * nc.nrm = 0 THEN 1.0 ELSE na.nrm * nc.nrm END)) AS d
           |  FROM cc$i cc
           |  JOIN norms na ON na.user_id = cc.user_id
           |  JOIN cn$i nc ON nc.cluster = cc.cluster
           |  GROUP BY 1, 2
           |), asg$i AS (
           |  SELECT user_id, cluster FROM (
           |    SELECT user_id, cluster,
           |      row_number() OVER (PARTITION BY user_id ORDER BY d, cluster) AS rn
           |    FROM sbd$i)
           |  WHERE rn = 1
           |), best$i AS (
           |  SELECT user_id, cluster, s AS shift FROM (
           |    SELECT cc.user_id, cc.cluster, cc.s,
           |      row_number() OVER (PARTITION BY cc.user_id
           |        ORDER BY cc.corr DESC, cc.s DESC) AS rn
           |    FROM cc$i cc JOIN asg$i a
           |      ON a.user_id = cc.user_id AND a.cluster = cc.cluster)
           |  WHERE rn = 1
           |), al$i AS (
           |  SELECT b.user_id, b.cluster, q.t,
           |    coalesce(r2.val, 0.0) AS av
           |  FROM best$i b CROSS JOIN seqt q
           |  LEFT JOIN r r2 ON r2.user_id = b.user_id AND r2.j = q.t + b.shift
           |), zs$i AS (
           |  SELECT user_id,
           |    avg(av) AS mu,
           |    CASE WHEN avg(av * av) - avg(av) * avg(av) <= 0 THEN 1.0
           |         ELSE sqrt(avg(av * av) - avg(av) * avg(av)) END AS sd
           |  FROM al$i GROUP BY 1
           |), za$i AS (
           |  SELECT al.user_id, al.cluster, al.t AS i, (al.av - zs.mu) / zs.sd AS z
           |  FROM al$i al JOIN zs$i zs USING (user_id)
           |), gram$i AS (
           |  SELECT a.cluster, a.i, b.i AS j, sum(a.z * b.z) AS sv
           |  FROM za$i a JOIN za$i b ON b.user_id = a.user_id
           |  GROUP BY 1, 2, 3
           |), rowm$i AS (
           |  SELECT cluster, i, sum(sv) / $sz.0 AS m FROM gram$i GROUP BY 1, 2
           |), grand$i AS (
           |  SELECT cluster, sum(sv) / ${sz * sz}.0 AS g FROM gram$i GROUP BY 1
           |), mm$i AS (
           |  SELECT gr.cluster, gr.i, gr.j,
           |    gr.sv - ri.m - rj.m + gg.g AS mv
           |  FROM gram$i gr
           |  JOIN rowm$i ri ON ri.cluster = gr.cluster AND ri.i = gr.i
           |  JOIN rowm$i rj ON rj.cluster = gr.cluster AND rj.i = gr.j
           |  JOIN grand$i gg ON gg.cluster = gr.cluster
           |), xs$i AS (
           |  SELECT cluster, i, sum(z) AS x FROM za$i GROUP BY 1, 2
           |), pv${i}x0 AS (
           |  SELECT DISTINCT cluster, i AS j, (i - $pc) / $pn AS v FROM gram$i
           |)""".stripMargin
      for (t <- 1 to steps) {
        sb ++=
          s"""
             |, pv${i}x$t AS (
             |  SELECT q.cluster, q.i AS j,
             |    CASE WHEN q.nw = 0 THEN p0.v ELSE q.w / q.nw END AS v
             |  FROM (
             |    SELECT m.cluster, m.i, sum(m.mv * p.v) AS w,
             |      sqrt(sum(power(sum(m.mv * p.v), 2))
             |        OVER (PARTITION BY m.cluster)) AS nw
             |    FROM mm$i m JOIN pv${i}x${t - 1} p
             |      ON p.cluster = m.cluster AND p.j = m.j
             |    GROUP BY m.cluster, m.i) q
             |  JOIN pv${i}x${t - 1} p0 ON p0.cluster = q.cluster AND p0.j = q.i
             |)""".stripMargin
      }
      sb ++=
        s"""
           |, dot$i AS (
           |  SELECT xs.cluster, sum(xs.x * p.v) AS dt
           |  FROM xs$i xs JOIN pv${i}x$steps p
           |    ON p.cluster = xs.cluster AND p.j = xs.i
           |  GROUP BY 1
           |), sg$i AS (
           |  SELECT p.cluster, p.j,
           |    CASE WHEN d.dt < 0 THEN -p.v ELSE p.v END AS v
           |  FROM pv${i}x$steps p JOIN dot$i d USING (cluster)
           |), fs$i AS (
           |  SELECT cluster,
           |    avg(v) AS mu,
           |    CASE WHEN avg(v * v) - avg(v) * avg(v) <= 0 THEN 1.0
           |         ELSE sqrt(avg(v * v) - avg(v) * avg(v)) END AS sd
           |  FROM sg$i GROUP BY 1
           |), fin$i AS (
           |  SELECT s.cluster, s.j, (s.v - f.mu) / f.sd AS v
           |  FROM sg$i s JOIN fs$i f USING (cluster)
           |), cents${i + 1} AS (
           |  SELECT c.cluster, c.j, coalesce(f.v, c.cv) AS cv
           |  FROM cents$i c
           |  LEFT JOIN fin$i f ON f.cluster = c.cluster AND f.j = c.j
           |)""".stripMargin
    }
    sb ++=
      s"""
         |, cnF AS (
         |  SELECT cluster, sqrt(sum(cv * cv)) AS nrm FROM cents$iters GROUP BY 1
         |), ccF AS (
         |  SELECT a.user_id, c.cluster, a.j - c.j AS s, sum(a.val * c.cv) AS corr
         |  FROM r a JOIN cents$iters c ON TRUE
         |  GROUP BY 1, 2, 3
         |), sbdF AS (
         |  SELECT cc.user_id, cc.cluster,
         |    1.0 - max(cc.corr /
         |      (CASE WHEN na.nrm * nc.nrm = 0 THEN 1.0 ELSE na.nrm * nc.nrm END)) AS d
         |  FROM ccF cc
         |  JOIN norms na ON na.user_id = cc.user_id
         |  JOIN cnF nc ON nc.cluster = cc.cluster
         |  GROUP BY 1, 2
         |)
         |SELECT user_id AS series_id, CAST(cluster AS INT) AS cluster,
         |  round(d, 4) + 0.0 AS dist
         |FROM (
         |  SELECT user_id, cluster, d,
         |    row_number() OVER (PARTITION BY user_id ORDER BY d, cluster) AS rn
         |  FROM sbdF)
         |WHERE rn = 1""".stripMargin
    materialized(sb.toString)
  }

  /** DuckDB oracle for ts_dba: the FULL `iters`-iteration MM trace —
    * dbaStepOracleSql's one-step machinery (per-series DTW cost matrix,
    * recursive-CTE backtrack with the kernel's diag-first tie-break,
    * aligned mean) chained: bar0 = per-timestep mean init, then for each
    * MM iteration k the loc{k}, t{k}xI, cum{k}, path{k} layers recompute
    * every DTW path against bar{k} and bar{k+1} is the aligned mean. Mirrors
    * `barycenters/dba.py:394-604` with tol disabled (engine runs exactly
    * `iters` updates; MM cost is non-increasing so extra iterations at a
    * fixed point are no-ops). Every non-recursive CTE is MATERIALIZED —
    * DuckDB would otherwise re-inline the whole chain per layer. */
  private def dbaTraceSql(iters: Int, sz: Int): String = {
    val last = sz - 1
    val sb = new StringBuilder(
      evCte.replaceFirst("WITH ", "WITH RECURSIVE ") + resampleZnormCte(sz))
    sb ++= "\n, bar0 AS (\n  SELECT j AS i, avg(val) AS bv FROM r GROUP BY 1\n)"
    for (k <- 0 until iters) {
      sb ++=
        s"""
           |, loc$k AS (
           |  SELECT r.user_id, b.i, r.j,
           |    (b.bv - r.val) * (b.bv - r.val) AS d
           |  FROM r JOIN bar$k b ON TRUE
           |)""".stripMargin
      sb ++= minPlusChainCtes(Seq("user_id"), s"loc$k", s"t${k}x", sz)
      sb ++= s"\n, cum$k AS (\n" +
        (0 until sz).map(i => s"  SELECT user_id, $i AS i, j, cost FROM t${k}x$i")
          .mkString("", "\n  UNION ALL\n", "\n)")
      sb ++=
        s"""
           |, path$k AS (
           |  SELECT user_id, $last AS i, $last AS j FROM (SELECT DISTINCT user_id FROM r)
           |  UNION ALL
           |  SELECT p.user_id,
           |${dtwBacktrackStep("cd")}
           |  FROM path$k p
           |  LEFT JOIN cum$k cd ON cd.user_id = p.user_id AND cd.i = p.i - 1 AND cd.j = p.j - 1
           |  LEFT JOIN cum$k cu ON cu.user_id = p.user_id AND cu.i = p.i - 1 AND cu.j = p.j
           |  LEFT JOIN cum$k cl ON cl.user_id = p.user_id AND cl.i = p.i AND cl.j = p.j - 1
           |  WHERE p.i > 0 OR p.j > 0
           |), bar${k + 1} AS (
           |  SELECT pa.i, sum(r.val) / count(*) AS bv
           |  FROM path$k pa JOIN r ON r.user_id = pa.user_id AND r.j = pa.j
           |  GROUP BY 1
           |)""".stripMargin
    }
    // + 0.0 collapses IEEE −0.0 to 0.0 (same discipline as ts_kshape_*)
    sb ++= s"\nSELECT CAST(i AS INT) AS t, round(bv, 4) + 0.0 AS v FROM bar$iters"
    // materialize every DP-chain CTE, but never the recursive paths
    materialized(sb.toString)
      .replaceAll(", (path\\d+) AS MATERIALIZED \\(", ", $1 AS (")
  }

  /** DuckDB oracle for ts_dba_step: the mean-init barycenter, a full DTW
    * cost matrix per series (the knnDtw chain keeping every row), a
    * recursive-CTE backtrack with the kernel's tie-break (diag preferred,
    * then up — Kernels.returnPath), and the per-timestep aligned mean. */
  private def dbaStepOracleSql(sz: Int): String =
    dbaStepMaterialize(dbaStepChainSql(sz) +
      s"""
         |SELECT CAST(pa.i AS INT) AS t, round(sum(r.val) / count(*), 4) + 0.0 AS v
         |FROM path pa JOIN r ON r.user_id = pa.user_id AND r.j = pa.j
         |GROUP BY 1""".stripMargin)

  /** DuckDB oracle for ts_dba_ssg_step: the SAME chain (mean init, DTW
    * matrix, kernel-tie-break backtrack), then one Schultz–Jain update
    * per user — b′(i) = b(i) − 2η·(V(i)·b(i) − Σ_{(i,j)∈path} x(j)) with
    * V(i) the path valence (`dba.py:607-740`, Barycenters.ssgUpdate). */
  private def dbaSsgStepOracleSql(sz: Int, eta: Double): String =
    dbaStepMaterialize(dbaStepChainSql(sz) +
      s"""
         |SELECT pa.user_id AS user_id, CAST(pa.i AS INT) AS t,
         |  round(b.bv - 2 * $eta * (count(*) * b.bv - sum(r.val)), 4) + 0.0 AS v
         |FROM path pa
         |JOIN r ON r.user_id = pa.user_id AND r.j = pa.j
         |JOIN bar b ON b.i = pa.i
         |GROUP BY pa.user_id, pa.i, b.bv""".stripMargin)

  // materialize the DP chain, but never the recursive CTE itself
  private def dbaStepMaterialize(sql: String): String =
    materialized(sql)
      .replace(", path AS MATERIALIZED (", ", path AS (")

  /** Shared ts_dba_step / ts_dba_ssg_step chain: everything through the
    * `path` CTE (mean-init `bar`, per-user local costs, the row-solve DP,
    * the recursive backtrack). */
  private def dbaStepChainSql(sz: Int): String = {
    val last = sz - 1
    val sb = new StringBuilder(
      evCte.replaceFirst("WITH ", "WITH RECURSIVE ") + resampleZnormCte(sz))
    sb ++=
      s"""
         |, bar AS (
         |  SELECT j AS i, avg(val) AS bv FROM r GROUP BY 1
         |), loc AS (
         |  SELECT r.user_id, bar.i, r.j,
         |    (bar.bv - r.val) * (bar.bv - r.val) AS d
         |  FROM r JOIN bar ON TRUE
         |)""".stripMargin
    sb ++= minPlusChainCtes(Seq("user_id"), "loc", "t", sz)
    sb ++= "\n, cum AS (\n" +
      (0 until sz).map(i => s"  SELECT user_id, $i AS i, j, cost FROM t$i")
        .mkString("", "\n  UNION ALL\n", "\n)")
    sb ++=
      s"""
         |, path AS (
         |  SELECT user_id, $last AS i, $last AS j FROM (SELECT DISTINCT user_id FROM r)
         |  UNION ALL
         |  SELECT p.user_id,
         |${dtwBacktrackStep("cd")}
         |  FROM path p
         |  LEFT JOIN cum cd ON cd.user_id = p.user_id AND cd.i = p.i - 1 AND cd.j = p.j - 1
         |  LEFT JOIN cum cu ON cu.user_id = p.user_id AND cu.i = p.i - 1 AND cu.j = p.j
         |  LEFT JOIN cum cl ON cl.user_id = p.user_id AND cl.i = p.i AND cl.j = p.j - 1
         |  WHERE p.i > 0 OR p.j > 0
         |)""".stripMargin
    sb.toString
  }

  def oracleSql: Map[String, String] = Map(
    "ts_kshape_assign" -> kshapeAssignOracleSql(32, 4),

    "ts_kshape_step" -> kshapeStepOracleSql(32, 4, 60),

    "ts_kshape" -> kshapeTraceSql(32, 4, 8, 60),

    "ts_dba_step" -> dbaStepOracleSql(32),

    "ts_dba_ssg_step" -> dbaSsgStepOracleSql(32, 0.05),

    "ts_dba" -> dbaTraceSql(10, 32),

    "ts_softdtw_bary_step" -> softDtwBaryStepOracleSql(16, 4, 0.05),

    "ts_kernel_kmeans" -> kernelKMeansTraceSql(16, 12, 3, 4),

    "ts_kernel_kmeans_rbf" -> kernelKMeansRbfTraceSql(16, 12, 3, 4, 0.1),

    "ts_kernel_kmeans_predict" -> kernelKMeansPredictSql(16, 12, 20, 3, 4),

    "ts_kmeans" -> kmeansTraceSql(10),

    "ts_kmeans_best2" -> kmeansBest2TraceSql(10, 4),

    "ts_kmeans_dtw" -> kmeansDtwTraceSql(2, 16, 2, 16),

    "ts_kmeans_softdtw" -> kmeansSoftDtwTraceSql(2, 16, 2, 8, 0.05),

    "ts_kmeans_iter" -> (evCte + resampleCte +
      """
        |, seeds AS (
        |  SELECT CAST(user_id AS INT) AS cell, j, val AS c FROM r WHERE user_id < 4
        |), a1 AS (
        |  SELECT user_id, cell FROM (
        |    SELECT r.user_id, s.cell,
        |      sum((r.val - s.c) * (r.val - s.c)) AS d2,
        |      row_number() OVER (PARTITION BY r.user_id
        |        ORDER BY sum((r.val - s.c) * (r.val - s.c)), s.cell) AS rn
        |    FROM r JOIN seeds s ON s.j = r.j
        |    GROUP BY 1, 2)
        |  WHERE rn = 1
        |), upd AS (
        |  SELECT a1.cell, r.j, avg(r.val) AS c
        |  FROM r JOIN a1 ON a1.user_id = r.user_id
        |  GROUP BY 1, 2
        |)
        |SELECT user_id, cell, round(d2, 4) AS d2 FROM (
        |  SELECT r.user_id, u.cell,
        |    sum((r.val - u.c) * (r.val - u.c)) AS d2,
        |    row_number() OVER (PARTITION BY r.user_id
        |      ORDER BY sum((r.val - u.c) * (r.val - u.c)), u.cell) AS rn
        |  FROM r JOIN upd u ON u.j = r.j
        |  GROUP BY 1, 2)
        |WHERE rn = 1""".stripMargin),

    "ts_kmeanspp_init" -> kmeansppOracleSql(3, 3),

    "ts_kmeanspp_dtw" -> kmeansppDtwOracleSql(3, 3, 16, 24)
  )
}
