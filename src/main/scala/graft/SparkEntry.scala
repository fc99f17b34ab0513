package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TsFunctions
import graft.model.TSModel
import graft.operators.Cdist

/** Driver contract — one entry per implemented operator from SURVEY.md §2,
  * plus DuckDB oracle SQL for every SQL-expressible one.
  *
  * Query style: time-series operators run in the exploded long form
  * `(series_id, t, value)` — Spark's Window/groupBy primitives — so each
  * has an exact relational oracle. Kernel-DP metrics (DTW, GAK, …) that
  * SQL can't express are exposed as rows-only queries and golden-tested in
  * ScalaTest instead (KernelsSpec).
  */
object SparkEntry {

  /** events.parquet with a canonical µs `ts_us` clock — schema-adaptive
    * (the generator has produced both TIMESTAMP(NANOS) and plain µs
    * TIMESTAMP schemas across rounds); see TSModel.eventsWithTsUs. */
  private def ev(s: SparkSession, dir: String) = TSModel.eventsWithTsUs(s, dir)
  private def li(s: SparkSession, dir: String) = s.read.parquet(s"$dir/lineitem.parquet")
  // Schema-normalizing readers (generator drift guard — see
  // TSModel.normalizeColumns; round 8 went red on an events variant)
  private def docs(s: SparkSession, dir: String) = TSModel.documents(s, dir)
  private def emb(s: SparkSession, dir: String) = TSModel.embeddings(s, dir)

  /** Best-effort recursive delete of a scratch directory the query
    * itself created (sink round trips) — failures are ignored so a
    * locked file can never fail a query. */
  private def deleteRecursively(path: String): Unit = {
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
  private def explodedEvents(s: SparkSession, dir: String): DataFrame = {
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
  private def resampledEvents(s: SparkSession, dir: String, target: Int): DataFrame = {
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

  /** SAX symbols (alphabet 4, 8 segments) of every user's raw series plus
    * its length — the ts_sax computation, shared by the MINDIST query.
    * Output: (user_id, seg, symbol, n). */
  private def saxSymbolsOf(s: SparkSession, dir: String): DataFrame = {
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

  // =================================================================
  // queries
  // =================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- relational baseline (scan/agg/join/top-k) ------
    "q01_pricing_summary" -> ((s, dir) => {
      li(s, dir).groupBy("l_returnflag", "l_linestatus").agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
    }),

    "q02_top_parts" -> ((s, dir) => {
      val p = s.read.parquet(s"$dir/part.parquet")
      li(s, dir).join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy("p_partkey", "p_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("p_partkey").asc)
        .limit(10)
    }),

    "q03_nation_revenue" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      li(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    "q04_semi_anti" -> ((s, dir) => {
      // customers with >= 1 urgent order but no high-value order:
      // left-semi + left-anti join shapes over the same fact table
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val urgent = o.where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      val bigSpend = o.where(col("o_totalprice") > 350000)
        .select(col("o_custkey").as("c_custkey"))
      c.join(urgent, Seq("c_custkey"), "left_semi")
        .join(bigSpend, Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("acctbal"))
    }),

    // ---------------- per-series scalers (SURVEY §2.2) ---------------
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

    // ---------------- PAA / SAX / slopes (SURVEY §2.6) ---------------
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

    // ---------------- sliding windows (SURVEY §2.6) ------------------
    "ts_envelope" -> ((s, dir) => {
      val r = 2
      val w = Window.partitionBy("user_id").orderBy(col("t").asc).rowsBetween(-r, r)
      explodedEvents(s, dir)
        .select(col("user_id"), col("t"),
          round(min("value").over(w), 6).as("low"),
          round(max("value").over(w), 6).as("up"))
    }),

    // ---------------- resample (linear interpolation) ----------------
    "ts_resample" -> ((s, dir) => resampledEvents(s, dir, 16)
      .select(col("user_id"), col("j"), round(col("v"), 6).as("v"))),

    // ---------------- pairwise bounds/distances over shared preps -----
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

    // ---------------- event-time windows / sessions (SURVEY §2.8) ----
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
    "ts_kmeanspp_init" -> ((s, dir) => {
      val r = resampledEvents(s, dir, 16)
        .select(col("user_id").as("series_id"), col("j"), col("v"))
      graft.ml.TimeSeriesKMeans.kmeansPlusPlusInit(r, k = 3)
        .select(col("round"), col("center_id"),
          (round(col("pot"), 4) + lit(0.0)).as("pot"))
    }),

    // The same greedy k-means++ under metric="dtw" — what the
    // reference's _k_init_metric actually runs for
    // TimeSeriesKMeans(metric="dtw") (kmeans.py:636-651: metric_fun =
    // cdist_dtw, squared inside _k_init_metric as the D² weight). The engine races stay identical; the D²
    // passes swap the per-timestep join for the DTW kernel against
    // ≤2+⌊ln k⌋ broadcast candidates. Restricted to 24 users so the
    // oracle's unrolled DP chains stay cheap.
    "ts_kmeanspp_dtw" -> ((s, dir) => {
      val r = resampledEvents(s, dir, 16)
        .where(col("user_id") < 24)
        .select(col("user_id").as("series_id"), col("j"), col("v"))
      graft.ml.TimeSeriesKMeans.kmeansPlusPlusInit(r, k = 3, metric = "dtw")
        .select(col("round"), col("center_id"),
          (round(col("pot"), 4) + lit(0.0)).as("pot"))
    }),

    // nearest label-centroid classification of length-16 prefixes (the
    // early classifier's per-t model at one fixed t, with an oracle);
    // train = even user ids, labels = dominant event_type
    "ts_prefix_classify" -> ((s, dir) => {
      val labels = ev(s, dir).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("user_id")
        .agg(min_by(col("event_type"), struct((-col("cnt")).as("nc"), col("event_type")))
          .as("label"))
      // localCheckpoint: prefix (a windowed explode) feeds both the
      // centroid build and the classify join
      val prefix = explodedEvents(s, dir)
        .where(col("n") >= 16 && col("t") <= 16)
        .select(col("user_id"), col("t"), col("value"))
        .localCheckpoint()
      val cents = prefix.where(col("user_id") % 2 === 0)
        .join(labels, "user_id")
        .groupBy("label", "t").agg(avg("value").as("c"))
      prefix.join(broadcast(cents), "t")
        .groupBy(col("user_id"), col("label"))
        .agg(sum(pow(col("value") - col("c"), 2)).as("d2"))
        .groupBy("user_id")
        .agg(min_by(col("label"), struct(col("d2"), col("label"))).as("pred"))
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

    // ---------------- matrix profile (SURVEY §2.4/2.6) ---------------
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
        .segmentSeries(s, vals, m, blockSize = 32)
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

    // ---------------- dedup family (training-data ops) ---------------
    "doc_dedup_exact" -> ((s, dir) => {
      docs(s, dir).groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
    }),

    "doc_jaccard_pairs" -> ((s, dir) => {
      // word 3-gram shingle Jaccard near-dup join via inverted index.
      // Shingles above a doc-frequency cap are dropped from the metric
      // (both here and in the oracle): a hot shingle — a stop-word
      // 3-gram in >maxDf docs — would make its inverted-index bucket
      // quadratic; capping bounds every bucket at maxDf² pairs.
      val maxDf = 100
      // <3-word docs have no 3-grams (oracle: j ≤ len−2)
      val d = docs(s, dir).select(col("doc_id"), col("text"))
        .where(size(split(col("text"), " ")) >= 3)
      // shingle construction + per-doc distinct + 60-bit portable hash
      // in ONE native pass over the text bytes (ShingleHash60Expression
      // — no intermediate shingle strings, no interpreted HOF chain);
      // the checkpoint, the df-cap groupBy and the inverted-index join
      // then all carry an 8-byte key instead of a ~20-byte string.
      // Internal only — the output never exposes the shingle, so the
      // oracle is unchanged (a 60-bit collision at 450 k distinct
      // shingles is ~1e-7 and would only merge two index buckets).
      val raw = d.select(col("doc_id"),
        explode(graft.functions.NativeExpressions.shingleHash60Native(
          col("text"), k = 3)).as("sh"))
      // df cap via Dedup.dfCapped: skew-immune groupBy df + broadcast
      // anti-join of the hot set (see its scaladoc; plan-locked in
      // PlanAuditSpec). localCheckpoint the RAW stream, not the capped
      // one: dfCapped consumes its input twice (hot-set groupBy + the
      // anti-join) and the capped result three more times (both
      // self-join sides + sizes) — checkpointing before the cap means
      // shingle generation runs exactly once and every later pass is a
      // cheap in-memory scan + broadcast anti (Prof: 8.4 s → 4.3 s
      // cold). localCheckpoint, not persist, so the blocks are released
      // by the context cleaner instead of pinned for the rest of a
      // 60+-query Bench session.
      val shingles = graft.operators.Dedup.dfCapped(raw.localCheckpoint(), maxDf)
        .select(col("doc_id"), col("sh"))
      val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val a = shingles.select(col("doc_id").as("doc_a"), col("sh"))
      val b = shingles.select(col("doc_id").as("doc_b"), col("sh"))
      a.join(b, "sh").where(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
        .withColumn("jac", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
        .where(col("jac") >= 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))
    }),

    // Directional containment — the quote/near-subset detector Jaccard
    // misses (short-in-long quotes: containment ≈ 1, Jaccard low).
    // Same capped shingle machinery; both directions emitted.
    "doc_containment_pairs" -> ((s, dir) =>
      graft.operators.Dedup.containmentPairs(docs(s, dir), threshold = 0.6)
        .select(col("doc_a"), col("doc_b"),
          round(col("containment"), 4).as("containment"))),

    // Sketch-then-verify containment (the scale path: candidate pairs
    // off a 1/sampleMod modhash sample of shingle space, exact recount
    // only for survivors). DETERMINISTIC given the md5 hash, so the
    // whole pipeline — sample, slack bound, exact recount — replays in
    // SQL; the emitted values are exact by construction (phase 2
    // recounts from the full capped arrays), only recall is
    // probabilistic. Runs at the OPERATOR DEFAULTS (sampleMod=2, the
    // measured ≥95 %-recall point — VERDICT r12 #3 closed the gap where
    // the driver row stayed pinned at the old mod-8 sample while the
    // shipped default had moved); the oracle replays the mod-2 sample.
    "doc_containment_sketched" -> ((s, dir) =>
      graft.operators.Dedup.containmentPairsSketched(docs(s, dir), threshold = 0.6)
        .select(col("doc_a"), col("doc_b"),
          round(col("containment"), 4).as("containment"))),

    // ---------------- text analysis (training-data ops) --------------
    "doc_stats" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        col("lang"),
        length(col("text")).as("n_chars_m"),
        size(split(col("text"), " ")).as("n_tokens"),
        round(length(regexp_replace(col("text"), " ", "")).cast("double") /
          size(split(col("text"), " ")), 4).as("avg_tok_len"))
    }),

    "doc_lang_dist" -> ((s, dir) => {
      docs(s, dir).groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          round(avg(size(split(col("text"), " "))), 4).as("avg_tokens"))
    }),

    // ---------------- embedding similarity search --------------------
    "emb_knn_cosine" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val cands = e.where(col("vec_id") >= 10)
        .select(col("vec_id").as("cand_id"), col("v").as("cv"))
      val scored = cands.crossJoin(broadcast(queries))
        .select(col("query_id"), col("cand_id"),
          TsFunctions.cosineSim(col("qv"), col("cv")).as("cos"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
      scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("cand_id"), round(col("cos"), 4).as("cos"))
    }),

    "emb_label_centroids" -> ((s, dir) => {
      emb(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(round(avg(col("x").cast("double")), 6).as("c"))
    }),

    // ---------------- text analysis II (oracle-backed) ---------------
    "doc_quality" -> ((s, dir) => {
      import graft.operators.TextAnalysis._
      docs(s, dir).select(col("doc_id"), qualityScore(col("text")).as("quality"))
    }),

    "doc_lang_id" -> ((s, dir) => {
      import graft.operators.TextAnalysis._
      docs(s, dir).select(col("doc_id"), langId(col("text")).as("lang_pred"))
    }),

    // Gopher-style repetition filter signals (dup-word / top-bigram /
    // dup-trigram fractions) — see TextAnalysis.repetitionSignals.
    "doc_repetition" -> ((s, dir) =>
      graft.operators.TextAnalysis.repetitionSignals(docs(s, dir))),

    // Word-level Shannon entropy — the perplexity-proxy quality filter.
    "doc_entropy" -> ((s, dir) =>
      graft.operators.TextAnalysis.wordEntropy(docs(s, dir))),

    // Deterministic stratified downsampling by language quota — the
    // training-mix rebalance step, hash-bucketed (portable md5) so the
    // kept set is stable across runs/cluster sizes and reproducible by
    // the DuckDB oracle. Pure scan + filter: no shuffle at any scale.
    "doc_sample_stratified" -> ((s, dir) => {
      graft.operators.TextAnalysis.stratifiedSample(docs(s, dir),
        Map("en" -> 20, "de" -> 60, "es" -> 60, "fr" -> 60), defaultQuota = 100)
        .select(col("doc_id"), col("lang"), col("bucket"))
    }),

    "doc_fingerprint" -> ((s, dir) => {
      import graft.operators.TextAnalysis._
      docs(s, dir)
        .groupBy(bagOfWordsFingerprint(col("text")).as("fp"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
        .select(col("keep_id"), col("n_docs"))
    }),

    // Per-source cap (the C4/RefinedWeb per-domain quota): keep 15 docs
    // per source under the deterministic md5 rank — exact top-cap per
    // key via the salted two-window pass (no task ever holds a hot
    // source's full list).
    "doc_source_cap" -> ((s, dir) =>
      graft.operators.TextAnalysis.sourceCap(docs(s, dir), cap = 15)),

    // Token-length histogram — the sequence-packing planner's view of
    // the corpus: per 16-token bucket, doc count + token mass.
    "doc_length_buckets" -> ((s, dir) =>
      graft.operators.TextAnalysis.lengthBuckets(docs(s, dir), bucketSz = 16)),

    // Greedy sequence packing — docs concatenated into 256-token
    // context windows, per-source streams, doc_id order; the one
    // sequential dependency (running fill with reset) lives inside a
    // source-local partition run, everything across sources is
    // parallel. Oracle: the same scan as a per-source recursive CTE.
    "doc_pack_greedy" -> ((s, dir) =>
      graft.operators.TextAnalysis.packSequences(docs(s, dir), ctxLen = 256)),

    // The STREAMING packer's own flatMapGroupsWithState loop run in
    // batch mode (one big micro-batch = docs in id order per source) —
    // element-for-element the batch operator, so it shares its
    // recursive-CTE oracle; cross-batch pack continuation is
    // StreamingSpec's job.
    "doc_stream_pack" -> ((s, dir) =>
      graft.streaming.StreamingOps.packSequences(docs(s, dir), ctxLen = 256)
        .toDF()),

    // Model persistence round trip (GraftML save/load — bases.py's
    // {hyper_params, model_params} package as metadata.json +
    // arrays.parquet): a formula-pinned KMeansModel written through the
    // REAL save path, re-read through the REAL load path, and emitted
    // cell by cell against the formula in SQL. A serialization
    // regression (dropped array row, reordered dims, precision loss,
    // mangled hyper map) breaks the row. Same pattern as the loader
    // round-trip rows (arff/ucr/ts txt).
    "ml_persistence_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graftml_rt").toString
      val centroids = Array.tabulate(2, 8)((c, t) => ((5 * c + 3 * t) % 11 - 5).toDouble)
      val model = graft.ml.GraftML.KMeansModel(
        Map("k" -> "2", "metric" -> "euclidean", "maxIter" -> "7"),
        centroids, inertia = 2.5)
      graft.ml.GraftML.save(s, model, tmp)
      val loaded = graft.ml.GraftML.load(s, tmp)
      deleteRecursively(tmp) // model is driver-resident after load
      val rows = loaded.arrays.flatMap { case (fam, key, vs) =>
        vs.zipWithIndex.map { case (v, i) => (fam, key, i, v.toString) }
      } ++
        loaded.hyper.toSeq.map { case (k2, v) => ("hyper", k2, 0, v) } ++
        loaded.scalars.toSeq.map { case (k2, v) => ("scalar", k2, 0, v) } :+
        (("estimator", "name", 0, loaded.estimator))
      s.createDataFrame(rows.toSeq).toDF("family", "key", "idx", "value")
    }),

    // One full-batch logistic gradient step of the LEARNED quality
    // filter (fasttext-style hashed bag-of-words, label = [lang=en]):
    // formula-pinned start weights so the whole step — σ scores,
    // residuals, per-bucket gradient, update — replays in SQL. The
    // trainable twin of the heuristic doc_quality signals.
    "doc_quality_model_step" -> ((s, dir) => {
      val d = 32
      val w0 = Array.tabulate(d)(bk => ((3 * bk + 1) % 7 - 3) / 10.0)
      graft.operators.TextAnalysis.qualityLogisticStep(
          docs(s, dir), (col("lang") === "en").cast("double"),
          w0, b = 0.1, eta = 0.5, d = d)
        .select(col("bucket"), round(col("weight"), 6).as("weight"))
    }),

    // In-corpus bigram LM scoring (the CCNet-style perplexity quality
    // filter, no external model): add-0.5-smoothed bigram MLE, per-doc
    // mean log-probability. Count tables are vocabulary-bounded.
    "doc_lm_score" -> ((s, dir) =>
      graft.operators.TextAnalysis.lmScore(docs(s, dir), k = 0.5)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("lm_score"), 4).as("lm_score"))),

    // C4-style duplicate-span removal with reassembly: a 10-token span
    // seen in several docs survives only in the lowest-doc_id one; every
    // doc's text is rebuilt from its surviving spans in order (emitted
    // as md5 so the relation stays narrow at corpus scale).
    "doc_span_dedup" -> ((s, dir) =>
      graft.operators.TextAnalysis.spanDedup(docs(s, dir), spanTokens = 10)),

    // Exact-substring dedup (Lee et al. 2022): sliding 8-token grams,
    // every repeated occurrence after the globally first is removed,
    // overlapping removals merge into spans, texts reassembled from the
    // surviving tokens. The stride-1 twin of doc_span_dedup — catches
    // duplicated text at any alignment.
    "doc_substring_dedup" -> ((s, dir) =>
      graft.operators.TextAnalysis.substringDedup(docs(s, dir), k = 8)),

    "doc_tokens_bpe" -> ((s, dir) => {
      import graft.operators.TextAnalysis._
      docs(s, dir).select(col("doc_id"), bpeishTokenCount(col("text")).as("n_bpe"))
    }),

    // ---------------- multimodal decode driver signal ----------------
    // The first oracle-backed multimodal row: deterministic binary
    // PGM(P5)/PPM(P6) payloads (pixel v = (id·7919 + t·104729) mod 256,
    // P6 rows carry r=g=b=v) built per doc_id, pushed through the REAL
    // byte decoder (Multimodal.decodePnm — header parse included) and
    // extractFeatures' mapPartitions batching. Output is integer-exact:
    // pixel_sum = round(mean·w·h·maxv) and edge_sum recover the integer
    // pixel sums despite float feature math (error ≪ 0.5), so DuckDB
    // reproduces them from the generative formula without a decoder —
    // any header/stride/luminance bug in the decode path breaks the sums.
    "img_pixel_stats" -> ((s, dir) => {
      val w = 8; val h = 8
      val mkPnm = udf((id: Long) => {
        val color = id % 2 == 1
        val header = (if (color) s"P6\n$w $h\n255\n" else s"P5\n$w $h\n255\n")
          .getBytes("US-ASCII")
        val nCh = if (color) 3 else 1
        val px = new Array[Byte](w * h * nCh)
        var t = 0
        while (t < w * h) {
          val v = ((id * 7919 + t * 104729) % 256).toByte
          var c = 0
          while (c < nCh) { px(t * nCh + c) = v; c += 1 }
          t += 1
        }
        header ++ px
      })
      val media = docs(s, dir).select(col("doc_id").cast("long"))
        .where(col("doc_id") < 64)
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          mkPnm(col("doc_id")).as("payload"),
          struct(lit(w).as("width"), lit(h).as("height"),
            lit(null).cast("int").as("sample_rate"),
            lit(null).cast("int").as("n_frames")).as("meta"))
      graft.sources.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          round(col("feat")(0) * lit(w * h * 255)).cast("long").as("pixel_sum"),
          round(col("feat")(2) * lit(w * h * 255)).cast("long").as("edge_sum"))
    }),

    // Compressed-codec twin of img_pixel_stats: the formula raster
    // round-trips through a REAL PNG — written in-query by ImageIO
    // (TYPE_INT_RGB, r=g=b=v so no colorspace conversion on read) and
    // decoded back through Multimodal's ImageIO branch. The oracle is
    // the same formula replay with no decoder: a deflate/filter/stride
    // bug on either side of the codec breaks the integer sums.
    "img_png_stats" -> ((s, dir) => {
      val w = 8; val h = 8
      val mkPng = udf((id: Long) => {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var t = 0
        while (t < w * h) {
          val v = ((id * 4421 + t * 7573) % 256).toInt
          img.setRGB(t % w, t / w, (v << 16) | (v << 8) | v)
          t += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      })
      val media = docs(s, dir).select(col("doc_id").cast("long"))
        .where(col("doc_id") < 64)
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          mkPng(col("doc_id")).as("payload"),
          struct(lit(w).as("width"), lit(h).as("height"),
            lit(null).cast("int").as("sample_rate"),
            lit(null).cast("int").as("n_frames")).as("meta"))
      graft.sources.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          round(col("feat")(0) * lit(w * h * 255)).cast("long").as("pixel_sum"),
          round(col("feat")(2) * lit(w * h * 255)).cast("long").as("edge_sum"))
    }),

    // Audio twin of img_pixel_stats: deterministic 8-bit PCM WAV
    // payloads (44-byte RIFF header + formula samples) decoded through
    // the REAL javax.sound path (Multimodal.decodeAudio). 8-bit WAV is
    // unsigned PCM, so px = raw/256 — EXACT in float (dyadic divisors
    // throughout), making sample_sum/edge_sum integer-exact and the
    // oracle a pure formula replay with no decoder. Any header-parse,
    // signedness, or normalization bug in the audio path breaks the sums.
    "wav_audio_stats" -> ((s, dir) => {
      val n = 64
      val mkWav = udf((id: Long) => {
        val data = Array.tabulate(n)(t => ((id * 6151 + t * 769) % 256).toByte)
        val bb = java.nio.ByteBuffer.allocate(44 + n)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
          .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
          .putInt(16).putShort(1).putShort(1) // PCM, mono
          .putInt(8000).putInt(8000).putShort(1).putShort(8) // 8 kHz, 8-bit
          .put("data".getBytes("US-ASCII")).putInt(n).put(data)
        bb.array()
      })
      val media = docs(s, dir).select(col("doc_id").cast("long"))
        .where(col("doc_id") < 64)
        .select(col("doc_id").as("media_id"), lit("audio").as("kind"),
          mkWav(col("doc_id")).as("payload"),
          struct(lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height"),
            lit(8000).as("sample_rate"),
            lit(null).cast("int").as("n_frames")).as("meta"))
      graft.sources.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          round(col("feat")(0) * lit(n * 256)).cast("long").as("sample_sum"),
          round(col("feat")(2) * lit(n * 256)).cast("long").as("edge_sum"))
    }),

    // Image near-dup by perceptual hash (Multimodal.dHash /
    // dhashPairs): formula 16×16 PGM images through the REAL P5 byte
    // parser, nearest-neighbor resize to 9×8, 64-bit difference hash,
    // 4×16-bit pigeonhole bands (hamming ≤ 3 ⇒ a band matches) and
    // exact bit_count(xor) on candidates. Images come in pairs
    // (2k, 2k+1) differing in ONE pixel at a resize-sampled location,
    // so each pair survives as a ≤2-bit near-dup; the scattered
    // (v² mod 251) texture keeps unrelated hashes far apart. The
    // oracle replays pixels, resize arithmetic, bit packing (top bit
    // via the min-long literal — BIGINT can't shift 1<<63), bands and
    // hamming.
    "img_dhash_pairs" -> ((s, dir) => {
      val mkPgm = udf((id: Long) => {
        val base = id / 2
        val header = "P5\n16 16\n255\n".getBytes("US-ASCII")
        val data = new Array[Byte](256)
        var r = 0
        while (r < 16) {
          var c = 0
          while (c < 16) {
            val v = (base * 37 + r * 19 + c * 7) % 251
            var p = (v * v) % 251
            if (id % 2 == 1 && r == 2 && c == 3) p = (p + 1) % 251
            data(r * 16 + c) = p.toByte
            c += 1
          }
          r += 1
        }
        header ++ data
      })
      val media = docs(s, dir).select(col("doc_id").cast("long"))
        .where(col("doc_id") < 64)
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          mkPgm(col("doc_id")).as("payload"),
          struct(lit(16).as("width"), lit(16).as("height"),
            lit(null).cast("int").as("sample_rate"),
            lit(null).cast("int").as("n_frames")).as("meta"))
      graft.sources.Multimodal.dhashPairs(media, maxHamming = 3)
    }),

    // Audio spectrogram (Multimodal.spectrogram): the same formula WAV
    // through the REAL RIFF decode, then framed radix-2 FFT magnitudes
    // (win=16, hop=8, 9 non-redundant bins). The oracle replays the
    // unsigned-8-bit normalization (v/256, exact dyadic) and the DFT
    // as direct cos/sin sums — FFT vs naive DFT agree to ~1e-14,
    // rounded at 1e-6.
    "wav_spectrogram" -> ((s, dir) => {
      val n = 64
      val mkWav = udf((id: Long) => {
        val data = Array.tabulate(n)(t => ((id * 6151 + t * 769) % 256).toByte)
        val bb = java.nio.ByteBuffer.allocate(44 + n)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
          .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
          .putInt(16).putShort(1).putShort(1)
          .putInt(8000).putInt(8000).putShort(1).putShort(8)
          .put("data".getBytes("US-ASCII")).putInt(n).put(data)
        bb.array()
      })
      val media = docs(s, dir).select(col("doc_id").cast("long"))
        .where(col("doc_id") < 64)
        .select(col("doc_id").as("media_id"), lit("audio").as("kind"),
          mkWav(col("doc_id")).as("payload"),
          struct(lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height"),
            lit(8000).as("sample_rate"),
            lit(null).cast("int").as("n_frames")).as("meta"))
      graft.sources.Multimodal.spectrogram(media, win = 16, hop = 8)
        .select(col("media_id"), col("frame"), col("bin"),
          (round(col("mag"), 6) + lit(0.0)).as("mag"))
    }),

    // AIFF branch of the audio decoder (decodeAudio reads 8-bit AIFF as
    // SIGNED PCM — the WAV row exercises the unsigned branch): formula
    // samples encoded through the REAL javax.sound AIFF writer
    // in-query, decoded back through extractFeatures; signed byte v
    // maps to px = (v+128)/256 with v+128 = (u+128) mod 256 for the
    // formula's unsigned u — integer-exact against the mod replay.
    "aiff_audio_stats" -> ((s, dir) => {
      val n = 64
      val mkAiff = udf((id: Long) => {
        val data = Array.tabulate(n)(t => ((id * 6151 + t * 769) % 256).toByte)
        val fmt = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          8000f, 8, 1, 1, 8000f, true)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, n.toLong)
        val out = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.AIFF, out)
        out.toByteArray
      })
      val media = docs(s, dir).select(col("doc_id").cast("long"))
        .where(col("doc_id") < 64)
        .select(col("doc_id").as("media_id"), lit("audio").as("kind"),
          mkAiff(col("doc_id")).as("payload"),
          struct(lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height"),
            lit(8000).as("sample_rate"),
            lit(null).cast("int").as("n_frames")).as("meta"))
      graft.sources.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          round(col("feat")(0) * lit(n * 256)).cast("long").as("sample_sum"),
          round(col("feat")(2) * lit(n * 256)).cast("long").as("edge_sum"))
    }),

    // 16-bit branch of the audio decoder (bytesPerSample == 2, signed
    // little-endian): px = (s/32768 + 1)/2 = (s + 32768)/65536 —
    // dyadic, so 64-sample float sums stay exact and the integer
    // formula replays. Covers the (hi << 8) | lo assembly the 8-bit
    // rows never touch.
    "wav16_audio_stats" -> ((s, dir) => {
      val n = 64
      val mkWav16 = udf((id: Long) => {
        val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
          .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
          .putInt(16).putShort(1).putShort(1) // PCM, mono
          .putInt(8000).putInt(16000).putShort(2).putShort(16) // 16-bit
          .put("data".getBytes("US-ASCII")).putInt(2 * n)
        var t = 0
        while (t < n) {
          val u = ((id * 48871 + t * 6151) % 65536).toInt
          bb.putShort((u - 32768).toShort)
          t += 1
        }
        bb.array()
      })
      val media = docs(s, dir).select(col("doc_id").cast("long"))
        .where(col("doc_id") < 64)
        .select(col("doc_id").as("media_id"), lit("audio").as("kind"),
          mkWav16(col("doc_id")).as("payload"),
          struct(lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height"),
            lit(8000).as("sample_rate"),
            lit(null).cast("int").as("n_frames")).as("meta"))
      graft.sources.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          round(col("feat")(0) * lit(n.toLong * 65536L)).cast("long").as("sample_sum"),
          round(col("feat")(2) * lit(n.toLong * 65536L)).cast("long").as("edge_sum"))
    }),

    // 24-bit BMP byte parser (decodeBmp24: header fields, BGR order,
    // bottom-up rows — the one image branch with no driver row): 8×8
    // formula raster, equal BGR so the float luminance is v ± 1e-5 and
    // the rounded integer sums replay exactly. Width 8 ⇒ rowBytes 24 is
    // already 4-byte aligned, isolating the bottom-up row logic.
    "img_bmp_stats" -> ((s, dir) => {
      val w = 8
      val h = 8
      val n = w * h
      val mkBmp = udf((id: Long) => {
        val rowBytes = w * 3
        val bb = java.nio.ByteBuffer.allocate(54 + rowBytes * h)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put('B'.toByte).put('M'.toByte).putInt(54 + rowBytes * h)
          .putInt(0).putInt(54)
          .putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
          .putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835)
          .putInt(0).putInt(0)
        var r = 0
        while (r < h) {
          var x = 0
          while (x < w) {
            val v = ((id * 31 + (r * w + x) * 7) % 256).toByte
            bb.put(v).put(v).put(v)
            x += 1
          }
          r += 1
        }
        bb.array()
      })
      val media = docs(s, dir).select(col("doc_id").cast("long"))
        .where(col("doc_id") < 64)
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          mkBmp(col("doc_id")).as("payload"),
          struct(lit(w).as("width"), lit(h).as("height"),
            lit(null).cast("int").as("sample_rate"),
            lit(null).cast("int").as("n_frames")).as("meta"))
      graft.sources.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          round(col("feat")(0) * lit(n * 255)).cast("long").as("sample_sum"),
          round(col("feat")(2) * lit(n * 255)).cast("long").as("edge_sum"))
    }),

    // Nearest-neighbor resize between decode and featurization
    // (Multimodal.resizedFeatures — the fixed-raster normalization
    // step): 8×8 PGM formula raster → 5×5, so the oracle replays the
    // kernel's source-index mapping least(7, y·8/5) per output cell.
    "img_resize_stats" -> ((s, dir) => {
      val w = 8
      val h = 8
      val mkPgm = udf((id: Long) => {
        val header = s"P5\n$w $h\n255\n".getBytes("US-ASCII")
        val px = Array.tabulate(w * h)(t => ((id * 7919 + t * 104729) % 256).toByte)
        header ++ px
      })
      val media = docs(s, dir).select(col("doc_id").cast("long"))
        .where(col("doc_id") < 64)
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          mkPgm(col("doc_id")).as("payload"),
          struct(lit(w).as("width"), lit(h).as("height"),
            lit(null).cast("int").as("sample_rate"),
            lit(null).cast("int").as("n_frames")).as("meta"))
      graft.sources.Multimodal.resizedFeatures(media, outW = 5, outH = 5)
        .select(col("media_id"),
          round(col("feat")(0) * lit(25 * 255)).cast("long").as("pixel_sum"),
          round(col("feat")(2) * lit(25 * 255)).cast("long").as("edge_sum"))
    }),

    // Video frame-sampling plan (Multimodal.sampleFrames — every
    // stride-th frame index, n_frames=0 guard): the video modality's
    // Spark-side plumbing (the decode itself is stubbed, container
    // codecs have no JDK reader). n_frames = 1 + id mod 50, stride 7.
    "vid_frame_plan" -> ((s, dir) => {
      val media = docs(s, dir).select(col("doc_id").cast("long"))
        .where(col("doc_id") < 64)
        .select(col("doc_id").as("media_id"), lit("video").as("kind"),
          lit(Array[Byte]()).as("payload"),
          struct(lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height"),
            lit(null).cast("int").as("sample_rate"),
            (lit(1) + pmod(col("doc_id"), lit(50))).cast("int").as("n_frames")).as("meta"))
      graft.sources.Multimodal.sampleFrames(media, stride = 7)
        .select(col("media_id"), col("frame_idx"))
    }),

    // ---------------- dedup II / similarity (oracle where portable) ---
    // Through the size-routed front door: at test SF the count guard
    // routes to the exact triangle (oracle-matchable); past exactLimit
    // the same call becomes IVF — the switch itself is spec-locked in
    // DedupAnnSpec.
    "emb_dedup_cosine" -> ((s, dir) => {
      graft.operators.Dedup.embeddingCosineAuto(emb(s, dir), threshold = 0.4)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
    }),

    // KNeighborsTimeSeriesRegressor with 'distance' weights
    // (neighbors.py:362-372): probes 12..23 against train 0..11,
    // euclidean metric as pure codegen'd HOFs (zip_with + aggregate, no
    // UDF), y = the raw series mean, prediction = Σyᵢ/dᵢ / Σ1/dᵢ over
    // the top-3 — the whole regress path (cross → window top-k →
    // weighted vote) through the real KNeighbors.regress.
    "ts_knn_regress" -> ((s, dir) => {
      val base = TSModel.eventsToSeries(s, dir).where(col("series_id") < 24)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"),
          (aggregate(col("values"), lit(0.0), (acc, x) => acc + x) /
            size(col("values"))).as("y"))
        .localCheckpoint()
      graft.ml.KNeighbors.regress(
        base.where(col("series_id") >= 12), base.where(col("series_id") < 12), 3,
        (a, b) => sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)),
        weights = "distance")
        .select(col("probe_id"), (round(col("y_pred"), 4) + lit(0.0)).as("y_pred"))
    }),

    // LabelCategorizer (utils.py:528-636): fit = sorted distinct labels,
    // transform = one-hot — the last golden-only §2.2 surface, driven
    // over the documents.lang column and exploded to (doc_id, cls, v)
    // so every encoded cell is compared.
    "doc_label_onehot" -> ((s, dir) => {
      val d = docs(s, dir).where(col("doc_id") < 500)
        .select(col("doc_id"), col("lang").as("label"))
      val model = new graft.ml.LabelCategorizer().fit(d)
      model.transform(d)
        .select(col("doc_id"), posexplode(col("y_onehot")))
        .select(col("doc_id"), col("pos").as("cls"), col("col").as("v"))
    }),

    "emb_kmeans_assign" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("values"))
      val seeds = e.where(col("vec_id") < 8).orderBy("vec_id")
        .collect().map(_.getSeq[Double](1).toArray)
      graft.ml.TimeSeriesKMeans.assign(
        e.select(col("vec_id").as("series_id"), col("values")), seeds, "euclidean", 0.0)
        .select(col("series_id").as("vec_id"), col("cluster").as("cell"),
          round(col("dist"), 4).as("dist"))
    }),

    "emb_knn_classify" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("series_id"),
        transform(col("embedding"), x => x.cast("double")).as("values"), col("label"))
      val train = e.where(col("series_id") >= 50)
      val probes = e.where(col("series_id") < 50)
      graft.ml.KNeighbors.classify(probes, train, k = 5,
        (a, b) => -TsFunctions.cosineSim(a, b))
        .select(col("probe_id").as("query_id"), col("label"))
    }),

    // The classifier's weights="distance" vote (neighbors.py:362-372:
    // 1/d per neighbor, d = 1 − cosine so weights are positive) — the
    // regressor's distance vote is green (ts_knn_regress); this closes
    // the classifier side. Label-only output: the vote argmax is robust
    // to last-ulp weight differences.
    "emb_knn_classify_w" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("series_id"),
        transform(col("embedding"), x => x.cast("double")).as("values"), col("label"))
      val train = e.where(col("series_id") >= 50)
      val probes = e.where(col("series_id") < 50)
      graft.ml.KNeighbors.classify(probes, train, k = 5,
        (a, b) => lit(1.0) - TsFunctions.cosineSim(a, b), weights = "distance")
        .select(col("probe_id").as("query_id"), col("label"))
    }),

    // silhouette of the label clustering over the first 200 embeddings —
    // the silhouette operator (clustering/utils.py:66-197) with a full
    // relational oracle (pairwise dists → per-cluster means → (b−a)/max)
    "emb_silhouette" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir).where(col("vec_id") < 200)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"),
          col("label").cast("string").as("label"))
      val pairs = e.select(col("vec_id").as("left_id"), col("v").as("lv"))
        .join(broadcast(e.select(col("vec_id").as("right_id"), col("v").as("rv"))),
          col("left_id") =!= col("right_id"))
        .select(col("left_id"), col("right_id"),
          graft.functions.NativeExpressions.euclideanNative(col("lv"), col("rv")).as("dist"))
      val assign = e.select(col("vec_id").as("series_id"), col("label").as("cluster"))
      val score = graft.ml.TimeSeriesKMeans.silhouette(pairs, assign)
      Seq(math.rint(score * 1e4) / 1e4).toDF("silhouette")
    }),

    // the md5-60 base hash and slice-value band buckets let the DuckDB
    // oracle reproduce the LSH pipeline with IDENTICAL constants
    // (Dedup.minhashCoeffs)
    "doc_minhash_pairs" -> ((s, dir) => {
      graft.operators.Dedup.minhashLsh(docs(s, dir), threshold = 0.35)
        .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
    }),

    // Corpus-level top-k n-grams by document frequency — the
    // vocabulary-induction / contamination-analysis aggregate. One
    // map-side-combined count per distinct (doc, shingle), then a
    // global top-k (tie-break: ngram ascending, rank included so the
    // output is deterministic).
    "doc_ngram_topk" -> ((s, dir) => {
      // orderBy+limit = TakeOrderedAndProject (per-partition heaps, no
      // global sort); the rank window then runs on 20 rows only
      val top = graft.operators.Dedup.shingles(docs(s, dir), k = 3)
        .groupBy(col("sh").as("ngram"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("ngram").asc)
        .limit(20)
      top.withColumn("rank",
          row_number().over(Window.orderBy(col("df").desc, col("ngram").asc)))
        .select(col("rank"), col("ngram"), col("df"))
    }),

    // Benchmark decontamination: corpus docs sharing any word 3-gram
    // with the (broadcast) eval slice, plus the shared count — the
    // "drop eval leaks before training" pipeline step.
    "doc_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.TextAnalysis.contamination(
        d.where(col("doc_id") >= 10), d.where(col("doc_id") < 10), k = 3)
    }),

    // Training-mix allocation (TextAnalysis.mixAllocate): water-fill a
    // 60 %-of-corpus token budget over sources, weights = doc counts,
    // caps = each source's own token mass. Small sources saturate and
    // the surplus redistributes — the oracle replays the sort,
    // prefix-sum and breakpoint arithmetic exactly.
    "doc_mix_allocate" -> ((s, dir) => {
      val per = docs(s, dir).groupBy("source")
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("cap"),
          count(lit(1)).cast("double").as("w"))
        .localCheckpoint()
      val budget = math.floor(0.6 * per.agg(sum("cap")).head().getLong(0)).toLong
      graft.operators.TextAnalysis.mixAllocate(per, budget)
        .select(col("source"), col("cap"),
          (round(col("alloc"), 4) + lit(0.0)).as("alloc"))
    }),

    // JSONL corpus round trip through the REAL sink + source (the
    // interchange format LLM corpora actually ship in): write the
    // documents table as JSON lines with df.write.json, read it back
    // with an explicit schema via spark.read.json, emit the re-read
    // rows (text as md5 to stay narrow) — any escaping / codec / type
    // drift in either direction breaks the oracle, which reads the
    // ORIGINAL parquet.
    "doc_jsonl_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("jsonl_rt").toString
      docs(s, dir).select(col("doc_id"), col("text"), col("lang"), col("source"))
        .write.mode("overwrite").json(tmp)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING")
      // localCheckpoint materializes the re-read rows so the corpus-sized
      // temp copy can be deleted NOW instead of accumulating per run.
      val out = s.read.schema(schema).json(tmp)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
          col("lang"), col("source"))
        .localCheckpoint()
      deleteRecursively(tmp)
      out
    }),

    // Same contract for CSV (the other interchange format): write with
    // header + full quoting, read back with explicit schema,
    // multiLine + escaped quotes on both sides.
    "doc_csv_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("csv_rt").toString
      docs(s, dir).select(col("doc_id"), col("text"), col("lang"), col("source"))
        .write.mode("overwrite").option("header", "true")
        .option("escape", "\"").csv(tmp)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING")
      val out = s.read.schema(schema).option("header", "true")
        .option("escape", "\"").option("multiLine", "true").csv(tmp)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
          col("lang"), col("source"))
        .localCheckpoint()
      deleteRecursively(tmp)
      out
    }),

    // Same contract for ORC (the columnar interchange format big
    // warehouses still speak): write → re-read through Spark's native
    // vectorized ORC reader. Unlike JSONL/CSV the schema rides in the
    // file, so the re-read asserts the WRITTEN footer schema survived
    // the trip rather than trusting an explicit one.
    "doc_orc_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("orc_rt").toString
      docs(s, dir).select(col("doc_id"), col("text"), col("lang"), col("source"))
        .write.mode("overwrite").orc(tmp)
      val out = s.read.orc(tmp)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
          col("lang"), col("source"))
        .localCheckpoint()
      deleteRecursively(tmp)
      out
    }),

    // The composed curation pipeline — the end-to-end shape a
    // pretraining-data job actually runs, as ONE dataflow: PII
    // injection (doc_pii_redact's formula) → the real redaction chain
    // → a token-count quality floor → temperature (n^0.5) mixture
    // sampling of the survivors → greedy context-window packing of
    // the selected docs. Every stage feeds the next (redaction
    // changes token counts, which move the floor, the mixture AND the
    // pack fills), so a defect anywhere cascades into wrong packs.
    "doc_pipeline_curate" -> ((s, dir) => {
      val id = col("doc_id")
      val aug = docs(s, dir).select(id, col("source"),
        concat(col("text"),
          lit(" contact user"), id.cast("string"), lit("@mail.example.com"),
          when(id % 2 === 0,
            concat(lit(" from 10."), (id % 256).cast("string"), lit("."),
              ((id * 7 + 3) % 256).cast("string"), lit(".25")))
            .otherwise(lit("")),
          when(id % 3 === 0,
            concat(lit(" call +1415555"),
              lpad((id % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("text"))
      val red = graft.operators.TextAnalysis.piiRedact(aug)
        .select(id, col("source"), col("red").as("text"))
      val floored = red.where(size(split(col("text"), " ")) >= 20)
        .localCheckpoint()
      val sel = graft.operators.TextAnalysis
        .temperatureSample(floored, alpha = 0.5, budget = 200)
      graft.operators.TextAnalysis.packSequences(
        floored.join(sel.select("doc_id"), "doc_id"), ctxLen = 256)
    }),

    // Temperature-based mixture sampling (TextAnalysis
    // .temperatureSample): source share ∝ n_s^α — the mT5/XLM
    // α-sampling rule. Targets on the per-source aggregate relation,
    // per-source selection by salted-two-window md5 rank (the
    // sourceCap machinery with a per-source cap).
    "doc_sample_temperature" -> ((s, dir) =>
      graft.operators.TextAnalysis.temperatureSample(
        docs(s, dir), alpha = 0.5, budget = 300)),

    // Deterministic hash-mod sampling: keep a doc iff
    // md5("salt:" || doc_id) mod 100 < rate — the stateless,
    // partition-independent, re-run-stable uniform sample (the scale
    // answer to reservoir sampling: no state, no coordination, any
    // executor can decide membership locally; rerunning over re-split
    // inputs keeps the EXACT same sample).
    "doc_sample_hash" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          pmod(graft.operators.Dedup.md5Hash60(
            concat(lit("s1:"), col("doc_id").cast("string"))), lit(100L))
            .as("bucket"))
        .where(col("bucket") < 10)),

    // Weighted sampling without replacement (Efraimidis–Spirakis
    // A-Res order): key_i = ln(u_i)/w_i with u_i a deterministic md5
    // uniform and w_i the doc's token count; the k LARGEST keys are a
    // weighted sample without replacement. Stateless and
    // partition-independent like doc_sample_hash, but
    // length-proportional — and the plan is a TakeOrdered top-k
    // (per-partition heaps + driver merge of k rows), never a full
    // corpus sort.
    "doc_sample_weighted" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("double").as("w"),
          graft.operators.Dedup.md5Hash60(
            concat(lit("ws:"), col("doc_id").cast("string"))).as("h60"))
        .withColumn("key",
          log((col("h60").cast("double") + 1.0d) / math.pow(2.0, 60)) / col("w"))
        .orderBy(col("key").desc, col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("w").cast("long").as("n_tokens"),
          (round(col("key"), 6) + lit(0.0)).as("key"))),

    // PII redaction (TextAnalysis.piiRedact): emails, IPv4s and
    // +-prefixed phone numbers swapped for typed placeholders with
    // per-doc match counts. The corpus is synthetic word salad, so
    // the PII is INJECTED in-query from doc_id (the formula-document
    // convention: both engines derive the same augmented text; the
    // Spark side must then push it through the REAL redaction
    // operator — regex chain order and all). Every doc gains an
    // email; even docs an IP; docs ≡0 (mod 3) a phone number.
    "doc_pii_redact" -> ((s, dir) => {
      val id = col("doc_id")
      val aug = docs(s, dir).select(id,
        concat(col("text"),
          lit(" contact user"), id.cast("string"), lit("@mail.example.com"),
          when(id % 2 === 0,
            concat(lit(" from 10."), (id % 256).cast("string"), lit("."),
              ((id * 7 + 3) % 256).cast("string"), lit(".25")))
            .otherwise(lit("")),
          when(id % 3 === 0,
            concat(lit(" call +1415555"),
              lpad((id % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("text"))
      graft.operators.TextAnalysis.piiRedact(aug)
        .select(id, col("n_email").cast("long").as("n_email"),
          col("n_ip").cast("long").as("n_ip"),
          col("n_phone").cast("long").as("n_phone"),
          length(col("red")).cast("long").as("red_len"),
          md5(col("red")).as("red_md5"))
    }),

    // The learned BPE tokenizer APPLIED (TextAnalysis.bpeEncode):
    // after the same 3 merges doc_bpe_merges learns, every vocabulary
    // word's final segmentation — encode is where a tokenizer earns
    // its keep, and the whole apply loop stays on the
    // vocabulary-bounded relation (the corpus is touched once; each
    // merge pass is a codegen'd projection). The oracle replays the
    // merge CASCADE and then reads the final symbol layer, so a wrong
    // greedy walk anywhere shows up as a wrong segmentation here.
    "doc_bpe_encode" -> ((s, dir) =>
      graft.operators.TextAnalysis.bpeEncode(docs(s, dir), steps = 3)),

    // The tokenizer SERVED (TextAnalysis.bpeTokenize): per-doc token
    // counts under the learned merges — the vocabulary-bounded
    // segmentation table broadcast against one corpus scan. This is
    // the budget number the packing/histogram/mix planners consume;
    // the oracle joins the replayed final symbol layer back onto the
    // corpus words, so a wrong segmentation anywhere shifts some
    // doc's count.
    "doc_bpe_tokenize" -> ((s, dir) =>
      graft.operators.TextAnalysis.bpeTokenize(docs(s, dir), steps = 3)),

    // Bloom-filter decontamination (TextAnalysis.bloomBits /
    // bloomContamination): the membership-sketch variant of
    // doc_contamination — the eval set compressed into an m-bounded
    // bit relation; a shingle flags iff ALL k of its positions are
    // set (false positives only, deterministic, oracle-replayed).
    "doc_bloom_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      val bits = graft.operators.TextAnalysis.bloomBits(
        d.where(col("doc_id") < 10), m = 65536)
      graft.operators.TextAnalysis.bloomContamination(
        d.where(col("doc_id") >= 10), bits.localCheckpoint(), m = 65536)
    }),

    // Near-dup clusters: minhash pairs → connected components (min-label
    // propagation), singletons mapping to themselves — the step that
    // turns a pair list into "keep one doc per cluster".
    "doc_dedup_clusters" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = graft.operators.Dedup.minhashLsh(d, threshold = 0.35)
      val comps = graft.operators.Dedup.connectedComponents(pairs)
      d.select(col("doc_id")).join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
    }),

    // Quality-aware near-dup collapse: the step AFTER clustering — each
    // near-dup cluster keeps its best-quality member (ties broken by
    // doc_id), everything else is dropped. The representative choice is
    // a per-cluster window over the quality score; cluster sizes are
    // bounded by the near-dup cliques themselves, so the window never
    // sees corpus-scale partitions at any data size.
    "doc_dedup_keep_best" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = graft.operators.Dedup.minhashLsh(d, threshold = 0.35)
      val comps = graft.operators.Dedup.connectedComponents(pairs)
      val q = d.select(col("doc_id"),
        graft.operators.TextAnalysis.qualityScore(col("text")).as("quality"))
      val withC = q.join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"), col("quality"))
      val w = Window.partitionBy("cluster")
        .orderBy(col("quality").desc, col("doc_id").asc)
      withC.withColumn("keep", (row_number().over(w) === 1).cast("int"))
    }),

    "doc_simhash" -> ((s, dir) => {
      graft.operators.Dedup.simhash(docs(s, dir))
    }),

    // banded simhash near-dup pairs; the 4×15-bit pigeonhole makes the
    // band filter LOSSLESS for hamming ≤ 3, so the oracle is the plain
    // all-pairs hamming join
    "doc_simhash_pairs" -> ((s, dir) => {
      graft.operators.Dedup.simhashPairs(docs(s, dir), maxHamming = 3)
    }),

    // ---------------- clustering / barycenters -----------------------
    // Full 10-iteration Lloyd trace of the estimator, oracle-backed:
    // init="first" seeds from series 0..k-1 and tol=-1 disables the
    // early stop, so the DuckDB oracle (an unrolled assign/update CTE
    // chain, kmeansTraceSql) reproduces the exact fixed-point. Lloyd
    // no-ops once converged, so running all 10 updates is equivalent to
    // the tol-gated loop on converged data.
    "ts_kmeans" -> ((s, dir) => {
      // localCheckpoint: fit and predict both consume the prepared
      // series; without it the events→series→resample pipeline runs twice
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
        .localCheckpoint()
      val model = new graft.ml.TimeSeriesKMeans(k = 4, metric = "euclidean",
        maxIter = 10, tol = -1.0, init = "first").fit(series)
      model.predict(series)
        .select(col("series_id"), col("cluster"), round(col("dist"), 4).as("dist"))
    }),

    "ts_dba" -> ((s, dir) => {
      import s.implicits._
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
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
      val z = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
        .localCheckpoint()
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
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
        .as[(Long, Array[Double])]
      val b = graft.ml.DistributedBary.dba(series.map(_._2), maxIter = 1)
      b.toSeq.zipWithIndex.map { case (v, t) => (t, v) }
        .toDF("t", "v")
        .select(col("t"), (round(col("v"), 4) + lit(0.0)).as("v"))
    }),

    "emb_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = e.where(col("vec_id") < 10)
      val cands = e.where(col("vec_id") >= 10)
      // fixed data-row quantizer (vec_id 10..25) instead of the sampled
      // k-means of Ann.trainCoarse, so the DuckDB oracle reproduces cell
      // assignment + probing exactly (trainCoarse stays the ml-path
      // default, recall-tested in DedupAnnSpec)
      val centroids = e.where(col("vec_id") >= 10 && col("vec_id") < 26)
        .orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
      graft.operators.Ann.ivfTopK(cands, queries, k = 5, centroids, nprobe = 4)
        .select(col("query_id"), col("rank"), col("cand_id"), round(col("cos"), 4).as("cos"))
    }),

    // Hyperplane (sign-random-projection) LSH ANN — the third scale
    // path next to brute (emb_knn_cosine) and IVF (emb_ann_ivf):
    // 16 formula hyperplanes → 4 bands of 4 sign bits, candidate iff
    // any band code matches, exact cosine on survivors only. The
    // signature pass is codegen'd HOFs (no UDF), candidates come from
    // an equi-join on (band, code). Deterministic planes ⇒ the oracle
    // replays buckets exactly (recall-vs-brute is spec'd, DedupAnnSpec).
    "emb_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = e.where(col("vec_id") < 10)
      val cands = e.where(col("vec_id") >= 10)
      // 16/4 pinned explicitly: the oracle replays exactly these 16
      // planes; the operator DEFAULT is the scale-aware auto derivation
      // (Ann.autoLshParams), which at this fixture size resolves to a
      // different banding
      graft.operators.Ann.lshTopK(cands, queries, k = 5, dim = 64,
          nBits = 16, nBands = 4)
        .select(col("query_id"), col("rank"), col("cand_id"), round(col("cos"), 4).as("cos"))
    }),

    // Product-quantization ANN (Jégou et al. TPAMI 2011) — the fourth
    // ANN path next to brute / IVF / LSH: 64 dims split into 8
    // subspaces, per-subspace codebook = the matching subvectors of
    // data rows 10..17 (the emb_ann_ivf fixed-quantizer pattern, so
    // the oracle replays encode + ADC exactly), candidates scored from
    // their 8 codes alone (asymmetric distance).
    "emb_ann_pq" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = e.where(col("vec_id") < 10)
      val cands = e.where(col("vec_id") >= 10)
      val rows = e.where(col("vec_id") >= 10 && col("vec_id") < 18)
        .orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
      val dsub = 8
      val codebooks = Array.tabulate(8)(sIdx =>
        rows.map(r => r.slice(sIdx * dsub, sIdx * dsub + dsub)))
      graft.operators.Ann.pqTopK(cands, queries, k = 5, codebooks)
        .select(col("query_id"), col("rank"), col("cand_id"),
          (round(col("d2"), 4) + lit(0.0)).as("d2"))
    }),

    // IVF-PQ (the FAISS-style industrial composition): 16 fixed
    // data-row cells pruned to nprobe=4 per query, candidates scored
    // from their 8 PQ codes alone — the scored relation carries only
    // (id, cell, codes). Same pinned quantizer/codebooks as
    // emb_ann_ivf / emb_ann_pq, so the whole pipeline replays in SQL.
    "emb_ann_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = e.where(col("vec_id") < 10)
      val cands = e.where(col("vec_id") >= 10)
      val centroids = e.where(col("vec_id") >= 10 && col("vec_id") < 26)
        .orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
      val rows = centroids.take(8)
      val dsub = 8
      val codebooks = Array.tabulate(8)(sIdx =>
        rows.map(r => r.slice(sIdx * dsub, sIdx * dsub + dsub)))
      graft.operators.Ann.ivfPqTopK(cands, queries, k = 5, centroids,
        nprobe = 4, codebooks)
        .select(col("query_id"), col("rank"), col("cand_id"),
          (round(col("d2"), 4) + lit(0.0)).as("d2"))
    }),

    // IVF-PQ with the production exact-rerank stage (SCALEPROBE round 12:
    // pure ADC saturates ~0.5 recall@10 at 1 M from 8-byte quantization
    // error; the rerank equi-joins ONLY the ADC shortlist's exact
    // vectors back — rerank·|queries| rows, never the corpus): same
    // pinned quantizer/codebooks, ADC top-20 shortlist, exact cosine
    // re-ranks to the final 5.
    "emb_ann_ivfpq_rr" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = e.where(col("vec_id") < 10)
      val cands = e.where(col("vec_id") >= 10)
      val centroids = e.where(col("vec_id") >= 10 && col("vec_id") < 26)
        .orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
      val rows = centroids.take(8)
      val dsub = 8
      val codebooks = Array.tabulate(8)(sIdx =>
        rows.map(r => r.slice(sIdx * dsub, sIdx * dsub + dsub)))
      graft.operators.Ann.ivfPqTopK(cands, queries, k = 5, centroids,
        nprobe = 4, codebooks, rerank = 20)
        .select(col("query_id"), col("rank"), col("cand_id"),
          (round(col("cos"), 4) + lit(0.0)).as("cos"))
    }),

    // Scalar (int8) quantization ANN — the SQ sibling of PQ: per-vector
    // min/max affine byte grid, no codebook, encode + asymmetric
    // scoring all built-in expressions (no UDF; no exchange beyond the
    // top-k window — plan-locked). The scored side carries only
    // (id, vmin, vmax, codes) — the 4× in-memory-index compression at
    // 100 TB.
    "emb_ann_sq8" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = e.where(col("vec_id") < 10)
      val cands = e.where(col("vec_id") >= 10)
      graft.operators.Ann.sqTopK(cands, queries, k = 5)
        .select(col("query_id"), col("rank"), col("cand_id"),
          (round(col("d2"), 4) + lit(0.0)).as("d2"))
    }),

    // ---------------- loader round trips (SURVEY §2.1) ---------------
    // The img_png_stats pattern applied to the text loaders: write a
    // FORMULA-generated document in-query, parse it through the REAL
    // loader pipeline (header filter, tokenizer, casts, id assignment),
    // and emit the parsed cells against the formula recomputed in SQL —
    // a parser regression breaks the row. v(s,t) = ((7s+3t) mod 11) −
    // 4.5 (exactly representable halves), label = s mod 3.
    "arff_roundtrip" -> ((s, dir) => {
      val nS = 16
      val sz = 12
      val sb = new StringBuilder("@relation synth\n")
      (1 to sz).foreach(t => sb ++= s"@attribute t$t numeric\n")
      sb ++= "@attribute target {0,1,2}\n@data\n"
      for (i <- 0 until nS) {
        val vals = (0 until sz).map(t => ((i * 7 + t * 3) % 11) - 4.5)
        sb ++= vals.mkString(",") + "," + (i % 3) + "\n"
      }
      val f = java.nio.file.Files.createTempFile("graft_arff", ".arff")
      f.toFile.deleteOnExit()
      java.nio.file.Files.writeString(f, sb.toString)
      graft.sources.Arff.load(s, f.toString)
        .select(col("series_id"), col("label"),
          posexplode(expr("transform(ts, x -> x[0])")).as(Seq("t", "v")))
        .select(col("series_id"), col("t"), col("v"), col("label"))
    }),

    "ucr_txt_roundtrip" -> ((s, dir) => {
      val nS = 16
      val sz = 12
      val sb = new StringBuilder
      for (i <- 0 until nS) {
        val vals = (0 until sz).map(t => ((i * 7 + t * 3) % 11) - 4.5)
        sb ++= (i % 3).toString + " " + vals.mkString(" ") + "\n"
      }
      val f = java.nio.file.Files.createTempFile("graft_ucr", ".txt")
      f.toFile.deleteOnExit()
      java.nio.file.Files.writeString(f, sb.toString)
      graft.sources.Datasets.UcrUea.loadTxt(s, f.toString)
        .select(col("series_id"), col("label"),
          posexplode(col("values")).as(Seq("t", "v")))
        .select(col("series_id"), col("t"), col("v"), col("label"))
    }),

    // The tslearn dim-major text codec ("v v v|w w w",
    // utils.py:219-291) through the REAL loadTimeSeriesTxt path
    // (spark.read.text → parseSeriesLine → time-major transpose) on a
    // d=2 formula document.
    "ts_txt_roundtrip" -> ((s, dir) => {
      val nS = 12
      val sz = 10
      val sb = new StringBuilder
      for (i <- 0 until nS) {
        def v(dIdx: Int, t: Int) = ((i * 5 + t * 3 + dIdx * 7) % 13) - 6.5
        sb ++= (0 until sz).map(v(0, _)).mkString(" ") + "|" +
          (0 until sz).map(v(1, _)).mkString(" ") + "\n"
      }
      val f = java.nio.file.Files.createTempFile("graft_ts", ".txt")
      f.toFile.deleteOnExit()
      java.nio.file.Files.writeString(f, sb.toString)
      TSModel.loadTimeSeriesTxt(s, f.toString)
        .select(col("series_id"), posexplode(col("ts")).as(Seq("t", "vs")))
        .select(col("series_id"), col("t"),
          element_at(col("vs"), 1).as("d0"), element_at(col("vs"), 2).as("d1"))
    }),

    // ---------------- bundled dataset tier (SURVEY §2.1) -------------
    // 1-NN euclidean classify on the bundled Trace fixture — exercises
    // CachedDatasets.loadDataset with a full DuckDB oracle (absolute
    // fixture path, independent of sfDir). Label-only output: integer
    // compare, no float-hash fragility.
    "ucr_trace_1nn" -> ((s, dir) => {
      val (train, test) = graft.sources.Datasets.CachedDatasets
        .loadDataset(s, "Trace", "/root/repo/data/cached")
      val scored = test.select(col("series_id"), col("values").as("qv"))
        .crossJoin(broadcast(train.select(col("series_id").as("train_id"),
          col("label").as("pred"), col("values").as("tv"))))
        .select(col("series_id"), col("train_id"), col("pred"),
          graft.functions.NativeExpressions.euclideanNative(col("qv"), col("tv")).as("d"))
      // argmin by (d, train_id) via min(struct(...)) — partial-agg, no
      // window exchange, and the UDF distance is never a sort key
      // (Catalyst re-evaluates UDF sort keys; measured 12x slower)
      scored.groupBy("series_id")
        .agg(min(struct(col("d"), col("train_id"), col("pred")))
          .getField("pred").as("pred"))
    }),

    // Shapelet-transform with fixed deterministic shapelets (three
    // length-8 subsequences of series 0) — the sliding-min-distance
    // operator (Shapelets.minDist / transform) driver-verified; only
    // the LR head of ts_shapelet_classify stays rows-only.
    "ts_shapelet_transform" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
      val s0 = series.where(col("series_id") === 0)
        .select("values").collect()(0).getSeq[Double](0).toArray
      val shapelets = Array(s0.slice(0, 8), s0.slice(8, 16), s0.slice(16, 24))
      graft.ml.Shapelets.transform(series, shapelets)
        .select(col("series_id"),
          round(element_at(col("shapelet_features"), 1), 4).as("f0"),
          round(element_at(col("shapelet_features"), 2), 4).as("f1"),
          round(element_at(col("shapelet_features"), 3), 4).as("f2"))
    }),

    // ---------------- composite estimators (rows-only) ---------------
    // Full shapelet-classifier fit, driver-verified end to end: the
    // ts_shapelet_step setup (3 shapelets sliced from series 0, the
    // fixed w0[c][k] = (c+1)(k+1)/10 head, purchase>5 binary labels)
    // trained for EXACTLY 10 full bias-corrected Adam steps
    // (Shapelets.refineLoop — one distributed GradAgg pass per step),
    // then a deterministic predict: min-pool features against the final
    // shapelets, margin = logit(true) − logit(false), strict > 0 →
    // 'true'. shapeletTraceSql replays every step INCLUDING the Adam
    // moment state. (The reference-default MLlib-LR head remains the
    // production path in Shapelets.fit.)
    "ts_shapelet_classify" -> ((s, dir) => {
      import s.implicits._
      val z = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
        .localCheckpoint()
      val s0 = z.where(col("series_id") === 0).head().getSeq[Double](1).toArray
      val shp0 = Array(s0.slice(0, 8), s0.slice(8, 16), s0.slice(16, 24))
      val labelsDf = ev(s, dir).groupBy(col("user_id").as("series_id"))
        .agg((sum(when(col("event_type") === "purchase", 1).otherwise(0)) > 5)
          .cast("string").as("label"))
      val df = z.join(labelsDf, "series_id")
      val w0 = Array.tabulate(2, 3)((c, k) => (c + 1) * (k + 1) / 10.0)
      val (shp, w, b) = graft.ml.Shapelets.refineLoop(
        df, shp0, w0, new Array[Double](2), lr = 0.1, iters = 10,
        labels = Array("false", "true"))
      val feats = graft.ml.Shapelets.transform(z, shp)
      // per-class logit then margin — the same association order as the
      // SQL oracle (sum(w·f) + b per class, then the difference)
      val l0 = (0 until 3).map(k => lit(w(0)(k)) * col("shapelet_features")(k))
        .reduce(_ + _) + lit(b(0))
      val l1 = (0 until 3).map(k => lit(w(1)(k)) * col("shapelet_features")(k))
        .reduce(_ + _) + lit(b(1))
      feats.select(col("series_id"), (l1 - l0).as("m0"))
        .select(col("series_id"),
          when(col("m0") > 0, "true").otherwise("false").as("pred"),
          (round(col("m0"), 4) + lit(0.0)).as("margin"))
    }),

    // One refined-shapelet gradient step, fully driver-verified: the
    // three fixed length-8 shapelets cut from series 0 (the oracled
    // ts_shapelet_transform set), deterministic head weights
    // w0[c][k] = (c+1)(k+1)/10, b0 = 0, and ONE GradAgg pass + Adam(t=1)
    // update — min-pool forward, softmax, argmin subgradient backward —
    // each ingredient relational in DuckDB (shapeletStepOracleSql).
    // Exercises the fitRefined machinery the rows-only
    // ts_shapelet_classify can't expose to the oracle.
    "ts_shapelet_step" -> ((s, dir) => {
      import s.implicits._
      val z = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
        .localCheckpoint()
      val s0 = z.where(col("series_id") === 0).head().getSeq[Double](1).toArray
      val shp0 = Array(s0.slice(0, 8), s0.slice(8, 16), s0.slice(16, 24))
      val labelsDf = ev(s, dir).groupBy(col("user_id").as("series_id"))
        .agg((sum(when(col("event_type") === "purchase", 1).otherwise(0)) > 5)
          .cast("string").as("label"))
      val df = z.join(labelsDf, "series_id")
      val w0 = Array.tabulate(2, 3)((c, k) => (c + 1) * (k + 1) / 10.0)
      val (shp1, w1, b1) = graft.ml.Shapelets.refineStep(
        df, shp0, w0, new Array[Double](2), lr = 0.1,
        labels = Array("false", "true"))
      val rows =
        shp1.toSeq.zipWithIndex.flatMap { case (sv, k) =>
          sv.toSeq.zipWithIndex.map { case (x, t) => ("shp", k, t, x) } } ++
        w1.toSeq.zipWithIndex.flatMap { case (wc, c) =>
          wc.toSeq.zipWithIndex.map { case (x, k) => ("w", c, k, x) } } ++
        b1.toSeq.zipWithIndex.map { case (x, c) => ("b", c, 0, x) }
      rows.toDF("kind", "i", "j", "v")
        .select(col("kind"), col("i"), col("j"),
          (round(col("v"), 4) + lit(0.0)).as("v"))
    }),

    "ts_early_classify" -> ((s, dir) => {
      val labels = ev(s, dir).groupBy(col("user_id").as("series_id"))
        .agg((sum(when(col("event_type") === "purchase", 1).otherwise(0)) > 5)
          .cast("string").as("label"))
      // localCheckpoint, not cache: fit + predict both consume it, but a
      // query-scope cache is never unpersisted and pins blocks for the
      // rest of a 63-query Bench session
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
        .join(labels, "series_id").localCheckpoint()
      val model = new graft.ml.EarlyClassifier(tGrid = Seq(8, 16, 32), lambdaCost = 0.005)
        .fit(series)
      model.predict(series)
    }),

    // ---------------- kernel-metric queries --------------------------
    // Integer-only output (probe, rank, neighbor) so the DuckDB oracle
    // (LB-prune mirror + banded DTW DP unrolled as a 32-step CTE chain,
    // knnDtwOracleSql) compares without float-hash fragility.
    "knn_dtw_users" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
        .localCheckpoint() // both kNN sides; GC-managed, no session pin
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
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
        .localCheckpoint()
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

    // ---------------- multivariate (d=2) kernel path -----------------
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
      val z = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
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
      val sorted = ev(s, dir).groupBy("user_id").agg(
        array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("value")))).as("sv"))
      val series = sorted.select(col("user_id"),
          TsFunctions.resampleZnormUdf(expr("transform(sv, e -> e.value)"), lit(16)).as("x"),
          TsFunctions.resampleZnormUdf(
            expr("transform(sv, (e, i) -> CASE WHEN i = 0 THEN CAST(0 AS DOUBLE) " +
              "ELSE CAST(e.ts_us - sv[i-1].ts_us AS DOUBLE) END)"),
            lit(16)).as("y"))
        .select(col("user_id"), zip_with(col("x"), col("y"), (a, b) => array(a, b)).as("mv"))
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
    // oracle computes arithmetically. Same d=2 series construction as
    // ts_dtw_mv_pairs (value + inter-arrival channels, resample-znorm
    // to 16).
    "ts_sklearn_cast" -> ((s, dir) => {
      val sorted = ev(s, dir).groupBy("user_id").agg(
        array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("value")))).as("sv"))
      val series = sorted.select(col("user_id"),
          TsFunctions.resampleZnormUdf(expr("transform(sv, e -> e.value)"), lit(16)).as("x"),
          TsFunctions.resampleZnormUdf(
            expr("transform(sv, (e, i) -> CASE WHEN i = 0 THEN CAST(0 AS DOUBLE) " +
              "ELSE CAST(e.ts_us - sv[i-1].ts_us AS DOUBLE) END)"),
            lit(16)).as("y"))
        .select(col("user_id"), zip_with(col("x"), col("y"), (a, b) => array(a, b)).as("mv"))
      series
        .select(col("user_id"), TSModel.toSklearnFlat(col("mv")).as("flat"))
        .withColumn("rest", TSModel.fromSklearnFlat(col("flat"), 2))
        .select(col("user_id"), col("rest"), posexplode(col("flat")).as(Seq("idx", "vf")))
        .select(col("user_id"), col("idx"),
          (round(col("vf"), 4) + lit(0.0)).as("v_flat"),
          (round(element_at(element_at(col("rest"),
            (col("idx") / 2).cast("int") + 1), (col("idx") % 2).cast("int") + 1), 4)
            + lit(0.0)).as("v_restored"))
    }),

    // ---------------- kernel-DP metrics with full SQL oracles --------
    // LCSS / SBD / GAK / soft-DTW between adjacent users. Each of these
    // was previously golden-tested only; the DuckDB oracles make the
    // kernel DPs driver-verified: LCSS as a running-max DP chain
    // (lcssOracleSql), SBD as direct O(sz²) cross-correlation
    // (sbdOracleSql), GAK and soft-DTW through one shared sum-product
    // chain (sumProdChainSql) — soft-DTW's exp(-cost/γ) substitution
    // turns its soft-min recurrence into GAK's sum-product shape.
    "ts_lcss_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
        .localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          // lcss() returns len/min(l1,l2); both sides are sz=32 so the
          // raw integer DP length is exactly recoverable (dyadic ratio)
          round(TsFunctions.lcssUdf(col("a.values"), col("b.values"), lit(0.5)) * 32)
            .cast("int").as("lcss_len"))
    }),

    "ts_sbd_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
        .localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          round(TsFunctions.sbdUdf(col("a.values"), col("b.values")), 4).as("sbd"))
    }),

    "ts_gak_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          round(TsFunctions.gakUdf(col("a.values"), col("b.values"), lit(1.0)), 4).as("gak"))
    }),

    "ts_softdtw_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
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

    // ---------------- L-DTW / subsequence DTW / normalized soft-DTW --
    // The last golden-only DP metrics driver-verified. L-DTW
    // (dtw_limited_warping_length, dtw_variants.py:468-743) replays as a
    // layered path-length DP: layer s = min cost of reaching each cell
    // in exactly s+1 steps, answer = min over layers at the terminal
    // cell. The DP here is Advanced.dtwLimitedWarpingLength's rolling
    // two-layer loop.
    "ts_ldtw_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(12)).as("values"))
        .localCheckpoint()
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

    // ---------------- kernel k-means full fit (kmeans.py:136-457) ----
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

    // ---------------- SVC decision function (svm.py:198) -------------
    // First driver signal for the SVC family. The SMO solve is a
    // driver-side iterative QP (not replayable), but the decision
    // SURFACE is: pin a formula dual solution (αy per support vector,
    // bias 0.25) and evaluate it through the real margin path —
    // TimeSeriesSVC.decisionFunction's distributed GAK gram + broadcast
    // weighted sum — against the green all-ordered-pairs GAK chain
    // with the same formula weights replayed in SQL.
    "ts_svc_decision" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 16)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      val svIds = (0L until 8L).toArray
      val alphaY = svIds.map(id => ((id * 37 + 11) % 19 - 9) / 10.0)
      val bm = graft.ml.TimeSeriesSVC.BinaryModel(svIds, alphaY, b = 0.25)
      graft.ml.TimeSeriesSVC.decisionFunction(bm,
        series.where(col("series_id") >= 8),
        series.where(col("series_id") < 8), sigma = 1.0)
        .select(col("probe_id"),
          (round(col("decision"), 4) + lit(0.0)).as("decision"))
    }),

    // SVR prediction surface (svm.py:276-421): f(x) = b + Σⱼ βⱼ·K(x,svⱼ)
    // with a formula-pinned dual solution through the real
    // TimeSeriesSVR.predict path (broadcast β join + one weighted-sum
    // agg) — the regression twin of ts_svc_decision; the SMO solve
    // itself stays golden, as for the SVC.
    "ts_svr_predict" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 16)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      val svIds = (0L until 8L).toArray
      val beta = svIds.map(id => ((id * 29 + 3) % 17 - 8) / 10.0)
      val m = graft.ml.TimeSeriesSVR.Model(svIds, beta, b = -0.15, sigma = 1.0)
      graft.ml.TimeSeriesSVR.predict(m,
        series.where(col("series_id") >= 8),
        series.where(col("series_id") < 8))
        .select(col("series_id").as("probe_id"),
          (round(col("prediction"), 4) + lit(0.0)).as("prediction"))
    }),

    // One SMO working-set iteration (svm.py:44-57's libsvm solve) as
    // pure DataFrame algebra over the distributed normalized-GAK gram:
    // error pass, first-order i* selection, second-order (WSS2) j*
    // selection, analytic two-α update + Platt bias recompute — the
    // solver INTERNALS as driver signal (the full solve stays golden).
    // Duals start at the formula α(id) = ((id·7+3) mod 10)/10, labels
    // y = ±1 by id parity, C = 1, b = 0.
    "ts_svc_smo_step" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 12)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      val pairs = graft.operators.Cdist.selfCross(series,
        (a, b) => TsFunctions.gakUdf(a, b, lit(1.0)), computeDiagonal = false)
      val gram = pairs.union(series.select(col("series_id").as("left_id"),
        col("series_id").as("right_id"), lit(1.0)))
      val labeled = series.select(col("series_id").as("id"),
        when(col("series_id") % 2 === 0, 1.0).otherwise(-1.0).as("y"),
        (((col("series_id") * 7 + 3) % 10) / lit(10.0)).as("a"))
      graft.ml.TimeSeriesSVC.smoStep(gram, labeled, b0 = 0.0, cReg = 1.0)
        .select(col("id"), col("i_id"), col("j_id"),
          (round(col("ai_new"), 4) + lit(0.0)).as("ai_new"),
          (round(col("aj_new"), 4) + lit(0.0)).as("aj_new"),
          (round(col("b_new"), 4) + lit(0.0)).as("b_new"),
          (round(col("f_after"), 4) + lit(0.0)).as("f_after"))
    }),

    // ------- MLP forward pass (neural_network/neural_network.py:108) -
    // First driver signal for the MLP family. The L-BFGS fit is a
    // driver solve (not replayable), but the FORWARD pass is pure
    // arithmetic: pin formula weights (4 tanh hidden units over sz=16)
    // and run them through the real TimeSeriesMLPRegressor.Model
    // .predict path (broadcast model, one UDF pass) against the same
    // matmul+tanh replayed in SQL.
    "ts_mlp_forward" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
      val model = graft.ml.TimeSeriesMLPRegressor.Model(
        w1 = Array.tabulate(4, 16)((h, i) => ((h * 31 + i * 17 + 7) % 23 - 11) / 25.0),
        b1 = Array.tabulate(4)(h => (h - 1.5) / 10.0),
        w2 = Array.tabulate(4)(h => ((h * 13 + 5) % 11 - 5) / 10.0),
        b2 = 0.1)
      model.predict(series)
        .select(col("series_id").as("user_id"),
          (round(col("prediction"), 4) + lit(0.0)).as("prediction"))
    }),

    // One full-batch gradient step of the same tanh net
    // (TimeSeriesMLPRegressor.gradStep — the distributed twin of one
    // L-BFGS objective evaluation): forward, backprop, fixed-η=0.5
    // update, starting from the ts_mlp_forward formula weights with
    // target(id) = ((id·13+7) mod 21 − 10)/10. Output = the post-step
    // PARAMETER relation (h·d + 2h + 1 = 73 rows at any corpus size).
    "ts_mlp_step" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"),
          ((((col("series_id") * 13 + 7) % 21) - 10) / lit(10.0)).as("target"))
      val w1 = s.range(4).select(col("id").as("h"))
        .crossJoin(s.range(16).select(col("id").as("i")))
        .withColumn("w", (((col("h") * 31 + col("i") * 17 + 7) % 23) - 11) / lit(25.0))
      val b1 = s.range(4).select(col("id").as("h"),
        ((col("id") - 1.5) / 10.0).as("b"))
      val w2 = s.range(4).select(col("id").as("h"),
        ((((col("id") * 13 + 5) % 11) - 5) / lit(10.0)).as("w"))
      graft.ml.TimeSeriesMLPRegressor.gradStep(series, w1, b1, w2,
          b2 = 0.1, eta = 0.5)
        .select(col("param"), col("idx1"), col("idx2"),
          (round(col("value"), 6) + lit(0.0)).as("value"))
    }),

    // ---------------- ragged variable-length driver rows -------------
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
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(12)).as("values"))
        .localCheckpoint()
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
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          round(TsFunctions.dtwItakuraUdf(col("a.values"), col("b.values"), lit(2.0)), 4)
            .as("dtw"))
    }),

    // Sakoe-Chiba banded DTW as a DIRECT row (the constraint is only
    // exercised inside knn_dtw_users' pruned pipeline otherwise) —
    // radius 2 at sz=16, same banded chain with |i−j| ≤ r bounds.
    "ts_dtw_sakoe_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          round(TsFunctions.dtwSakoeUdf(col("a.values"), col("b.values"), lit(2)), 4)
            .as("dtw"))
    }),

    // dtw_path_from_metric (dtw_variants.py:201-381) with a cityblock
    // local cost: raw accumulated total (no sqrt) — the arbitrary-
    // local-metric DTW surface, previously golden-only.
    "ts_dtw_cityblock_pairs" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
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
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
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
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(8)).as("values"))
        .localCheckpoint()
      series.alias("a").join(series.alias("b"), col("b.series_id") === col("a.series_id") + 1)
        .select(col("a.series_id").as("user_id"),
          posexplode(TsFunctions.softDtwAlignmentValueUdf(
            col("a.values"), col("b.values"), lit(1.0)).getField("_1")))
        .select(col("user_id"), col("pos").as("i"), posexplode(col("col")))
        .select(col("user_id"), col("i"), col("pos").as("j"),
          (round(col("col"), 4) + lit(0.0)).as("e"))
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

    // ---------------- inverse transforms (piecewise.py) --------------
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
    }),

    // One Schultz–Jain SSG update (dba.py:607-740) per user from the
    // shared mean-init barycenter: b′ᵤ(i) = b(i) − 2η·(V(i)·b(i) −
    // Σ_{(i,j)∈path} xᵤ(j)) at the DTW alignment of b to user u's
    // series — the in-loop unit of Barycenters.dbaSubgradient
    // (ssgUpdate) driver-verified; the sequential epoch shuffle stays
    // golden. The DuckDB mirror backtracks each user's path with the
    // ts_dba_step recursive CTE and applies the update arithmetically.
    "ts_dba_ssg_step" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
        .localCheckpoint()
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

    // lcss_path_from_metric (dtw_variants.py:1693-1879) with a CITYBLOCK
    // local gate over the d=2 (value, Δt) channels of ts_dtw_mv_pairs —
    // at d=1 any monotone local metric is threshold-equivalent to the
    // default euclidean gate, so the multivariate channels are what make
    // this a distinct surface (|dx|+|dy| ≤ ε vs √(dx²+dy²) ≤ ε). The
    // engine runs the full DP + reference backtrack and returns the
    // path length (≡ the DP's LCS length); integer output.
    "ts_lcss_cityblock_pairs" -> ((s, dir) => {
      val sorted = ev(s, dir).groupBy("user_id").agg(
        array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("value")))).as("sv"))
      val series = sorted.select(col("user_id"),
          TsFunctions.resampleZnormUdf(expr("transform(sv, e -> e.value)"), lit(16)).as("x"),
          TsFunctions.resampleZnormUdf(
            expr("transform(sv, (e, i) -> CASE WHEN i = 0 THEN CAST(0 AS DOUBLE) " +
              "ELSE CAST(e.ts_us - sv[i-1].ts_us AS DOUBLE) END)"),
            lit(16)).as("y"))
        .select(col("user_id"), zip_with(col("x"), col("y"), (a, b) => array(a, b)).as("mv"))
        .localCheckpoint()
      series.alias("a")
        .join(series.alias("b"), col("b.user_id") === col("a.user_id") + 1)
        .select(col("a.user_id").as("user_id"),
          TsFunctions.lcssMvCityblockUdf(col("a.mv"), col("b.mv"), lit(1.0))
            .cast("int").as("lcss_len"))
    }),

    // Best-of-n_init restarts (kmeans.py:766-795) driver-verified: TWO
    // deterministic 10-iteration Lloyd traces (init blocks = series
    // 0..3 and 4..7 — init="first" with nInit=2 seeds restart a from id
    // block [a·k, (a+1)·k)), ranked by the engine's restart rule (the
    // last computed per-iteration inertia, attempt 0 wins ties), then
    // the winner's predict pass. The DuckDB mirror replays both traces
    // and the inertia compare.
    "ts_kmeans_best2" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
        .localCheckpoint()
      val model = new graft.ml.TimeSeriesKMeans(k = 4, metric = "euclidean",
        maxIter = 10, tol = -1.0, nInit = 2, init = "first").fit(series)
      model.predict(series)
        .select(col("series_id"), col("cluster"), round(col("dist"), 4).as("dist"))
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
    }),

    "doc_stream_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.streaming.StreamingOps.contamination(
        d.where(col("doc_id") >= 10), d.where(col("doc_id") < 10), k = 3)
    }),

    // Streaming minhash-LSH near-dup detection (StreamingOps
    // .dedupNearMinhash — per-row signatures + flatMapGroupsWithState
    // min-id band-bucket state) run in batch mode: the operator's own
    // state-update loop is the driver signal. Batch mode = one big
    // micro-batch, so every non-min doc of a band bucket emits
    // (doc, band, bucket_min) — exactly the per-band window oracle.
    "doc_stream_neardup" -> ((s, dir) =>
      graft.streaming.StreamingOps.dedupNearMinhash(docs(s, dir))
        .toDF().select(col("doc_id"), col("band"), col("dup_of"))),

    // Streaming early-classification predict (StreamingOps.earlyClassify
    // — the flatMapGroupsWithState prefix loop) in batch mode with a
    // pinned relational classifier: label = [prefix mean > 50],
    // confidence = dev/(dev+1), dev = |mean − 50|. Decide at the first
    // prefix length in [8, 32] with confidence ≥ 0.8 (dev ≥ 4) or at
    // maxLen; streams that end undecided emit nothing (the operator's
    // contract). The (ts-millis, value) sort and 1 − conf cost are the
    // operator's own.
    "ts_stream_early_classify" -> ((s, dir) => {
      import s.implicits._
      val events = ev(s, dir)
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .select(col("user_id"), col("ts"), col("value"), col("event_type"))
        .as[graft.streaming.StreamingOps.Event]
      val k = 50.0
      val classify = (prefix: Array[Double]) => {
        var sum = 0.0
        prefix.foreach(sum += _)
        val m = sum / prefix.length
        val dev = math.abs(m - k)
        (if (m > k) 1 else 0, dev / (dev + 1.0))
      }
      graft.streaming.StreamingOps.earlyClassify(events, classify,
        minLen = 8, maxLen = 32, tau = 0.8)
        .toDF("user_id", "decided_at", "label", "cost")
        .select(col("user_id"), col("decided_at"), col("label"),
          (round(col("cost"), 4) + lit(0.0)).as("cost"))
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
    }),

    // grabocka_params_to_shapelet_size_dict (shapelets.py:158-209): the
    // published shapelet count/length heuristic, with n_ts read off the
    // real corpus (ts_sz = 32, n_classes = 2, l = 1/8, r = 3) — the
    // last shapelets-module public symbol without driver signal.
    "ts_shapelet_sizes" -> ((s, dir) => {
      import s.implicits._
      val nTs = TSModel.eventsToSeries(s, dir).count().toInt
      graft.ml.Shapelets.grabockaParamsToShapeletSizes(
        nTs, tsSz = 32, nClasses = 2, l = 0.125, r = 3)
        .toSeq.sorted.toDF("shp_sz", "n_shapelets")
    }),

    // random_walks (`generators/generators.py:7-54`) through the
    // PORTABLE generator: every Gaussian step a closed-form md5-keyed
    // Box-Muller draw of (seed, series_id, t) — the §4.3 determinism
    // contract as driver signal (the oracle replays the exact per-step
    // draws and the running sum relationally; no RNG state anywhere).
    "ts_random_walks" -> ((s, dir) =>
      TSModel.randomWalksPortable(s, n = 8, sz = 16, mu = 0.1, std = 1.0,
        seed = 42L)
        .select(col("series_id"), posexplode(col("values")).as(Seq("t", "v")))
        .select(col("series_id"), col("t"),
          (round(col("v"), 4) + lit(0.0)).as("v"))),

    // baseline_accuracy (`ucr_uea.py:85-133`) through the REAL CSV
    // parser + the in-file typo-fix path (`datasets.py:56-76`): a
    // formula-generated singleTrainTest.csv (blank cells where
    // (i+j)%7=0, one deliberately typo'd dataset name repaired by
    // inFileStringReplace, exactly the reference's baselines-fix
    // chain) written to disk, parsed back by UcrUea.baselineAccuracy,
    // and compared cell-by-cell against the formula in SQL.
    "ucr_baseline_acc" -> ((s, dir) => {
      import s.implicits._
      val header = "," + (0 to 3).map(j => s"m_$j").mkString(",")
      val body = (0 to 4).map { i =>
        val name = if (i == 2) "DataSet_TYPO" else s"Dataset_$i"
        name + "," + (0 to 3).map { j =>
          if ((i + j) % 7 == 0) "" else (((i * 7 + j * 13) % 100) / 100.0).toString
        }.mkString(",")
      }
      val tmp = java.nio.file.Files.createTempFile("baselines", ".csv")
      java.nio.file.Files.writeString(tmp, (header +: body).mkString("\n"))
      graft.sources.Datasets.UcrUea.inFileStringReplace(
        tmp.toString, "DataSet_TYPO", "Dataset_2")
      val acc = graft.sources.Datasets.UcrUea.baselineAccuracy(tmp.toString)
      java.nio.file.Files.deleteIfExists(tmp)
      acc.toSeq.flatMap { case (ds, ms) =>
        ms.toSeq.map { case (m, a) => (ds, m, a) }
      }.toDF("dataset", "method", "acc")
        .select(col("dataset"), col("method"),
          (round(col("acc"), 2) + lit(0.0)).as("acc"))
    }),

    // BM25 retrieval (TextAnalysis.bm25TopK): top-5 docs for two
    // 3-term queries derived deterministically from the corpus (terms
    // ranked 1-3 and 4-6 by frequency, ties lexicographic). The query
    // broadcast prunes the corpus before anything shuffles; the
    // per-query top-k is the k-slot TopK buffer, not a window sort.
    "doc_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val top6 = d.select(explode(split(lower(col("text")), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term")).limit(6).collect().map(_.getString(0))
      val qdf = Seq((0L, top6.slice(0, 3).toSeq), (1L, top6.slice(3, 6).toSeq))
        .toDF("query_id", "terms")
      graft.operators.TextAnalysis.bm25TopK(d, qdf, k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          (round(col("score"), 4) + lit(0.0)).as("score"))
    }),

    // TF-IDF cosine retrieval — the vector-space twin of doc_bm25_topk
    // over the SAME derived query set (top-6 corpus unigrams split into
    // two 3-term queries): cosine over tf·ln(N/df) weights, full
    // per-doc norms, k-slot TopK.
    "doc_tfidf_topk" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val top6 = d.select(explode(split(lower(col("text")), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term")).limit(6).collect().map(_.getString(0))
      val qdf = Seq((0L, top6.slice(0, 3).toSeq), (1L, top6.slice(3, 6).toSeq))
        .toDF("query_id", "terms")
      graft.operators.TextAnalysis.tfIdfTopK(d, qdf, k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          (round(col("score"), 4) + lit(0.0)).as("score"))
    }),

    // Count-min-sketch heavy hitters (TextAnalysis.cmsSketch /
    // cmsEstimate): the d×w sketch relation is 256 rows at ANY corpus
    // size; estimates of the exact top-10 unigrams emitted next to
    // their true counts (est ≥ true is the CMS guarantee, and the
    // oracle replays the md5-keyed sketch bit-exactly).
    "doc_cms_heavy" -> ((s, dir) => {
      val d = docs(s, dir)
      val exact = d.select(explode(split(lower(col("text")), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("true_c"))
        .orderBy(col("true_c").desc, col("term")).limit(10)
        .localCheckpoint()
      graft.operators.TextAnalysis.cmsEstimate(
          graft.operators.TextAnalysis.cmsSketch(d).localCheckpoint(),
          exact.select("term"))
        .join(exact, "term")
        .select(col("term"), col("true_c"), col("cms_est"))
    }),

    // The SERVE half of the DSIR split: the d-bucket log-ratio model is
    // trained batch-side (importanceModel), frozen, and applied by the
    // STATELESS ingest scorer — batch-run through the real streaming
    // code path (the contamination convention). Same output contract as
    // doc_importance_weights, so the oracle is shared.
    "doc_stream_importance" -> ((s, dir) => {
      val d = docs(s, dir)
      val (_, ratiosDf) = graft.operators.TextAnalysis.importanceModel(
        d, col("lang") === "en")
      val ratios = new Array[Double](32)
      ratiosDf.collect().foreach(r => ratios(r.getInt(0)) = r.getDouble(1))
      graft.streaming.StreamingOps.importanceAtIngest(d, ratios)
        .select(col("doc_id"), col("n_tokens"),
          (round(col("logw"), 4) + lit(0.0)).as("logw"))
    }),

    // Composed corpus-curation pipeline: exact-dedup keepers ∩ length
    // floor ∩ positive DSIR importance — three green operators chained
    // into the one selection pass a real curation run ships. Oracle
    // composes the same three relational stages.
    "doc_pipeline_select" -> ((s, dir) => {
      val d = docs(s, dir)
      val keepers = graft.operators.Dedup.exact(d)
        .select(col("keep_id").as("doc_id"))
      val w = graft.operators.TextAnalysis.importanceWeights(
        d, col("lang") === "en")
      d.select(col("doc_id")).join(keepers, "doc_id").join(w, "doc_id")
        .where(col("n_tokens") >= 20 && col("logw") > 0)
        .select(col("doc_id"), col("n_tokens"),
          (round(col("logw"), 4) + lit(0.0)).as("logw"))
    }),

    // DSIR importance weights (TextAnalysis.importanceWeights): every
    // doc scored by its hashed-BoW log-likelihood ratio against the
    // lang='en' target model vs the raw-corpus model — the principled
    // importance-resampling signal. All docs emitted (no top-k cutoff,
    // so float ties can't flip the row set).
    "doc_importance_weights" -> ((s, dir) =>
      graft.operators.TextAnalysis.importanceWeights(
          docs(s, dir), col("lang") === "en")
        .select(col("doc_id"), col("n_tokens"),
          (round(col("logw"), 4) + lit(0.0)).as("logw"))),

    // HyperLogLog distinct-word count (TextAnalysis.hllSketch /
    // hllEstimate): the register relation is 64 rows at any
    // cardinality; estimate emitted beside the exact countDistinct
    // both engines also run, and the oracle replays registers +
    // estimate formula (incl. the linear-counting branch) bit-exactly.
    "doc_hll_distinct" -> ((s, dir) => {
      val words = docs(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("term"))
      val exact = words.agg(countDistinct("term").as("n_exact"))
      graft.operators.TextAnalysis.hllEstimate(
          graft.operators.TextAnalysis.hllSketch(words))
        .crossJoin(exact)
        .select(col("n_exact"),
          (round(col("hll_est"), 4) + lit(0.0)).as("hll_est"))
    }),

    // Document topic clustering (hashed-BoW features → the SAME
    // TimeSeriesKMeans euclidean Lloyd loop that serves series): the
    // cluster-balanced-sampling building block of curation pipelines.
    // init="first" (seeds = docs 0..3's feature vectors) keeps the full
    // 2-iteration fit + predict replayable.
    "doc_kmeans_topics" -> ((s, dir) => {
      val ta = graft.operators.TextAnalysis
      val feats = docs(s, dir)
        .select(col("doc_id").as("series_id"),
          ta.hashedBow(col("text"), 32).as("values"))
        .localCheckpoint()
      val model = new graft.ml.TimeSeriesKMeans(k = 4, metric = "euclidean",
        maxIter = 2, tol = -1.0, init = "first").fit(feats)
      model.predict(feats)
        .select(col("series_id").as("doc_id"), col("cluster"),
          (round(col("dist"), 4) + lit(0.0)).as("dist"))
    }),

    // Cluster-balanced sampling: at most 25 docs per topic cluster
    // (lowest doc_ids — deterministic), via the k-slot TopK buffer
    // rather than a corpus-wide window. The "cap every topic" step
    // that keeps a dominant topic from flooding a training mix.
    "doc_cluster_sample" -> ((s, dir) => {
      val ta = graft.operators.TextAnalysis
      val feats = docs(s, dir)
        .select(col("doc_id").as("series_id"),
          ta.hashedBow(col("text"), 32).as("values"))
        .localCheckpoint()
      val model = new graft.ml.TimeSeriesKMeans(k = 4, metric = "euclidean",
        maxIter = 2, tol = -1.0, init = "first").fit(feats)
      val assigned = model.predict(feats)
        .select(col("cluster"), col("series_id").as("doc_id"))
      graft.operators.TopK.byKey(
          assigned.select(col("cluster"), col("doc_id"),
            col("doc_id").cast("double").as("ord")),
          25, "cluster", "doc_id", "ord")
        .select(col("cluster").cast("int").as("cluster"), col("rank"),
          col("doc_id"))
    }),

    // SemDeDup (Dedup.semDedup): semantic dedup in embedding space —
    // cluster (8 broadcast seeds, the emb_kmeans_assign convention),
    // compare ONLY within clusters, drop any vector with cosine ≥ 0.4
    // to a lower-id cluster-mate. Pair mass bounded by Σ|cluster|²,
    // never n².
    // The PCA moment sketch at INGEST (StreamingOps.momentRegisters,
    // batch-run through the real mapGroupsWithState path, the
    // doc_stream_* convention): d state rows holding the count,
    // per-dim sums and upper-triangle second moments — registers that
    // feed Pca.fit's eigensolve without a second corpus pass. Output
    // = the exploded cells (i, j, s), dim sums as j = −1, count as
    // (−1, −1).
    "emb_pca_moments" -> ((s, dir) => {
      val regs = graft.streaming.StreamingOps.momentRegisters(emb(s, dir))
        .toDF("i", "n", "s_i", "prods")
        .localCheckpoint()
      regs
        .select(col("i"), posexplode(col("prods")).as(Seq("o", "p")))
        .select(col("i").cast("int"),
          (col("i") + col("o")).cast("int").as("j"),
          (round(col("p"), 6) + lit(0.0)).as("s"))
        .unionAll(regs.select(col("i").cast("int"), lit(-1).as("j"),
          (round(col("s_i"), 6) + lit(0.0)).as("s")))
        .unionAll(regs.where(col("i") === 0)
          .select(lit(-1).cast("int").as("i"), lit(-1).as("j"),
            col("n").cast("double").as("s")))
    }),

    // Distributed PCA (operators/Pca): one-pass moment aggregator
    // (d + d(d+1)/2 buffer, map-side combined), driver d×d eigensolve
    // by deterministic power iteration (shared ramp init, 60 steps,
    // Rayleigh λ, sign by sums·v, Hotelling deflation), then a
    // codegen'd broadcast-literal projection. The oracle replays the
    // WHOLE thing relationally — covariance, both unrolled power
    // chains, deflation, sign fixes, projection.
    "emb_pca_project" -> ((s, dir) => {
      val e = emb(s, dir)
      val model = graft.operators.Pca.fit(e, k = 2, steps = 60)
      graft.operators.Pca.project(e, model)
        .select(col("vec_id"),
          (round(col("pc1"), 6) + lit(0.0)).as("pc1"),
          (round(col("pc2"), 6) + lit(0.0)).as("pc2"))
    }),

    // Whitened projection: each component scaled to unit variance
    // (÷√λ_c) — the normalization before cosine ANN / OPQ. λ is the
    // per-component Rayleigh value over the (deflated) covariance,
    // replayed in the oracle.
    "emb_pca_whiten" -> ((s, dir) => {
      val e = emb(s, dir)
      val model = graft.operators.Pca.fit(e, k = 2, steps = 60)
      graft.operators.Pca.project(e, model, whiten = true)
        .select(col("vec_id"),
          (round(col("pc1"), 6) + lit(0.0)).as("pc1"),
          (round(col("pc2"), 6) + lit(0.0)).as("pc2"))
    }),

    "emb_semdedup" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("values"))
      val seeds = e.where(col("vec_id") < 8).orderBy("vec_id")
        .collect().map(_.getSeq[Double](1).toArray)
      graft.operators.Dedup.semDedup(emb(s, dir), seeds, threshold = 0.4)
    }),

    // Streaming sketch twins, batch-run through the REAL
    // mapGroupsWithState paths (the ts_stream_* convention): state is
    // one Long per register / per cell — the sketch's fixed size IS
    // the streaming bound. Outputs equal the batch sketch rows, so the
    // oracles are shared.
    "doc_stream_hll" -> ((s, dir) => {
      import s.implicits._
      val words = docs(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("term"))
      val exact = words.agg(countDistinct("term").as("n_exact"))
      val regs = graft.streaming.StreamingOps.hllRegisters(words)
        .toDF("idx", "m_j")
      graft.operators.TextAnalysis.hllEstimate(regs)
        .crossJoin(exact)
        .select(col("n_exact"),
          (round(col("hll_est"), 4) + lit(0.0)).as("hll_est"))
    }),
    "doc_stream_cms" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val exact = d.select(explode(split(lower(col("text")), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("true_c"))
        .orderBy(col("true_c").desc, col("term")).limit(10)
        .localCheckpoint()
      val sketch = graft.streaming.StreamingOps.cmsCells(d)
        .toDF("r", "cell", "c")
      graft.operators.TextAnalysis.cmsEstimate(
          sketch.localCheckpoint(), exact.select("term"))
        .join(exact, "term")
        .select(col("term"), col("true_c"), col("cms_est"))
    }),

    // BPE merge-rule induction (TextAnalysis.bpeMerges): 3 training
    // steps of Sennrich-style tokenizer learning on the corpus
    // vocabulary. The oracle replays every step — pair statistics,
    // lexicographic-tie argmax, and the greedy non-overlapping merge
    // walk (recursive per-word position CTE) — and the next step's
    // statistics run on the MERGED symbols, so a wrong merge anywhere
    // cascades into a wrong best pair downstream.
    "doc_bpe_merges" -> ((s, dir) =>
      graft.operators.TextAnalysis.bpeMerges(docs(s, dir), steps = 3))
  )

  // =================================================================
  // oracle SQL (DuckDB dialect, same tables)
  // =================================================================

  /** Exploded events CTE shared by the time-series oracles. */
  private val evCte =
    """WITH v AS (
      |  SELECT user_id, value,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY epoch_ns(ts) // 1000, event_id) AS t,
      |         count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events
      |)""".stripMargin

  /** DuckDB oracle for doc_minhash_pairs, generated from the SAME
    * permutation constants the Spark operator uses. */
  private def minhashOracleSql: String = {
    val p = graft.operators.Dedup.MinhashP
    val coeffs = graft.operators.Dedup.minhashCoeffs(64, 42L)
    val sigCols = coeffs.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * x + $b) % $p) AS mh_$i"
    }.mkString(",\n    ")
    val bandEqs = (0 until 16).map { band =>
      (0 until 4).map(r => s"a.mh_${band * 4 + r} = b.mh_${band * 4 + r}")
        .mkString("(", " AND ", ")")
    }.mkString("\n      OR ")
    val matchCount = (0 until 64)
      .map(i => s"(CASE WHEN a.mh_$i = b.mh_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH words AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[j:j+2], ' ') AS sh
       |  FROM words, (SELECT unnest(generate_series(1, 1000)) AS j) g
       |  WHERE j <= len(w) - 2
       |), base AS (
       |  SELECT doc_id,
       |    CAST(CONCAT('0x', substring(md5(sh), 1, 15)) AS BIGINT) % $p AS x
       |  FROM sh
       |), sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM base GROUP BY 1
       |), cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    ($matchCount) AS m
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |  WHERE $bandEqs
       |)
       |SELECT doc_a, doc_b, round(m / 64.0, 4) AS est_jaccard
       |FROM cand WHERE m / 64.0 >= 0.35""".stripMargin
  }

  /** Shared oracle for doc_pack_greedy AND doc_stream_pack (batch-mode
    * streaming packer == batch packer element-for-element). */
  private def packGreedyOracleSql: String =
    """WITH RECURSIVE t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tk,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents
        |), p AS (
        |  SELECT source, doc_id, tk, rn,
        |    CAST(0 AS BIGINT) AS pack_seq, CAST(0 AS BIGINT) AS token_offset
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.source, t.doc_id, t.tk, t.rn,
        |    CASE WHEN p.token_offset + p.tk + t.tk <= 256
        |      THEN p.pack_seq ELSE p.pack_seq + 1 END,
        |    CASE WHEN p.token_offset + p.tk + t.tk <= 256
        |      THEN p.token_offset + p.tk ELSE CAST(0 AS BIGINT) END
        |  FROM t JOIN p ON t.source = p.source AND t.rn = p.rn + 1
        |)
        |SELECT source, doc_id, tk, pack_seq, token_offset FROM p""".stripMargin

  /** DuckDB oracle for ml_persistence_roundtrip: the formula model
    * package as a VALUES list — built from the SAME Scala formula, so
    * any save/load mutation shows as a cell mismatch. */
  private def persistenceRoundtripOracleSql: String = {
    val cells = (for {
      c <- 0 until 2; t <- 0 until 8
    } yield ("centroids", c.toString, t, ((5 * c + 3 * t) % 11 - 5).toDouble.toString)) ++
      Seq(("hyper", "k", 0, "2"), ("hyper", "metric", 0, "euclidean"),
        ("hyper", "maxIter", 0, "7"), ("scalar", "inertia", 0, "2.5"),
        ("estimator", "name", 0, "TimeSeriesKMeans"))
    val values = cells.map { case (f, k2, i, v) => s"('$f', '$k2', $i, '$v')" }
      .mkString(", ")
    s"SELECT * FROM (VALUES $values) v(family, key, idx, value)"
  }

  /** DuckDB oracle for doc_quality_model_step: the hashed-BoW logistic
    * gradient step fully relational — same portable md5 word buckets,
    * σ scores from the pinned start weights, per-bucket residual
    * gradient, update. */
  private def qualityStepOracleSql: String = {
    val d = 32
    val w0 = Array.tabulate(d)(bk => ((3 * bk + 1) % 7 - 3) / 10.0)
    val values = (w0.zipWithIndex.map { case (wv, bk) => s"($bk, $wv)" }
      :+ s"(-1, 0.1)").mkString(", ")
    s"""WITH wt(bucket, wv) AS (SELECT * FROM (VALUES $values) v(bucket, wv)),
       |docs0 AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    string_split(lower(text), ' ') AS ws
       |  FROM documents
       |), tok AS (SELECT doc_id, unnest(ws) AS tk FROM docs0),
       |feat AS (
       |  SELECT doc_id,
       |    CAST(CAST(CONCAT('0x', substring(md5(tk), 1, 15)) AS BIGINT) % $d AS INT) AS bucket,
       |    CAST(count(*) AS DOUBLE) AS xb
       |  FROM tok GROUP BY 1, 2
       |), z AS (
       |  SELECT d0.doc_id, d0.y, coalesce(sum(w2.wv * f.xb), 0) + 0.1 AS z
       |  FROM docs0 d0
       |  LEFT JOIN feat f ON f.doc_id = d0.doc_id
       |  LEFT JOIN wt w2 ON w2.bucket = f.bucket
       |  GROUP BY 1, 2
       |), resid AS (SELECT doc_id, 1.0 / (1.0 + exp(-z)) - y AS r FROM z),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM documents),
       |grads AS (
       |  SELECT f.bucket, sum(f.xb * resid.r) / max(n.nn) AS g
       |  FROM feat f JOIN resid ON resid.doc_id = f.doc_id, n
       |  GROUP BY 1
       |  UNION ALL
       |  SELECT -1 AS bucket, sum(resid.r) / max(n.nn) AS g FROM resid, n
       |)
       |SELECT wt.bucket,
       |  round(wt.wv - 0.5 * coalesce(grads.g, 0), 6) AS weight
       |FROM wt LEFT JOIN grads ON grads.bucket = wt.bucket""".stripMargin
  }

  /** DuckDB oracle for doc_stream_neardup: the same portable signature
    * replay as minhashOracleSql, then per band a window min over the
    * band's 4 signature slots — batch-mode flatMapGroupsWithState
    * processes each bucket in doc_id order with min-id state, so every
    * non-min doc of a bucket emits (doc, band, bucket min). */
  private def streamNeardupOracleSql: String = {
    val p = graft.operators.Dedup.MinhashP
    val coeffs = graft.operators.Dedup.minhashCoeffs(64, 42L)
    val sigCols = coeffs.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * x + $b) % $p) AS mh_$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until 16).map { band =>
      val cols = (0 until 4).map(r => s"mh_${band * 4 + r}").mkString(", ")
      s"SELECT doc_id, $band AS band, min(doc_id) OVER (PARTITION BY $cols) AS dup_of FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH words AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[j:j+2], ' ') AS sh
       |  FROM words, (SELECT unnest(generate_series(1, 1000)) AS j) g
       |  WHERE j <= len(w) - 2
       |), base AS (
       |  SELECT doc_id,
       |    CAST(CONCAT('0x', substring(md5(sh), 1, 15)) AS BIGINT) % $p AS x
       |  FROM sh
       |), sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM base GROUP BY 1
       |), hits AS (
       |  $bandSelects
       |)
       |SELECT doc_id, band, dup_of FROM hits WHERE doc_id != dup_of""".stripMargin
  }

  /** DuckDB oracle for doc_dedup_clusters: the SAME thresholded minhash
    * pair list as minhashOracleSql, then the transitive closure as a
    * recursive CTE; every doc's cluster is the min reachable id
    * (singletons map to themselves via the documents left side). */
  private def dedupClustersOracleSql: String = {
    val pairsSql = minhashOracleSql
    // reuse everything up to cand; replace the final SELECT with the
    // closure (the prefix ends at the line before "SELECT doc_a")
    val prefix = pairsSql.substring(0, pairsSql.lastIndexOf("SELECT doc_a"))
    prefix.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      """, e AS (
        |  SELECT doc_a AS a, doc_b AS b FROM cand WHERE m / 64.0 >= 0.35
        |  UNION ALL
        |  SELECT doc_b, doc_a FROM cand WHERE m / 64.0 >= 0.35
        |), reach AS (
        |  SELECT doc_id AS doc, doc_id AS r FROM documents
        |  UNION
        |  SELECT reach.doc, e.b AS r
        |  FROM reach JOIN e ON e.a = reach.r
        |)
        |SELECT doc AS doc_id, min(r) AS cluster FROM reach GROUP BY 1""".stripMargin
  }

  /** DuckDB oracle for doc_dedup_keep_best: the doc_dedup_clusters
    * closure joined to the doc_quality formula, representative = rank 1
    * of (quality DESC, doc_id) within each cluster. */
  private def dedupKeepBestOracleSql: String = {
    val pairsSql = minhashOracleSql
    val prefix = pairsSql.substring(0, pairsSql.lastIndexOf("SELECT doc_a"))
    prefix.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      """, e AS (
        |  SELECT doc_a AS a, doc_b AS b FROM cand WHERE m / 64.0 >= 0.35
        |  UNION ALL
        |  SELECT doc_b, doc_a FROM cand WHERE m / 64.0 >= 0.35
        |), reach AS (
        |  SELECT doc_id AS doc, doc_id AS r FROM documents
        |  UNION
        |  SELECT reach.doc, e.b AS r
        |  FROM reach JOIN e ON e.a = reach.r
        |), comp AS (
        |  SELECT doc AS doc_id, min(r) AS cluster FROM reach GROUP BY 1
        |), qf AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tok,
        |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      w -> w IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS sw
        |  FROM documents
        |), q AS (
        |  SELECT doc_id, round((
        |    (CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 1.0
        |          WHEN n_tok BETWEEN 5 AND 19 THEN 0.5 ELSE 0.0 END) +
        |    (CASE WHEN punct <= 0.1 THEN 1.0 WHEN punct <= 0.3 THEN 0.5 ELSE 0.0 END) +
        |    (CASE WHEN sw > 0.02 THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality
        |  FROM qf
        |)
        |SELECT c.doc_id, c.cluster, q.quality,
        |  CAST(CASE WHEN row_number() OVER (
        |    PARTITION BY c.cluster ORDER BY q.quality DESC, c.doc_id) = 1
        |    THEN 1 ELSE 0 END AS INT) AS keep
        |FROM comp c JOIN q USING (doc_id)""".stripMargin
  }

  /** DuckDB oracle for doc_simhash: same 60-bit md5 word hash, same
    * sign-of-bit-sums construction. */
  private def simhashOracleSql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
      |), h AS (
      |  SELECT doc_id,
      |    CAST(CONCAT('0x', substring(md5(word), 1, 15)) AS BIGINT) AS h
      |  FROM w
      |), bits AS (
      |  SELECT doc_id, b.b,
      |    sum(CASE WHEN ((h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS s
      |  FROM h, (SELECT unnest(generate_series(0, 59)) AS b) b
      |  GROUP BY 1, 2
      |)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
      |    AS simhash
      |FROM bits GROUP BY 1""".stripMargin

  /** Shared linear-interp resample CTE chain (appended after evCte):
    * r(user_id, j, val) with 16 points per user — identical formula to
    * the Spark-side resampledEvents. */
  private val resampleCte =
    """
      |, grid AS (
      |  SELECT u.user_id, u.n, g.j,
      |    g.j * (u.n - 1) / 15.0 AS pos
      |  FROM (SELECT DISTINCT user_id, n FROM v) u,
      |       (SELECT unnest(generate_series(0, 15)) AS j) g
      |), w AS (
      |  SELECT user_id, j, CAST(floor(pos) AS INT) AS i0,
      |    LEAST(CAST(floor(pos) AS INT) + 1, n - 1) AS i1,
      |    pos - floor(pos) AS frac
      |  FROM grid
      |), r AS (
      |  SELECT w.user_id, w.j,
      |    v0.value * (1.0 - w.frac) + v1.value * w.frac AS val
      |  FROM w
      |  JOIN v v0 ON v0.user_id = w.user_id AND v0.t - 1 = w.i0
      |  JOIN v v1 ON v1.user_id = w.user_id AND v1.t - 1 = w.i1
      |)""".stripMargin

  /** Resample-to-`target` + per-user z-norm CTE chain (appended after
    * evCte), yielding `r(user_id, j, val)` — mirrors
    * `resampleZnormUdf` = scaleMeanVariance(resample(series, target)).
    * Variance via avg(x²)−avg(x)² to match the kernel's m2/n−mean²
    * formula (Kernels.scala:489); var<=0 maps to sd=1 as the kernel does. */
  private def resampleZnormCte(target: Int): String =
    s"""
       |, grid AS (
       |  SELECT u.user_id, u.n, g.j,
       |    g.j * (u.n - 1) / ${target - 1}.0 AS pos
       |  FROM (SELECT DISTINCT user_id, n FROM v) u,
       |       (SELECT unnest(generate_series(0, ${target - 1})) AS j) g
       |), w AS (
       |  SELECT user_id, j, CAST(floor(pos) AS INT) AS i0,
       |    LEAST(CAST(floor(pos) AS INT) + 1, n - 1) AS i1,
       |    pos - floor(pos) AS frac
       |  FROM grid
       |), r0 AS (
       |  SELECT w.user_id, w.j,
       |    v0.value * (1.0 - w.frac) + v1.value * w.frac AS val
       |  FROM w
       |  JOIN v v0 ON v0.user_id = w.user_id AND v0.t - 1 = w.i0
       |  JOIN v v1 ON v1.user_id = w.user_id AND v1.t - 1 = w.i1
       |), st AS (
       |  SELECT user_id, avg(val) AS mu,
       |    avg(val * val) - avg(val) * avg(val) AS var
       |  FROM r0 GROUP BY 1
       |), r AS (
       |  SELECT r0.user_id, r0.j,
       |    (r0.val - st.mu) /
       |      (CASE WHEN st.var <= 0 THEN 1.0 ELSE sqrt(st.var) END) AS val
       |  FROM r0 JOIN st USING (user_id)
       |)""".stripMargin

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
             |    CASE WHEN p.i = 0 THEN 0
             |         WHEN p.j = 0 THEN p.i - 1
             |         WHEN cd.cost <= cu.cost AND cd.cost <= cl.cost THEN p.i - 1
             |         WHEN cu.cost <= cl.cost THEN p.i - 1
             |         ELSE p.i END AS i,
             |    CASE WHEN p.i = 0 THEN p.j - 1
             |         WHEN p.j = 0 THEN p.j
             |         WHEN cd.cost <= cu.cost AND cd.cost <= cl.cost THEN p.j - 1
             |         WHEN cu.cost <= cl.cost THEN p.j
             |         ELSE p.j - 1 END AS j
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

  /** DuckDB oracle for ts_early_classify — the per-t nearest-centroid
    * fit is pure relational: per-(t, label, j) centroids, per-(user, t)
    * argmin predictions, per-t training accuracy, the expected-cost
    * stopping rule (first t whose cost ≤ every later cost), and the
    * prediction at that t. */
  private def earlyClassifyOracleSql: String =
    evCte + resampleZnormCte(32) +
      """
        |, labels AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 5
        |      AS VARCHAR) AS label
        |  FROM events GROUP BY 1
        |), tg AS (
        |  SELECT unnest([8, 16, 32]) AS t
        |), cents AS (
        |  SELECT tg.t, l.label, r.j, avg(r.val) AS c
        |  FROM r JOIN labels l USING (user_id) CROSS JOIN tg
        |  WHERE r.j < tg.t
        |  GROUP BY 1, 2, 3
        |), scored AS (
        |  SELECT r.user_id, c.t, c.label,
        |    sum((r.val - c.c) * (r.val - c.c)) AS d2
        |  FROM r JOIN cents c ON c.j = r.j
        |  GROUP BY 1, 2, 3
        |), pred AS (
        |  SELECT user_id, t, label AS pred FROM (
        |    SELECT user_id, t, label,
        |      row_number() OVER (PARTITION BY user_id, t ORDER BY d2, label) AS rn
        |    FROM scored)
        |  WHERE rn = 1
        |), acc AS (
        |  SELECT p.t,
        |    avg(CASE WHEN p.pred = l.label THEN 1.0 ELSE 0.0 END) AS acc
        |  FROM pred p JOIN labels l USING (user_id)
        |  GROUP BY 1
        |), cost AS (
        |  SELECT t, (1.0 - acc) + 0.005 * t AS cost FROM acc
        |), tstar AS (
        |  SELECT min(t) AS t FROM cost c1
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM cost c2 WHERE c2.t > c1.t AND c2.cost < c1.cost)
        |)
        |SELECT p.user_id AS series_id, tstar.t AS decided_at, p.pred AS label
        |FROM pred p, tstar WHERE p.t = tstar.t""".stripMargin

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

  /** DuckDB oracle for ts_dtw_mv_pairs: build the d=2 (value, Δt)
    * channels, resample + z-norm each channel exactly as the Spark side
    * (resampleZnormUdf per channel), then full (unbanded) multivariate
    * DTW between adjacent users unrolled as a `sz`-step DP CTE chain —
    * the same row-by-row recurrence as knnDtwOracleSql with the local
    * cost summed over both dims. */
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
    for (k <- 0 to rounds) {
      sb ++=
        s"""
           |, locC$k AS (
           |  SELECT a.pr, a.t AS i, b.t AS j, (a.p - b.p) * (a.p - b.p) AS d
           |  FROM px$k a JOIN py$k b ON b.pr = a.pr
           |)""".stripMargin
      sb ++= minPlusChainCtes(Seq("pr"), s"locC$k", s"c${k}x", sz)
      sb ++= s"\n, cumc$k AS (\n" +
        (0 until sz).map(i => s"  SELECT pr, $i AS i, j, cost FROM c${k}x$i")
          .mkString("", "\n  UNION ALL\n", "\n)")
      if (k < rounds) {
        sb ++=
          s"""
             |, pathc$k AS (
             |  SELECT pr, $last AS i, $last AS j FROM (SELECT DISTINCT pr FROM locC$k)
             |  UNION ALL
             |  SELECT p.pr,
             |    CASE WHEN p.i = 0 THEN 0
             |         WHEN p.j = 0 THEN p.i - 1
             |         WHEN cd.cost <= cu.cost AND cd.cost <= cl.cost THEN p.i - 1
             |         WHEN cu.cost <= cl.cost THEN p.i - 1
             |         ELSE p.i END AS i,
             |    CASE WHEN p.i = 0 THEN p.j - 1
             |         WHEN p.j = 0 THEN p.j
             |         WHEN cd.cost <= cu.cost AND cd.cost <= cl.cost THEN p.j - 1
             |         WHEN cu.cost <= cl.cost THEN p.j
             |         ELSE p.j - 1 END AS j
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
      s"""WITH RECURSIVE v AS (
         |  SELECT user_id, value,
         |         row_number() OVER (PARTITION BY user_id
         |           ORDER BY epoch_ns(ts) // 1000, event_id) AS t,
         |         count(*) OVER (PARTITION BY user_id) AS n
         |  FROM events
         |), tgt AS (
         |  SELECT user_id, n, 8 + (user_id % 5) * 2 AS tl
         |  FROM (SELECT DISTINCT user_id, n FROM v)
         |), grid AS (
         |  SELECT u.user_id, u.n, u.tl, g.j, g.j * (u.n - 1) / (u.tl - 1.0) AS pos
         |  FROM tgt u, (SELECT unnest(generate_series(0, ${maxSz - 1})) AS j) g
         |  WHERE g.j < u.tl
         |), w AS (
         |  SELECT user_id, j, CAST(floor(pos) AS INT) AS i0,
         |    LEAST(CAST(floor(pos) AS INT) + 1, n - 1) AS i1, pos - floor(pos) AS frac
         |  FROM grid
         |), r0 AS (
         |  SELECT w.user_id, w.j, v0.value * (1.0 - w.frac) + v1.value * w.frac AS val
         |  FROM w
         |  JOIN v v0 ON v0.user_id = w.user_id AND v0.t - 1 = w.i0
         |  JOIN v v1 ON v1.user_id = w.user_id AND v1.t - 1 = w.i1
         |), st AS (
         |  SELECT user_id, avg(val) AS mu,
         |    avg(val * val) - avg(val) * avg(val) AS var
         |  FROM r0 GROUP BY 1
         |), r AS (
         |  SELECT r0.user_id, r0.j,
         |    (r0.val - st.mu) /
         |      (CASE WHEN st.var <= 0 THEN 1.0 ELSE sqrt(st.var) END) AS val
         |  FROM r0 JOIN st USING (user_id)
         |), lens AS (
         |  SELECT a.user_id AS pr, a.tl AS l1, b.tl AS l2
         |  FROM tgt a JOIN tgt b ON b.user_id = a.user_id + 1
         |), px0 AS (
         |  SELECT user_id AS pr, j AS t, val AS p FROM r
         |), py0 AS (
         |  SELECT user_id - 1 AS pr, j AS t, val AS p FROM r
         |)""".stripMargin)
    for (k <- 0 to rounds) {
      sb ++=
        s"""
           |, locC$k AS (
           |  SELECT a.pr, a.t AS i, b.t AS j, (a.p - b.p) * (a.p - b.p) AS d
           |  FROM px$k a JOIN py$k b ON b.pr = a.pr
           |)""".stripMargin
      sb ++= minPlusChainCtes(Seq("pr"), s"locC$k", s"c${k}x", maxSz)
      sb ++= s"\n, cumc$k AS (\n" +
        (0 until maxSz).map(i => s"  SELECT pr, $i AS i, j, cost FROM c${k}x$i")
          .mkString("", "\n  UNION ALL\n", "\n)")
      if (k < rounds) {
        sb ++=
          s"""
             |, pathc$k AS (
             |  SELECT pr, l1 - 1 AS i, l2 - 1 AS j FROM lens
             |  UNION ALL
             |  SELECT p.pr,
             |    CASE WHEN p.i = 0 THEN 0
             |         WHEN p.j = 0 THEN p.i - 1
             |         WHEN cd.cost <= cu.cost AND cd.cost <= cl.cost THEN p.i - 1
             |         WHEN cu.cost <= cl.cost THEN p.i - 1
             |         ELSE p.i END AS i,
             |    CASE WHEN p.i = 0 THEN p.j - 1
             |         WHEN p.j = 0 THEN p.j
             |         WHEN cd.cost <= cu.cost AND cd.cost <= cl.cost THEN p.j - 1
             |         WHEN cu.cost <= cl.cost THEN p.j
             |         ELSE p.j - 1 END AS j
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
    val neg = "-1.0e300"
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
           |    CASE WHEN p.i = 0 THEN 0
           |         WHEN p.j = 0 THEN p.i - 1
           |         WHEN cd2.cost <= cu.cost AND cd2.cost <= cl.cost THEN p.i - 1
           |         WHEN cu.cost <= cl.cost THEN p.i - 1
           |         ELSE p.i END AS i,
           |    CASE WHEN p.i = 0 THEN p.j - 1
           |         WHEN p.j = 0 THEN p.j
           |         WHEN cd2.cost <= cu.cost AND cd2.cost <= cl.cost THEN p.j - 1
           |         WHEN cu.cost <= cl.cost THEN p.j
           |         ELSE p.j - 1 END AS j
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
      for (i <- 1 until sz) {
        sb ++=
          s"""
             |, ${p}x$i AS (
             |  SELECT pr, cd, j, lk + mx + ln(greatest(se, 1e-308)) AS lw FROM (
             |    SELECT pr, cd, j, lk, mx,
             |      sum(exp(lpk - mx)) OVER (PARTITION BY pr, cd ORDER BY j) AS se
             |    FROM (
             |      SELECT pr, cd, j, lk, lpk,
             |        max(lpk) OVER (PARTITION BY pr, cd) AS mx
             |      FROM (
             |        SELECT l.pr, l.cd, l.j,
             |          sum(l.lg) OVER (PARTITION BY l.pr, l.cd ORDER BY l.j) AS lk,
             |          greatest(coalesce(pk.lw, $neg), coalesce(pk1.lw, $neg))
             |            + ln(1.0 + exp(least(coalesce(pk.lw, $neg), coalesce(pk1.lw, $neg))
             |                - greatest(coalesce(pk.lw, $neg), coalesce(pk1.lw, $neg))))
             |            - (sum(l.lg) OVER (PARTITION BY l.pr, l.cd ORDER BY l.j) - l.lg) AS lpk
             |        FROM $locName l
             |        LEFT JOIN ${p}x${i - 1} pk
             |          ON pk.pr = l.pr AND pk.cd = l.cd AND pk.j = l.j
             |        LEFT JOIN ${p}x${i - 1} pk1
             |          ON pk1.pr = l.pr AND pk1.cd = l.cd AND pk1.j = l.j - 1
             |        WHERE l.i = $i)))
             |)""".stripMargin
      }
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

  /** Shared ε-LCSS running-max DP chain over a 0/1 match CTE
    * `loc(pr, cd, i, j, m)` built by `locCte` on top of `prep`. */
  private def lcssChainSql(sz: Int, prep: String, locCte: String): String = {
    val sb = new StringBuilder(prep)
    sb ++= locCte
    sb ++=
      """
        |, t0 AS (
        |  SELECT pr, cd, j,
        |    max(m) OVER (PARTITION BY pr, cd ORDER BY j) AS len
        |  FROM loc WHERE i = 0
        |)""".stripMargin
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
         |  FROM rs a JOIN rs b ON b.user_id = a.user_id + 1
         |), t0 AS (
         |  SELECT pr, cd, j,
         |    max(m) OVER (PARTITION BY pr, cd ORDER BY j) AS len
         |  FROM loc WHERE i = 0
         |)""".stripMargin
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

  /** Shared CTE prefix for the raw-length (ragged) oracles: 0-based
    * index j, per-user length n, and z-normed val via the kernel's
    * m2/n − mean² variance formula (var≤0 → sd 1, Kernels.scala:473). */
  private val rawZnormCte =
    """WITH v AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts) // 1000, event_id) - 1 AS j,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events
      |), st AS (
      |  SELECT user_id, avg(value) AS mu,
      |    avg(value * value) - avg(value) * avg(value) AS var
      |  FROM v GROUP BY 1
      |), z AS (
      |  SELECT v.user_id, v.j, v.n,
      |    (v.value - st.mu) /
      |      (CASE WHEN st.var <= 0 THEN 1.0 ELSE sqrt(st.var) END) AS val
      |  FROM v JOIN st USING (user_id)
      |)""".stripMargin

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

  /** Rewrite every CTE header that opens a line (`WITH x AS (`,
    * `, x AS (`, `), x AS (`) to `x AS MATERIALIZED (`. DuckDB inlines
    * CTEs by default, and a DP step that references its predecessor
    * twice would expand an n-step chain into an exponential tree of
    * parquet scans ("Too many open files" long before any result).
    * Callers with a recursive CTE turn it back to a plain `AS (`. */
  private def materialized(sql: String): String =
    sql.replaceAll("(?m)^(WITH |, |\\), )(\\w+) AS \\($", "$1$2 AS MATERIALIZED (")

  /** One min-plus DTW row chain `${t}0..${t}{n-1}` over a cell CTE
    * `$loc(keys.., i, j, d)`: `${t}i(keys.., j, cost)` holds the
    * accumulated squared cost of row i (Kernels.dtw's recurrence, with
    * `d` the local cost). The same-row dependency is solved per row by
    * the prefix-min identity
    * new[j] = cs[j] + min_{k<=j}(min(prev[k], prev[k-1]) − cs[k-1])
    * (cs = running sum of d over the row), two running windows per step.
    * `freeStart` makes row 0 the raw local cost (subsequence DTW: any
    * start column is free). The output opens with `, ${t}0 AS (` and no
    * line break, so after the caller's closing `)` it reads
    * `), ${t}0 AS (`; every later header is its own `, name AS (` line.
    * Both forms match [[materialized]]. */
  private def minPlusChainCtes(keys: Seq[String], loc: String, t: String, n: Int,
                               freeStart: Boolean = false): String = {
    val ks = keys.mkString(", ")
    val lks = keys.map("l." + _).mkString(", ")
    def on(p: String) = keys.map(k => s"$p.$k = l.$k").mkString(" AND ")
    val cost0 = if (freeStart) "d" else s"sum(d) OVER (PARTITION BY $ks ORDER BY j)"
    val sb = new StringBuilder(
      s""", ${t}0 AS (
         |  SELECT $ks, j,
         |    $cost0 AS cost
         |  FROM $loc WHERE i = 0
         |)""".stripMargin)
    for (i <- 1 until n) {
      sb ++=
        s"""
           |, $t$i AS (
           |  SELECT $ks, j, cs + mn AS cost FROM (
           |    SELECT $ks, j, cs,
           |      min(mk - csk) OVER (PARTITION BY $ks ORDER BY j) AS mn
           |    FROM (
           |      SELECT $lks, l.j,
           |        sum(l.d) OVER (PARTITION BY $lks ORDER BY l.j) AS cs,
           |        sum(l.d) OVER (PARTITION BY $lks ORDER BY l.j) - l.d AS csk,
           |        least(coalesce(pk.cost, 1e308), coalesce(pk1.cost, 1e308)) AS mk
           |      FROM $loc l
           |      LEFT JOIN $t${i - 1} pk
           |        ON ${on("pk")} AND pk.j = l.j
           |      LEFT JOIN $t${i - 1} pk1
           |        ON ${on("pk1")} AND pk1.j = l.j - 1
           |      WHERE l.i = $i))
           |)""".stripMargin
    }
    sb.toString
  }

  /** Shared sum-product DP chain for the GAK and soft-DTW oracles. Both
    * kernels satisfy W(i,j) = k(i,j)·(W(i-1,j) + W(i-1,j-1) + W(i,j-1)):
    * GAK directly in its Gram terms (Kernels.logUnnormalizedGak), and
    * soft-DTW after substituting W = exp(-cost/γ) into the soft-min
    * recurrence (Kernels.softDtw). Each row solves in closed form as
    * W(i,j) = K(j)·Σ_{j'≤j} P(j')/K(j'-1) with K the prefix product of
    * k over the row and P(j') = W(i-1,j') + W(i-1,j'-1); the chain runs
    * in log space with a per-row max shift so the running exp-sum never
    * overflows. `lgSql` is log k(i,j) in terms of a.val/b.val;
    * `selfPairs` adds (u,u) pairs (needed for GAK normalization). */
  /** One sum-product row chain `${t}0..${t}{sz-1}` over a cell CTE
    * `$loc(pr, cd, i, j, lg)`: `${t}i` holds, for every column j, the
    * log of the forward weight W(i,j) = Σ_{paths (0,0)→(i,j)} Π exp(lg)
    * under the GAK/soft-DTW recurrence
    * W(i,j) = k(i,j)·(W(i−1,j) + W(i−1,j−1) + W(i,j−1)). The same-row
    * dependency is solved in closed form per row: a prefix-sum of
    * per-cell log-factors (lk) plus a running exp-sum of the
    * prev-row contributions (lpk), max-shifted for log-space safety.
    * Factored out of [[sumProdChainSql]] so the gradient oracle can run
    * the chain twice (forward + index-reversed = backward). */
  private def rowChainCtes(sz: Int, loc: String, t: String): String = {
    val neg = "-1.0e300"
    val sb = new StringBuilder()
    sb ++=
      s"""
         |, ${t}0 AS (
         |  SELECT pr, cd, j,
         |    sum(lg) OVER (PARTITION BY pr, cd ORDER BY j) AS lw
         |  FROM $loc WHERE i = 0
         |)""".stripMargin
    for (i <- 1 until sz) {
      sb ++=
        s"""
           |, $t$i AS (
           |  SELECT pr, cd, j, lk + mx + ln(se) AS lw FROM (
           |    SELECT pr, cd, j, lk, mx,
           |      sum(exp(lpk - mx)) OVER (PARTITION BY pr, cd ORDER BY j) AS se
           |    FROM (
           |      SELECT pr, cd, j, lk, lpk,
           |        max(lpk) OVER (PARTITION BY pr, cd) AS mx
           |      FROM (
           |        SELECT l.pr, l.cd, l.j,
           |          sum(l.lg) OVER (PARTITION BY l.pr, l.cd ORDER BY l.j) AS lk,
           |          greatest(coalesce(pk.lw, $neg), coalesce(pk1.lw, $neg))
           |            + ln(1.0 + exp(least(coalesce(pk.lw, $neg), coalesce(pk1.lw, $neg))
           |                - greatest(coalesce(pk.lw, $neg), coalesce(pk1.lw, $neg))))
           |            - (sum(l.lg) OVER (PARTITION BY l.pr, l.cd ORDER BY l.j) - l.lg) AS lpk
           |        FROM $loc l
           |        LEFT JOIN $t${i - 1} pk
           |          ON pk.pr = l.pr AND pk.cd = l.cd AND pk.j = l.j
           |        LEFT JOIN $t${i - 1} pk1
           |          ON pk1.pr = l.pr AND pk1.cd = l.cd AND pk1.j = l.j - 1
           |        WHERE l.i = $i)))
           |)""".stripMargin
    }
    sb.toString
  }

  private def sumProdChainSql(sz: Int, lgSql: String, selfPairs: Boolean,
                              finalSql: String, allPairsMaxId: Int = -1): String = {
    val self =
      if (selfPairs)
        """
          |  SELECT user_id AS pr, user_id AS cd FROM (SELECT DISTINCT user_id FROM r)
          |  UNION ALL""".stripMargin
      else ""
    // allPairsMaxId >= 0: every ordered pair (incl. self) among users
    // < allPairsMaxId — the cdist-matrix shape — instead of adjacent ids
    val pairsSql =
      if (allPairsMaxId >= 0)
        s"""
           |  SELECT a.user_id AS pr, b.user_id AS cd
           |  FROM (SELECT DISTINCT user_id FROM r WHERE user_id < $allPairsMaxId) a
           |  JOIN (SELECT DISTINCT user_id FROM r WHERE user_id < $allPairsMaxId) b ON true""".stripMargin
      else
        s"""$self
           |  SELECT a.user_id AS pr, b.user_id AS cd
           |  FROM (SELECT DISTINCT user_id FROM r) a
           |  JOIN (SELECT DISTINCT user_id FROM r) b ON b.user_id = a.user_id + 1""".stripMargin
    val sb = new StringBuilder(evCte + resampleZnormCte(sz))
    sb ++=
      s"""
         |, pairs AS ($pairsSql
         |), loc AS (
         |  SELECT p.pr, p.cd, a.j AS i, b.j AS j, $lgSql AS lg
         |  FROM pairs p
         |  JOIN r a ON a.user_id = p.pr
         |  JOIN r b ON b.user_id = p.cd
         |)""".stripMargin
    sb ++= rowChainCtes(sz, "loc", "t")
    sb ++=
      s"""
         |, fin AS (
         |  SELECT pr, cd, lw FROM t${sz - 1} WHERE j = ${sz - 1}
         |)
         |$finalSql""".stripMargin
    materialized(sb.toString)
  }

  /** Ragged variant of [[sumProdChainSql]]: each series is resampled to
    * its OWN target length 8 + (user_id % 5)·2 (all ≤ 16, inside the
    * log-space row-solve's double-range ceiling), so sz1≠sz2 flows
    * through the sum-product DP — the ragged driver signal for gak /
    * softdtw in VARIABLE_LENGTH_METRICS. Chain shape and per-row
    * log-sum-exp identical to the fixed-size version; the terminal cell
    * comes from a lens join instead of a constant. */
  private def raggedSumProdChainSql(lgSql: String, selfPairs: Boolean,
                                    finalSql: String): String = {
    val maxSz = 16
    val neg = "-1.0e300"
    val self =
      if (selfPairs)
        """
          |  SELECT user_id AS pr, user_id AS cd FROM tgt
          |  UNION ALL""".stripMargin
      else ""
    val sb = new StringBuilder(
      s"""WITH v AS (
         |  SELECT user_id, value,
         |         row_number() OVER (PARTITION BY user_id
         |           ORDER BY epoch_ns(ts) // 1000, event_id) AS t,
         |         count(*) OVER (PARTITION BY user_id) AS n
         |  FROM events
         |), tgt AS (
         |  SELECT user_id, n, 8 + (user_id % 5) * 2 AS tl
         |  FROM (SELECT DISTINCT user_id, n FROM v)
         |), grid AS (
         |  SELECT u.user_id, u.n, u.tl, g.j, g.j * (u.n - 1) / (u.tl - 1.0) AS pos
         |  FROM tgt u, (SELECT unnest(generate_series(0, ${maxSz - 1})) AS j) g
         |  WHERE g.j < u.tl
         |), w AS (
         |  SELECT user_id, j, CAST(floor(pos) AS INT) AS i0,
         |    LEAST(CAST(floor(pos) AS INT) + 1, n - 1) AS i1, pos - floor(pos) AS frac
         |  FROM grid
         |), r0 AS (
         |  SELECT w.user_id, w.j, v0.value * (1.0 - w.frac) + v1.value * w.frac AS val
         |  FROM w
         |  JOIN v v0 ON v0.user_id = w.user_id AND v0.t - 1 = w.i0
         |  JOIN v v1 ON v1.user_id = w.user_id AND v1.t - 1 = w.i1
         |), st AS (
         |  SELECT user_id, avg(val) AS mu,
         |    avg(val * val) - avg(val) * avg(val) AS var
         |  FROM r0 GROUP BY 1
         |), r AS (
         |  SELECT r0.user_id, r0.j,
         |    (r0.val - st.mu) /
         |      (CASE WHEN st.var <= 0 THEN 1.0 ELSE sqrt(st.var) END) AS val
         |  FROM r0 JOIN st USING (user_id)
         |), pairs AS ($self
         |  SELECT a.user_id AS pr, b.user_id AS cd
         |  FROM tgt a JOIN tgt b ON b.user_id = a.user_id + 1
         |), lens AS (
         |  SELECT p.pr, p.cd, a.tl AS l1, b.tl AS l2
         |  FROM pairs p
         |  JOIN tgt a ON a.user_id = p.pr
         |  JOIN tgt b ON b.user_id = p.cd
         |), loc AS (
         |  SELECT p.pr, p.cd, a.j AS i, b.j AS j, $lgSql AS lg
         |  FROM pairs p
         |  JOIN r a ON a.user_id = p.pr
         |  JOIN r b ON b.user_id = p.cd
         |), t0 AS (
         |  SELECT pr, cd, j,
         |    sum(lg) OVER (PARTITION BY pr, cd ORDER BY j) AS lw
         |  FROM loc WHERE i = 0
         |)""".stripMargin)
    for (i <- 1 until maxSz) {
      sb ++=
        s"""
           |, t$i AS (
           |  SELECT pr, cd, j, lk + mx + ln(se) AS lw FROM (
           |    SELECT pr, cd, j, lk, mx,
           |      sum(exp(lpk - mx)) OVER (PARTITION BY pr, cd ORDER BY j) AS se
           |    FROM (
           |      SELECT pr, cd, j, lk, lpk,
           |        max(lpk) OVER (PARTITION BY pr, cd) AS mx
           |      FROM (
           |        SELECT l.pr, l.cd, l.j,
           |          sum(l.lg) OVER (PARTITION BY l.pr, l.cd ORDER BY l.j) AS lk,
           |          greatest(coalesce(pk.lw, $neg), coalesce(pk1.lw, $neg))
           |            + ln(1.0 + exp(least(coalesce(pk.lw, $neg), coalesce(pk1.lw, $neg))
           |                - greatest(coalesce(pk.lw, $neg), coalesce(pk1.lw, $neg))))
           |            - (sum(l.lg) OVER (PARTITION BY l.pr, l.cd ORDER BY l.j) - l.lg) AS lpk
           |        FROM loc l
           |        LEFT JOIN t${i - 1} pk
           |          ON pk.pr = l.pr AND pk.cd = l.cd AND pk.j = l.j
           |        LEFT JOIN t${i - 1} pk1
           |          ON pk1.pr = l.pr AND pk1.cd = l.cd AND pk1.j = l.j - 1
           |        WHERE l.i = $i)))
           |)""".stripMargin
    }
    sb ++= "\n, ans AS (\n  SELECT pr, cd, 0 AS i, j, lw FROM t0"
    for (i <- 1 until maxSz)
      sb ++= s"\n  UNION ALL SELECT pr, cd, $i, j, lw FROM t$i"
    sb ++=
      s"""
         |), fin AS (
         |  SELECT a.pr, a.cd, a.lw
         |  FROM ans a JOIN lens ln ON ln.pr = a.pr AND ln.cd = a.cd
         |  WHERE a.i = ln.l1 - 1 AND a.j = ln.l2 - 1
         |)
         |$finalSql""".stripMargin
    materialized(sb.toString)
  }

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
         |    CASE WHEN p.i = 0 THEN 0
         |         WHEN p.j = 0 THEN p.i - 1
         |         WHEN cd2.cost <= cu.cost AND cd2.cost <= cl.cost THEN p.i - 1
         |         WHEN cu.cost <= cl.cost THEN p.i - 1
         |         ELSE p.i END AS i,
         |    CASE WHEN p.i = 0 THEN p.j - 1
         |         WHEN p.j = 0 THEN p.j
         |         WHEN cd2.cost <= cu.cost AND cd2.cost <= cl.cost THEN p.j - 1
         |         WHEN cu.cost <= cl.cost THEN p.j
         |         ELSE p.j - 1 END AS j
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

  /** GAK with σ=1, normalized so k(x,x)=1 (Kernels.gak). */
  private def gakOracleSql(sz: Int): String = sumProdChainSql(
    sz,
    lgSql = "-(a.val - b.val) * (a.val - b.val) / 2.0" +
      " - ln(2.0 - exp(-(a.val - b.val) * (a.val - b.val) / 2.0))",
    selfPairs = true,
    finalSql =
      """SELECT ab.pr AS user_id,
        |  round(exp(ab.lw - 0.5 * (aa.lw + bb.lw)), 4) AS gak
        |FROM fin ab
        |JOIN fin aa ON aa.pr = ab.pr AND aa.cd = ab.pr
        |JOIN fin bb ON bb.pr = ab.cd AND bb.cd = ab.cd
        |WHERE ab.pr <> ab.cd""".stripMargin)

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
    val last = sz - 1
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
         |  JOIN r b ON b.user_id = p.cd
         |), locr AS (
         |  SELECT pr, cd, $last - i AS i, $last - j AS j, lg FROM loc
         |)""".stripMargin
    sb ++= rowChainCtes(sz, "loc", "t")
    sb ++= rowChainCtes(sz, "locr", "bk")
    val matf = (0 until sz)
      .map(i => s"SELECT pr, cd, $i AS i, j, lw FROM t$i")
      .mkString("\n  UNION ALL ")
    val matb = (0 until sz)
      .map(i => s"SELECT pr, cd, $i AS i, j, lw FROM bk$i")
      .mkString("\n  UNION ALL ")
    sb ++=
      s"""
         |, matf AS (
         |  $matf
         |), matbr AS (
         |  $matb
         |), matb AS (
         |  SELECT pr, cd, $last - i AS i, $last - j AS j, lw FROM matbr
         |), fin AS (
         |  SELECT pr, cd, lw FROM t$last WHERE j = $last
         |), e AS (
         |  SELECT f.pr, f.cd, f.i, f.j,
         |    exp(f.lw + b2.lw - l.lg - fn.lw) AS ev
         |  FROM matf f
         |  JOIN matb b2 ON b2.pr = f.pr AND b2.cd = f.cd
         |    AND b2.i = f.i AND b2.j = f.j
         |  JOIN loc l ON l.pr = f.pr AND l.cd = f.cd
         |    AND l.i = f.i AND l.j = f.j
         |  JOIN fin fn ON fn.pr = f.pr AND fn.cd = f.cd
         |)""".stripMargin
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
    val last = sz - 1
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
         |  FROM binit bi CROSS JOIN rs x
         |), locr AS (
         |  SELECT pr, cd, $last - i AS i, $last - j AS j, lg FROM loc
         |)""".stripMargin
    sb ++= rowChainCtes(sz, "loc", "t")
    sb ++= rowChainCtes(sz, "locr", "bk")
    val matf = (0 until sz)
      .map(i => s"SELECT pr, cd, $i AS i, j, lw FROM t$i")
      .mkString("\n  UNION ALL ")
    val matb = (0 until sz)
      .map(i => s"SELECT pr, cd, $i AS i, j, lw FROM bk$i")
      .mkString("\n  UNION ALL ")
    sb ++=
      s"""
         |, matf AS (
         |  $matf
         |), matbr AS (
         |  $matb
         |), matb AS (
         |  SELECT pr, cd, $last - i AS i, $last - j AS j, lw FROM matbr
         |), fin AS (
         |  SELECT pr, cd, lw FROM t$last WHERE j = $last
         |), e AS (
         |  SELECT f.pr, f.cd, f.i, f.j,
         |    exp(f.lw + b2.lw - l.lg - fn.lw) AS ev
         |  FROM matf f
         |  JOIN matb b2 ON b2.pr = f.pr AND b2.cd = f.cd
         |    AND b2.i = f.i AND b2.j = f.j
         |  JOIN loc l ON l.pr = f.pr AND l.cd = f.cd
         |    AND l.i = f.i AND l.j = f.j
         |  JOIN fin fn ON fn.pr = f.pr AND fn.cd = f.cd
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

  /** DuckDB oracle shared by doc_cms_heavy and doc_stream_cms (the
    * streaming cells path is cell-total-equal to the batch sketch). */
  private val cmsHeavyOracleSql: String =
    """WITH w AS (SELECT string_split(lower(text), ' ') AS ws FROM documents),
        |tall AS (SELECT unnest(ws) AS term FROM w),
        |tc AS (SELECT term, count(*) AS true_c FROM tall GROUP BY 1),
        |top10 AS (
        |  SELECT term, true_c FROM (
        |    SELECT term, true_c,
        |      row_number() OVER (ORDER BY true_c DESC, term) AS rk FROM tc)
        |  WHERE rk <= 10
        |), tcells AS (
        |  SELECT t.term, r.r,
        |    CAST(CONCAT('0x', substring(md5(r.r || ':' || t.term), 1, 15)) AS BIGINT) % 64 AS cell
        |  FROM tc t, (SELECT unnest(generate_series(0, 3)) AS r) r
        |), sketch AS (
        |  SELECT x.r, x.cell, CAST(sum(t.true_c) AS BIGINT) AS c
        |  FROM tcells x JOIN tc t USING (term) GROUP BY 1, 2
        |), est AS (
        |  SELECT x.term, min(s.c) AS cms_est
        |  FROM tcells x JOIN sketch s ON s.r = x.r AND s.cell = x.cell
        |  WHERE x.term IN (SELECT term FROM top10)
        |  GROUP BY 1
        |)
        |SELECT top10.term, top10.true_c, est.cms_est
        |FROM top10 JOIN est USING (term)""".stripMargin

  /** DuckDB oracle shared by doc_hll_distinct and doc_stream_hll (the
    * streaming register path is max-equal to the batch sketch). */
  private val hllDistinctOracleSql: String =
    """WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |hs AS (
        |  SELECT CAST(CONCAT('0x', substring(md5(term), 1, 15)) AS BIGINT) AS h FROM w
        |), regs AS (
        |  SELECT h % 64 AS idx,
        |    max(CASE WHEN h // 64 = 0 THEN 55
        |             ELSE 55 - length(bin(h // 64)) END) AS m_j
        |  FROM hs GROUP BY 1
        |), filled AS (
        |  SELECT g.i AS idx, coalesce(r.m_j, 0) AS m_j
        |  FROM (SELECT unnest(generate_series(0, 63)) AS i) g
        |  LEFT JOIN regs r ON r.idx = g.i
        |), agg AS (
        |  SELECT sum(pow(2.0, -m_j)) AS s,
        |         sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS v
        |  FROM filled
        |), ex AS (SELECT count(DISTINCT term) AS n_exact FROM w)
        |SELECT ex.n_exact,
        |  round(CASE WHEN (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 / agg.s
        |                  <= 2.5 * 64.0 AND agg.v > 0
        |        THEN 64.0 * ln(64.0 / agg.v)
        |        ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 / agg.s
        |        END, 4) + 0.0 AS hll_est
        |FROM ex, agg""".stripMargin

  /** Shared CTE chain of the doc-topic-clustering oracles: dense
    * hashed-BoW feature rows r(user_id, j, val), seeds = docs 0..k−1,
    * `iters` euclidean Lloyd rounds (argmin with the engine's
    * (d2, cell) tie-break; centroid = per-bucket mean), and the final
    * predict layer as `fin(user_id, cell, d2)`. */
  private def kmeansTopicsCtes(iters: Int, k: Int, d: Int): String = {
    val sb = new StringBuilder(
      s"""WITH docs0 AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
         |tok AS (SELECT doc_id, unnest(ws) AS tk FROM docs0),
         |feat0 AS (
         |  SELECT doc_id,
         |    CAST(CAST(CONCAT('0x', substring(md5(tk), 1, 15)) AS BIGINT) % $d AS INT) AS j,
         |    CAST(count(*) AS DOUBLE) AS val
         |  FROM tok GROUP BY 1, 2
         |), r AS (
         |  SELECT dd.doc_id AS user_id, g.j, coalesce(f.val, 0.0) AS val
         |  FROM (SELECT DISTINCT doc_id FROM docs0) dd
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${d - 1})) AS j) g
         |  LEFT JOIN feat0 f ON f.doc_id = dd.doc_id AND f.j = g.j
         |), c0 AS (
         |  SELECT CAST(user_id AS INT) AS cell, j, val AS c FROM r WHERE user_id < $k
         |)""".stripMargin)
    def assignCte(name: String, prev: String) =
      s"""
         |, $name AS (
         |  SELECT user_id, cell, d2 FROM (
         |    SELECT r.user_id, c.cell,
         |      sum((r.val - c.c) * (r.val - c.c)) AS d2,
         |      row_number() OVER (PARTITION BY r.user_id
         |        ORDER BY sum((r.val - c.c) * (r.val - c.c)), c.cell) AS rn
         |    FROM r JOIN $prev c ON c.j = r.j
         |    GROUP BY 1, 2)
         |  WHERE rn = 1
         |)""".stripMargin
    for (i <- 1 to iters) {
      sb ++= assignCte(s"a$i", s"c${i - 1}")
      sb ++=
        s"""
           |, c$i AS (
           |  SELECT a.cell, r.j, avg(r.val) AS c
           |  FROM r JOIN a$i a ON a.user_id = r.user_id
           |  GROUP BY 1, 2
           |)""".stripMargin
    }
    sb ++= assignCte("fin", s"c$iters")
    materialized(sb.toString)
  }

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
      |  WHERE t - 1 <= n - 8)
      |, dists AS (
      |  SELECT a.user_id, a.i AS i, b.i AS j,
      |    sqrt(sum((pa.value - pb.value) * (pa.value - pb.value))) AS d
      |  FROM seg a
      |  JOIN seg b ON a.user_id = b.user_id AND abs(a.i - b.i) > 2
      |  JOIN pos pa ON pa.user_id = a.user_id AND pa.i BETWEEN a.i AND a.i + 7
      |  JOIN pos pb ON pb.user_id = b.user_id AND pb.i = b.i + (pa.i - a.i)
      |  GROUP BY 1, 2, 3
      |)""".stripMargin

  /** Shared CTE chain of the DSIR oracles: hashed-BoW bucket models
    * (target = lang 'en' vs raw), add-0.5 smoothed log ratios, and the
    * per-doc weighted sum as `dw(doc_id, n_tokens, logw)`. */
  private val importanceWeightsCtes: String =
    """WITH docs0 AS (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
      |    string_split(lower(text), ' ') AS ws
      |  FROM documents
      |), tok AS (SELECT doc_id, is_t, unnest(ws) AS tk FROM docs0),
      |feat AS (
      |  SELECT doc_id, max(is_t) AS is_t,
      |    CAST(CAST(CONCAT('0x', substring(md5(tk), 1, 15)) AS BIGINT) % 32 AS INT) AS bucket,
      |    count(*) AS xb
      |  FROM tok GROUP BY 1, 3
      |), raw AS (SELECT bucket, CAST(sum(xb) AS BIGINT) AS cr FROM feat GROUP BY 1),
      |tgt AS (SELECT bucket, CAST(sum(xb) AS BIGINT) AS ct FROM feat WHERE is_t = 1 GROUP BY 1),
      |tots AS (
      |  SELECT (SELECT CAST(sum(cr) AS DOUBLE) FROM raw) AS tr,
      |         (SELECT CAST(sum(ct) AS DOUBLE) FROM tgt) AS tt
      |), ratios AS (
      |  SELECT g.i AS bucket,
      |    ln((coalesce(t.ct, 0) + 0.5) / (tots.tt + 0.5 * 32)) -
      |    ln((coalesce(r.cr, 0) + 0.5) / (tots.tr + 0.5 * 32)) AS lr
      |  FROM (SELECT unnest(generate_series(0, 31)) AS i) g
      |  LEFT JOIN raw r ON r.bucket = g.i
      |  LEFT JOIN tgt t ON t.bucket = g.i
      |  CROSS JOIN tots
      |), dw AS (
      |  SELECT f.doc_id, CAST(sum(f.xb) AS BIGINT) AS n_tokens,
      |    sum(f.xb * ratios.lr) AS logw
      |  FROM feat f JOIN ratios ON ratios.bucket = f.bucket
      |  GROUP BY 1
      |)""".stripMargin

  /** DuckDB oracle for doc_bpe_merges — `steps` BPE training steps
    * replayed relationally. Per step s: p$s counts every adjacent
    * symbol pair of the previous symbol layer (overlapping included,
    * frequency-weighted — the reference `get_stats`), best$s is the
    * deterministic argmax (cnt DESC, l, r), and the merge APPLY is a
    * recursive per-word position walk w$s (advance 2 over a matched
    * pair, else 1 — greedy non-overlap, so "aaa"+(a,a) → ["aa","a"]),
    * re-indexed into the next symbol layer s$s. */
  private def bpeMergesOracleSql(steps: Int): String =
    bpeOracleFinish(bpeOracleCtes(steps) + "\n" + (1 to steps).map(s =>
        s"""SELECT $s AS step, l AS "left", r AS "right", cnt AS pair_count FROM best$s""")
      .mkString("\nUNION ALL\n"))

  /** DuckDB oracle for doc_bpe_encode — the same merge cascade, read
    * out at the FINAL symbol layer: per word, the space-joined
    * segmentation, its token count, and the word frequency. */
  private def bpeEncodeOracleSql(steps: Int): String =
    bpeOracleFinish(bpeOracleCtes(steps) +
      s"""
         |SELECT s.word, string_agg(s.sym, ' ' ORDER BY s.pos) AS enc,
         |  count(*) AS n_tok, min(v.freq) AS freq
         |FROM s$steps s JOIN vf v ON v.word = s.word
         |GROUP BY s.word""".stripMargin)

  /** DuckDB oracle for doc_bpe_tokenize — the replayed final symbol
    * layer joined back onto the corpus words: per doc, total tokens
    * under the learned merges and the word count. */
  private def bpeTokenizeOracleSql(steps: Int): String =
    bpeOracleFinish(bpeOracleCtes(steps) +
      s"""
         |, wt AS (
         |  SELECT word, count(*) AS n_tok FROM s$steps GROUP BY word
         |)
         |SELECT d.doc_id, CAST(sum(wt.n_tok) AS BIGINT) AS n_tok,
         |  count(*) AS n_words
         |FROM (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
         |  FROM documents) d
         |JOIN wt ON wt.word = d.word
         |GROUP BY d.doc_id""".stripMargin)

  /** DuckDB oracle for ts_kmeanspp_init — the greedy k-means++ trace
    * replayed: the same md5 exponential races (−ln(u)/D², smallest-id
    * ties), per-round candidate D² joins, potential argmins and D²
    * folds, over the shared resample CTE. */
  private def kmeansppOracleSql(k: Int, l: Int): String = {
    def race(rr: Int, t: Int, over: String) =
      s"""-ln((CAST(CONCAT('0x', substring(md5('kpp:$rr:$t:' || $over), 1, 15)) AS BIGINT) + 1.0)
         |      / 1152921504606846976.0)""".stripMargin
    val sb = new StringBuilder(evCte + resampleCte)
    sb ++=
      s"""
         |, ids AS (SELECT DISTINCT user_id FROM r)
         |, c0 AS (
         |  SELECT user_id AS cid FROM ids
         |  ORDER BY ${race(0, 0, "user_id")}, user_id LIMIT 1
         |), cv0 AS (SELECT r.j, r.val FROM r JOIN c0 ON c0.cid = r.user_id)
         |, d0 AS (
         |  SELECT r.user_id, sum((r.val - cv0.val) * (r.val - cv0.val)) AS d2
         |  FROM r JOIN cv0 ON cv0.j = r.j
         |  GROUP BY 1
         |)""".stripMargin
    for (rr <- 1 until k) {
      val dp = s"d${rr - 1}"
      val trials = (0 until l).map { t =>
        s"""  (SELECT user_id AS cid FROM $dp WHERE d2 > 0
           |   ORDER BY ${race(rr, t, "user_id")} / d2, user_id LIMIT 1)""".stripMargin
      }.mkString("\n  UNION ALL\n")
      sb ++=
        s"""
           |, cand$rr AS (SELECT DISTINCT cid FROM (
           |$trials))
           |, cv$rr AS (
           |  SELECT c.cid, r.j, r.val FROM r JOIN cand$rr c ON c.cid = r.user_id
           |), dc$rr AS (
           |  SELECT r.user_id, cv.cid, sum((r.val - cv.val) * (r.val - cv.val)) AS dc
           |  FROM r JOIN cv$rr cv ON cv.j = r.j
           |  GROUP BY 1, 2
           |), b$rr AS (
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
    sb ++=
      s"""
         |SELECT 0 AS round, c0.cid AS center_id,
         |  round((SELECT sum(d2) FROM d0), 4) + 0.0 AS pot FROM c0""".stripMargin
    for (rr <- 1 until k)
      sb ++=
        s"""
           |UNION ALL SELECT $rr, cid, round(pot, 4) + 0.0 FROM b$rr""".stripMargin
    sb.toString
  }

  /** DuckDB oracle for ts_kmeanspp_dtw — the greedy k-means++ trace
    * under metric="dtw": same md5 races and potential argmins as
    * [[kmeansppOracleSql]], but every D² is the accumulated cost of a
    * full DTW DP chain (the ts_kmeans_dtw window-min recurrence, cost
    * at the (sz−1, sz−1) cell = dtw², no sqrt round trip). */
  private def kmeansppDtwOracleSql(k: Int, l: Int, sz: Int, nUsers: Int): String = {
    val last = sz - 1
    def race(rr: Int, t: Int, over: String) =
      s"""-ln((CAST(CONCAT('0x', substring(md5('kpp:$rr:$t:' || $over), 1, 15)) AS BIGINT) + 1.0)
         |      / 1152921504606846976.0)""".stripMargin
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
         |  ORDER BY ${race(0, 0, "user_id")}, user_id LIMIT 1
         |), cv0 AS (
         |  SELECT c.cid, rr.j AS i, rr.val AS bv
         |  FROM rr JOIN c0 c ON c.cid = rr.user_id
         |)""".stripMargin
    sb ++= chain("a0", "cv0")
    sb ++=
      s"""
         |, d0 AS (SELECT user_id, cost AS d2 FROM a0x$last WHERE j = $last)""".stripMargin
    for (rr <- 1 until k) {
      val dp = s"d${rr - 1}"
      val trials = (0 until l).map { t =>
        s"""  (SELECT user_id AS cid FROM $dp WHERE d2 > 0
           |   ORDER BY ${race(rr, t, "user_id")} / d2, user_id LIMIT 1)""".stripMargin
      }.mkString("\n  UNION ALL\n")
      sb ++=
        s"""
           |, cand$rr AS (SELECT DISTINCT cid FROM (
           |$trials))
           |, cv$rr AS (
           |  SELECT c.cid, rr.j AS i, rr.val AS bv
           |  FROM rr JOIN cand$rr c ON c.cid = rr.user_id
           |)""".stripMargin
      sb ++= chain(s"a$rr", s"cv$rr")
      sb ++=
        s"""
           |, dc$rr AS (
           |  SELECT user_id, cid, cost AS dc FROM a${rr}x$last WHERE j = $last
           |), b$rr AS (
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
    sb ++=
      s"""
         |SELECT 0 AS round, c0.cid AS center_id,
         |  round((SELECT sum(d2) FROM d0), 4) + 0.0 AS pot FROM c0""".stripMargin
    for (rr <- 1 until k)
      sb ++=
        s"""
           |UNION ALL SELECT $rr, cid, round(pot, 4) + 0.0 FROM b$rr""".stripMargin
    // MATERIALIZED: inlined, each of the ~k·sz DP layers re-expands its
    // whole upstream (and re-opens the parquet per reference)
    materialized(sb.toString)
  }

  /** DuckDB oracle for emb_pca_project — the full PCA pipeline
    * relationally: population covariance from the same double-cast
    * moments, two unrolled power-method chains (shared ramp init,
    * matvec + ℓ2-normalize per step, zero-norm keeps the previous
    * iterate), Rayleigh eigenvalue, sums·v sign fix, Hotelling
    * deflation between components, and the centered projection. */
  private def pcaProjectOracleSql(d: Int, steps: Int,
                                  whiten: Boolean = false): String = materialized {
    val c0 = (d - 1) / 2.0
    var n2 = 0.0
    var jj = 0
    while (jj < d) { val r = jj - c0; n2 += r * r; jj += 1 }
    val rn = math.sqrt(n2)
    def chain(cov: String, p: String): String =
      (1 to steps).map { t =>
        s"""
           |, ${p}_$t AS (
           |  SELECT q.i AS j, CASE WHEN q.nw = 0 THEN p0.v ELSE q.w / q.nw END AS v
           |  FROM (
           |    SELECT c.i, sum(c.c * p.v) AS w,
           |      sqrt(sum(power(sum(c.c * p.v), 2)) OVER ()) AS nw
           |    FROM $cov c JOIN ${p}_${t - 1} p ON p.j = c.j
           |    GROUP BY c.i) q
           |  JOIN ${p}_${t - 1} p0 ON p0.j = q.i
           |)""".stripMargin
      }.mkString
    s"""WITH x AS MATERIALIZED (
       |  SELECT vec_id, j - 1 AS j, CAST(embedding[j] AS DOUBLE) AS v
       |  FROM embeddings, (SELECT unnest(generate_series(1, $d)) AS j) g
       |), mu AS MATERIALIZED (
       |  SELECT j, sum(v) AS s,
       |    sum(v) / (SELECT count(*) FROM embeddings) AS m
       |  FROM x GROUP BY j
       |), cv1 AS MATERIALIZED (
       |  SELECT a.j AS i, b.j AS j,
       |    sum(a.v * b.v) / (SELECT count(*) FROM embeddings) - ma.m * mb.m AS c
       |  FROM x a
       |  JOIN x b ON b.vec_id = a.vec_id
       |  JOIN mu ma ON ma.j = a.j
       |  JOIN mu mb ON mb.j = b.j
       |  GROUP BY a.j, b.j, ma.m, mb.m
       |), p1_0 AS (
       |  SELECT j, (j - $c0) / $rn AS v FROM mu
       |)""".stripMargin +
      chain("cv1", "p1") +
      s"""
         |, lam1 AS (
         |  SELECT sum(c.c * pa.v * pb.v) AS l
         |  FROM cv1 c JOIN p1_$steps pa ON pa.j = c.i
         |  JOIN p1_$steps pb ON pb.j = c.j
         |), sg1 AS (
         |  SELECT CASE WHEN sum(mu.s * p.v) < 0 THEN -1.0 ELSE 1.0 END AS s
         |  FROM mu JOIN p1_$steps p USING (j)
         |), v1 AS MATERIALIZED (
         |  SELECT p.j, p.v * (SELECT s FROM sg1) AS v FROM p1_$steps p
         |), cv2 AS MATERIALIZED (
         |  SELECT c.i, c.j, c.c - (SELECT l FROM lam1) * va.v * vb.v AS c
         |  FROM cv1 c JOIN v1 va ON va.j = c.i JOIN v1 vb ON vb.j = c.j
         |), p2_0 AS (
         |  SELECT j, (j - $c0) / $rn AS v FROM mu
         |)""".stripMargin +
      chain("cv2", "p2") +
      s"""
         |, sg2 AS (
         |  SELECT CASE WHEN sum(mu.s * p.v) < 0 THEN -1.0 ELSE 1.0 END AS s
         |  FROM mu JOIN p2_$steps p USING (j)
         |), v2 AS MATERIALIZED (
         |  SELECT p.j, p.v * (SELECT s FROM sg2) AS v FROM p2_$steps p
         |), lam2 AS (
         |  SELECT sum(c.c * pa.v * pb.v) AS l
         |  FROM cv2 c JOIN p2_$steps pa ON pa.j = c.i
         |  JOIN p2_$steps pb ON pb.j = c.j
         |)
         |SELECT x.vec_id,
         |  round(sum((x.v - mu.m) * v1.v)${
             if (whiten) " / sqrt((SELECT l FROM lam1))" else ""
           }, 6) + 0.0 AS pc1,
         |  round(sum((x.v - mu.m) * v2.v)${
             if (whiten) " / sqrt((SELECT l FROM lam2))" else ""
           }, 6) + 0.0 AS pc2
         |FROM x
         |JOIN mu ON mu.j = x.j
         |JOIN v1 ON v1.j = x.j
         |JOIN v2 ON v2.j = x.j
         |GROUP BY x.vec_id""".stripMargin
  }

  private def bpeOracleFinish(sql: String): String = sql
    .replaceAll("(?m)^(WITH RECURSIVE |, )(\\w+) AS \\($", "$1$2 AS MATERIALIZED (")
    .replaceAll(", (w\\d+) AS MATERIALIZED \\(", ", $1 AS (")

  private def bpeOracleCtes(steps: Int): String = {
    val sb = new StringBuilder(
      """WITH RECURSIVE vf AS (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |  GROUP BY 1
        |), s0 AS (
        |  SELECT word, g.i - 1 AS pos, substring(word, CAST(g.i AS INT), 1) AS sym
        |  FROM vf, (SELECT unnest(generate_series(1, (SELECT max(len(word)) FROM vf))) AS i) g
        |  WHERE g.i <= len(word)
        |)""".stripMargin)
    for (s <- 1 to steps) {
      val prev = s - 1
      sb ++=
        s"""
           |, p$s AS (
           |  SELECT a.sym AS l, b.sym AS r, CAST(sum(v.freq) AS BIGINT) AS cnt
           |  FROM s$prev a
           |  JOIN s$prev b ON b.word = a.word AND b.pos = a.pos + 1
           |  JOIN vf v ON v.word = a.word
           |  GROUP BY 1, 2
           |), best$s AS (
           |  SELECT l, r, cnt FROM p$s ORDER BY cnt DESC, l, r LIMIT 1
           |), w$s AS (
           |  SELECT word, 0 AS pos FROM vf
           |  UNION ALL
           |  SELECT w.word,
           |    w.pos + CASE WHEN a.sym = best.l AND b.sym = best.r THEN 2 ELSE 1 END
           |  FROM w$s w
           |  JOIN s$prev a ON a.word = w.word AND a.pos = w.pos
           |  LEFT JOIN s$prev b ON b.word = w.word AND b.pos = w.pos + 1
           |  CROSS JOIN best$s best
           |), s$s AS (
           |  SELECT w.word,
           |    row_number() OVER (PARTITION BY w.word ORDER BY w.pos) - 1 AS pos,
           |    CASE WHEN a.sym = best.l AND b.sym = best.r
           |         THEN a.sym || b.sym ELSE a.sym END AS sym
           |  FROM w$s w
           |  JOIN s$prev a ON a.word = w.word AND a.pos = w.pos
           |  LEFT JOIN s$prev b ON b.word = w.word AND b.pos = w.pos + 1
           |  CROSS JOIN best$s best
           |)""".stripMargin
    }
    sb.toString
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

  /** DuckDB oracle for ts_svc_decision: the SVC margin
    * s(x) = b + Σ_t αyₜ·k(x, svₜ) (`svm.py:198` decision_function) with
    * formula-pinned duals αy(id) = ((id·37+11) mod 19 − 9)/10 over the
    * normalized GAK gram — probes 8..15 against support vectors 0..7. */
  private def svcDecisionOracleSql(sz: Int, maxId: Int): String = sumProdChainSql(
    sz,
    lgSql = gakLgSql,
    selfPairs = false,
    allPairsMaxId = maxId,
    finalSql =
      """SELECT ab.pr AS probe_id,
        |  round(0.25 + sum((((ab.cd * 37 + 11) % 19) - 9) / 10.0
        |    * exp(ab.lw - 0.5 * (aa.lw + bb.lw))), 4) + 0.0 AS decision
        |FROM fin ab
        |JOIN fin aa ON aa.pr = ab.pr AND aa.cd = ab.pr
        |JOIN fin bb ON bb.pr = ab.cd AND bb.cd = ab.cd
        |WHERE ab.pr >= 8 AND ab.cd < 8
        |GROUP BY 1""".stripMargin)

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

  /** The normalized-GAK log chain shared by every GAK-gram oracle. */
  private val gakLgSql =
    "-(a.val - b.val) * (a.val - b.val) / 2.0" +
      " - ln(2.0 - exp(-(a.val - b.val) * (a.val - b.val) / 2.0))"

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

  /** DuckDB oracle for ts_ldtw_pairs: dtw_limited_warping_length
    * (`dtw_variants.py:468-743`) as a layered path-length DP — layer s
    * holds the min cost of reaching each cell in exactly s+1 steps
    * (cost = d(i,j) + min over the three layer-(s−1) predecessors;
    * cells with no reachable predecessor are absent, which is the
    * kernel's implicit-Inf reachability). Answer = √(min over layers at
    * the terminal cell). */
  private def ldtwOracleSql(sz: Int, maxLength: Int): String = {
    val last = sz - 1
    val sb = new StringBuilder(evCte + resampleZnormCte(sz))
    sb ++=
      s"""
         |, loc AS (
         |  SELECT a.user_id AS pr, a.j AS i, b.j AS j,
         |    (a.val - b.val) * (a.val - b.val) AS d
         |  FROM r a JOIN r b ON b.user_id = a.user_id + 1
         |), s0 AS (
         |  SELECT pr, i, j, d AS cost FROM loc WHERE i = 0 AND j = 0
         |)""".stripMargin
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
      (evCte + resampleZnormCte(sz)).replaceFirst("WITH ", "WITH RECURSIVE "))
    sb ++=
      s"""
         |, loc AS (
         |  SELECT a.user_id AS pr, a.j AS i, b.j AS j,
         |    (a.val - b.val) * (a.val - b.val) AS d
         |  FROM r a JOIN r b ON b.user_id = a.user_id + 1
         |), s0 AS (
         |  SELECT pr, i, j, d AS cost FROM loc WHERE i = 0 AND j = 0
         |)""".stripMargin
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
    val sb = new StringBuilder(
      s"""WITH v AS (
         |  SELECT user_id, value,
         |         row_number() OVER (PARTITION BY user_id
         |           ORDER BY epoch_ns(ts) // 1000, event_id) AS t,
         |         count(*) OVER (PARTITION BY user_id) AS n
         |  FROM events
         |)""".stripMargin)
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

  /** DuckDB oracle for ts_kshape_assign: SBD of every series to the four
    * fixed centroids via the direct O(sz²) correlation (as sbdOracleSql),
    * argmin with the kernel's strict-< tie-break (lowest cluster wins). */
  private def kshapeAssignOracleSql(sz: Int, k: Int): String =
    (evCte + resampleZnormCte(sz) +
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
         |  GROUP BY 1, 2
         |)
         |SELECT user_id AS series_id, CAST(cluster AS INT) AS cluster,
         |  round(d, 4) + 0.0 AS dist
         |FROM (
         |  SELECT user_id, cluster, d,
         |    row_number() OVER (PARTITION BY user_id ORDER BY d, cluster) AS rn
         |  FROM sbd)
         |WHERE rn = 1""".stripMargin)

  /** DuckDB oracle for ts_shapelet_step — one refined-shapelet gradient
    * step replayed relationally: min-pool features with argmin position
    * (smallest-pos tie-break, the kernel's strict-< scan), softmax head
    * with the fixed w0[c][k] = (c+1)(k+1)/10, the three backward paths
    * (dW = dl·f, db = dl, dS via the argmin-position subgradient
    * 2(S−x[p*+t])/m), and the Adam(t=1, zero-moment) update
    * θ − lr·g/(|g|+ε). */
  private def shapeletStepOracleSql(sz: Int, m: Int, lr: Double): String = {
    val maxPos = sz - m
    evCte + resampleZnormCte(sz) +
      s"""
         |, labels AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 5
         |      AS VARCHAR) AS label
         |  FROM events GROUP BY 1
         |), yy AS (
         |  SELECT user_id, CASE WHEN label = 'true' THEN 1 ELSE 0 END AS y FROM labels
         |), shp AS (
         |  SELECT k.k, r.j - k.o AS t, r.val AS sv
         |  FROM r JOIN (SELECT unnest([0, 1, 2]) AS k, unnest([0, $m, ${2 * m}]) AS o) k ON TRUE
         |  WHERE r.user_id = 0 AND r.j >= k.o AND r.j < k.o + $m
         |), dists AS (
         |  SELECT a.user_id, s.k, a.j - s.t AS pos,
         |    sum((a.val - s.sv) * (a.val - s.sv)) AS d2
         |  FROM r a JOIN shp s ON a.j - s.t BETWEEN 0 AND $maxPos
         |  GROUP BY 1, 2, 3
         |), feat AS (
         |  SELECT user_id, k, d2 / $m.0 AS f, pos FROM (
         |    SELECT user_id, k, pos, d2,
         |      row_number() OVER (PARTITION BY user_id, k ORDER BY d2, pos) AS rn
         |    FROM dists)
         |  WHERE rn = 1
         |), wconst AS (
         |  SELECT c.c, k.k, (c.c + 1) * (k.k + 1) / 10.0 AS w
         |  FROM (SELECT unnest([0, 1]) AS c) c, (SELECT unnest([0, 1, 2]) AS k) k
         |), logits AS (
         |  SELECT f.user_id, w.c, sum(w.w * f.f) AS l
         |  FROM feat f JOIN wconst w ON w.k = f.k
         |  GROUP BY 1, 2
         |), pmax AS (
         |  SELECT user_id, max(l) AS mx FROM logits GROUP BY 1
         |), probs AS (
         |  SELECT lg.user_id, lg.c,
         |    exp(lg.l - pm.mx) /
         |      sum(exp(lg.l - pm.mx)) OVER (PARTITION BY lg.user_id) AS p
         |  FROM logits lg JOIN pmax pm USING (user_id)
         |), dl AS (
         |  SELECT pr.user_id, pr.c,
         |    pr.p - CASE WHEN pr.c = yy.y THEN 1.0 ELSE 0.0 END AS d
         |  FROM probs pr JOIN yy ON yy.user_id = pr.user_id
         |), nn AS (
         |  SELECT count(*) AS n FROM yy
         |), gw AS (
         |  SELECT dl.c, f.k, sum(dl.d * f.f) / (SELECT n FROM nn) AS g
         |  FROM dl JOIN feat f ON f.user_id = dl.user_id
         |  GROUP BY 1, 2
         |), gb AS (
         |  SELECT c, sum(d) / (SELECT n FROM nn) AS g FROM dl GROUP BY 1
         |), gf AS (
         |  SELECT dl.user_id, w.k, sum(dl.d * w.w) AS gf
         |  FROM dl JOIN wconst w ON w.c = dl.c
         |  GROUP BY 1, 2
         |), gs AS (
         |  SELECT s.k, s.t,
         |    sum(gf.gf * 2.0 * (s.sv - r.val) / $m.0) / (SELECT n FROM nn) AS g
         |  FROM gf
         |  JOIN feat fe ON fe.user_id = gf.user_id AND fe.k = gf.k
         |  JOIN shp s ON s.k = gf.k
         |  JOIN r ON r.user_id = gf.user_id AND r.j = fe.pos + s.t
         |  GROUP BY 1, 2
         |)
         |SELECT 'shp' AS kind, CAST(s.k AS INT) AS i, CAST(s.t AS INT) AS j,
         |  round(s.sv - $lr * g.g / (abs(g.g) + 1e-8), 4) + 0.0 AS v
         |FROM shp s JOIN gs g ON g.k = s.k AND g.t = s.t
         |UNION ALL
         |SELECT 'w', CAST(w.c AS INT), CAST(w.k AS INT),
         |  round(w.w - $lr * gw.g / (abs(gw.g) + 1e-8), 4) + 0.0
         |FROM wconst w JOIN gw ON gw.c = w.c AND gw.k = w.k
         |UNION ALL
         |SELECT 'b', CAST(gb.c AS INT), 0,
         |  round(0.0 - $lr * gb.g / (abs(gb.g) + 1e-8), 4) + 0.0
         |FROM gb""".stripMargin
  }

  /** DuckDB oracle for ts_shapelet_classify: the FULL `iters`-step
    * refined-shapelet fit trace — shapeletStepOracleSql's forward/
    * backward machinery chained with the COMPLETE bias-corrected Adam
    * state (m, v per parameter; β1=0.9, β2=0.999, ε=1e-8, the
    * 1−βᵗ corrections written as the engine computes them), then the
    * deterministic predict: min-pool features against the final
    * shapelets, margin = logit₁ − logit₀ (head weights + bias), strict
    * > 0 → 'true'. Mirrors Shapelets.refineLoop + the query's margin
    * projection exactly. */
  private def shapeletTraceSql(sz: Int, m: Int, lr: Double, iters: Int): String = {
    val maxPos = sz - m
    val sb = new StringBuilder(evCte + resampleZnormCte(sz))
    sb ++=
      s"""
         |, labels AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 5
         |      AS VARCHAR) AS label
         |  FROM events GROUP BY 1
         |), yy AS (
         |  SELECT user_id, CASE WHEN label = 'true' THEN 1 ELSE 0 END AS y FROM labels
         |), nn AS (
         |  SELECT count(*) AS n FROM yy
         |), sh0 AS (
         |  SELECT k.k, r.j - k.o AS t, r.val AS sv, 0.0 AS ma, 0.0 AS va
         |  FROM r JOIN (SELECT unnest([0, 1, 2]) AS k, unnest([0, $m, ${2 * m}]) AS o) k ON TRUE
         |  WHERE r.user_id = 0 AND r.j >= k.o AND r.j < k.o + $m
         |), wb0 AS (
         |  SELECT c.c, k.k, (c.c + 1) * (k.k + 1) / 10.0 AS w, 0.0 AS ma, 0.0 AS va
         |  FROM (SELECT unnest([0, 1]) AS c) c, (SELECT unnest([0, 1, 2]) AS k) k
         |), bb0 AS (
         |  SELECT c.c, 0.0 AS bv, 0.0 AS ma, 0.0 AS va
         |  FROM (SELECT unnest([0, 1]) AS c) c
         |)""".stripMargin
    for (it <- 1 to iters) {
      val pv = it - 1
      sb ++=
        s"""
           |, dists$it AS (
           |  SELECT a.user_id, s.k, a.j - s.t AS pos,
           |    sum((a.val - s.sv) * (a.val - s.sv)) AS d2
           |  FROM r a JOIN sh$pv s ON a.j - s.t BETWEEN 0 AND $maxPos
           |  GROUP BY 1, 2, 3
           |), feat$it AS (
           |  SELECT user_id, k, d2 / $m.0 AS f, pos FROM (
           |    SELECT user_id, k, pos, d2,
           |      row_number() OVER (PARTITION BY user_id, k ORDER BY d2, pos) AS rn
           |    FROM dists$it)
           |  WHERE rn = 1
           |), logits$it AS (
           |  SELECT q.user_id, q.c, q.l + bb.bv AS l
           |  FROM (
           |    SELECT f.user_id, w.c, sum(w.w * f.f) AS l
           |    FROM feat$it f JOIN wb$pv w ON w.k = f.k
           |    GROUP BY 1, 2) q
           |  JOIN bb$pv bb ON bb.c = q.c
           |), pmax$it AS (
           |  SELECT user_id, max(l) AS mx FROM logits$it GROUP BY 1
           |), probs$it AS (
           |  SELECT lg.user_id, lg.c,
           |    exp(lg.l - pm.mx) /
           |      sum(exp(lg.l - pm.mx)) OVER (PARTITION BY lg.user_id) AS p
           |  FROM logits$it lg JOIN pmax$it pm USING (user_id)
           |), dl$it AS (
           |  SELECT pr.user_id, pr.c,
           |    pr.p - CASE WHEN pr.c = yy.y THEN 1.0 ELSE 0.0 END AS d
           |  FROM probs$it pr JOIN yy ON yy.user_id = pr.user_id
           |), gw$it AS (
           |  SELECT dl.c, f.k, sum(dl.d * f.f) / (SELECT n FROM nn) AS g
           |  FROM dl$it dl JOIN feat$it f ON f.user_id = dl.user_id
           |  GROUP BY 1, 2
           |), gb$it AS (
           |  SELECT c, sum(d) / (SELECT n FROM nn) AS g FROM dl$it GROUP BY 1
           |), gf$it AS (
           |  SELECT dl.user_id, w.k, sum(dl.d * w.w) AS gf
           |  FROM dl$it dl JOIN wb$pv w ON w.c = dl.c
           |  GROUP BY 1, 2
           |), gs$it AS (
           |  SELECT s.k, s.t,
           |    sum(gf.gf * 2.0 * (s.sv - r.val) / $m.0) / (SELECT n FROM nn) AS g
           |  FROM gf$it gf
           |  JOIN feat$it fe ON fe.user_id = gf.user_id AND fe.k = gf.k
           |  JOIN sh$pv s ON s.k = gf.k
           |  JOIN r ON r.user_id = gf.user_id AND r.j = fe.pos + s.t
           |  GROUP BY 1, 2
           |), sh$it AS (
           |  SELECT k, t,
           |    sv - $lr * (ma / (1 - pow(0.9, $it))) /
           |      (sqrt(va / (1 - pow(0.999, $it))) + 1e-8) AS sv,
           |    ma, va
           |  FROM (
           |    SELECT s.k, s.t, s.sv,
           |      0.9 * s.ma + (1 - 0.9) * g.g AS ma,
           |      0.999 * s.va + (1 - 0.999) * g.g * g.g AS va
           |    FROM sh$pv s JOIN gs$it g ON g.k = s.k AND g.t = s.t)
           |), wb$it AS (
           |  SELECT c, k,
           |    w - $lr * (ma / (1 - pow(0.9, $it))) /
           |      (sqrt(va / (1 - pow(0.999, $it))) + 1e-8) AS w,
           |    ma, va
           |  FROM (
           |    SELECT w.c, w.k, w.w,
           |      0.9 * w.ma + (1 - 0.9) * g.g AS ma,
           |      0.999 * w.va + (1 - 0.999) * g.g * g.g AS va
           |    FROM wb$pv w JOIN gw$it g ON g.c = w.c AND g.k = w.k)
           |), bb$it AS (
           |  SELECT c,
           |    bv - $lr * (ma / (1 - pow(0.9, $it))) /
           |      (sqrt(va / (1 - pow(0.999, $it))) + 1e-8) AS bv,
           |    ma, va
           |  FROM (
           |    SELECT b.c, b.bv,
           |      0.9 * b.ma + (1 - 0.9) * g.g AS ma,
           |      0.999 * b.va + (1 - 0.999) * g.g * g.g AS va
           |    FROM bb$pv b JOIN gb$it g ON g.c = b.c)
           |)""".stripMargin
    }
    sb ++=
      s"""
         |, pd AS (
         |  SELECT a.user_id, s.k, a.j - s.t AS pos,
         |    sum((a.val - s.sv) * (a.val - s.sv)) AS d2
         |  FROM r a JOIN sh$iters s ON a.j - s.t BETWEEN 0 AND $maxPos
         |  GROUP BY 1, 2, 3
         |), pf AS (
         |  SELECT user_id, k, d2 / $m.0 AS f FROM (
         |    SELECT user_id, k, d2,
         |      row_number() OVER (PARTITION BY user_id, k ORDER BY d2, pos) AS rn
         |    FROM pd)
         |  WHERE rn = 1
         |), pl AS (
         |  SELECT q.user_id, q.c, q.l + bb.bv AS l
         |  FROM (
         |    SELECT f.user_id, w.c, sum(w.w * f.f) AS l
         |    FROM pf f JOIN wb$iters w ON w.k = f.k
         |    GROUP BY 1, 2) q
         |  JOIN bb$iters bb ON bb.c = q.c
         |)
         |SELECT l0.user_id AS series_id,
         |  CASE WHEN l1.l - l0.l > 0 THEN 'true' ELSE 'false' END AS pred,
         |  round(l1.l - l0.l, 4) + 0.0 AS margin
         |FROM pl l0 JOIN pl l1 ON l1.user_id = l0.user_id
         |WHERE l0.c = 0 AND l1.c = 1""".stripMargin
    materialized(sb.toString)
  }

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
    val sb = new StringBuilder(evCte + resampleZnormCte(sz))
    sb ++=
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
         |  GROUP BY 1, 2
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
           |    CASE WHEN p.i = 0 THEN 0
           |         WHEN p.j = 0 THEN p.i - 1
           |         WHEN cd.cost <= cu.cost AND cd.cost <= cl.cost THEN p.i - 1
           |         WHEN cu.cost <= cl.cost THEN p.i - 1
           |         ELSE p.i END AS i,
           |    CASE WHEN p.i = 0 THEN p.j - 1
           |         WHEN p.j = 0 THEN p.j
           |         WHEN cd.cost <= cu.cost AND cd.cost <= cl.cost THEN p.j - 1
           |         WHEN cu.cost <= cl.cost THEN p.j
           |         ELSE p.j - 1 END AS j
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
         |    CASE WHEN p.i = 0 THEN 0
         |         WHEN p.j = 0 THEN p.i - 1
         |         WHEN cd.cost <= cu.cost AND cd.cost <= cl.cost THEN p.i - 1
         |         WHEN cu.cost <= cl.cost THEN p.i - 1
         |         ELSE p.i END AS i,
         |    CASE WHEN p.i = 0 THEN p.j - 1
         |         WHEN p.j = 0 THEN p.j
         |         WHEN cd.cost <= cu.cost AND cd.cost <= cl.cost THEN p.j - 1
         |         WHEN cu.cost <= cl.cost THEN p.j
         |         ELSE p.j - 1 END AS j
         |  FROM path p
         |  LEFT JOIN cum cd ON cd.user_id = p.user_id AND cd.i = p.i - 1 AND cd.j = p.j - 1
         |  LEFT JOIN cum cu ON cu.user_id = p.user_id AND cu.i = p.i - 1 AND cu.j = p.j
         |  LEFT JOIN cum cl ON cl.user_id = p.user_id AND cl.i = p.i AND cl.j = p.j - 1
         |  WHERE p.i > 0 OR p.j > 0
         |)""".stripMargin
    sb.toString
  }

  /** DuckDB oracle for ts_shapelet_transform: the sliding min distance
    * min_pos Σᵢ (x(pos+i) − shp(i))² / m for the three fixed length-8
    * shapelets cut from series 0 — one grouped sum per (user, shapelet,
    * position), then a min and a pivot. */
  private def shapeletTransformOracleSql(sz: Int, m: Int): String = {
    val maxPos = sz - m
    evCte + resampleZnormCte(sz) +
      s"""
         |, shp AS (
         |  SELECT k.k, r.j - k.o AS i, r.val AS sv
         |  FROM r JOIN (SELECT unnest([0, 1, 2]) AS k, unnest([0, $m, ${2 * m}]) AS o) k ON TRUE
         |  WHERE r.user_id = 0 AND r.j >= k.o AND r.j < k.o + $m
         |), dists AS (
         |  SELECT a.user_id, s.k, a.j - s.i AS pos,
         |    sum((a.val - s.sv) * (a.val - s.sv)) AS d2
         |  FROM r a JOIN shp s ON a.j - s.i BETWEEN 0 AND $maxPos
         |  GROUP BY 1, 2, 3
         |), mins AS (
         |  SELECT user_id, k, min(d2) / $m.0 AS f FROM dists GROUP BY 1, 2
         |)
         |SELECT user_id AS series_id,
         |  round(max(CASE WHEN k = 0 THEN f END), 4) AS f0,
         |  round(max(CASE WHEN k = 1 THEN f END), 4) AS f1,
         |  round(max(CASE WHEN k = 2 THEN f END), 4) AS f2
         |FROM mins GROUP BY 1""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "ts_shapelet_transform" -> shapeletTransformOracleSql(32, 8),
    "ts_kshape_assign" -> kshapeAssignOracleSql(32, 4),
    "ts_kshape_step" -> kshapeStepOracleSql(32, 4, 60),
    "ts_kshape" -> kshapeTraceSql(32, 4, 8, 60),
    "ts_shapelet_step" -> shapeletStepOracleSql(32, 8, 0.1),
    "ts_shapelet_classify" -> shapeletTraceSql(32, 8, 0.1, 10),
    "ts_dba_step" -> dbaStepOracleSql(32),
    "ts_dba_ssg_step" -> dbaSsgStepOracleSql(32, 0.05),
    "ts_dba" -> dbaTraceSql(10, 32),
    "ts_paa_inverse" -> inverseTransformOracleSql(8, withSlope = false, "p.pavg"),
    "ts_sax_inverse" -> saxInverseOracleSql(8, 4),
    "ts_1dsax_inverse" -> oneDSaxInverseOracleSql(8, 4),
    "ts_lcss_cityblock_pairs" -> lcssMvCityblockOracleSql(16, 1.0),
    "ts_lcss_pairs" -> lcssOracleSql(32, 0.5),
    "ts_sbd_pairs" -> sbdOracleSql(32),
    "ts_gak_pairs" -> gakOracleSql(16),
    "ts_softdtw_pairs" -> softDtwOracleSql(16),
    "ts_softdtw_grad_pairs" -> softDtwGradOracleSql(16),
    "ts_softdtw_align_pairs" -> softDtwAlignOracleSql(8),
    "ts_softdtw_bary_step" -> softDtwBaryStepOracleSql(16, 4, 0.05),
    "ts_dtw_path_pairs" -> dtwPathOracleSql(16, 12),
    "ts_lcss_path_pairs" -> lcssPathOracleSql(16, 0.5, 12),
    "ts_dtw_itakura_pairs" -> dtwItakuraOracleSql(16),
    "ts_dtw_sakoe_pairs" -> dtwSakoePairsOracleSql(16, 2),
    "ts_dtw_cityblock_pairs" -> bandedDtwPairsOracleSql(16, "TRUE",
      dSql = "abs(a.val - b.val)", finalExpr = "cost"),
    // doc_label_onehot: one-hot cell = [lang rank == cls]; Scala's
    // Array[String].sorted and DuckDB's default varchar ORDER BY agree
    // on the ASCII lang codes.
    "doc_label_onehot" ->
      """WITH d AS (
        |  SELECT doc_id, lang FROM documents WHERE doc_id < 500
        |), lbl AS (
        |  SELECT lang, row_number() OVER (ORDER BY lang) - 1 AS idx
        |  FROM (SELECT DISTINCT lang FROM d)
        |)
        |SELECT d.doc_id, c.idx AS cls,
        |  CASE WHEN l.idx = c.idx THEN 1.0 ELSE 0.0 END AS v
        |FROM d
        |JOIN lbl l ON l.lang = d.lang
        |CROSS JOIN (SELECT idx FROM lbl) c""".stripMargin,

    // ts_knn_regress: euclidean kNN top-3 by (dist, id), then the
    // 'distance'-weighted mean with the engine's d=0 → 1/d=1e12 guard.
    "ts_knn_regress" -> (evCte + resampleZnormCte(16) +
      """
        |, ys AS (
        |  SELECT user_id, avg(value) AS y FROM v GROUP BY 1
        |), dist AS (
        |  SELECT p.user_id AS probe_id, t.user_id AS neighbor_id,
        |    sqrt(sum((p.val - t.val) * (p.val - t.val))) AS dist
        |  FROM r p JOIN r t ON t.j = p.j
        |  WHERE p.user_id >= 12 AND p.user_id < 24 AND t.user_id < 12
        |  GROUP BY 1, 2
        |), top AS (
        |  SELECT probe_id, neighbor_id, dist,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY dist, neighbor_id) AS rn
        |  FROM dist
        |), wtop AS (
        |  SELECT probe_id, neighbor_id,
        |    CASE WHEN dist = 0 THEN 1e12 ELSE 1.0 / dist END AS w
        |  FROM top WHERE rn <= 3
        |)
        |SELECT t.probe_id, round(sum(y.y * t.w) / sum(t.w), 4) + 0.0 AS y_pred
        |FROM wtop t JOIN ys y ON y.user_id = t.neighbor_id
        |GROUP BY 1""".stripMargin),

    "ts_ldtw_pairs" -> ldtwOracleSql(12, 16),
    "ts_ldtw_path_pairs" -> ldtwPathOracleSql(12, 16),
    "ts_subseq_match" -> subseqOracleSql(8, 24),
    "cdist_softdtw_norm" -> softDtwNormOracleSql(16, 12),
    "ts_lcss_ragged_pairs" -> lcssRaggedOracleSql(128, 0.5),
    "ts_1dsax_pairs" -> oneDSaxOracleSql(8, 4),
    "ts_gak_ragged_pairs" -> raggedSumProdChainSql(
      lgSql = "-(a.val - b.val) * (a.val - b.val) / 2.0" +
        " - ln(2.0 - exp(-(a.val - b.val) * (a.val - b.val) / 2.0))",
      selfPairs = true,
      finalSql =
        """SELECT ab.pr AS user_id,
          |  round(exp(ab.lw - 0.5 * (aa.lw + bb.lw)), 4) AS gak
          |FROM fin ab
          |JOIN fin aa ON aa.pr = ab.pr AND aa.cd = ab.pr
          |JOIN fin bb ON bb.pr = ab.cd AND bb.cd = ab.cd
          |WHERE ab.pr <> ab.cd""".stripMargin),
    "ts_softdtw_ragged_pairs" -> raggedSumProdChainSql(
      lgSql = "-(a.val - b.val) * (a.val - b.val)",
      selfPairs = false,
      finalSql =
        """SELECT pr AS user_id, round(-1.0 * lw, 4) AS softdtw FROM fin""".stripMargin),
    "ts_kernel_kmeans" -> kernelKMeansTraceSql(16, 12, 3, 4),
    "ts_kernel_kmeans_rbf" -> kernelKMeansRbfTraceSql(16, 12, 3, 4, 0.1),
    "ts_kernel_kmeans_predict" -> kernelKMeansPredictSql(16, 12, 20, 3, 4),
    "ts_svc_decision" -> svcDecisionOracleSql(16, 16),
    // ts_svc_smo_step: one SMO working-set iteration replayed off the
    // normalized-GAK gram chain — error sum, rounded first-order i* /
    // second-order j* argmax (ties → smallest id, as the engine's
    // max_by(round, −id)), box-clipped two-α update, Platt b1/b2.
    "ts_svc_smo_step" -> sumProdChainSql(
      16,
      lgSql = gakLgSql,
      selfPairs = false,
      allPairsMaxId = 12,
      finalSql =
        """, gram AS (
          |  SELECT ab.pr AS i, ab.cd AS j,
          |    CASE WHEN ab.pr = ab.cd THEN 1.0
          |         ELSE exp(ab.lw - 0.5 * (aa.lw + bb.lw)) END AS kv
          |  FROM fin ab
          |  JOIN fin aa ON aa.pr = ab.pr AND aa.cd = ab.pr
          |  JOIN fin bb ON bb.pr = ab.cd AND bb.cd = ab.cd
          |), lab AS (
          |  SELECT i AS id,
          |    CASE WHEN i % 2 = 0 THEN 1.0 ELSE -1.0 END AS y,
          |    ((i * 7 + 3) % 10) / 10.0 AS a
          |  FROM (SELECT DISTINCT pr AS i FROM fin)
          |), err AS (
          |  SELECT ef.id, ef.f0, l.y, l.a, ef.f0 - l.y AS e
          |  FROM (SELECT g.j AS id, sum(l.a * l.y * g.kv) + 0.0 AS f0
          |        FROM gram g JOIN lab l ON l.id = g.i GROUP BY 1) ef
          |  JOIN lab l ON l.id = ef.id
          |), irow AS (
          |  SELECT id AS i_id, e AS e_i, a AS a_i, y AS y_i FROM err
          |  WHERE (y > 0 AND a < 1.0) OR (y < 0 AND a > 0)
          |  ORDER BY round(-y * e, 4) DESC, id LIMIT 1
          |), jrow AS (
          |  SELECT c.id AS j_id, c.e AS e_j, c.a AS a_j, c.y AS y_j,
          |    i.i_id, i.e_i, i.a_i, i.y_i,
          |    kii.kv AS k_ii, kjj.kv AS k_jj, kij.kv AS k_ij
          |  FROM err c
          |  CROSS JOIN irow i
          |  JOIN gram kii ON kii.i = i.i_id AND kii.j = i.i_id
          |  JOIN gram kjj ON kjj.i = c.id AND kjj.j = c.id
          |  JOIN gram kij ON kij.i = i.i_id AND kij.j = c.id
          |  WHERE ((c.y > 0 AND c.a > 0) OR (c.y < 0 AND c.a < 1.0))
          |    AND c.id <> i.i_id
          |  ORDER BY round(CASE
          |      WHEN kii.kv + kjj.kv - 2 * kij.kv > 1e-12
          |      THEN (i.e_i - c.e) * (i.e_i - c.e)
          |           / (kii.kv + kjj.kv - 2 * kij.kv)
          |      ELSE 0.0 END, 4) DESC, c.id
          |  LIMIT 1
          |), upd2 AS (
          |  SELECT *,
          |    (eta2 < -1e-12 AND lo < hi AND abs(aj_try - a_j) > 1e-5) AS changed
          |  FROM (SELECT *,
          |      least(hi, greatest(lo, a_j - y_j * (e_i - e_j) / eta2)) AS aj_try
          |    FROM (SELECT *,
          |        CASE WHEN y_i <> y_j THEN greatest(0.0, a_j - a_i)
          |             ELSE greatest(0.0, a_i + a_j - 1.0) END AS lo,
          |        CASE WHEN y_i <> y_j THEN least(1.0, 1.0 + a_j - a_i)
          |             ELSE least(1.0, a_i + a_j) END AS hi,
          |        2.0 * k_ij - k_ii - k_jj AS eta2
          |      FROM jrow))
          |), upd4 AS (
          |  SELECT *, a_i + y_i * y_j * (a_j - aj_new) AS ai_new
          |  FROM (SELECT *,
          |      CASE WHEN changed THEN aj_try ELSE a_j END AS aj_new
          |    FROM upd2)
          |), upd AS (
          |  SELECT *,
          |    CASE WHEN NOT changed THEN 0.0
          |         WHEN ai_new > 0 AND ai_new < 1.0 THEN b1
          |         WHEN aj_new > 0 AND aj_new < 1.0 THEN b2
          |         ELSE (b1 + b2) / 2 END AS b_new
          |  FROM (SELECT *,
          |      0.0 - e_i - y_i * (ai_new - a_i) * k_ii
          |          - y_j * (aj_new - a_j) * k_ij AS b1,
          |      0.0 - e_j - y_i * (ai_new - a_i) * k_ij
          |          - y_j * (aj_new - a_j) * k_jj AS b2
          |    FROM upd4)
          |)
          |SELECT e.id AS id, u.i_id, u.j_id,
          |  round(u.ai_new, 4) + 0.0 AS ai_new,
          |  round(u.aj_new, 4) + 0.0 AS aj_new,
          |  round(u.b_new, 4) + 0.0 AS b_new,
          |  round(e.f0 + u.y_i * (u.ai_new - u.a_i) * ki.kv
          |             + u.y_j * (u.aj_new - u.a_j) * kj.kv
          |             + u.b_new, 4) + 0.0 AS f_after
          |FROM err e
          |CROSS JOIN upd u
          |JOIN gram ki ON ki.i = u.i_id AND ki.j = e.id
          |JOIN gram kj ON kj.i = u.j_id AND kj.j = e.id""".stripMargin),
    // ts_svr_predict: the SVC margin chain with β weights and bias —
    // f(x) = b + Σⱼ βⱼ·normalizedGAK(x, svⱼ) over probes 8..15 × SVs 0..7.
    "ts_svr_predict" -> sumProdChainSql(
      16,
      lgSql = gakLgSql,
      selfPairs = false,
      allPairsMaxId = 16,
      finalSql =
        """SELECT ab.pr AS probe_id,
          |  round(-0.15 + sum((((ab.cd * 29 + 3) % 17) - 8) / 10.0
          |    * exp(ab.lw - 0.5 * (aa.lw + bb.lw))), 4) + 0.0 AS prediction
          |FROM fin ab
          |JOIN fin aa ON aa.pr = ab.pr AND aa.cd = ab.pr
          |JOIN fin bb ON bb.pr = ab.cd AND bb.cd = ab.cd
          |WHERE ab.pr >= 8 AND ab.cd < 8
          |GROUP BY 1""".stripMargin),
    // ts_mlp_forward: the same formula weights replayed as SQL matmul
    // + tanh over the shared resample/z-norm CTE (h = hidden unit).
    // This DuckDB build has no tanh() — use (e^{2a}−1)/(e^{2a}+1);
    // the pre-activation |a| ≲ 21 keeps exp(2a) far inside double range.
    "ts_mlp_forward" -> (evCte + resampleZnormCte(16) +
      """
        |, pre AS (
        |  SELECT r.user_id, h.h,
        |    (h.h - 1.5) / 10.0
        |      + sum((((h.h * 31 + r.j * 17 + 7) % 23) - 11) / 25.0 * r.val) AS a
        |  FROM r, (SELECT unnest(generate_series(0, 3)) AS h) h
        |  GROUP BY 1, 2
        |), hid AS (
        |  SELECT user_id, h,
        |    (exp(2.0 * a) - 1.0) / (exp(2.0 * a) + 1.0) AS a
        |  FROM pre
        |)
        |SELECT user_id,
        |  round(0.1 + sum((((h * 13 + 5) % 11) - 5) / 10.0 * a), 4) + 0.0
        |    AS prediction
        |FROM hid GROUP BY 1""".stripMargin),

    // ts_mlp_step: one full-batch gradient step replayed — forward
    // tanh pass, residual/n, the three grouped-sum gradients (gW1 is
    // the exploded outer product), η=0.5 update of every parameter.
    "ts_mlp_step" -> (evCte + resampleZnormCte(16) +
      """
        |, w1 AS (
        |  SELECT h.h, i.i, (((h.h * 31 + i.i * 17 + 7) % 23) - 11) / 25.0 AS w
        |  FROM (SELECT unnest(generate_series(0, 3)) AS h) h,
        |       (SELECT unnest(generate_series(0, 15)) AS i) i
        |), b1 AS (
        |  SELECT unnest(generate_series(0, 3)) AS h
        |), b1v AS (SELECT h, (h - 1.5) / 10.0 AS b FROM b1
        |), w2 AS (
        |  SELECT h, (((h * 13 + 5) % 11) - 5) / 10.0 AS w FROM b1
        |), tgt AS (
        |  SELECT DISTINCT user_id AS sid,
        |    ((user_id * 13 + 7) % 21 - 10) / 10.0 AS y
        |  FROM r
        |), nn AS (SELECT count(*) AS n FROM tgt
        |), act AS (
        |  SELECT s.sid, s.h,
        |    (exp(2.0 * (s.s + b1v.b)) - 1.0) / (exp(2.0 * (s.s + b1v.b)) + 1.0) AS a
        |  FROM (SELECT r.user_id AS sid, w1.h, sum(w1.w * r.val) AS s
        |        FROM r JOIN w1 ON w1.i = r.j GROUP BY 1, 2) s
        |  JOIN b1v ON b1v.h = s.h
        |), resid AS (
        |  SELECT p.sid, (p.p - t.y) / nn.n AS gp
        |  FROM (SELECT a.sid, sum(w2.w * a.a) + 0.1 AS p
        |        FROM act a JOIN w2 ON w2.h = a.h GROUP BY 1) p
        |  JOIN tgt t ON t.sid = p.sid CROSS JOIN nn
        |), gw2 AS (
        |  SELECT a.h, sum(a.a * rs.gp) AS g
        |  FROM act a JOIN resid rs ON rs.sid = a.sid GROUP BY 1
        |), gb2 AS (SELECT sum(gp) AS g FROM resid
        |), gz AS (
        |  SELECT a.sid, a.h, rs.gp * w2.w * (1.0 - a.a * a.a) AS gz
        |  FROM act a JOIN resid rs ON rs.sid = a.sid JOIN w2 ON w2.h = a.h
        |), gw1 AS (
        |  SELECT g.h, x.j AS i, sum(g.gz * x.val) AS g
        |  FROM gz g JOIN r x ON x.user_id = g.sid GROUP BY 1, 2
        |), gb1 AS (SELECT h, sum(gz) AS g FROM gz GROUP BY 1)
        |SELECT 'w1' AS param, CAST(w1.h AS INT) AS idx1,
        |  CAST(w1.i AS INT) AS idx2, round(w1.w - 0.5 * gw1.g, 6) + 0.0 AS value
        |FROM w1 JOIN gw1 ON gw1.h = w1.h AND gw1.i = w1.i
        |UNION ALL
        |SELECT 'b1', CAST(b1v.h AS INT), -1, round(b1v.b - 0.5 * gb1.g, 6) + 0.0
        |FROM b1v JOIN gb1 ON gb1.h = b1v.h
        |UNION ALL
        |SELECT 'w2', CAST(w2.h AS INT), -1, round(w2.w - 0.5 * gw2.g, 6) + 0.0
        |FROM w2 JOIN gw2 ON gw2.h = w2.h
        |UNION ALL
        |SELECT 'b2', -1, -1, round(0.1 - 0.5 * g, 6) + 0.0 FROM gb2""".stripMargin),

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

    // img_pixel_stats: ground truth from the generative pixel formula —
    // no decoder on the oracle side; the engine's value only matches if
    // header parse + sample stride + luminance are right.
    "img_pixel_stats" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
        |px AS (
        |  SELECT doc_id, g.t, (doc_id * 7919 + g.t * 104729) % 256 AS v
        |  FROM ids, (SELECT unnest(generate_series(0, 63)) AS t) g
        |), e AS (
        |  SELECT doc_id, t, v, lag(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv
        |  FROM px
        |)
        |SELECT doc_id AS media_id, CAST(sum(v) AS BIGINT) AS pixel_sum,
        |  CAST(sum(CASE WHEN pv IS NULL THEN 0 ELSE abs(v - pv) END) AS BIGINT)
        |    AS edge_sum
        |FROM e GROUP BY 1""".stripMargin,
    // img_png_stats: same formula-replay shape, different constants —
    // the engine value survives a PNG encode/decode round trip.
    "img_png_stats" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
        |px AS (
        |  SELECT doc_id, g.t, (doc_id * 4421 + g.t * 7573) % 256 AS v
        |  FROM ids, (SELECT unnest(generate_series(0, 63)) AS t) g
        |), e AS (
        |  SELECT doc_id, t, v, lag(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv
        |  FROM px
        |)
        |SELECT doc_id AS media_id, CAST(sum(v) AS BIGINT) AS pixel_sum,
        |  CAST(sum(CASE WHEN pv IS NULL THEN 0 ELSE abs(v - pv) END) AS BIGINT)
        |    AS edge_sum
        |FROM e GROUP BY 1""".stripMargin,
    // wav_audio_stats: formula replay, no decoder — mirrors
    // img_pixel_stats (unsigned 8-bit PCM ⇒ exact integer recovery).
    // img_dhash_pairs: pixels, NN-resize index arithmetic, dHash bit
    // packing, bands and hamming all replayed. The engine packs bit 63
    // into a Long sign bit; BIGINT can't 1<<63, so the oracle adds the
    // min-long literal instead.
    "img_dhash_pairs" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
        |px AS (
        |  SELECT i.doc_id, g.r, g.c,
        |    (((i.doc_id // 2) * 37 + g.r * 19 + g.c * 7) % 251
        |      * (((i.doc_id // 2) * 37 + g.r * 19 + g.c * 7) % 251) % 251
        |      + CASE WHEN i.doc_id % 2 = 1 AND g.r = 2 AND g.c = 3
        |             THEN 1 ELSE 0 END) % 251 AS p
        |  FROM ids i,
        |    (SELECT r.r, c.c
        |     FROM (SELECT unnest(generate_series(0, 15)) AS r) r,
        |          (SELECT unnest(generate_series(0, 15)) AS c) c) g
        |), rs AS (
        |  SELECT px.doc_id, yx.y, yx.x, px.p
        |  FROM (SELECT y.y, x.x
        |        FROM (SELECT unnest(generate_series(0, 7)) AS y) y,
        |             (SELECT unnest(generate_series(0, 8)) AS x) x) yx
        |  JOIN px ON px.r = yx.y * 2 AND px.c = LEAST(15, yx.x * 16 // 9)
        |), bits AS (
        |  SELECT a.doc_id, a.y * 8 + a.x AS idx,
        |    CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
        |  FROM rs a JOIN rs b ON b.doc_id = a.doc_id AND b.y = a.y
        |    AND b.x = a.x + 1
        |  WHERE a.x < 8
        |), hashes AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN bit = 1 AND idx < 63
        |                  THEN CAST(1 AS BIGINT) << CAST(idx AS INT)
        |                  ELSE 0 END) AS BIGINT)
        |    + CASE WHEN max(CASE WHEN idx = 63 THEN bit ELSE 0 END) = 1
        |           THEN -9223372036854775808 ELSE 0 END AS dhash
        |  FROM bits GROUP BY 1
        |), banded AS (
        |  SELECT doc_id, dhash, b.band,
        |    (dhash >> (b.band * 16)) & 65535 AS key
        |  FROM hashes, (SELECT unnest(generate_series(0, 3)) AS band) b
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b,
        |    a.dhash AS ha, b.dhash AS hb
        |  FROM banded a
        |  JOIN banded b ON b.band = a.band AND b.key = a.key
        |    AND b.doc_id > a.doc_id
        |)
        |SELECT media_a, media_b,
        |  CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin,

    // wav_spectrogram: same formula samples, unsigned-8-bit
    // normalization v/256 (exact), then the DFT as direct cos/sin
    // sums per (frame, bin) — the naive form of the engine's FFT.
    "wav_spectrogram" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
        |x AS (
        |  SELECT doc_id, g.t, ((doc_id * 6151 + g.t * 769) % 256) / 256.0 AS v
        |  FROM ids, (SELECT unnest(generate_series(0, 63)) AS t) g
        |), dft AS (
        |  SELECT x.doc_id, fr.f, bn.b,
        |    sum(x.v * cos(2 * pi() * bn.b * (x.t - fr.f * 8) / 16.0)) AS re,
        |    sum(x.v * sin(2 * pi() * bn.b * (x.t - fr.f * 8) / 16.0)) AS im
        |  FROM x,
        |    (SELECT unnest(generate_series(0, 6)) AS f) fr,
        |    (SELECT unnest(generate_series(0, 8)) AS b) bn
        |  WHERE x.t >= fr.f * 8 AND x.t < fr.f * 8 + 16
        |  GROUP BY 1, 2, 3
        |)
        |SELECT doc_id AS media_id, CAST(f AS INT) AS frame,
        |  CAST(b AS INT) AS bin,
        |  round(sqrt(re * re + im * im), 6) + 0.0 AS mag
        |FROM dft""".stripMargin,

    "wav_audio_stats" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
        |sm AS (
        |  SELECT doc_id, g.t, (doc_id * 6151 + g.t * 769) % 256 AS v
        |  FROM ids, (SELECT unnest(generate_series(0, 63)) AS t) g
        |), e AS (
        |  SELECT doc_id, t, v, lag(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv
        |  FROM sm
        |)
        |SELECT doc_id AS media_id, CAST(sum(v) AS BIGINT) AS sample_sum,
        |  CAST(sum(CASE WHEN pv IS NULL THEN 0 ELSE abs(v - pv) END) AS BIGINT)
        |    AS edge_sum
        |FROM e GROUP BY 1""".stripMargin,

    // signed-byte shift: m = (u + 128) mod 256; edges invariant to the
    // constant shift so |Δm| = |Δv|
    "aiff_audio_stats" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
        |sm AS (
        |  SELECT doc_id, g.t,
        |    (((doc_id * 6151 + g.t * 769) % 256) + 128) % 256 AS m
        |  FROM ids, (SELECT unnest(generate_series(0, 63)) AS t) g
        |), e AS (
        |  SELECT doc_id, t, m, lag(m) OVER (PARTITION BY doc_id ORDER BY t) AS pm
        |  FROM sm
        |)
        |SELECT doc_id AS media_id, CAST(sum(m) AS BIGINT) AS sample_sum,
        |  CAST(sum(CASE WHEN pm IS NULL THEN 0 ELSE abs(m - pm) END) AS BIGINT)
        |    AS edge_sum
        |FROM e GROUP BY 1""".stripMargin,

    // output cell (x, y) reads source pixel (least(7, x·8/5),
    // least(7, y·8/5)); edges run row-major over the 5×5 result
    "img_resize_stats" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
        |px AS (
        |  SELECT doc_id, y.y * 5 + x.x AS k,
        |    (doc_id * 7919 +
        |     (LEAST(7, (y.y * 8) // 5) * 8 + LEAST(7, (x.x * 8) // 5)) * 104729)
        |      % 256 AS m
        |  FROM ids,
        |       (SELECT unnest(generate_series(0, 4)) AS y) y,
        |       (SELECT unnest(generate_series(0, 4)) AS x) x
        |), e AS (
        |  SELECT doc_id, k, m, lag(m) OVER (PARTITION BY doc_id ORDER BY k) AS pm
        |  FROM px
        |)
        |SELECT doc_id AS media_id, CAST(sum(m) AS BIGINT) AS pixel_sum,
        |  CAST(sum(CASE WHEN pm IS NULL THEN 0 ELSE abs(m - pm) END) AS BIGINT)
        |    AS edge_sum
        |FROM e GROUP BY 1""".stripMargin,

    "vid_frame_plan" ->
      """SELECT doc_id AS media_id, CAST(f.f AS INT) AS frame_idx
        |FROM documents, LATERAL (
        |  SELECT unnest(generate_series(0, CAST(1 + doc_id % 50 AS INT) - 1, 7)) AS f
        |) f
        |WHERE doc_id < 64""".stripMargin,

    // bottom-up rows: the decoded row-major pixel k maps to file cell
    // (7 − k/8)·8 + (k mod 8); sums replay the formula over that order
    "img_bmp_stats" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
        |px AS (
        |  SELECT doc_id, k.k,
        |    (doc_id * 31 + ((7 - k.k // 8) * 8 + (k.k % 8)) * 7) % 256 AS m
        |  FROM ids, (SELECT unnest(generate_series(0, 63)) AS k) k
        |), e AS (
        |  SELECT doc_id, k, m, lag(m) OVER (PARTITION BY doc_id ORDER BY k) AS pm
        |  FROM px
        |)
        |SELECT doc_id AS media_id, CAST(sum(m) AS BIGINT) AS sample_sum,
        |  CAST(sum(CASE WHEN pm IS NULL THEN 0 ELSE abs(m - pm) END) AS BIGINT)
        |    AS edge_sum
        |FROM e GROUP BY 1""".stripMargin,

    // m = u (the engine writes s = u − 32768; decode maps back to
    // (s + 32768) = u); edges shift-invariant
    "wav16_audio_stats" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
        |sm AS (
        |  SELECT doc_id, g.t, (doc_id * 48871 + g.t * 6151) % 65536 AS m
        |  FROM ids, (SELECT unnest(generate_series(0, 63)) AS t) g
        |), e AS (
        |  SELECT doc_id, t, m, lag(m) OVER (PARTITION BY doc_id ORDER BY t) AS pm
        |  FROM sm
        |)
        |SELECT doc_id AS media_id, CAST(sum(m) AS BIGINT) AS sample_sum,
        |  CAST(sum(CASE WHEN pm IS NULL THEN 0 ELSE abs(m - pm) END) AS BIGINT)
        |    AS edge_sum
        |FROM e GROUP BY 1""".stripMargin,

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
    "ts_kmeans" -> kmeansTraceSql(10),
    "ts_kmeans_best2" -> kmeansBest2TraceSql(10, 4),
    "ts_kmeans_dtw" -> kmeansDtwTraceSql(2, 16, 2, 16),
    "ts_kmeans_softdtw" -> kmeansSoftDtwTraceSql(2, 16, 2, 8, 0.05),

    // ts_random_walks: the portable generator replayed exactly — same
    // md5-keyed 60-bit uniforms (the minhash-oracle hex trick), same
    // Box-Muller, same t-ordered running sum. No input tables at all.
    "ts_random_walks" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 7)) AS series_id),
        |steps AS (SELECT unnest(generate_series(0, 15)) AS t),
        |d AS (
        |  SELECT series_id, t,
        |    CAST(CONCAT('0x', substring(md5('42:' || series_id || ':' || t || ':a'), 1, 15)) AS BIGINT) AS h1,
        |    CAST(CONCAT('0x', substring(md5('42:' || series_id || ':' || t || ':b'), 1, 15)) AS BIGINT) AS h2
        |  FROM ids, steps
        |), g AS (
        |  SELECT series_id, t,
        |    0.1 + 1.0 * sqrt(-2.0 * ln((h1 + 1) / 1152921504606846976.0))
        |      * cos(2 * pi() * h2 / 1152921504606846976.0) AS gv
        |  FROM d
        |)
        |SELECT series_id, CAST(t AS INT) AS t,
        |  round(sum(gv) OVER (PARTITION BY series_id ORDER BY t), 4) + 0.0 AS v
        |FROM g""".stripMargin,

    // doc_bm25_topk: Okapi BM25 replayed relationally — same query
    // derivation (frequency ranks 1-6, ties lexicographic), same
    // formula with the constants written as the same double
    // expressions ((1.2 + 1.0), (1.0 - 0.75)) both engines evaluate
    // identically, row_number (score DESC, doc_id) = TopK's
    // (-score, id) ascending buffer order.
    "doc_bm25_topk" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |tall AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM w),
        |tc AS (SELECT term, count(*) AS c FROM tall GROUP BY 1),
        |top6 AS (
        |  SELECT term, rk FROM (
        |    SELECT term, row_number() OVER (ORDER BY c DESC, term) AS rk FROM tc)
        |  WHERE rk <= 6
        |), qt AS (
        |  SELECT CAST(CASE WHEN rk <= 3 THEN 0 ELSE 1 END AS BIGINT) AS query_id, term
        |  FROM top6
        |), stats AS (SELECT count(*) AS n, avg(len(ws)) AS avgdl FROM w),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM tall
        |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2
        |), dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    sum(ln((CAST(s.n AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
        |      * (tf.tf * (1.2 + 1.0))
        |      / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl / s.avgdl))) AS score
        |  FROM tf JOIN qt USING (term) JOIN dfq USING (term), stats s
        |  GROUP BY 1, 2
        |), rk AS (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS rank
        |  FROM sc
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
        |  round(score, 4) + 0.0 AS score
        |FROM rk WHERE rank <= 5""".stripMargin,

    // doc_tfidf_topk: tf·ln(N/df) weights, per-doc norms over the FULL
    // vocabulary, cosine against the two derived 3-term queries.
    "doc_tfidf_topk" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |tall AS (SELECT doc_id, unnest(ws) AS term FROM w),
        |tc AS (SELECT term, count(*) AS c FROM tall GROUP BY 1),
        |top6 AS (
        |  SELECT term, rk FROM (
        |    SELECT term, row_number() OVER (ORDER BY c DESC, term) AS rk FROM tc)
        |  WHERE rk <= 6
        |), qt AS (
        |  SELECT CAST(CASE WHEN rk <= 3 THEN 0 ELSE 1 END AS BIGINT) AS query_id, term
        |  FROM top6
        |), stats AS (SELECT count(*) AS n FROM w),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tall GROUP BY 1, 2),
        |idf AS (
        |  SELECT term, ln(CAST(s.n AS DOUBLE) / count(*)) AS idf
        |  FROM tf, stats s GROUP BY term, s.n
        |), nrm AS (
        |  SELECT doc_id, sqrt(sum(tf.tf * idf.idf * tf.tf * idf.idf)) AS dn
        |  FROM tf JOIN idf USING (term) GROUP BY 1
        |), qn AS (
        |  SELECT query_id, sqrt(sum(idf.idf * idf.idf)) AS qn
        |  FROM qt JOIN idf USING (term) GROUP BY 1
        |), sc AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    sum(tf.tf * idf.idf * idf.idf) AS dot
        |  FROM tf JOIN qt USING (term) JOIN idf USING (term)
        |  GROUP BY 1, 2
        |), rk AS (
        |  SELECT sc.query_id, sc.doc_id,
        |    round(sc.dot / (nrm.dn * qn.qn), 4) AS score,
        |    row_number() OVER (PARTITION BY sc.query_id
        |      ORDER BY round(sc.dot / (nrm.dn * qn.qn), 4) DESC, sc.doc_id) AS rank
        |  FROM sc JOIN nrm USING (doc_id) JOIN qn USING (query_id)
        |  WHERE nrm.dn > 0
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
        |  round(score, 4) + 0.0 AS score
        |FROM rk WHERE rank <= 5""".stripMargin,

    // doc_cms_heavy: the count-min sketch replayed bit-exactly — same
    // md5-keyed row hashes (the minhash-oracle hex trick), same d=4 ×
    // w=64 grid, est = min over rows; true counts from the exact
    // aggregation both engines run anyway.
    "doc_cms_heavy" -> cmsHeavyOracleSql,
    "doc_stream_cms" -> cmsHeavyOracleSql,
    "doc_stream_hll" -> hllDistinctOracleSql,

    "doc_bpe_merges" -> bpeMergesOracleSql(3),

    // doc_importance_weights: the DSIR log-ratio replayed — same md5
    // word buckets (the quality-filter trick), same add-0.5 smoothing
    // over d=32 buckets, per-doc Σ xb·lr off the same (doc, bucket)
    // count relation.
    "doc_importance_weights" -> (importanceWeightsCtes +
      """
        |SELECT doc_id, n_tokens, round(logw, 4) + 0.0 AS logw
        |FROM dw""".stripMargin),
    "doc_stream_importance" -> (importanceWeightsCtes +
      """
        |SELECT doc_id, n_tokens, round(logw, 4) + 0.0 AS logw
        |FROM dw""".stripMargin),

    // doc_pipeline_select: the same DSIR chain composed with the
    // exact-dedup keeper set and the length floor.
    "doc_pipeline_select" -> (importanceWeightsCtes +
      """
        |, keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
        |SELECT dw.doc_id, dw.n_tokens, round(dw.logw, 4) + 0.0 AS logw
        |FROM dw JOIN keep USING (doc_id)
        |WHERE dw.n_tokens >= 20 AND dw.logw > 0""".stripMargin),

    // doc_hll_distinct: HLL replayed bit-exactly — same md5 60-bit
    // hash, p=6 index/suffix split, bin()-length ranks (identical
    // no-leading-zeros semantics both engines), same alpha and
    // linear-counting correction written as the same double exprs.
    "doc_hll_distinct" -> hllDistinctOracleSql,

    // ucr_baseline_acc: the CSV-fixture formula replayed directly —
    // the Spark side must round-trip it through the real writer +
    // typo-fix + parser without changing a cell.
    "ucr_baseline_acc" ->
      """WITH i AS (SELECT unnest(generate_series(0, 4)) AS i),
        |j AS (SELECT unnest(generate_series(0, 3)) AS j)
        |SELECT 'Dataset_' || i AS dataset, 'm_' || j AS method,
        |  round(((i * 7 + j * 13) % 100) / 100.0, 2) + 0.0 AS acc
        |FROM i, j WHERE (i + j) % 7 <> 0""".stripMargin,
    "arff_roundtrip" ->
      """SELECT s.s AS series_id, CAST(t.t AS INT) AS t,
        |  CAST(((s.s * 7 + t.t * 3) % 11) - 4.5 AS DOUBLE) AS v,
        |  CAST(s.s % 3 AS VARCHAR) AS label
        |FROM (SELECT unnest(generate_series(0, 15)) AS s) s,
        |     (SELECT unnest(generate_series(0, 11)) AS t) t""".stripMargin,
    "ucr_txt_roundtrip" ->
      """SELECT s.s AS series_id, CAST(t.t AS INT) AS t,
        |  CAST(((s.s * 7 + t.t * 3) % 11) - 4.5 AS DOUBLE) AS v,
        |  CAST(s.s % 3 AS BIGINT) AS label
        |FROM (SELECT unnest(generate_series(0, 15)) AS s) s,
        |     (SELECT unnest(generate_series(0, 11)) AS t) t""".stripMargin,
    "ts_txt_roundtrip" ->
      """SELECT s.s AS series_id, CAST(t.t AS INT) AS t,
        |  CAST(((s.s * 5 + t.t * 3) % 13) - 6.5 AS DOUBLE) AS d0,
        |  CAST(((s.s * 5 + t.t * 3 + 7) % 13) - 6.5 AS DOUBLE) AS d1
        |FROM (SELECT unnest(generate_series(0, 11)) AS s) s,
        |     (SELECT unnest(generate_series(0, 9)) AS t) t""".stripMargin,
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

    // same oracle text as doc_contamination — the streaming twin must
    // flag the identical docs with identical shared counts
    "doc_stream_contamination" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[j:j+2], ' ') AS sh
        |  FROM words, (SELECT unnest(generate_series(1, 1000)) AS j) g
        |  WHERE j <= len(w) - 2
        |), ev AS (
        |  SELECT DISTINCT sh FROM sh WHERE doc_id < 10
        |)
        |SELECT s.doc_id, count(*) AS n_shared
        |FROM sh s JOIN ev USING (sh)
        |WHERE s.doc_id >= 10
        |GROUP BY 1""".stripMargin,

    // first prefix length in [8, 32] with dev-confidence >= 0.8 or the
    // forced t = 32; prefix order is the operator's (ts-millis, value)
    "ts_stream_early_classify" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms, value FROM events
        |), r AS (
        |  SELECT user_id, value,
        |    row_number() OVER w AS t,
        |    avg(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS m
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, value)
        |), c AS (
        |  SELECT user_id, t, m,
        |    abs(m - 50.0) / (abs(m - 50.0) + 1.0) AS conf
        |  FROM r WHERE t BETWEEN 8 AND 32
        |), d AS (
        |  SELECT user_id, min(t) AS decided_at FROM c
        |  WHERE conf >= 0.8 OR t >= 32 GROUP BY 1
        |)
        |SELECT d.user_id, CAST(d.decided_at AS INT) AS decided_at,
        |  CASE WHEN c.m > 50.0 THEN 1 ELSE 0 END AS label,
        |  round(1.0 - c.conf, 4) + 0.0 AS cost
        |FROM d JOIN c ON c.user_id = d.user_id AND c.t = d.decided_at""".stripMargin,

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

    // n_classes − 1 = 1; base = ⌊0.125·32⌋ = 4; truncation == floor
    // (the log10 argument is ≥ 1)
    "ts_shapelet_sizes" ->
      """WITH p AS (
        |  SELECT count(DISTINCT user_id) AS n_ts FROM events
        |), m AS (SELECT unnest([1, 2, 3]) AS m)
        |SELECT CAST(4 * m.m AS INT) AS shp_sz,
        |  CAST(greatest(1, CAST(floor(log10(p.n_ts * (32 - 4 * m.m + 1)))
        |    AS INT)) AS INT) AS n_shapelets
        |FROM p, m""".stripMargin,
    "ts_early_classify" -> earlyClassifyOracleSql,
    "knn_dtw_users" -> knnDtwOracleSql(32, 4, 16, 3),
    // the blocked route computes the identical relation (route parity is
    // spec- and probe-locked), so it shares the broadcast route's oracle
    "knn_dtw_blocked" -> knnDtwOracleSql(32, 4, 16, 3),
    "knn_dtw_ragged" -> raggedKnnOracleSql(128, 10, 3),
    "ts_paa_dist_pairs" -> (evCte + resampleCte +
      """
        |, paa AS (
        |  SELECT user_id, j // 4 AS seg, avg(val) AS p FROM r GROUP BY 1, 2
        |)
        |SELECT a.user_id,
        |  round(sqrt(sum((a.p - b.p) * (a.p - b.p))) * 2.0, 4) AS paa_dist
        |FROM paa a JOIN paa b ON b.user_id = a.user_id + 1 AND b.seg = a.seg
        |GROUP BY 1""".stripMargin),

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

    "ts_kmeanspp_dtw" -> kmeansppDtwOracleSql(3, 3, 16, 24),

    "ts_prefix_classify" -> (evCte +
      """
        |, labels AS (
        |  SELECT user_id, label FROM (
        |    SELECT user_id, event_type AS label,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY count(*) DESC, event_type) AS rn
        |    FROM events GROUP BY 1, 2)
        |  WHERE rn = 1
        |), prefix AS (
        |  SELECT user_id, t, value FROM v WHERE n >= 16 AND t <= 16
        |), cents AS (
        |  SELECT l.label, p.t, avg(p.value) AS c
        |  FROM prefix p JOIN labels l ON l.user_id = p.user_id
        |  WHERE p.user_id % 2 = 0
        |  GROUP BY 1, 2
        |)
        |SELECT user_id, pred FROM (
        |  SELECT p.user_id, c.label AS pred,
        |    row_number() OVER (PARTITION BY p.user_id
        |      ORDER BY sum((p.value - c.c) * (p.value - c.c)), c.label) AS rn
        |  FROM prefix p JOIN cents c ON c.t = p.t
        |  GROUP BY 1, 2)
        |WHERE rn = 1""".stripMargin),

    "emb_silhouette" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, CAST(label AS VARCHAR) AS label
        |  FROM embeddings WHERE vec_id < 200
        |), d AS (
        |  SELECT a.vec_id AS l, a.label AS lc, b.label AS rc,
        |    list_distance(a.v, b.v) AS dist
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
        |), pc AS (
        |  SELECT l, lc, rc, avg(dist) AS md FROM d GROUP BY 1, 2, 3
        |), aa AS (
        |  SELECT l, md AS a FROM pc WHERE lc = rc
        |), bb AS (
        |  SELECT l, min(md) AS b FROM pc WHERE lc <> rc GROUP BY 1
        |), s AS (
        |  SELECT (bb.b - aa.a) / greatest(aa.a, bb.b) AS sil
        |  FROM aa JOIN bb ON aa.l = bb.l
        |)
        |SELECT round(avg(sil), 4) AS silhouette FROM s""".stripMargin,

    "ts_dist_pairs" -> (evCte + resampleCte +
      """
        |SELECT a.user_id,
        |  round(sqrt(sum((a.val - b.val) * (a.val - b.val))), 4) AS euclidean,
        |  round(sum((a.val - b.val) * (a.val - b.val)), 4) AS sqeuclidean,
        |  round(sum(abs(a.val - b.val)), 4) AS cityblock
        |FROM r a JOIN r b ON b.user_id = a.user_id + 1 AND b.j = a.j
        |GROUP BY 1""".stripMargin),

    "doc_minhash_pairs" -> minhashOracleSql,
    "doc_stream_neardup" -> streamNeardupOracleSql,
    "doc_quality_model_step" -> qualityStepOracleSql,
    "ml_persistence_roundtrip" -> persistenceRoundtripOracleSql,
    "doc_dedup_clusters" -> dedupClustersOracleSql,
    "doc_dedup_keep_best" -> dedupKeepBestOracleSql,
    "doc_ngram_topk" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[j:j+2], ' ') AS sh
        |  FROM words, (SELECT unnest(generate_series(1, 1000)) AS j) g
        |  WHERE j <= len(w) - 2
        |), df AS (
        |  SELECT sh AS ngram, count(*) AS df FROM sh GROUP BY 1
        |)
        |SELECT CAST(row_number() OVER (ORDER BY df DESC, ngram) AS INT) AS rank,
        |  ngram, df
        |FROM df ORDER BY df DESC, ngram LIMIT 20""".stripMargin,
    // doc_mix_allocate: the water-filling arithmetic replayed — same
    // ratio sort (cap/w, source), exclusive prefix sums, first-fitting
    // water level, min(cap, lambda*w).
    "doc_mix_allocate" ->
      """WITH per AS (
        |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cap,
        |    CAST(count(*) AS DOUBLE) AS w
        |  FROM documents GROUP BY 1
        |), tot AS (
        |  SELECT CAST(floor(0.6 * CAST(sum(cap) AS DOUBLE)) AS BIGINT) AS t,
        |    sum(w) AS wt
        |  FROM per
        |), ranked AS (
        |  SELECT source, cap, w, cap / w AS r,
        |    CAST(coalesce(sum(cap) OVER (ORDER BY cap / w, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cprev,
        |    tot.wt - coalesce(sum(w) OVER (ORDER BY cap / w, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wprev
        |  FROM per, tot
        |), lam AS (
        |  SELECT (tot.t - cprev) / wprev AS l
        |  FROM ranked, tot
        |  WHERE (tot.t - cprev) / wprev <= r
        |  ORDER BY r, source LIMIT 1
        |)
        |SELECT ranked.source, ranked.cap,
        |  round(least(CAST(ranked.cap AS DOUBLE), lam.l * ranked.w), 4) + 0.0 AS alloc
        |FROM ranked, lam""".stripMargin,

    "doc_jsonl_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source FROM documents""",
    "doc_csv_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source FROM documents""",
    "doc_orc_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source FROM documents""",

    // doc_pipeline_curate: the whole composed pipeline replayed —
    // injection, redaction chain, floor, temperature targets/ranks
    // over the SURVIVORS, recursive per-source pack walk over the
    // SELECTED docs with redacted token counts.
    "doc_pipeline_curate" -> {
      val em = graft.operators.TextAnalysis.piiEmailRe
      val ip = graft.operators.TextAnalysis.piiIpv4Re
      val ph = graft.operators.TextAnalysis.piiPhoneRe
      s"""WITH RECURSIVE aug AS (
         |  SELECT doc_id, source,
         |    text || ' contact user' || doc_id || '@mail.example.com' ||
         |    CASE WHEN doc_id % 2 = 0
         |      THEN ' from 10.' || (doc_id % 256) || '.' || ((doc_id * 7 + 3) % 256) || '.25'
         |      ELSE '' END ||
         |    CASE WHEN doc_id % 3 = 0
         |      THEN ' call +1415555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      ELSE '' END AS text
         |  FROM documents
         |), red AS (
         |  SELECT doc_id, source,
         |    regexp_replace(regexp_replace(regexp_replace(
         |      text, '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
         |      '$ph', '<PHONE>', 'g') AS text
         |  FROM aug
         |), fl AS (
         |  SELECT * FROM red WHERE len(string_split(text, ' ')) >= 20
         |), counts AS (
         |  SELECT source, count(*) AS n FROM fl GROUP BY 1
         |), targets AS (
         |  SELECT source,
         |    LEAST(n, CAST(floor(round(
         |      200.0 * power(CAST(n AS DOUBLE), 0.5) /
         |        (SELECT sum(power(CAST(n AS DOUBLE), 0.5)) FROM counts),
         |      6)) AS BIGINT)) AS t
         |  FROM counts
         |), sel AS (
         |  SELECT doc_id, source, text,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
         |  FROM fl
         |), keep AS (
         |  SELECT s.doc_id, s.source, s.text
         |  FROM sel s JOIN targets tg USING (source)
         |  WHERE s.rank <= tg.t
         |), t AS (
         |  SELECT source, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tk,
         |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM keep
         |), p AS (
         |  SELECT source, doc_id, tk, rn,
         |    CAST(0 AS BIGINT) AS pack_seq, CAST(0 AS BIGINT) AS token_offset
         |  FROM t WHERE rn = 1
         |  UNION ALL
         |  SELECT t.source, t.doc_id, t.tk, t.rn,
         |    CASE WHEN p.token_offset + p.tk + t.tk <= 256
         |      THEN p.pack_seq ELSE p.pack_seq + 1 END,
         |    CASE WHEN p.token_offset + p.tk + t.tk <= 256
         |      THEN p.token_offset + p.tk ELSE CAST(0 AS BIGINT) END
         |  FROM t JOIN p ON t.source = p.source AND t.rn = p.rn + 1
         |)
         |SELECT source, doc_id, tk, pack_seq, token_offset FROM p""".stripMargin
    },

    // doc_sample_temperature: targets and ranks replayed — same
    // n_s^α shares, same 1e-6 rounding before the floor, same md5
    // rank convention as doc_source_cap.
    "doc_sample_temperature" ->
      """WITH counts AS (
        |  SELECT source, count(*) AS n FROM documents GROUP BY 1
        |), targets AS (
        |  SELECT source,
        |    LEAST(n, CAST(floor(round(
        |      300.0 * power(CAST(n AS DOUBLE), 0.5) /
        |        (SELECT sum(power(CAST(n AS DOUBLE), 0.5)) FROM counts),
        |      6)) AS BIGINT)) AS t
        |  FROM counts
        |), sel AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
        |  FROM documents)
        |SELECT s.doc_id, s.source, CAST(s.rank AS INT) AS rank,
        |  t.t AS target
        |FROM sel s JOIN targets t USING (source)
        |WHERE s.rank <= t.t""".stripMargin,

    "doc_sample_hash" ->
      """SELECT doc_id,
        |  CAST(CONCAT('0x', substring(md5('s1:' || doc_id), 1, 15)) AS BIGINT) % 100 AS bucket
        |FROM documents
        |WHERE CAST(CONCAT('0x', substring(md5('s1:' || doc_id), 1, 15)) AS BIGINT) % 100 < 10""".stripMargin,

    // doc_sample_weighted: the A-Res key ln(u)/w replayed — same md5
    // 60-bit uniform, same 2^60 normalization, same natural log; the
    // top-50 cutoff orders by the EXACT key (md5 uniforms are unique
    // per doc, so the boundary is never a tie).
    "doc_sample_weighted" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS w,
        |    CAST(CONCAT('0x', substring(md5('ws:' || doc_id), 1, 15)) AS BIGINT) AS h60
        |  FROM documents
        |), scored AS (
        |  SELECT doc_id, w,
        |    ln((CAST(h60 AS DOUBLE) + 1.0) / 1152921504606846976.0) / w AS key
        |  FROM k
        |)
        |SELECT doc_id, CAST(w AS BIGINT) AS n_tokens,
        |  round(key, 6) + 0.0 AS key
        |FROM scored ORDER BY key DESC, doc_id LIMIT 50""".stripMargin,

    // doc_pii_redact: the same doc_id-derived PII injection, then the
    // same three-stage redaction chain (email → IPv4 → phone, counts
    // taken on the stage each pattern actually sees) with RE2-safe
    // patterns shared verbatim with the Spark operator.
    "doc_pii_redact" -> {
      val em = graft.operators.TextAnalysis.piiEmailRe
      val ip = graft.operators.TextAnalysis.piiIpv4Re
      val ph = graft.operators.TextAnalysis.piiPhoneRe
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id || '@mail.example.com' ||
         |    CASE WHEN doc_id % 2 = 0
         |      THEN ' from 10.' || (doc_id % 256) || '.' || ((doc_id * 7 + 3) % 256) || '.25'
         |      ELSE '' END ||
         |    CASE WHEN doc_id % 3 = 0
         |      THEN ' call +1415555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      ELSE '' END AS text
         |  FROM documents
         |), r1t AS (
         |  SELECT doc_id, text,
         |    regexp_replace(text, '$em', '<EMAIL>', 'g') AS r1
         |  FROM aug
         |), r2t AS (
         |  SELECT doc_id, text, r1,
         |    regexp_replace(r1, '$ip', '<IP>', 'g') AS r2
         |  FROM r1t
         |)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '$em')) AS n_email,
         |  len(regexp_extract_all(r1, '$ip')) AS n_ip,
         |  len(regexp_extract_all(r2, '$ph')) AS n_phone,
         |  len(regexp_replace(r2, '$ph', '<PHONE>', 'g')) AS red_len,
         |  md5(regexp_replace(r2, '$ph', '<PHONE>', 'g')) AS red_md5
         |FROM r2t""".stripMargin
    },

    "doc_bpe_encode" -> bpeEncodeOracleSql(3),

    "doc_bpe_tokenize" -> bpeTokenizeOracleSql(3),

    // doc_bloom_contamination: same shingle CTEs as doc_contamination,
    // bit positions via the md5 hex trick, ALL-k-positions-set rule.
    "doc_bloom_contamination" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[j:j+2], ' ') AS sh
        |  FROM words, (SELECT unnest(generate_series(1, 1000)) AS j) g
        |  WHERE j <= len(w) - 2
        |), ev AS (
        |  SELECT DISTINCT sh FROM sh WHERE doc_id < 10
        |), bits AS (
        |  SELECT DISTINCT
        |    CAST(CONCAT('0x', substring(md5(r.r || ':' || ev.sh), 1, 15)) AS BIGINT) % 65536 AS pos
        |  FROM ev, (SELECT unnest(generate_series(0, 2)) AS r) r
        |), probes AS (
        |  SELECT s.doc_id, s.sh,
        |    CAST(CONCAT('0x', substring(md5(r.r || ':' || s.sh), 1, 15)) AS BIGINT) % 65536 AS pos
        |  FROM sh s, (SELECT unnest(generate_series(0, 2)) AS r) r
        |  WHERE s.doc_id >= 10
        |), hits AS (
        |  SELECT p.doc_id, p.sh, count(*) AS h
        |  FROM probes p JOIN bits b ON b.pos = p.pos
        |  GROUP BY 1, 2
        |)
        |SELECT doc_id, count(*) AS n_maybe
        |FROM hits WHERE h = 3 GROUP BY 1""".stripMargin,

    "doc_contamination" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[j:j+2], ' ') AS sh
        |  FROM words, (SELECT unnest(generate_series(1, 1000)) AS j) g
        |  WHERE j <= len(w) - 2
        |), ev AS (
        |  SELECT DISTINCT sh FROM sh WHERE doc_id < 10
        |)
        |SELECT s.doc_id, count(*) AS n_shared
        |FROM sh s JOIN ev USING (sh)
        |WHERE s.doc_id >= 10
        |GROUP BY 1""".stripMargin,
    "doc_simhash" -> simhashOracleSql,

    // the 4×15-bit band pigeonhole is lossless for hamming ≤ 3, so the
    // banded Spark pipeline must equal the brute-force hamming join
    "doc_simhash_pairs" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    CAST(CONCAT('0x', substring(md5(word), 1, 15)) AS BIGINT) AS h
        |  FROM w
        |), bits AS (
        |  SELECT doc_id, b.b,
        |    sum(CASE WHEN ((h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, (SELECT unnest(generate_series(0, 59)) AS b) b
        |  GROUP BY 1, 2
        |), sh AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
        |      AS simhash
        |  FROM bits GROUP BY 1
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  bit_count(xor(a.simhash, b.simhash)) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    "emb_ann_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |cent AS (SELECT vec_id - 10 AS cell, v AS cv FROM e
        |         WHERE vec_id BETWEEN 10 AND 25),
        |cands AS (SELECT vec_id, v FROM e WHERE vec_id >= 10),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT c.vec_id, cent.cell,
        |      row_number() OVER (PARTITION BY c.vec_id
        |        ORDER BY list_distance(c.v, cent.cv), cent.cell) AS rn
        |    FROM cands c, cent) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, cent.cell,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_distance(q.qv, cent.cv), cent.cell) AS rn
        |    FROM q, cent) WHERE rn <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS cand_id,
        |    list_cosine_similarity(qq.qv, c.v) AS cos
        |  FROM probes p
        |  JOIN assign a ON a.cell = p.cell
        |  JOIN cands c ON c.vec_id = a.vec_id
        |  JOIN q qq ON qq.query_id = p.query_id),
        |ranked AS (
        |  SELECT query_id, cand_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, cand_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, cand_id, round(cos, 4) AS cos
        |FROM ranked WHERE rank <= 5""".stripMargin,

    // emb_ann_ivfpq: the emb_ann_ivf assign/probe CTEs composed with
    // the emb_ann_pq enc/ADC CTEs — candidates filtered to probed
    // cells, scored from codes only.
    "emb_ann_ivfpq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (SELECT vec_id - 10 AS cell, v AS cv FROM e
        |         WHERE vec_id BETWEEN 10 AND 25),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT c.vec_id, cent.cell,
        |      row_number() OVER (PARTITION BY c.vec_id
        |        ORDER BY list_distance(c.v, cent.cv), cent.cell) AS rn
        |    FROM e c, cent WHERE c.vec_id >= 10) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, cent.cell,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_distance(q.qv, cent.cv), cent.cell) AS rn
        |    FROM q, cent) WHERE rn <= 4),
        |cb AS (
        |  SELECT s.s, j.j, list_slice(b.v, s.s * 8 + 1, s.s * 8 + 8) AS c
        |  FROM (SELECT unnest(generate_series(0, 7)) AS s) s,
        |       (SELECT unnest(generate_series(0, 7)) AS j) j
        |  JOIN e b ON b.vec_id = 10 + j.j
        |), enc AS (
        |  SELECT vec_id, s, j FROM (
        |    SELECT c.vec_id, cb.s, cb.j,
        |      row_number() OVER (PARTITION BY c.vec_id, cb.s
        |        ORDER BY list_distance(
        |          list_slice(c.v, cb.s * 8 + 1, cb.s * 8 + 8), cb.c), cb.j) AS rn
        |    FROM e c, cb WHERE c.vec_id >= 10)
        |  WHERE rn = 1
        |), adc AS (
        |  SELECT p.query_id, a.vec_id AS cand_id,
        |    sum(pow(list_distance(
        |      list_slice(qq.qv, enc.s * 8 + 1, enc.s * 8 + 8), cb.c), 2)) AS d2
        |  FROM probes p
        |  JOIN assign a ON a.cell = p.cell
        |  JOIN enc ON enc.vec_id = a.vec_id
        |  JOIN cb ON cb.s = enc.s AND cb.j = enc.j
        |  JOIN q qq ON qq.query_id = p.query_id
        |  GROUP BY 1, 2
        |), topk AS (
        |  SELECT query_id, cand_id, d2,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(d2, 4), cand_id) AS rank
        |  FROM adc
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, cand_id,
        |  round(d2, 4) + 0.0 AS d2
        |FROM topk WHERE rank <= 5""".stripMargin,

    // emb_ann_ivfpq_rr: the same ADC chain (assign/probe/enc/adc CTEs
    // verbatim), ADC top-20 shortlist, then the exact-cosine rerank the
    // engine's rerank stage runs (shortlist joined back to the full
    // candidate vectors). Rank keys rounded to 4 decimals on BOTH
    // engine and oracle (tf-idf convention): the ADC sum re-associates
    // across engines, and the shortlist boundary must not flip on a
    // last-ulp near-tie.
    "emb_ann_ivfpq_rr" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (SELECT vec_id - 10 AS cell, v AS cv FROM e
        |         WHERE vec_id BETWEEN 10 AND 25),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT c.vec_id, cent.cell,
        |      row_number() OVER (PARTITION BY c.vec_id
        |        ORDER BY list_distance(c.v, cent.cv), cent.cell) AS rn
        |    FROM e c, cent WHERE c.vec_id >= 10) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, cent.cell,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_distance(q.qv, cent.cv), cent.cell) AS rn
        |    FROM q, cent) WHERE rn <= 4),
        |cb AS (
        |  SELECT s.s, j.j, list_slice(b.v, s.s * 8 + 1, s.s * 8 + 8) AS c
        |  FROM (SELECT unnest(generate_series(0, 7)) AS s) s,
        |       (SELECT unnest(generate_series(0, 7)) AS j) j
        |  JOIN e b ON b.vec_id = 10 + j.j
        |), enc AS (
        |  SELECT vec_id, s, j FROM (
        |    SELECT c.vec_id, cb.s, cb.j,
        |      row_number() OVER (PARTITION BY c.vec_id, cb.s
        |        ORDER BY list_distance(
        |          list_slice(c.v, cb.s * 8 + 1, cb.s * 8 + 8), cb.c), cb.j) AS rn
        |    FROM e c, cb WHERE c.vec_id >= 10)
        |  WHERE rn = 1
        |), adc AS (
        |  SELECT p.query_id, a.vec_id AS cand_id,
        |    sum(pow(list_distance(
        |      list_slice(qq.qv, enc.s * 8 + 1, enc.s * 8 + 8), cb.c), 2)) AS d2
        |  FROM probes p
        |  JOIN assign a ON a.cell = p.cell
        |  JOIN enc ON enc.vec_id = a.vec_id
        |  JOIN cb ON cb.s = enc.s AND cb.j = enc.j
        |  JOIN q qq ON qq.query_id = p.query_id
        |  GROUP BY 1, 2
        |), topk AS (
        |  SELECT query_id, cand_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(d2, 4), cand_id) AS rank
        |  FROM adc
        |), short AS (
        |  SELECT query_id, cand_id FROM topk WHERE rank <= 20
        |), rr AS (
        |  SELECT sh.query_id, sh.cand_id,
        |    list_cosine_similarity(qq.qv, c.v) AS cos,
        |    row_number() OVER (PARTITION BY sh.query_id
        |      ORDER BY round(list_cosine_similarity(qq.qv, c.v), 4) DESC,
        |        sh.cand_id) AS rank
        |  FROM short sh
        |  JOIN q qq ON qq.query_id = sh.query_id
        |  JOIN e c ON c.vec_id = sh.cand_id
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, cand_id,
        |  round(cos, 4) + 0.0 AS cos
        |FROM rr WHERE rank <= 5""".stripMargin,

    // emb_ann_pq: per-subspace encode (argmin vs the 8 data-row
    // codebook slices, lowest code on ties) then the ADC sum of
    // per-subspace squared distances to the CODE's centroid — the
    // candidate's own floats never appear after enc.
    "emb_ann_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (
        |  SELECT s.s, j.j, list_slice(b.v, s.s * 8 + 1, s.s * 8 + 8) AS c
        |  FROM (SELECT unnest(generate_series(0, 7)) AS s) s,
        |       (SELECT unnest(generate_series(0, 7)) AS j) j
        |  JOIN e b ON b.vec_id = 10 + j.j
        |), enc AS (
        |  SELECT vec_id, s, j FROM (
        |    SELECT c.vec_id, cb.s, cb.j,
        |      row_number() OVER (PARTITION BY c.vec_id, cb.s
        |        ORDER BY list_distance(
        |          list_slice(c.v, cb.s * 8 + 1, cb.s * 8 + 8), cb.c), cb.j) AS rn
        |    FROM e c, cb WHERE c.vec_id >= 10)
        |  WHERE rn = 1
        |), adc AS (
        |  SELECT q.vec_id AS query_id, enc.vec_id AS cand_id,
        |    sum(pow(list_distance(
        |      list_slice(q.v, enc.s * 8 + 1, enc.s * 8 + 8), cb.c), 2)) AS d2
        |  FROM e q, enc
        |  JOIN cb ON cb.s = enc.s AND cb.j = enc.j
        |  WHERE q.vec_id < 10
        |  GROUP BY 1, 2
        |), topk AS (
        |  SELECT query_id, cand_id, d2,
        |    row_number() OVER (PARTITION BY query_id ORDER BY d2, cand_id) AS rank
        |  FROM adc
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, cand_id,
        |  round(d2, 4) + 0.0 AS d2
        |FROM topk WHERE rank <= 5""".stripMargin,

    // emb_ann_sq8: per-vector affine byte grid replayed per dimension —
    // code_i = floor((v_i − vmin)·255/(vmax − vmin)), decode to
    // vmin + code_i·(vmax − vmin)/255, ADC sum of squared diffs vs the
    // exact query floats.
    "emb_ann_sq8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |enc AS (
        |  SELECT vec_id, list_min(v) AS vmin, list_max(v) AS vmax, v
        |  FROM e WHERE vec_id >= 10
        |), dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |adc AS (
        |  SELECT q.vec_id AS query_id, enc.vec_id AS cand_id,
        |    sum(pow(q.v[dims.i] - (enc.vmin +
        |      (CASE WHEN enc.vmax = enc.vmin THEN 0
        |        ELSE floor((enc.v[dims.i] - enc.vmin) * 255.0 / (enc.vmax - enc.vmin)) END)
        |      * (enc.vmax - enc.vmin) / 255.0), 2)) AS d2
        |  FROM e q, enc, dims
        |  WHERE q.vec_id < 10
        |  GROUP BY 1, 2
        |), topk AS (
        |  SELECT query_id, cand_id, d2,
        |    row_number() OVER (PARTITION BY query_id ORDER BY d2, cand_id) AS rank
        |  FROM adc
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, cand_id,
        |  round(d2, 4) + 0.0 AS d2
        |FROM topk WHERE rank <= 5""".stripMargin,

    // emb_ann_lsh: the 16 formula hyperplanes replayed in SQL — bit
    // h = [Σ_i hp(h,i)·v_i ≥ 0], 4-bit band codes, equi-join on
    // (band, code), exact cosine on surviving pairs.
    "emb_ann_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |hp AS (
        |  SELECT h.h, i.i, (((h.h * 53 + i.i * 29 + 3) % 41) - 20) / 20.0 AS w
        |  FROM (SELECT unnest(generate_series(0, 15)) AS h) h,
        |       (SELECT unnest(generate_series(0, 63)) AS i) i
        |), bits AS (
        |  SELECT e.vec_id, hp.h,
        |    CASE WHEN sum(hp.w * e.v[hp.i + 1]) >= 0 THEN 1 ELSE 0 END AS bit
        |  FROM e, hp GROUP BY 1, 2
        |), codes AS (
        |  SELECT vec_id, h // 4 AS band,
        |    sum(bit * (1 << (h % 4))) AS code
        |  FROM bits GROUP BY 1, 2
        |), pairs AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
        |  FROM codes q JOIN codes c ON c.band = q.band AND c.code = q.code
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10
        |), scored AS (
        |  SELECT p.query_id, p.cand_id,
        |    list_cosine_similarity(q.v, c.v) AS cos
        |  FROM pairs p
        |  JOIN e q ON q.vec_id = p.query_id
        |  JOIN e c ON c.vec_id = p.cand_id
        |), ranked AS (
        |  SELECT query_id, cand_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, cand_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, cand_id, round(cos, 4) AS cos
        |FROM ranked WHERE rank <= 5""".stripMargin,

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q02_top_parts" ->
      """SELECT p_partkey, p_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2 ORDER BY revenue DESC, p_partkey ASC LIMIT 10""".stripMargin,

    "q03_nation_revenue" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,

    "q04_semi_anti" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |              AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_totalprice > 350000)""".stripMargin,

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

    "ts_resample" -> (evCte +
      """
        |, grid AS (
        |  SELECT u.user_id, u.n, g.j,
        |    g.j * (u.n - 1) / 15.0 AS pos
        |  FROM (SELECT DISTINCT user_id, n FROM v) u,
        |       (SELECT unnest(generate_series(0, 15)) AS j) g
        |), w AS (
        |  SELECT user_id, j, CAST(floor(pos) AS INT) AS i0,
        |    LEAST(CAST(floor(pos) AS INT) + 1, n - 1) AS i1,
        |    pos - floor(pos) AS frac
        |  FROM grid
        |)
        |SELECT w.user_id, w.j,
        |  round(v0.value * (1.0 - w.frac) + v1.value * w.frac, 6) AS v
        |FROM w
        |JOIN v v0 ON v0.user_id = w.user_id AND v0.t - 1 = w.i0
        |JOIN v v1 ON v1.user_id = w.user_id AND v1.t - 1 = w.i1""".stripMargin),

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
        |FROM s GROUP BY 1, 2""".stripMargin,

    "ts_matrix_profile" -> (matrixProfileRawCtes +
      """
        |SELECT user_id, i, round(min(d), 4) AS mp
        |FROM dists GROUP BY 1, 2""".stripMargin),

    // tiled path: identical profile semantics, restricted to the
    // smallest eligible user (the engine side pins the same user), so
    // DuckDB replays one series' O(n²) pair space instead of all users'
    "ts_matrix_profile_tiled" -> (evCte +
      """
        |, eligible AS (SELECT user_id FROM v GROUP BY 1 HAVING count(*) >= 16)
        |, pick AS (SELECT min(user_id) AS u FROM eligible)
        |, pos AS (
        |  SELECT v.user_id, v.t - 1 AS i, v.value
        |  FROM v JOIN pick ON v.user_id = pick.u
        |), seg AS (
        |  SELECT user_id, t - 1 AS i FROM v JOIN pick ON v.user_id = pick.u
        |  WHERE t - 1 <= n - 8)
        |, dists AS (
        |  SELECT a.user_id, a.i AS i, b.i AS j,
        |    sqrt(sum((pa.value - pb.value) * (pa.value - pb.value))) AS d
        |  FROM seg a
        |  JOIN seg b ON a.user_id = b.user_id AND abs(a.i - b.i) > 2
        |  JOIN pos pa ON pa.user_id = a.user_id AND pa.i BETWEEN a.i AND a.i + 7
        |  JOIN pos pb ON pb.user_id = b.user_id AND pb.i = b.i + (pa.i - a.i)
        |  GROUP BY 1, 2, 3
        |)
        |SELECT user_id, i, round(min(d), 4) AS mp
        |FROM dists GROUP BY 1, 2""".stripMargin),

    // chunked path: IDENTICAL semantics to the tiled query — the
    // engine folds three diagonal-band chunks whose union is every
    // band-excluded pair exactly once, so the oracle replay is the
    // same single-series O(n²) pair space
    "ts_matrix_profile_chunked" -> (evCte +
      """
        |, eligible AS (SELECT user_id FROM v GROUP BY 1 HAVING count(*) >= 16)
        |, pick AS (SELECT min(user_id) AS u FROM eligible)
        |, pos AS (
        |  SELECT v.user_id, v.t - 1 AS i, v.value
        |  FROM v JOIN pick ON v.user_id = pick.u
        |), seg AS (
        |  SELECT user_id, t - 1 AS i FROM v JOIN pick ON v.user_id = pick.u
        |  WHERE t - 1 <= n - 8)
        |, dists AS (
        |  SELECT a.user_id, a.i AS i, b.i AS j,
        |    sqrt(sum((pa.value - pb.value) * (pa.value - pb.value))) AS d
        |  FROM seg a
        |  JOIN seg b ON a.user_id = b.user_id AND abs(a.i - b.i) > 2
        |  JOIN pos pa ON pa.user_id = a.user_id AND pa.i BETWEEN a.i AND a.i + 7
        |  JOIN pos pb ON pb.user_id = b.user_id AND pb.i = b.i + (pa.i - a.i)
        |  GROUP BY 1, 2, 3
        |)
        |SELECT user_id, i, round(min(d), 4) AS mp
        |FROM dists GROUP BY 1, 2""".stripMargin),

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
        |FROM dists GROUP BY 1, 2""".stripMargin),

    "doc_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "doc_jaccard_pairs" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[j:j+2], ' ') AS sh
        |  FROM words, (SELECT unnest(generate_series(1, 1000)) AS j) g
        |  WHERE j <= len(w) - 2
        |), sh AS (
        |  SELECT doc_id, sh FROM (
        |    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh0
        |  ) WHERE df <= 100
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b,
        |  round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jac
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5""".stripMargin,

    // Dedup.shingles semantics: lowercase, per-doc distinct, and docs
    // shorter than k words yield ONE truncated shingle (index 0 via
    // greatest(len-k, 0)) — mirrored by greatest(len(w)-2, 1)
    "doc_containment_pairs" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |), sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[j:j+2], ' ') AS sh
        |  FROM words, (SELECT unnest(generate_series(1, 1000)) AS j) g
        |  WHERE j <= greatest(len(w) - 2, 1)
        |), sh AS (
        |  SELECT doc_id, sh FROM (
        |    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh0
        |  ) WHERE df <= 100
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b,
        |  round(CAST(inter AS DOUBLE) / sa.sz, 4) AS containment
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
        |WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.6""".stripMargin,

    // containmentPairsSketched replay: same shingle machinery but on the
    // 60-bit md5 hash (15 hex chars == the engine's big-endian first 8
    // bytes >>> 4), df-cap 100, 1/2 modhash candidate sample with slack
    // 0.5·threshold against the smaller sampled size, then the exact
    // per-candidate recount — both directions, >= 0.6.
    "doc_containment_sketched" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |), sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    CAST(CONCAT('0x', substring(md5(array_to_string(w[j:j+2], ' ')), 1, 15)) AS BIGINT) AS sh
        |  FROM words, (SELECT unnest(generate_series(1, 1000)) AS j) g
        |  WHERE j <= greatest(len(w) - 2, 1)
        |), sh AS (
        |  SELECT doc_id, sh FROM (
        |    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh0
        |  ) WHERE df <= 100
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
        |), samp AS (
        |  SELECT doc_id, sh FROM sh WHERE sh % 2 = 0
        |), ssizes AS (
        |  SELECT doc_id, count(*) AS ssz FROM samp GROUP BY 1
        |), cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS sinter
        |  FROM samp a JOIN samp b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), candf AS (
        |  SELECT doc_a, doc_b FROM cand
        |  JOIN ssizes sa ON sa.doc_id = doc_a
        |  JOIN ssizes sb ON sb.doc_id = doc_b
        |  WHERE sinter >= 0.3 * least(sa.ssz, sb.ssz)
        |), inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS i
        |  FROM candf c
        |  JOIN sh a ON a.doc_id = c.doc_a
        |  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
        |  GROUP BY 1, 2
        |), dirs AS (
        |  SELECT i.doc_a, i.doc_b, CAST(i.i AS DOUBLE) / sa.sz AS c
        |  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
        |  UNION ALL
        |  SELECT i.doc_b, i.doc_a, CAST(i.i AS DOUBLE) / sb.sz AS c
        |  FROM inter i JOIN sizes sb ON sb.doc_id = i.doc_b
        |)
        |SELECT doc_a, doc_b, round(c, 4) AS containment
        |FROM dirs WHERE c >= 0.6""".stripMargin,

    "doc_stats" ->
      """SELECT doc_id, lang, length(text) AS n_chars_m,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        |    len(string_split(text, ' ')), 4) AS avg_tok_len
        |FROM documents""".stripMargin,

    "doc_lang_dist" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  round(avg(n_chars), 4) AS avg_chars,
        |  round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
        |FROM documents GROUP BY 1, 2""".stripMargin,

    "emb_knn_cosine" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    list_cosine_similarity(q.v, c.v) AS cos
        |  FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id >= 10
        |), ranked AS (
        |  SELECT query_id, cand_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT query_id, rank, cand_id, round(cos, 4) AS cos
        |FROM ranked WHERE rank <= 5""".stripMargin,

    "emb_label_centroids" ->
      """SELECT label, j - 1 AS dim, round(avg(CAST(embedding[j] AS DOUBLE)), 6) AS c
        |FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS j) g
        |WHERE j <= len(embedding)
        |GROUP BY 1, 2""".stripMargin,

    "doc_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tok,
        |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      w -> w IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS sw
        |  FROM documents
        |)
        |SELECT doc_id, round((
        |  (CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 1.0
        |        WHEN n_tok BETWEEN 5 AND 19 THEN 0.5 ELSE 0.0 END) +
        |  (CASE WHEN punct <= 0.1 THEN 1.0 WHEN punct <= 0.3 THEN 0.5 ELSE 0.0 END) +
        |  (CASE WHEN sw > 0.02 THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality
        |FROM f""".stripMargin,

    "doc_entropy" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), wc AS (
        |  SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, sum(c) AS n FROM wc GROUP BY 1
        |)
        |SELECT wc.doc_id,
        |  round(-sum((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)) + 0.0, 4)
        |    AS word_entropy
        |FROM wc JOIN tot USING (doc_id)
        |GROUP BY 1""".stripMargin,

    "doc_repetition" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), base AS (
        |  SELECT doc_id, len(w) AS nw, len(list_distinct(w)) AS nd FROM words
        |), bg AS (
        |  SELECT doc_id, array_to_string(w[j:j+1], ' ') AS g
        |  FROM words, (SELECT unnest(generate_series(1, 1000)) AS j) s
        |  WHERE j <= len(w) - 1
        |), bgc AS (
        |  SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2
        |), bi AS (
        |  SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS tbf FROM bgc GROUP BY 1
        |), tg AS (
        |  SELECT doc_id, array_to_string(w[j:j+2], ' ') AS g
        |  FROM words, (SELECT unnest(generate_series(1, 1000)) AS j) s
        |  WHERE j <= len(w) - 2
        |), tgc AS (
        |  SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2
        |), tri AS (
        |  SELECT doc_id,
        |    CAST(coalesce(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0) AS DOUBLE)
        |      / sum(c) AS dtf
        |  FROM tgc GROUP BY 1
        |)
        |SELECT b.doc_id,
        |  round(1.0 - CAST(nd AS DOUBLE) / nw + 0.0, 4) AS dup_word_frac,
        |  round(coalesce(tbf, 0.0) + 0.0, 4) AS top_bigram_frac,
        |  round(coalesce(dtf, 0.0) + 0.0, 4) AS dup_trigram_frac
        |FROM base b
        |LEFT JOIN bi USING (doc_id)
        |LEFT JOIN tri USING (doc_id)""".stripMargin,

    "doc_lang_id" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    len(list_filter(ws, x -> x IN ('der','und','die','ist'))) AS s_de,
        |    len(list_filter(ws, x -> x IN ('the','and','of','is'))) AS s_en,
        |    len(list_filter(ws, x -> x IN ('el','y','la','es'))) AS s_es,
        |    len(list_filter(ws, x -> x IN ('le','et','la','est'))) AS s_fr
        |  FROM w
        |)
        |SELECT doc_id,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_es >= s_fr THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM s""".stripMargin,

    "doc_fingerprint" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM documents
        |GROUP BY md5(array_to_string(list_sort(list_distinct(
        |  string_split(lower(text), ' '))), ' '))""".stripMargin,

    "doc_sample_stratified" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 100 AS bucket
        |  FROM documents
        |)
        |SELECT doc_id, lang, bucket FROM b
        |WHERE bucket < CASE lang WHEN 'en' THEN 20 WHEN 'de' THEN 60
        |  WHEN 'es' THEN 60 WHEN 'fr' THEN 60 ELSE 100 END""".stripMargin,

    "doc_tokens_bpe" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe
        |FROM documents""".stripMargin,

    "doc_source_cap" ->
      """SELECT doc_id, source, CAST(rank AS INT) AS rank FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
        |  FROM documents)
        |WHERE rank <= 15""".stripMargin,

    "doc_length_buckets" ->
      """SELECT CAST(len(string_split(text, ' ')) // 16 AS INT) AS bucket,
        |  count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY 1""".stripMargin,

    // doc_pack_greedy: the greedy fill-with-reset scan is not
    // window-expressible (the running total resets), so the oracle
    // replays it as a per-source recursive CTE over the same doc_id
    // order: fill = off + tk; a doc joins the pack iff fill + tk ≤ 256,
    // else starts the next pack at offset 0. A doc longer than the
    // window keeps its own pack (it can only enter at fill = 0).
    "doc_pack_greedy" -> packGreedyOracleSql,
    "doc_stream_pack" -> packGreedyOracleSql,


    // doc_lm_score: the smoothed bigram LM replayed relationally —
    // same unigram/bigram count tables, same add-k formula, ln both
    // engines; V = count of distinct unigrams.
    "doc_lm_score" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |uni AS (
        |  SELECT u.w1, count(*) AS c1 FROM (
        |    SELECT unnest(ws) AS w1 FROM w) u GROUP BY 1
        |), v AS (SELECT count(*) AS v FROM uni),
        |bg AS (
        |  SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
        |  FROM w, (SELECT unnest(generate_series(1, (SELECT max(len(ws)) FROM w))) AS i) g
        |  WHERE g.i <= len(ws) - 1
        |), bi AS (
        |  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
        |)
        |SELECT bg.doc_id, count(*) AS n_bigrams,
        |  round(avg(ln((bi.c12 + 0.5) / (uni.c1 + 0.5 * v.v))), 4) AS lm_score
        |FROM bg JOIN bi USING (w1, w2) JOIN uni USING (w1), v
        |GROUP BY 1""".stripMargin,

    // doc_span_dedup: tumbling 10-token spans, cross-doc duplicates
    // survive only in the min-doc_id keeper, texts reassembled from the
    // surviving spans in position order and compared as md5.
    "doc_span_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sp AS (
        |  SELECT doc_id, g.i AS pos,
        |    array_to_string(ws[(g.i * 10 + 1):(g.i * 10 + 10)], ' ') AS span
        |  FROM w, (SELECT unnest(generate_series(0,
        |    (SELECT CAST(ceil(max(len(ws)) / 10.0) AS BIGINT) FROM w))) AS i) g
        |  WHERE g.i < ceil(len(ws) / 10.0)
        |), keepers AS (
        |  SELECT span, min(doc_id) AS keeper FROM sp GROUP BY 1
        |), kept AS (
        |  SELECT sp.doc_id, sp.pos, sp.span
        |  FROM sp JOIN keepers USING (span) WHERE sp.doc_id = keepers.keeper
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(span, ' ' ORDER BY pos) AS t
        |  FROM kept GROUP BY 1
        |), base AS (
        |  SELECT doc_id, CAST(ceil(len(ws) / 10.0) AS BIGINT) AS n_spans FROM w
        |)
        |SELECT b.doc_id, b.n_spans,
        |  b.n_spans - coalesce(a.n_kept, 0) AS n_removed,
        |  md5(coalesce(a.t, '')) AS text_md5
        |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // doc_substring_dedup: sliding 8-gram occurrences ranked globally
    // per gram ((doc_id, pos) order); every rank>1 occurrence is an
    // interval, intervals union per doc via the running-max-end island
    // rule, kept tokens reassembled in position order.
    "doc_substring_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tokpos AS (
        |  SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS p FROM w
        |), tok AS (
        |  SELECT doc_id, p, ws[p] AS wd FROM tokpos
        |), gr AS (
        |  SELECT doc_id, p AS pos, array_to_string(ws[p : p + 7], ' ') AS gram
        |  FROM tokpos WHERE p <= len(ws) - 7
        |), dup AS (
        |  SELECT doc_id, pos AS s, pos + 7 AS e FROM (
        |    SELECT doc_id, pos,
        |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        |    FROM gr)
        |  WHERE rn > 1
        |), isl0 AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM dup
        |), isl AS (
        |  SELECT doc_id, s, e,
        |    sum(CASE WHEN s > coalesce(pm, -1) THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY s) AS island
        |  FROM isl0
        |), cov AS (
        |  SELECT doc_id, unnest(generate_series(min_s, max_e)) AS p
        |  FROM (SELECT doc_id, island, min(s) AS min_s, max(e) AS max_e
        |        FROM isl GROUP BY 1, 2)
        |), keptT AS (
        |  SELECT t.doc_id, t.p, t.wd
        |  FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
        |  WHERE c.p IS NULL
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(wd, ' ' ORDER BY p) AS t
        |  FROM keptT GROUP BY 1
        |), base AS (SELECT doc_id, len(ws) AS n_tokens FROM w)
        |SELECT b.doc_id, b.n_tokens,
        |  b.n_tokens - coalesce(a.n_kept, 0) AS n_removed,
        |  md5(coalesce(a.t, '')) AS text_md5
        |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "emb_dedup_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4""".stripMargin,

    // doc_kmeans_topics / doc_cluster_sample: the hashed-BoW euclidean
    // Lloyd trace (seeds = docs 0..3), then predict / per-cluster cap.
    "doc_kmeans_topics" -> (kmeansTopicsCtes(2, 4, 32) +
      """
        |SELECT user_id AS doc_id, cell AS cluster,
        |  round(sqrt(d2), 4) + 0.0 AS dist
        |FROM fin""".stripMargin),
    "doc_cluster_sample" -> (kmeansTopicsCtes(2, 4, 32) +
      """
        |SELECT CAST(cell AS INT) AS cluster, CAST(rn AS INT) AS rank,
        |  user_id AS doc_id
        |FROM (SELECT cell, user_id,
        |        row_number() OVER (PARTITION BY cell ORDER BY user_id) AS rn
        |      FROM fin)
        |WHERE rn <= 25""".stripMargin),

    // emb_semdedup: cluster assignment (the emb_kmeans_assign chain),
    // within-cluster lower-id cosine rule replayed directly.
    "emb_pca_project" -> pcaProjectOracleSql(64, 60),

    "emb_pca_whiten" -> pcaProjectOracleSql(64, 60, whiten = true),

    // emb_pca_moments: raw moment relation — upper-triangle products,
    // dim sums (j = −1), count (−1, −1).
    "emb_pca_moments" ->
      """WITH x AS (
        |  SELECT vec_id, j - 1 AS j, CAST(embedding[j] AS DOUBLE) AS v
        |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS j) g
        |)
        |SELECT a.j AS i, b.j AS j, round(sum(a.v * b.v), 6) + 0.0 AS s
        |FROM x a JOIN x b ON b.vec_id = a.vec_id AND b.j >= a.j
        |GROUP BY 1, 2
        |UNION ALL
        |SELECT j AS i, -1 AS j, round(sum(v), 6) + 0.0 AS s FROM x GROUP BY 1
        |UNION ALL
        |SELECT -1 AS i, -1 AS j,
        |  CAST((SELECT count(*) FROM embeddings) AS DOUBLE) AS s""".stripMargin,

    "emb_semdedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |seeds AS (SELECT vec_id AS cell, v AS sv FROM e WHERE vec_id < 8),
        |asg AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, seeds.cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_distance(e.v, seeds.sv) ASC, seeds.cell ASC) AS rn
        |    FROM e, seeds)
        |  WHERE rn = 1
        |), vv AS (
        |  SELECT e.vec_id, asg.cell, e.v FROM e JOIN asg USING (vec_id)
        |), dups AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM vv a JOIN vv b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        |)
        |SELECT vv.vec_id, CAST(vv.cell AS INT) AS cell,
        |  coalesce(d.vec_id IS NOT NULL, FALSE) AS is_dup
        |FROM vv LEFT JOIN dups d ON d.vec_id = vv.vec_id""".stripMargin,

    "emb_kmeans_assign" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |seeds AS (SELECT vec_id AS cell, v AS sv FROM e WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, seeds.cell, list_distance(e.v, seeds.sv) AS dist,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY list_distance(e.v, seeds.sv) ASC, seeds.cell ASC) AS rn
        |  FROM e, seeds
        |)
        |SELECT vec_id, CAST(cell AS INT) AS cell, round(dist, 4) AS dist
        |FROM scored WHERE rn = 1""".stripMargin,

    "ucr_trace_1nn" ->
      """WITH tr AS (SELECT series_id AS train_id, label AS pred, values
        |           FROM read_parquet('/root/repo/data/cached/Trace/train.parquet')),
        |te AS (SELECT series_id, values
        |       FROM read_parquet('/root/repo/data/cached/Trace/test.parquet')),
        |scored AS (
        |  SELECT te.series_id, tr.pred,
        |    row_number() OVER (PARTITION BY te.series_id
        |      ORDER BY list_distance(te.values, tr.values), tr.train_id) AS rn
        |  FROM te, tr)
        |SELECT series_id, pred FROM scored WHERE rn = 1""".stripMargin,

    "emb_knn_classify" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v, label FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.label,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id ASC) AS rnk
        |  FROM e q JOIN e c ON q.vec_id < 50 AND c.vec_id >= 50
        |), votes AS (
        |  SELECT query_id, label, count(*) AS n
        |  FROM scored WHERE rnk <= 5 GROUP BY 1, 2
        |), best AS (
        |  SELECT query_id, label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY n DESC, label ASC) AS rn
        |  FROM votes
        |)
        |SELECT query_id, label FROM best WHERE rn = 1""".stripMargin,

    // weights="distance": Σ 1/(1−cos) per label (1e12 at d = 0, the
    // engine's zero-distance clamp), argmax with smallest-label ties
    "emb_knn_classify_w" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v, label FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.label,
        |    1.0 - list_cosine_similarity(q.v, c.v) AS d,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY 1.0 - list_cosine_similarity(q.v, c.v) ASC, c.vec_id ASC) AS rnk
        |  FROM e q JOIN e c ON q.vec_id < 50 AND c.vec_id >= 50
        |), votes AS (
        |  SELECT query_id, label,
        |    sum(CASE WHEN d = 0 THEN 1e12 ELSE 1.0 / d END) AS w
        |  FROM scored WHERE rnk <= 5 GROUP BY 1, 2
        |), best AS (
        |  SELECT query_id, label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY w DESC, label ASC) AS rn
        |  FROM votes
        |)
        |SELECT query_id, label FROM best WHERE rn = 1""".stripMargin
  )
}
