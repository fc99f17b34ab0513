package graft.ml

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.kernels.Kernels

/** Time-series k-means — semantics of
  * `/root/reference/tslearn/clustering/kmeans.py:471-859` re-expressed for
  * Spark's execution model (SURVEY §3.2):
  *
  *  - assignment: one distributed pass — a typed map over the rows against
  *    a broadcast centroid array (`nearest`, strict < argmin). No shuffle
  *    of the big side; centroids are tiny.
  *  - update: one per-cluster fold of fixed-size buffers per pass
  *    (DistributedBary) — per-cluster ΣV/ΣWx for DBA, per-timestep means
  *    for euclidean, a joint L-BFGS with distributed gradients for
  *    soft-DTW. Each task folds its own rows, so a skewed cluster costs
  *    O(sz) buffer per task, never O(|cluster|·sz). Euclidean folds the
  *    assignment, the means and Σd² into that one pass: one job per
  *    Lloyd iteration.
  *  - control flow (init restarts, tolerance, empty-cluster retry,
  *    `n_init` best-of) stays on the driver, mirroring the reference.
  *
  * Input: DataFrame(series_id LONG, values ARRAY<DOUBLE>). Equal lengths
  * required for metric="euclidean" (as the reference enforces,
  * `kmeans.py:559-562`); dtw/softdtw accept ragged.
  */
class TimeSeriesKMeans(
    val k: Int,
    val metric: String = "euclidean", // euclidean | dtw | softdtw
    val maxIter: Int = 20,
    val tol: Double = 1e-6,
    val nInit: Int = 1,
    val seed: Long = 0L,
    val gamma: Double = 1.0,
    val barycenterMaxIter: Int = 10,
    val init: String = "k-means++",
    // softdtw centroid update: "lbfgs" = joint L-BFGS (reference-faithful
    // solver); "gd" = barycenterMaxIter fixed-η GD steps from the current
    // center — the deterministic, SQL-replayable variant (ts_kmeans_softdtw)
    val barycenterSolver: String = "lbfgs",
    val barycenterEta: Double = 0.05) extends Serializable {

  require(Seq("euclidean", "dtw", "softdtw").contains(metric), s"bad metric $metric")
  // "k-means++" = the reference's RNG over a driver sample;
  // "k-means++det" = the distributed deterministic greedy variant
  // (TimeSeriesKMeans.kmeansPlusPlusInit — md5 exponential races over
  // the FULL dataset, no sample cap, replayable and restart-stable)
  require(Seq("k-means++", "k-means++det", "first").contains(init),
    s"bad init $init")
  require(Seq("lbfgs", "gd").contains(barycenterSolver), s"bad solver $barycenterSolver")

  /** `inertia` is the last assignment's Σd²/n: the squared distances of
    * the final iteration's assignment, against the centroids it assigned
    * to (the reference's `_assign` then `_post_fit`). */
  case class Model(centroids: Array[Array[Double]], inertia: Double) {
    /** Assign each series to its nearest centroid: single broadcast pass. */
    def predict(df: DataFrame): DataFrame = TimeSeriesKMeans.assign(df, centroids, metric, gamma)
  }

  private def dist(a: Array[Double], b: Array[Double]): Double =
    TimeSeriesKMeans.metricDist(metric, gamma)(a, b)

  /** k-means++ seeding on a driver-side sample (deterministic by seed) —
    * `kmeans.py:50-133`. The sample bound keeps the driver O(sampleCap·sz)
    * regardless of dataset size. */
  private def kmeansPlusPlus(sample: Array[Array[Double]], rng: scala.util.Random): Array[Array[Double]] = {
    val centers = scala.collection.mutable.ArrayBuffer(sample(rng.nextInt(sample.length)))
    while (centers.length < k) {
      val d2 = sample.map(s => { val m = centers.map(c => dist(c, s)).min; m * m })
      val total = d2.sum
      if (total == 0.0) centers += sample(rng.nextInt(sample.length))
      else {
        var r = rng.nextDouble() * total
        var i = 0
        while (i < d2.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
        centers += sample(i)
      }
    }
    centers.toArray
  }

  def fit(df: DataFrame): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    TimeSeriesKMeans.withFitInput(
      df.select(col("series_id").cast("long"), col("values").cast("array<double>"))
        .as[(Long, Array[Double])])(fitOn)
  }

  private def fitOn(data: Dataset[(Long, Array[Double])], n: Long): Model = {
    val spark = data.sparkSession
    import spark.implicits._
    require(n >= k, s"need at least k=$k series, got $n")
    val sampleCap = 10000
    // lazy: the sample collect is one full job that init="first" fits
    // only ever need on an empty-cluster reseed (rare) — k-means++ inits
    // force it as before. data is checkpointed, so every read of it (a
    // reseed's included) sees the same rows in the same order.
    lazy val sample = (if (n <= sampleCap) data.map(_._2)
      else data.sample(withReplacement = false, sampleCap.toDouble / n, seed).map(_._2))
      .collect()

    // init="first": the k smallest-series_id series, in id order — fully
    // deterministic and data-independent, so an external SQL oracle can
    // reproduce the whole Lloyd trace (seeds = series 0..k-1). With
    // nInit > 1, restart a seeds from the a-th id block [a·k, (a+1)·k):
    // the deterministic analog of the reference's random restarts, so a
    // best-of-n fit stays oracle-replayable (ts_kmeans_best2).
    val firstAll: Array[Array[Double]] =
      if (init == "first") {
        val rows = data.orderBy("series_id").limit(k * nInit).collect().map(_._2)
        require(rows.length >= k * nInit,
          s"init=first with nInit=$nInit needs ${k * nInit} series, got ${rows.length}")
        rows
      } else null

    def runAttempt(attempt: Int): Model = {
      val rng = new scala.util.Random(seed + attempt)
      var centroids = init match {
        case "first" => firstAll.slice(attempt * k, attempt * k + k)
        case "k-means++det" =>
          // distributed deterministic seeding over the FULL dataset;
          // per-attempt salt = the deterministic analog of re-rolling
          val exploded = data.toDF("series_id", "values")
            .select(col("series_id"),
              posexplode(col("values")).as(Seq("j", "v")))
          val seedIds = TimeSeriesKMeans.kmeansPlusPlusInit(
              exploded, k, salt = s"kpp:$seed:$attempt", metric = metric)
            .select("center_id").collect().map(_.getLong(0))
          val byId = data.filter(r => seedIds.contains(r._1))
            .collect().toMap
          seedIds.map(byId)
        case _ => kmeansPlusPlus(sample, rng)
      }
      var prevInertia = Double.PositiveInfinity
      var inertia = Double.PositiveInfinity
      var iter = 0
      var done = false
      while (iter < maxIter && !done) {
        val updated: Map[Int, Array[Double]] =
          if (metric == "euclidean") {
            // assignment, per-timestep sums, counts and Σd² in one pass
            val (means, d2) = DistributedBary.meansWithInertia(data, centroids)
            inertia = d2 / n
            means
          } else {
            // (cluster, dist, values) for this iteration's centroids;
            // cached because the barycenter steps below reread it
            val assigned = TimeSeriesKMeans.assignDs(data, centroids, metric, gamma)
              .map(t => (t._2, t._3, t._4)).cache()
            try {
              // only the tol gate and the model (the last iteration's
              // value) read the inertia
              if (tol >= 0 || iter == maxIter - 1)
                inertia = assigned.map(r => r._2 * r._2).reduce(_ + _) / n
              val rows = assigned.map(t => (t._1, t._3))
              if (metric == "dtw")
                DistributedBary.dbaByCluster(rows, centroids, barycenterMaxIter)
              else if (barycenterSolver == "gd")
                DistributedBary.softDtwGdByCluster(rows, centroids, gamma,
                  barycenterEta, barycenterMaxIter)
              else
                DistributedBary.softDtwByCluster(rows,
                  centroids.indices.map(c => c -> centroids(c).length).toMap,
                  gamma, barycenterMaxIter)
            } finally assigned.unpersist()
          }
        // empty-cluster retry: reseed from a random sample member
        // (reference raises EmptyClusterError and restarts; reseeding is
        // the deterministic-seed equivalent, `clustering/utils.py:13-33`)
        centroids = Array.tabulate(k)(c =>
          updated.getOrElse(c, sample(rng.nextInt(sample.length))))
        // a negative tol never stops early (the fixed-iteration mode)
        if (tol >= 0 && prevInertia - inertia < tol) done = true
        prevInertia = inertia
        iter += 1
      }
      Model(centroids, inertia)
    }
    // Restarts are fully independent (per-attempt rng, shared read-only
    // checkpointed data) and each attempt's dataflow is untouched, so its
    // values are bit-identical to the sequential loop's. Running them from driver
    // threads overlaps their jobs (guide §2.6): attempt b's tasks back-fill
    // executors idled by attempt a's stage tails — at sf0.1 the fit is
    // job-scheduling-floor-bound, so the overlap halves the wall; at scale
    // it fills straggler tails. 2-3 jobs in flight is plenty (guide),
    // and nInit is small everywhere (best-of-2 in the declared query).
    val models: Seq[Model] =
      if (nInit == 1) Seq(runAttempt(0))
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(nInit, 3))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val attempts = (0 until nInit).map(a => scala.concurrent.Future(runAttempt(a)))
        // every attempt settles before the first failure (in attempt
        // order) is rethrown, so no sibling's jobs outlive the fit
        try attempts.map(f => scala.concurrent.Await
            .ready(f, scala.concurrent.duration.Duration.Inf).value.get).map(_.get)
        finally pool.shutdown()
      }
    // strict < on inertia in attempt order — the EXACT sequential best-model
    // fold (first minimum wins; NaN never displaces an earlier model)
    models.reduceLeft((b, m) => if (m.inertia < b.inertia) m else b)
  }
}

object TimeSeriesKMeans {
  def metricDist(metric: String, gamma: Double): (Array[Double], Array[Double]) => Double =
    metric match {
      case "dtw" => (a, b) => Kernels.dtwFlatEA(a, b, -1, Double.PositiveInfinity)
      case "softdtw" => (a, b) => {
        val d = Kernels.softDtw(Kernels.uni(a), Kernels.uni(b), gamma)
        math.sqrt(math.max(0.0, d))
      }
      case _ => (a, b) => Kernels.euclidean(Kernels.uni(a), Kernels.uni(b))
    }

  /** Deterministic DISTRIBUTED greedy k-means++ seeding over an
    * exploded series relation `rows(series_id, j, v)` — the reference's
    * `_k_init_metric` semantics (`clustering/kmeans.py:50-140`:
    * `n_local_trials = 2 + ⌊ln k⌋` candidates per round ∝ D², keep the
    * potential minimizer) with the RNG replaced by portable md5-uniform
    * exponential races: the trial-`t` candidate in round `r` is
    * argmin_i −ln(u_i^{r,t}) / D²_i, which selects i with probability
    * ∝ D²_i — the same D² weighting, but bit-replayable in SQL.
    *
    * 100 TB shape: D² lives as an (id, d2) relation (localCheckpoint'd
    * per round); candidate selection is ONE aggregation computing all
    * `trials` races map-side (L min_by slots); potential evaluation is
    * one broadcast join (L·sz center values) + partial agg. Nothing
    * corpus-sized ever sits on the driver or shuffles.
    *
    * Tie/degeneracy rules (documented deviations, both measure-zero
    * under the reference's real RNG): duplicate candidates across
    * trials are deduplicated and the round winner breaks potential
    * ties by smallest id; if every remaining D² is zero the smallest
    * unchosen id is taken.
    *
    * Returns the seeding trace (round, center_id, pot) where pot is
    * the k-means potential Σ_i D²_i AFTER that round's center joins. */
  def kmeansPlusPlusInit(rows: DataFrame, k: Int, trials: Int = -1,
                         salt: String = "kpp",
                         metric: String = "euclidean"): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val l = if (trials > 0) trials else 2 + math.log(k).toInt
    val r = rows.select(col("series_id").cast("long").as("id"),
      col("j").cast("int").as("j"), col("v").cast("double").as("v"))
      .localCheckpoint()
    def race(rr: Int, t: Int): org.apache.spark.sql.Column =
      -log((graft.operators.Dedup.md5Hash60(
        concat(lit(s"$salt:$rr:$t:"), col("id").cast("string")))
        .cast("double") + 1.0d) / math.pow(2.0, 60))
    def centerRel(ids: Seq[Long]) = broadcast(
      r.where(col("id").isin(ids: _*))
        .select(col("id").as("cid"), col("j"), col("v").as("c")))
    // series arrays — only materialized for warped metrics, where the
    // squared distance needs a DP, not a per-timestep join
    lazy val series: Dataset[(Long, Array[Double])] = r
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("j"), col("v")))).as("s"))
      .select(col("id"), transform(col("s"), p => p.getField("v")).as("vals"))
      .as[(Long, Array[Double])].cache()
    // (id, cid, dc): squared metric distance of every point to each of
    // the candidate centers. Euclidean stays fully relational (join on
    // the timestep, map-side partial sum); dtw/softdtw run the kernel
    // per (point, broadcast candidate) — candidates are ≤ 2+⌊ln k⌋
    // arrays, so the pass is map-only either way.
    val dcTo: Seq[Long] => DataFrame =
      if (metric == "euclidean") { ids =>
        r.join(centerRel(ids), "j")
          .groupBy(col("id"), col("cid"))
          .agg(sum(pow(col("v") - col("c"), 2)).as("dc"))
      } else { ids =>
        val dist = metricDist(metric, 1.0)
        val cands = series.filter(s => ids.contains(s._1)).collect().toSeq
        val bc = spark.sparkContext.broadcast(cands)
        series.flatMap { case (id, vals) =>
          bc.value.map { case (cid, cv) =>
            val d = dist(cv, vals)
            (id, cid, d * d)
          }
        }.toDF("id", "cid", "dc")
      }
    // Per-round race columns for selecting round `rr`'s candidates, over a
    // given D² column. Dead rows (D² = 0 — already-chosen centers and
    // exact duplicates) must not race, exactly like the former standalone
    // `live` filter: the whole ordering struct goes null for them and
    // min_by skips null ordering values.
    def raceAggs(rr: Int, d2c: org.apache.spark.sql.Column) =
      (0 until l).map(t =>
        min_by(col("id"), when(d2c > 0,
          struct((race(rr, t) / d2c).as("k"), col("id")))).as(s"c$t"))
    // Candidate extraction from an aggregated race row (slots at `offset`):
    // null slots mean no live row raced — fall back to the smallest
    // unchosen id (same degenerate-case rule as before).
    def candsFrom(row: org.apache.spark.sql.Row, offset: Int,
                  chosen: Set[Long]): Seq[Long] =
      if (row.isNullAt(offset))
        Seq(r.select(col("id")).distinct()
          .where(!col("id").isin(chosen.toSeq: _*))
          .agg(min(col("id"))).head().getLong(0))
      else (offset until offset + l).map(row.getLong).distinct
    // round 0: uniform pick = argmax u = argmin −ln(u)
    val c0 = r.select(col("id")).distinct()
      .select(col("id"), race(0, 0).as("e"))
      .agg(min_by(col("id"), struct(col("e"), col("id"))).as("id"))
      .head().getLong(0)
    var d2 = dcTo(Seq(c0)).select(col("id"), col("dc").as("d2"))
      .localCheckpoint()
    // ONE aggregation computes round 0's potential AND round 1's races
    // (guide §1.2/§2.4: the former standalone race-selection job was a
    // second full scan of the D² relation per round — k−1 corpus passes
    // removed). The pot sum is the same aggregation over the same rows;
    // extra min_by columns do not perturb it.
    val row0 = d2.agg(sum("d2").as("pot"), raceAggs(1, col("d2")): _*).head()
    val trace = scala.collection.mutable.ArrayBuffer((0, c0, row0.getDouble(0)))
    var chosen = Set(c0)
    var nextCands: Seq[Long] = candsFrom(row0, 1, chosen)
    for (rr <- 1 until k) {
      val cands = nextCands
      // ONE evaluation of the candidate-distance relation per round,
      // checkpointed: it feeds BOTH the potential ranking and the next
      // round's D² (the former code evaluated dcTo twice — once over all
      // candidates for the ranking, once over the winner for the update
      // — and for warped metrics paid a second candidate collect +
      // broadcast per round). nd2 = least(d2, dc) is the identical
      // update expression; the winner's rows are a filter on the leaf.
      val upd = dcTo(cands)
        .join(d2, "id")
        .select(col("id"), col("cid"), least(col("d2"), col("dc")).as("nd2"))
        .localCheckpoint()
      // per-candidate potential + per-candidate round-(rr+1) races in the
      // SAME groupBy: the group that wins the potential ranking carries
      // exactly the races the next round would have computed over its
      // winner-filtered D² relation — the standalone race scan is gone.
      val perCid = upd.groupBy("cid")
        .agg(sum(col("nd2")).as("pot"),
          (if (rr + 1 < k) raceAggs(rr + 1, col("nd2")) else Seq.empty): _*)
        .collect()
      // winner = (pot, cid)-minimum — the exact ordering the former
      // min_by(struct(cid,pot), struct(pot,cid)) SQL used, on the same
      // pot doubles (identical sum over identical groups)
      val best = perCid.minBy(rw => (rw.getDouble(1), rw.getLong(0)))
      val (bestId, bestPot) = (best.getLong(0), best.getDouble(1))
      d2 = upd.where(col("cid") === bestId)
        .select(col("id"), col("nd2").as("d2"))
      chosen += bestId
      if (rr + 1 < k) nextCands = candsFrom(best, 2, chosen)
      trace += ((rr, bestId, bestPot))
    }
    // the warped-metric path caches the per-id arrays for its k·(L+1)
    // passes; release them now that the trace is materialized
    if (metric != "euclidean") series.unpersist()
    trace.toSeq.toDF("round", "center_id", "pot")
  }

  /** Releases the blocks of a `localCheckpoint()`ed Dataset. A local
    * checkpoint is not in the cache manager, so `Dataset.unpersist` would
    * leave its blocks to the ContextCleaner. */
  private[ml] def releaseLocalCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }.foreach(_.unpersist(blocking = false))

  /** Runs an iterative fit over `ds`, evaluated once. `ds` is held as a
    * lazy local checkpoint, filled by one job: the row count `n`. The body
    * gets the checkpoint coalesced to ~10k rows per partition (at most
    * defaultParallelism), so each per-iteration job pays for its
    * aggregation rather than for near-empty tasks, and `n`. The
    * checkpoint is released however the body ends.
    *
    * `coalesce` merges partitions without a shuffle, so it never raises
    * the partition count, where `repartition` could: an input with fewer
    * partitions than the rule asks for keeps its own count. The callers'
    * inputs come out of a shuffle read, which AQE merges below
    * spark.sql.shuffle.partitions into partitions of at least 1 MB
    * (coalescePartitions.minPartitionSize): on 4 cores the sf0.01 and
    * sf0.1 series (150 and 1,500) arrive in 1 and 2 partitions. Below 20k
    * rows the rule asks for one partition anyway; past it, an input of
    * under ~100 shuffled bytes per row keeps fewer partitions than the
    * rule asks for (20k series of 2 events each: 1, not 2). */
  private[ml] def withFitInput[T, R](ds: Dataset[T])(body: (Dataset[T], Long) => R): R = {
    val data = ds.localCheckpoint(eager = false)
    try {
      val n = data.rdd.count()
      val nPart = math.max(1, math.min(ds.sparkSession.sparkContext.defaultParallelism, n / 10000).toInt)
      body(data.coalesce(nPart), n)
    } finally releaseLocalCheckpoint(data)
  }

  /** (cluster, dist) of the centroid nearest to `vs` under `d`: strict <,
    * so ties go to the lower cluster id. */
  private[ml] def nearest(cs: Array[Array[Double]], vs: Array[Double],
                          d: (Array[Double], Array[Double]) => Double): (Int, Double) = {
    var bestC = 0; var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cs.length) {
      val dd = d(cs(c), vs)
      if (dd < bestD) { bestD = dd; bestC = c }
      c += 1
    }
    (bestC, bestD)
  }

  /** (id, cluster, dist, values) typed assignment pass. */
  private[ml] def assignDs(data: Dataset[(Long, Array[Double])],
                           centroids: Array[Array[Double]],
                           metric: String, gamma: Double): Dataset[(Long, Int, Double, Array[Double])] = {
    val spark = data.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    val d = metricDist(metric, gamma)
    data.map { case (id, vs) =>
      val (c, dist) = nearest(bc.value, vs, d)
      (id, c, dist, vs)
    }
  }

  def assign(df: DataFrame, centroids: Array[Array[Double]],
             metric: String, gamma: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val data = df.select(col("series_id").cast("long"), col("values").cast("array<double>"))
      .as[(Long, Array[Double])]
    assignDs(data, centroids, metric, gamma)
      .toDF("series_id", "cluster", "dist", "values")
      .select("series_id", "cluster", "dist")
  }

  /** Silhouette score from a pairwise-distance DataFrame
    * (left_id, right_id, dist) + assignments (series_id, cluster) —
    * `clustering/utils.py:66-197` re-expressed as two grouped
    * aggregations. */
  def silhouette(pairDists: DataFrame, assignments: DataFrame): Double = {
    val withClusters = pairDists
      .join(assignments.select(col("series_id").as("left_id"), col("cluster").as("lc")), "left_id")
      .join(assignments.select(col("series_id").as("right_id"), col("cluster").as("rc")), "right_id")
      .where(col("left_id") =!= col("right_id"))
    val perCluster = withClusters.groupBy("left_id", "lc", "rc")
      .agg(avg("dist").as("mean_d"))
    val a = perCluster.where(col("lc") === col("rc"))
      .select(col("left_id"), col("mean_d").as("a"))
    val b = perCluster.where(col("lc") =!= col("rc"))
      .groupBy("left_id").agg(min("mean_d").as("b"))
    val s = a.join(b, "left_id")
      .select(((col("b") - col("a")) / greatest(col("a"), col("b"))).as("s"))
    val row = s.agg(avg("s")).head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }
}
