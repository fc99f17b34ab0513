package graft.ml

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.NativeOps
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
          TimeSeriesKMeans.plusPlusSeeds(data, k, s"kpp:$seed:$attempt", metric)
            .map(_.values).toArray
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

  /** Deterministic DISTRIBUTED greedy k-means++ seeding over
    * `series(series_id, values)` — the reference's `_k_init_metric`
    * semantics (`clustering/kmeans.py:50-140`: `n_local_trials =
    * 2 + ⌊ln k⌋` candidates per round ∝ D², keep the potential minimizer)
    * with the RNG replaced by portable md5-uniform exponential races: the
    * trial-`t` candidate in round `r` is argmin_i −ln(u_i^{r,t}) / D²_i,
    * which selects i with probability ∝ D²_i — the same D² weighting, but
    * bit-replayable in SQL.
    *
    * 100 TB shape: k + 2 jobs, each one pass over the rows, and nothing
    * corpus-sized on the driver or in a shuffle. The input is held through
    * [[withFitInput]] (its count is the first job), one fold picks the
    * round-0 centre, and each round is one fold against the chosen centres
    * and that round's at most 2 + ⌊ln k⌋ candidates (arrays shipped in the
    * task closure). Each row recomputes its D² as the minimum over the
    * chosen centres — k(k−1)/2 extra distance calls per row per call — so
    * no per-round relation is held or released.
    *
    * Tie/degeneracy rules (documented deviations, both measure-zero
    * under the reference's real RNG): duplicate candidates across
    * trials are deduplicated and the round winner breaks potential
    * ties by smallest id; if every remaining D² is zero the smallest
    * unchosen id is taken.
    *
    * Returns the seeding trace (round, center_id, pot) where pot is
    * the k-means potential Σ_i D²_i AFTER that round's center joins. */
  def kmeansPlusPlusInit(series: DataFrame, k: Int, salt: String = "kpp",
                         metric: String = "euclidean"): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    withFitInput(series.select(col("series_id").cast("long"), col("values").cast("array<double>"))
        .as[(Long, Array[Double])]) { (data, n) =>
      require(n >= k, s"need at least k=$k series, got $n")
      plusPlusSeeds(data, k, salt, metric)
    }.map(s => (s.round, s.id, s.pot)).toDF("round", "center_id", "pot")
  }

  /** One chosen k-means++ centre: its round, its id, the potential once it
    * joined, and its values. */
  private case class Seed(round: Int, id: Long, pot: Double, values: Array[Double])

  /** The race value −ln(u) of `id` in trial `t` of round `round`, u the md5
    * uniform in (0, 1]; `StrictMath.log` is what Spark's SQL `log` runs. */
  private def race(salt: String, round: Int, t: Int, id: Long): Double =
    -StrictMath.log((NativeOps.md5Hash60(UTF8String.fromString(s"$salt:$round:$t:$id")) + 1.0) /
      math.pow(2.0, 60))

  /** One k-means++ round's fold over `nc` candidates: each candidate's
    * potential Σ min(D², dc), its `l` race minima over the rows it leaves
    * live (nd² > 0), keyed on (race / nd², id), and its fallback: the
    * smallest id neither chosen before the round nor its own. Each slot
    * keeps its row's values. */
  private final class PlusPlusFold(nc: Int, l: Int) extends Serializable {
    val pot = new Array[Double](nc)
    val key = new Array[Double](nc * (l + 1))
    val id = new Array[Long](nc * (l + 1))
    val vals = new Array[Array[Double]](nc * (l + 1)) // null: no row offered

    def offer(slot: Int, k: Double, i: Long, v: Array[Double]): Unit =
      if (vals(slot) == null || k < key(slot) || (k == key(slot) && i < id(slot))) {
        key(slot) = k; id(slot) = i; vals(slot) = v
      }

    def merge(o: PlusPlusFold): PlusPlusFold = {
      for (c <- pot.indices) pot(c) += o.pot(c)
      for (s <- vals.indices if o.vals(s) != null) offer(s, o.key(s), o.id(s), o.vals(s))
      this
    }

    /** Candidate `c`'s race winners, deduplicated in trial order, or its
      * fallback when no live row raced. */
    def next(c: Int): Seq[(Long, Array[Double])] = {
      val s = c * (l + 1)
      if (vals(s) == null) Seq((id(s + l), vals(s + l)))
      else (s until s + l).map(t => (id(t), vals(t))).distinctBy(_._1)
    }
  }

  /** The k-means++ seeds of [[kmeansPlusPlusInit]] over a held input of
    * at least k rows: k + 1 folds. */
  private def plusPlusSeeds(data: Dataset[(Long, Array[Double])], k: Int, salt: String,
                            metric: String): Seq[Seed] = {
    val l = 2 + math.log(k).toInt
    val dist = metricDist(metric, 1.0)
    def pass(nc: Int, nl: Int)(f: (PlusPlusFold, Long, Array[Double]) => Unit): PlusPlusFold =
      data.rdd.treeAggregate(new PlusPlusFold(nc, nl))((acc, r) => { f(acc, r._1, r._2); acc },
        _ merge _)
    // round 0: uniform pick = argmax u = argmin −ln(u)
    var cands = pass(1, 1)((acc, i, x) => acc.offer(0, race(salt, 0, 0, i), i, x)).next(0)
    val seeds = scala.collection.mutable.ArrayBuffer.empty[Seed]
    for (rr <- 0 until k) {
      val cs = seeds.map(_.values).toArray
      val chosen = seeds.map(_.id).toSet
      val (cid, cv) = (cands.map(_._1).toArray, cands.map(_._2).toArray)
      val nl = if (rr + 1 < k) l else 0
      val fold = pass(cv.length, nl) { (acc, i, x) =>
        var d2 = Double.PositiveInfinity
        for (c <- cs) { val d = dist(c, x); d2 = math.min(d2, d * d) }
        var races: Array[Double] = null
        for (c <- cv.indices) {
          val dc = dist(cv(c), x)
          val nd2 = math.min(d2, dc * dc)
          acc.pot(c) += nd2
          // dead rows (D² = 0: chosen centres, exact duplicates) never race
          if (nd2 > 0 && nl > 0) {
            if (races == null) races = Array.tabulate(nl)(t => race(salt, rr + 1, t, i))
            for (t <- 0 until nl) acc.offer(c * (nl + 1) + t, races(t) / nd2, i, x)
          }
          if (nl > 0 && !chosen(i) && i != cid(c)) acc.offer(c * (nl + 1) + nl, 0.0, i, x)
        }
      }
      // winner = the (pot, cid)-minimum
      val w = cv.indices.minBy(c => (fold.pot(c), cid(c)))
      seeds += Seed(rr, cid(w), fold.pot(w), cv(w))
      if (nl > 0) cands = fold.next(w)
    }
    seeds.toSeq
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
