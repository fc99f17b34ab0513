package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Cdist
import graft.kernels.Kernels

/** Kernel k-means with a GAK (or rbf) kernel — semantics of
  * `/root/reference/tslearn/clustering/kmeans.py:136-457`.
  *
  * The gram is built once, the upper triangle of the kernel self-join
  * (each unordered pair evaluated once; K_ii = 1 of the normalized kernel
  * stays analytic), and persisted as series-position blocks. The GAK
  * gram comes from `Cdist.gakSelfUpperOf`, with each series' log self-GAK
  * computed once, as a column of the fit input's checkpoint; the rbf
  * gram is a column expression over `Cdist.selfUpperOrBlocked`. Each Lloyd
  * iteration is then ONE Spark job: a treeAggregate of the dense n×k
  * matrix S(i, c) = Σ_{j∈c} K_ij against the broadcast label array. The
  * driver derives |c|, term3(c) = Σ_{i∈c} S(i, c)/|c|² and the
  * kernel-trick distance  K_ii − 2·S(i, c)/|c| + term3(c)  (`_compute_dist`,
  * `kmeans.py:390-405`), and moves each series to its nearest non-empty
  * cluster, ties to the lower cluster id. At this scale a fit is bound by
  * its coordination rounds, not its arithmetic: the cluster does the
  * O(n²) pair sum, the driver the O(n·k) step, holding the n input series
  * and n·k sums.
  */
class KernelKMeans(val k: Int, val maxIter: Int = 10, val tol: Double = 1e-6,
                   val sigma: Double = 1.0, val seed: Long = 0L,
                   val blocks: Int = 0,
                   val init: String = "random",
                   // kernel: "gak" (reference default, sigma-parameterized)
                   // or "rbf" (exp(-gamma*||x-y||^2), the sklearn
                   // pairwise-kernel route of kmeans.py kernel_params;
                   // equal lengths required). rbf's gram is a pure
                   // codegen'd zip_with/aggregate expression - no UDF.
                   val kernel: String = "gak",
                   val gamma: Double = 1.0) extends Serializable {

  require(Seq("gak", "rbf").contains(kernel), s"bad kernel $kernel")

  /** The rbf kernel as a Column expression (the gram build). */
  private def rbfExpr(a: Column, b: Column): Column =
    exp(lit(-gamma) * aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _))

  /** Each training series' log self-GAK (empty for rbf): the train side's
    * self terms of every GAK kernel a predict call evaluates. */
  private def trainSelfTerms(train: Array[Array[Double]]): Array[Double] =
    if (kernel == "rbf") Array.empty[Double]
    else train.map { t => val u = Kernels.uni(t); Kernels.logUnnormalizedGak(u, u, sigma) }

  /** The kernel of probe `x` with each training series r, as a function
    * of r (Model.predict path). For GAK the probe's own self term is
    * computed once here and each kernel runs one DP. */
  private def kernelRow(x: Array[Double], train: Array[Array[Double]],
                        lgTrain: Array[Double]): Int => Double =
    kernel match {
      case "rbf" => r => {
        val y = train(r)
        var ssd = 0.0
        var t = 0
        while (t < x.length) { val d = x(t) - y(t); ssd += d * d; t += 1 }
        math.exp(-gamma * ssd)
      }
      case _ =>
        val u = Kernels.uni(x)
        val lgx = Kernels.logUnnormalizedGak(u, u, sigma)
        r => Kernels.gakFromLogs(Kernels.logUnnormalizedGak(u, Kernels.uni(train(r)), sigma), lgx, lgTrain(r))
    }

  /** New-point assignment: kernel-trick distance to each fitted cluster
    * using the stored training series/labels (`kmeans.py:407-457`
    * predict). `term3` is the fit-time within-cluster constant. A GAK
    * predict computes the training series' log self-GAKs once per call,
    * on the driver, and broadcasts them with the training set; each
    * probe row computes its own once, so each kernel is one DP.
    *
    * CEILING: kernel-trick predict is inherently O(n_train) GAK kernels
    * PER PROBE ROW against the broadcast training set — the reference
    * has the same shape, and unlike kNN there is no index to prune with
    * (every train row contributes to its cluster's mean kernel). The
    * broadcast is n_train·sz doubles and each probe costs n_train·sz²
    * kernel work, so `maxTrainRows` guards the two ways this blows up
    * at scale (driver/executor OOM on the broadcast; per-row walls in
    * minutes). Past the guard the right tool is a parametric model —
    * TimeSeriesSVC.fitNystrom's landmark feature map is the documented
    * escape hatch (m landmarks instead of n_train). */
  case class Model(assignments: Array[(Long, Array[Double], Int)],
                   term3: Map[Int, Double], inertia: Double) extends Serializable {
    def predict(df: DataFrame, maxTrainRows: Int = 100000): DataFrame = {
      require(assignments.length <= maxTrainRows,
        s"KernelKMeans.predict carries the FULL ${assignments.length}-row " +
          s"training set into every task and runs O(n_train) GAK kernels per " +
          s"probe row (> maxTrainRows=$maxTrainRows). Subsample the training " +
          s"set, or switch to a landmark/Nystrom model " +
          s"(TimeSeriesSVC.fitNystrom) for predict at this scale.")
      // per-cluster state, dense in ascending cluster id; a training row
      // whose cluster has no term3 gets slot -1 and adds to no sum
      val clusters = term3.keys.toArray.sorted
      val t3 = clusters.map(term3)
      val slot = assignments.map(a => math.max(-1, java.util.Arrays.binarySearch(clusters, a._3)))
      val counts = new Array[Int](clusters.length)
      slot.foreach(c => if (c >= 0) counts(c) += 1)
      val train = assignments.map(_._2)
      val bc = df.sparkSession.sparkContext.broadcast((train, trainSelfTerms(train), slot))
      val kf = kernelRow _
      val f = udf((v: scala.collection.Seq[Double]) => {
        val (train, lgTrain, slots) = bc.value
        val k = kf(v.toArray, train, lgTrain)
        val sums = new Array[Double](clusters.length)
        for (r <- train.indices if slots(r) >= 0) sums(slots(r)) += k(r)
        val d = Array.tabulate(clusters.length)(c => 1.0 - 2.0 * sums(c) / math.max(1, counts(c)) + t3(c))
        clusters(d.indices.minBy(c => (d(c), c)))
      })
      df.select(col("series_id"), f(col("values")).as("cluster"))
    }
  }

  /** Fit on (series_id, values); returns assignments (series_id, cluster). */
  def fit(df: DataFrame): DataFrame = fitAssign(df).select("series_id", "cluster")

  /** Fit and return the final assignment WITH its kernel-trick distance
    * (series_id, cluster, d2) — the trace-oracle surface: with
    * init="mod" and tol=−∞ the whole fit is a deterministic
    * fixed-iteration replay (the ts_kernel_kmeans driver row). */
  def fitAssign(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (rows, d2, _, _) = fitInternal(df, needModel = false)
    rows.indices.map(i => (rows(i)._1, rows(i)._3, d2(i))).toDF("series_id", "cluster", "d2")
      .withColumn("series_id", col("series_id").cast(df.schema("series_id").dataType))
  }

  /** Fit and keep the predict-capable model (training series + labels +
    * per-cluster constants). Only this caller pays the term3 aggregate. */
  def fitModel(df: DataFrame): Model = {
    val (rows, _, term3, inertia) = fitInternal(df, needModel = true)
    Model(rows, term3, inertia)
  }

  /** (series_id, values, cluster) rows in ascending series_id order, their
    * d2, the term3 map (needModel only) and the inertia. */
  private def fitInternal(df: DataFrame, needModel: Boolean)
      : (Array[(Long, Array[Double], Int)], Array[Double], Map[Int, Double], Double) = {
    val spark = df.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val kk = k
    // lazy: filled by the row collect, read back by the gram build; a
    // GAK fit's input carries each series' log self-GAK, computed as the
    // collect fills it
    val input = df.select("series_id", "values")
    val data = (if (kernel == "rbf") input else Cdist.withLogSelfGak(input, sigma))
      .localCheckpoint(eager = false)
    try {
      // deterministic init labels: "random" = seeded hash; "mod" =
      // series_id % k — the SQL-replayable trace-oracle mode (the
      // KShape init="first" analogue)
      val initLabel =
        if (init == "mod") pmod(col("series_id"), lit(k)).cast("int")
        else pmod(xxhash64(col("series_id"), lit(seed)), lit(k)).cast("int")
      val rows = data.select(col("series_id").cast("long"), col("values").cast("array<double>"), initLabel)
        .as[(Long, Array[Double], Int)].collect().sortBy(_._1)
      val n = rows.length
      val ids = sc.broadcast(rows.map(_._1))
      // the gram's upper triangle, one (i, j, K_ij) block of series positions per partition;
      // blocks > 0 is the block-partitioned pair join (no broadcast of the full relation)
      val upper =
        if (kernel == "rbf") Cdist.selfUpperOrBlocked(data, rbfExpr, blocks)
        else Cdist.gakSelfUpperOf(data, sigma, blocks)
      val gram = upper.select(col("left_id").cast("long"), col("right_id").cast("long"), col("dist"))
        .as[(Long, Long, Double)].rdd
        .mapPartitions { it =>
          val ps = it.toArray
          def at(id: Long) = java.util.Arrays.binarySearch(ids.value, id)
          Iterator.single((ps.map(p => at(p._1)), ps.map(p => at(p._2)), ps.map(_._3)))
        }.persist()
      try {
        // S(i, c) = Σ_{j∈c} K_ij under `lab`, row-major n×k, in one job:
        // each pair adds K_ij to S(i, lab j) and S(j, lab i)
        def sums(lab: Array[Int]): Array[Double] = {
          val bl = sc.broadcast(lab)
          val s =
            try gram.treeAggregate(new Array[Double](n * kk))({ case (acc, (is, js, ks)) =>
              val l = bl.value
              var t = 0
              while (t < ks.length) {
                acc(is(t) * kk + l(js(t))) += ks(t)
                acc(js(t) * kk + l(is(t))) += ks(t)
                t += 1
              }
              acc
            }, { (a, b) => for (t <- a.indices) a(t) += b(t); a })
            finally bl.destroy()
          for (i <- 0 until n) s(i * kk + lab(i)) += 1.0 // K_ii of the normalized kernel
          s
        }
        // |c| and term3(c) = Σ_{j,l∈c} K_jl / |c|² = Σ_{i∈c} S(i, c) / |c|²
        def clusterTerms(lab: Array[Int], s: Array[Double]): (Array[Long], Array[Double]) = {
          val cnt = new Array[Long](kk)
          val s3 = new Array[Double](kk)
          for (i <- 0 until n) { cnt(lab(i)) += 1; s3(lab(i)) += s(i * kk + lab(i)) }
          (cnt, Array.tabulate(kk)(c => s3(c) / (cnt(c) * cnt(c))))
        }
        var labels = rows.map(_._3)
        var d2 = Array.fill(n)(Double.NaN)
        var inertia = Double.PositiveInfinity
        var iter = 0
        var done = false
        while (iter < maxIter && !done) {
          val s = sums(labels)
          val (cnt, t3) = clusterTerms(labels, s)
          // nearest non-empty cluster by (d2, cluster), doubles ordered as
          // Spark orders them: -0.0 == 0.0 and NaN above every number
          labels = Array.fill(n)(-1)
          d2 = new Array[Double](n)
          for (i <- 0 until n; c <- 0 until kk if cnt(c) > 0) {
            val d = 1.0 - 2.0 * s(i * kk + c) / cnt(c) + t3(c)
            if (labels(i) < 0 || (d != d2(i) && java.lang.Double.compare(d, d2(i)) < 0)) {
              labels(i) = c; d2(i) = d
            }
          }
          val prevInertia = inertia
          inertia = d2.sum
          // tol = −∞ (the fixed-iteration trace mode) never stops early:
          // prev − inertia < −∞ is false for every double, NaN included
          done = prevInertia - inertia < tol
          iter += 1
        }
        // within-cluster constant of the FINAL labels (predict-time term3)
        val term3 = if (!needModel) Map.empty[Int, Double] else {
          val (cnt, t3) = clusterTerms(labels, sums(labels))
          (0 until kk).filter(cnt(_) > 0).map(c => c -> t3(c)).toMap
        }
        (rows.indices.map(i => (rows(i)._1, rows(i)._2, labels(i))).toArray, d2, term3, inertia)
      } finally { gram.unpersist(blocking = false); ids.destroy() }
    } finally TimeSeriesKMeans.releaseLocalCheckpoint(data)
  }
}
