package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Cdist
import graft.kernels.Kernels

/** Kernel SVM with the Global Alignment Kernel — semantics of
  * `/root/reference/tslearn/svm/svm.py:17-569`.
  *
  * Spark split (SURVEY §7.3): the O(n²) GAK gram is computed distributed
  * by `Cdist.gakSelfGram` (triangle self-join + mirror, each series' log
  * self-GAK computed once; predict's probe × support-vector gram by
  * `Cdist.gakCross`); the SMO solve runs on the driver over
  * the collected gram — same architecture as the reference (libsvm solve
  * after a precomputed gram), with the documented scale limit n ≲ 10⁴
  * support-vector candidates. Multiclass = one-vs-one voting, as libsvm.
  * γ='auto' uses the sigma_gak heuristic (`softdtw_variants.py:221-272`).
  */
object TimeSeriesSVC {

  /** sigma_gak bandwidth heuristic: median pairwise distance between
    * sampled timestep values × √(median series length) — distributed
    * sample + approxQuantile. */
  def sigmaGak(df: DataFrame, seriesCol: String = "values", sample: Int = 100,
               seed: Long = 0L): Double = {
    // a seeded .sample + limit scans (at most) once with no global sort —
    // the reference samples too (softdtw_variants.py:251-259); fall back
    // to an unsampled limit only when the sampled slice comes up short
    val exploded = df.select(posexplode(col(seriesCol)).as(Seq("t", "v"))).select(col("v"))
    val sampled = exploded.sample(withReplacement = false, 0.1, seed)
      .limit(sample).collect()
    val rows = if (sampled.length >= sample) sampled else exploded.limit(sample).collect()
    val arr = rows.map(_.getDouble(0))
    val dists = for { i <- arr.indices; j <- arr.indices if i < j } yield math.abs(arr(i) - arr(j))
    val medDist = if (dists.isEmpty) 1.0 else dists.sorted.apply(dists.length / 2)
    val medSz = df.select(size(col(seriesCol)).cast("double").as("sz"))
      .stat.approxQuantile("sz", Array(0.5), 0.01)
    medDist * math.sqrt(medSz.headOption.getOrElse(1.0))
  }

  /** Deterministic exact-median variant of [[sigmaGak]] for driver
    * verification: the sample is ALL timestep values of series
    * < `maxId` (a bounded slice, no RNG), both medians are the exact
    * k-th smallest with k = n/2 — the reference's sorted[n//2] upper
    * middle (`softdtw_variants.py:251-272`) — instead of the sampled
    * median + approxQuantile of the production heuristic. Returns a
    * one-row frame (sigma). */
  def sigmaGakExact(df: DataFrame, maxId: Long = 4,
                    seriesCol: String = "values"): DataFrame = {
    // lazy local checkpoints: an eager one is persisted before its fill
    // job runs, so a failed fill would leave it where no finally reaches
    val vals = df.where(col("series_id") < maxId)
      .select(col("series_id"), posexplode(col(seriesCol)).as(Seq("t", "v")))
      .localCheckpoint(eager = false)
    val a = vals.select(col("series_id").as("sa"), col("t").as("ta"), col("v").as("va"))
    val b = vals.select(col("series_id").as("sb"), col("t").as("tb"), col("v").as("vb"))
    // i<j over the value multiset via the (series, t) lexicographic key
    // k-th smallest of a multiset = the smallest value whose cumulative
    // count reaches k+1 — identical to "max of the first k+1 ascending"
    // but computed from per-VALUE counts: the raw pair mass collapses in
    // a map-side-combinable groupBy, and only distinct values flow into
    // the ordering window (the former orderBy.limit(n/2+1) funnelled
    // HALF the pair multiset into one task — guide §2.3/§5).
    def kthSmallest(values: org.apache.spark.sql.DataFrame,
                    c: String): Double = {
      val grouped = values.groupBy(c).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(eager = false)
      try {
        val n = grouped.agg(sum("cnt")).head().getLong(0)
        val w = org.apache.spark.sql.expressions.Window.orderBy(c)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        grouped.withColumn("cum", sum("cnt").over(w))
          .where(col("cum") >= n / 2 + 1)
          .agg(min(col(c))).head().getDouble(0)
      } finally TimeSeriesKMeans.releaseLocalCheckpoint(grouped)
    }
    val sigma = try {
      val pairs = a.crossJoin(b)
        .where(col("sa") < col("sb") || (col("sa") === col("sb") && col("ta") < col("tb")))
        .select(abs(col("va") - col("vb")).as("d"))
      val medDist = kthSmallest(pairs, "d")
      val medSz = kthSmallest(
        df.select(size(col(seriesCol)).cast("double").as("sz")), "sz")
      medDist * math.sqrt(medSz)
    } finally TimeSeriesKMeans.releaseLocalCheckpoint(vals)
    val spark = df.sparkSession
    import spark.implicits._
    Seq(sigma).toDF("sigma")
  }

  /** gamma_soft_dtw heuristic = 2·sigma_gak²
    * (`softdtw_variants.py:275-313`). */
  def gammaSoftDtw(df: DataFrame, seriesCol: String = "values",
                   sample: Int = 100, seed: Long = 0L): Double = {
    val s = sigmaGak(df, seriesCol, sample, seed)
    2.0 * s * s
  }

  /** Deterministic exact-median variant of [[gammaSoftDtw]] (driver
    * verification) — squares [[sigmaGakExact]]'s one-row frame. */
  def gammaSoftDtwExact(df: DataFrame, maxId: Long = 4,
                        seriesCol: String = "values"): DataFrame =
    sigmaGakExact(df, maxId, seriesCol)
      .select((lit(2.0) * col("sigma") * col("sigma")).as("gamma"))

  /** Binary SMO on a precomputed kernel matrix (driver-side). Simplified
    * Platt SMO with random-ish second-choice heuristic; converges for the
    * small gram sizes this path is designed for. */
  def smoSolve(K: Array[Array[Double]], y: Array[Double], c: Double,
                           tol: Double = 1e-3, maxPasses: Int = 10,
                           seed: Long = 0L): (Array[Double], Double) = {
    val n = y.length
    val alpha = new Array[Double](n)
    var b = 0.0
    val rng = new scala.util.Random(seed)
    def f(i: Int): Double = {
      var s = 0.0; var j = 0
      while (j < n) { s += alpha(j) * y(j) * K(j)(i); j += 1 }
      s + b
    }
    var passes = 0
    while (passes < maxPasses) {
      var changed = 0
      var i = 0
      while (i < n) {
        val ei = f(i) - y(i)
        if ((y(i) * ei < -tol && alpha(i) < c) || (y(i) * ei > tol && alpha(i) > 0)) {
          var j = rng.nextInt(n - 1)
          if (j >= i) j += 1
          val ej = f(j) - y(j)
          val aiOld = alpha(i); val ajOld = alpha(j)
          val (lo, hi) =
            if (y(i) != y(j)) (math.max(0.0, ajOld - aiOld), math.min(c, c + ajOld - aiOld))
            else (math.max(0.0, aiOld + ajOld - c), math.min(c, aiOld + ajOld))
          if (lo < hi) {
            val eta = 2 * K(i)(j) - K(i)(i) - K(j)(j)
            if (eta < 0) {
              var aj = ajOld - y(j) * (ei - ej) / eta
              aj = math.max(lo, math.min(hi, aj))
              if (math.abs(aj - ajOld) > 1e-5) {
                val ai = aiOld + y(i) * y(j) * (ajOld - aj)
                alpha(i) = ai; alpha(j) = aj
                val b1 = b - ei - y(i) * (ai - aiOld) * K(i)(i) - y(j) * (aj - ajOld) * K(i)(j)
                val b2 = b - ej - y(i) * (ai - aiOld) * K(i)(j) - y(j) * (aj - ajOld) * K(j)(j)
                b = if (ai > 0 && ai < c) b1
                    else if (aj > 0 && aj < c) b2
                    else (b1 + b2) / 2
                changed += 1
              }
            }
          }
        }
        i += 1
      }
      if (changed == 0) passes += 1 else passes = 0
    }
    (alpha, b)
  }

  /** One deterministic SMO working-set iteration (`svm.py:44-57`'s
    * libsvm delegation; §7.4 watch item) as pure DataFrame algebra over
    * the distributed gram — the gram never leaves the cluster; only the
    * selected 1-row pair does:
    *   1. errors  E_t = Σ_j α_j·y_j·K(j,t) + b − y_t  (one grouped sum)
    *   2. i* = argmax over I_up of −y·E  (first-order KKT violation;
    *      compared ROUNDED to `decimals`, ties → smallest id — the
    *      cross-engine determinism contract of every argmin row)
    *   3. j* = argmax over I_low of (E_i−E_j)²/η with
    *      η = K_ii + K_jj − 2·K_ij  (libsvm's second-order working-set
    *      gain; same rounded tie rule)
    *   4. the analytic two-α update with [L,H] box clipping and Platt's
    *      b1/b2 bias recompute; η ≥ 0, L ≥ H or a sub-1e-5 α move leave
    *      the state unchanged (the solver's skip conditions).
    * Output: one row per training id with the POST-step decision value
    * f_after and (i_id, j_id, ai_new, aj_new, b_new) as constant
    * columns. `gram` must hold every ordered pair INCLUDING the
    * diagonal as (left_id, right_id, dist); `labeled` is (id, y, a). */
  def smoStep(gram0: DataFrame, labeled: DataFrame, b0: Double, cReg: Double,
              decimals: Int = 4): DataFrame = {
    // read by the returned lazy frame: the ContextCleaner releases it once that frame is unreachable
    val gram = gram0.localCheckpoint() // scanned by 4 branches below
    val cRegL = lit(cReg)
    val ay = labeled.select(col("id").as("left_id"), (col("a") * col("y")).as("ay"))
    val err = gram.join(broadcast(ay), "left_id")
      .groupBy("right_id").agg(sum(col("ay") * col("dist")).as("s"))
      .select(col("right_id").as("id"), (col("s") + lit(b0)).as("f0"))
      .join(broadcast(labeled), "id")
      .withColumn("e", col("f0") - col("y"))
      // read by the returned lazy frame: the ContextCleaner releases it once that frame is unreachable
      .localCheckpoint()
    val iRow = err
      .where((col("y") > 0 && col("a") < cRegL) || (col("y") < 0 && col("a") > 0))
      .agg(max_by(struct(col("id"), col("e"), col("a"), col("y")),
        struct(round(-col("y") * col("e"), decimals), -col("id"))).as("s"))
      .select(col("s.id").as("i_id"), col("s.e").as("e_i"),
        col("s.a").as("a_i"), col("s.y").as("y_i"))
    val jCand = err
      .where((col("y") > 0 && col("a") > 0) || (col("y") < 0 && col("a") < cRegL))
      .crossJoin(broadcast(iRow))
      .where(col("id") =!= col("i_id"))
    val diag = gram.where(col("left_id") === col("right_id"))
      .select(col("left_id"), col("dist"))
    val jRow = gram.select(col("left_id"), col("right_id"), col("dist").as("k_ij"))
      .join(broadcast(jCand),
        col("left_id") === col("i_id") && col("right_id") === col("id"))
      .join(broadcast(diag.toDF("dj_id", "k_jj")), col("id") === col("dj_id"))
      .join(broadcast(diag.toDF("di_id", "k_ii")), col("i_id") === col("di_id"))
      .withColumn("eta", col("k_ii") + col("k_jj") - lit(2.0) * col("k_ij"))
      .withColumn("gain", when(col("eta") > 1e-12,
        (col("e_i") - col("e")) * (col("e_i") - col("e")) / col("eta"))
        .otherwise(lit(0.0)))
      .agg(max_by(struct(col("id").as("j_id"), col("e").as("e_j"),
          col("a").as("a_j"), col("y").as("y_j"),
          col("k_ii"), col("k_jj"), col("k_ij"),
          col("i_id"), col("e_i"), col("a_i"), col("y_i")),
        struct(round(col("gain"), decimals), -col("id"))).as("s"))
      .select(col("s.*"))
    val upd = jRow
      .withColumn("lo", when(col("y_i") =!= col("y_j"),
          greatest(lit(0.0), col("a_j") - col("a_i")))
        .otherwise(greatest(lit(0.0), col("a_i") + col("a_j") - cRegL)))
      .withColumn("hi", when(col("y_i") =!= col("y_j"),
          least(cRegL, cRegL + col("a_j") - col("a_i")))
        .otherwise(least(cRegL, col("a_i") + col("a_j"))))
      .withColumn("eta2", lit(2.0) * col("k_ij") - col("k_ii") - col("k_jj"))
      .withColumn("aj_try", least(col("hi"), greatest(col("lo"),
        col("a_j") - col("y_j") * (col("e_i") - col("e_j")) / col("eta2"))))
      .withColumn("changed", col("eta2") < -1e-12 && col("lo") < col("hi") &&
        abs(col("aj_try") - col("a_j")) > 1e-5)
      .withColumn("aj_new", when(col("changed"), col("aj_try")).otherwise(col("a_j")))
      .withColumn("ai_new", col("a_i") +
        col("y_i") * col("y_j") * (col("a_j") - col("aj_new")))
      .withColumn("b1", lit(b0) - col("e_i")
        - col("y_i") * (col("ai_new") - col("a_i")) * col("k_ii")
        - col("y_j") * (col("aj_new") - col("a_j")) * col("k_ij"))
      .withColumn("b2", lit(b0) - col("e_j")
        - col("y_i") * (col("ai_new") - col("a_i")) * col("k_ij")
        - col("y_j") * (col("aj_new") - col("a_j")) * col("k_jj"))
      .withColumn("b_new", when(!col("changed"), lit(b0))
        .when(col("ai_new") > 0 && col("ai_new") < cRegL, col("b1"))
        .when(col("aj_new") > 0 && col("aj_new") < cRegL, col("b2"))
        .otherwise((col("b1") + col("b2")) / 2))
      .select(col("i_id"), col("j_id"), col("y_i"), col("y_j"),
        col("a_i"), col("a_j"), col("ai_new"), col("aj_new"), col("b_new"))
      // read by the returned lazy frame: the ContextCleaner releases it once that frame is unreachable
      .localCheckpoint() // 1 row, read by two gram lookups + the final join
    val ki = gram.join(broadcast(upd.select(col("i_id").as("gi"))),
        col("left_id") === col("gi"))
      .select(col("right_id").as("id"), col("dist").as("k_i"))
    val kj = gram.join(broadcast(upd.select(col("j_id").as("gj"))),
        col("left_id") === col("gj"))
      .select(col("right_id").as("id"), col("dist").as("k_j"))
    err.join(ki, "id").join(kj, "id").crossJoin(broadcast(upd))
      .select(col("id"), col("i_id"), col("j_id"),
        col("ai_new"), col("aj_new"), col("b_new"),
        (col("f0")
          + col("y_i") * (col("ai_new") - col("a_i")) * col("k_i")
          + col("y_j") * (col("aj_new") - col("a_j")) * col("k_j")
          + (col("b_new") - lit(b0))).as("f_after"))
  }

  case class BinaryModel(ids: Array[Long], alphaY: Array[Double], b: Double)
  case class Model(classes: Array[String], binaries: Map[(Int, Int), BinaryModel],
                   sigma: Double, trainIds: Array[Long]) {
    /** One-vs-one vote. Needs the probe×train GAK gram as a DataFrame
      * (probe_id, train_id, k). */
    def predictFromGram(gram: Map[(Long, Long), Double], probeIds: Seq[Long]): Map[Long, String] = {
      probeIds.map { pid =>
        val votes = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
        binaries.foreach { case ((ci, cj), bm) =>
          var s = bm.b
          var t = 0
          while (t < bm.ids.length) {
            s += bm.alphaY(t) * gram((pid, bm.ids(t)))
            t += 1
          }
          if (s >= 0) votes(ci) += 1 else votes(cj) += 1
        }
        pid -> classes(votes.toSeq.sortBy(v => (-v._2, v._1)).head._1)
      }.toMap
    }
  }

  /** Fit on (series_id, values, label). The gram is computed distributed,
    * then collected (documented driver-size limit). */
  def fit(df: DataFrame, c: Double = 1.0, sigma: Double = -1.0, seed: Long = 0L,
          blocks: Int = 0): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val sig = if (sigma > 0) sigma else sigmaGak(df)
    // blocks > 0: block-partitioned pair join — the gram no longer needs
    // the whole dataset broadcastable (driver collect is still the solve
    // bound, as in the reference's libsvm path)
    val gram = collectGram(Cdist.gakSelfGram(df, sig, blocks))
    val labeled = df.select(col("series_id").cast("long"), col("label").cast("string"))
      .as[(Long, String)].collect()
    val classes = labeled.map(_._2).distinct.sorted
    val byClass = labeled.groupBy(_._2)
    val labelOf = labeled.toMap
    val binaries = (for {
      ci <- classes.indices; cj <- classes.indices if ci < cj
    } yield {
      val ids = (byClass(classes(ci)) ++ byClass(classes(cj))).map(_._1)
      val y = ids.map(id => if (labelOf(id) == classes(ci)) 1.0 else -1.0)
      val kmat = Array.tabulate(ids.length, ids.length)((a, bIdx) => gram((ids(a), ids(bIdx))))
      val (alpha, b) = smoSolve(kmat, y, c, seed = seed)
      val sv = ids.indices.filter(alpha(_) > 1e-9)
      (ci, cj) -> BinaryModel(sv.map(ids(_)).toArray,
        sv.map(t => alpha(t) * y(t)).toArray, b)
    }).toMap
    Model(classes, binaries, sig, labeled.map(_._1))
  }

  /** A (left_id, right_id, dist) gram on the driver, keyed by id pair. */
  private[ml] def collectGram(gram: DataFrame): Map[(Long, Long), Double] = {
    import gram.sparkSession.implicits._
    gram.as[(Long, Long, Double)].collect().map { case (i, j, k) => (i, j) -> k }.toMap
  }

  // ------------------------------------------------------- Nyström path

  /** Nyström low-rank GAK model: m landmark series plus the m×m
    * whitening map W^{-1/2} (W = K(L,L), eigendecomposed with small
    * eigenvalues truncated), and one MLlib linear SVM per class
    * (one-vs-rest). φ(x) = W^{-1/2}·k(x, L) gives K ≈ ΦΦᵀ, so a linear
    * SVM on φ approximates the kernel SVM without ever materializing an
    * n×n gram or collecting it to the driver. */
  case class NystromModel(landmarks: Array[Array[Double]], mapping: Array[Array[Double]],
                          landmarkSelf: Array[Double], sigma: Double,
                          classes: Array[String],
                          ovr: Array[org.apache.spark.ml.classification.LinearSVCModel])

  private def nystromFeatUdf(bLm: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
                             bMap: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
                             bSelf: org.apache.spark.broadcast.Broadcast[Array[Double]],
                             sig: Double) =
    udf((values: Seq[Double]) => {
      val x = values.toArray.map(Array(_))
      val lgxx = Kernels.logUnnormalizedGak(x, x, sig)
      val lms = bLm.value; val w = bMap.value; val lself = bSelf.value
      val m = lms.length
      val kv = new Array[Double](m)
      var i = 0
      while (i < m) {
        kv(i) = Kernels.gakFromLogs(Kernels.logUnnormalizedGak(x, lms(i).map(Array(_)), sig), lgxx, lself(i))
        i += 1
      }
      val f = new Array[Double](m)
      i = 0
      while (i < m) {
        var s = 0.0; var j = 0
        while (j < m) { s += w(i)(j) * kv(j); j += 1 }
        f(i) = s
        i += 1
      }
      org.apache.spark.ml.linalg.Vectors.dense(f)
    })

  /** Fit with the Nyström approximation: `m` seeded landmark series give
    * an m-dim feature space; training is MLlib LinearSVC (distributed,
    * one-vs-rest for multiclass) — no driver gram collect or SMO, which
    * lifts SURVEY §7.3's documented n ≲ 10⁴ ceiling. The gram work drops
    * from O(n²) GAK evals to O(n·m), and every stage (feature map, SVC
    * iterations) is a map or a tree-aggregate — the same job shape at
    * 10³ or 10⁹ rows. */
  def fitNystrom(df: DataFrame, m: Int = 32, c: Double = 1.0, sigma: Double = -1.0,
                 seed: Long = 0L, maxIter: Int = 50): NystromModel = {
    import breeze.linalg.{eigSym, DenseMatrix}
    val spark = df.sparkSession
    import spark.implicits._
    val sig = if (sigma > 0) sigma else sigmaGak(df)
    // deterministic seeded landmark choice with one small collect (m rows)
    val lms = df.select(col("series_id"), col("values"))
      .orderBy(xxhash64(col("series_id"), lit(seed)), col("series_id"))
      .limit(m).select(col("values")).as[Array[Double]].collect()
    val mm = lms.length
    val lmTs = lms.map(_.map(Array(_)))
    val lgSelf = lmTs.map(t => Kernels.logUnnormalizedGak(t, t, sig))
    val w = DenseMatrix.tabulate(mm, mm) { (i, j) =>
      Kernels.gakFromLogs(Kernels.logUnnormalizedGak(lmTs(i), lmTs(j), sig), lgSelf(i), lgSelf(j))
    }
    val es = eigSym(w)
    val cutoff = math.max(es.eigenvalues.data.max, 0.0) * 1e-10
    // W^{-1/2} = U diag(λ^{-1/2}) Uᵀ, rank-truncated at the cutoff
    val mapping = Array.tabulate(mm, mm) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < mm) {
        val lam = es.eigenvalues(k)
        if (lam > cutoff)
          s += es.eigenvectors(i, k) * es.eigenvectors(j, k) / math.sqrt(lam)
        k += 1
      }
      s
    }
    val sc = spark.sparkContext
    val featUdf = nystromFeatUdf(sc.broadcast(lms), sc.broadcast(mapping),
      sc.broadcast(lgSelf), sig)
    val classes = df.select(col("label").cast("string")).distinct()
      .as[String].collect().sorted
    val feats = df.select(col("series_id"), col("label").cast("string").as("label"),
      featUdf(col("values")).as("features")).cache()
    // one-vs-rest binary LinearSVCs; regParam follows the standard
    // C ↔ 1/(nC) correspondence
    val ovr = try {
      val n = feats.count()
      classes.map { cls =>
        val bin = feats.withColumn("y", when(col("label") === cls, 1.0).otherwise(0.0))
        new org.apache.spark.ml.classification.LinearSVC()
          .setLabelCol("y").setFeaturesCol("features")
          .setRegParam(1.0 / (c * n)).setMaxIter(maxIter)
          .fit(bin)
      }
    } finally feats.unpersist()
    NystromModel(lms, mapping, lgSelf, sig, classes, ovr)
  }

  /** Predict with a Nyström model: feature-map each probe (O(m) GAK
    * evals per row, all distributed), score every one-vs-rest margin,
    * argmax. */
  def predictNystrom(model: NystromModel, probes: DataFrame): DataFrame = {
    val spark = probes.sparkSession
    val sc = spark.sparkContext
    val featUdf = nystromFeatUdf(sc.broadcast(model.landmarks),
      sc.broadcast(model.mapping), sc.broadcast(model.landmarkSelf), model.sigma)
    val feats = probes.select(col("series_id"), featUdf(col("values")).as("features"))
    // margins via rawPrediction of each binary model; keep only the
    // positive-class margin, take the argmax class
    val scored = model.ovr.zipWithIndex.foldLeft(feats) { case (acc, (svc, i)) =>
      val rawCol = s"raw_$i"
      svc.setRawPredictionCol(rawCol).setPredictionCol(s"pred_$i")
        .transform(acc)
        .withColumn(s"m_$i",
          element_at(org.apache.spark.ml.functions.vector_to_array(col(rawCol)), 2))
        .drop(rawCol, s"pred_$i")
    }
    // argmax margin via max(struct): ties break to the lowest class index
    val structArr = array(model.classes.indices.map(i =>
      struct(col(s"m_$i").as("m"), lit(-i).as("negIdx"))): _*)
    val classArr = array(model.classes.map(lit(_)): _*)
    scored
      .withColumn("bestIdx", -array_max(structArr).getField("negIdx"))
      .select(col("series_id"), element_at(classArr, col("bestIdx") + 1).as("label"))
  }

  /** Distributed binary decision function s(x) = b + Σ_t αyₜ·k(x, svₜ)
    * — the SVC margin (`svm.py:198` decision_function) evaluated as a
    * broadcast gram join + grouped sum, never collecting the gram: the
    * support-vector side is small by construction (≤ n_sv rows), so at
    * 100 TB of probes this is one broadcast + one map-side-combined
    * aggregation per probe. */
  def decisionFunction(bm: BinaryModel, probes: DataFrame, train: DataFrame,
                       sigma: Double): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val w = bm.ids.zip(bm.alphaY).toSeq.toDF("right_id", "ay")
    val svTrain = train.where(col("series_id").isin(bm.ids.toSeq: _*))
    Cdist.gakCross(probes, svTrain, sigma)
      .join(broadcast(w), "right_id")
      .groupBy(col("left_id").as("probe_id"))
      .agg((sum(col("dist") * col("ay")) + lit(bm.b)).as("decision"))
  }

  /** Predict: distributed probe×train gram, then driver vote. */
  def predict(model: Model, probes: DataFrame, train: DataFrame): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val svIds = model.binaries.values.flatMap(_.ids).toSet
    val svTrain = train.where(col("series_id").isin(svIds.toSeq: _*))
    val gram = collectGram(Cdist.gakCross(probes, svTrain, model.sigma))
    val probeIds = probes.select(col("series_id").cast("long")).as[Long].collect()
    val preds = model.predictFromGram(gram, probeIds.toIndexedSeq)
    preds.toSeq.toDF("series_id", "label")
  }
}
