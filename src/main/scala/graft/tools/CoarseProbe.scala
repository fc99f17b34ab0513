package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.LocalSpark
import graft.operators.Ann

/** VERDICT r14 #1 — measure the distributed coarse trainer past the
  * driver-local ceiling. `Ann.trainCoarse` is driver-local Lloyd whose
  * per-iteration cost under the 40-points-per-cell sampling rule is
  * quadratic in nlist on one machine (measured 209.5 s at nlist=4096;
  * the r14 verdict names ~8192 "the practical driver-local ceiling"),
  * while `embeddingCosineAuto`'s √n rule wants 16384 cells at
  * n≈2.7·10⁸ and 32768 at 10⁹. This probe measures, on the same
  * splitmix-generated clustered corpus family as AnnProbe:
  *
  *   `train`  — trainCoarseDistributed wall at nlist ∈ {16384, 32768}
  *              sampling from an n=10⁸ corpus generated on the fly
  *              (NOT checkpointed — 51 GB at d=64; only the ≤1.3 M-row
  *              sample is ever materialized, which is the design point:
  *              training cost must not depend on corpus residency).
  *   `driver` — driver-local trainCoarse wall at nlist=8192 (the
  *              ceiling A/B denominator; expect ~4× the 4096 wall).
  *   `recall` — at n=10⁷ (checkpointed): recall@10 vs brute of
  *              IVF with a DISTRIBUTED-trained nlist=16384 quantizer at
  *              matched candidate mass (np=64 → ~n/256 scanned,
  *              same mass as the r14 datum nlist=4096/np=16 recall 1.0),
  *              plus the distributed trainer at nlist=4096/np=16
  *              directly against that datum — separating trainer
  *              quality from cell granularity.
  *
  * Usage: runMain graft.tools.CoarseProbe [routes] [nTrain] [nRecall]
  * routes = csv of {train, driver, recall} (default "train,recall").
  */
object CoarseProbe {
  def main(args: Array[String]): Unit = {
    val routes: Set[String] = (if (args.length > 0) args(0) else "train,recall")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val nTrain = if (args.length > 1) args(1).toLong else 100000000L
    val nRecall = if (args.length > 2) args(2).toInt else 10000000
    val d = 64
    val centers = 1024

    val spark = LocalSpark.session()
    import spark.implicits._

    // same clustered family as AnnProbe: vec = center(id % centers) + 0.8·noise(id)
    val mk = udf((id: Long, salt: Long) => {
      val c = id % centers
      Array.tabulate(d)(j => AnnProbe.h(c * 7919L + 13L, j) + 0.8 * AnnProbe.h(id * 31L + salt, j))
    })
    def corpus(n: Long, parts: Int): DataFrame = spark.range(0, n, 1, parts)
      .select(col("id").as("vec_id"), mk(col("id"), lit(0L)).as("v"))

    def loadavg(): Double = scala.util.Try(java.nio.file.Files
      .readString(java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble)
      .getOrElse(-1.0)
    def timed[T](label: String)(f: => T): (T, Double) = {
      System.err.println(f"[coarse] $label starting (loadavg ${loadavg()}%.2f)")
      val (r, w) = LocalSpark.timed(f)
      System.err.println(f"[coarse] $label: $w%.1f s")
      (r, w)
    }
    val results = scala.collection.mutable.ArrayBuffer[String]()

    // SPARK_GRAFT_COARSE_INIT = hash (default) | kpar — the k-means‖
    // oversampling init A/B (VERDICT r16 #5): same seed, same sample,
    // only the initial centers change; compare reseed counts (stderr),
    // train wall and recall at matched mass across two runs
    val initMode = sys.env.getOrElse("SPARK_GRAFT_COARSE_INIT", "hash")

    if (routes("train")) {
      val big = corpus(nTrain, 256)
      // SPARK_GRAFT_COARSE_NLISTS overrides the swept granularities —
      // the r17 65536 octave (VERDICT r15 #8 / r16 #4) runs alone so its
      // wall is not bundled with re-measuring the known points
      val nlists = sys.env.get("SPARK_GRAFT_COARSE_NLISTS")
        .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(16384, 32768))
      for (nlist <- nlists) {
        val (cs, w) = timed(s"distributed train nlist=$nlist n=$nTrain init=$initMode") {
          Ann.trainCoarseDistributed(big, nlist, seed = 42, init = initMode)
        }
        // cheap structural sanity so a junk quantizer can't record a
        // fast wall: no NaNs, correct shape
        require(cs.length == nlist && cs.forall(c => c.length == d && !c.exists(_.isNaN)))
        results += f"""{"route":"train-dist-$nlist","n":$nTrain,"wall":$w%.1f}"""
      }
    }

    if (routes("driver")) {
      val big = corpus(nTrain, 256)
      val nlist = 8192
      val (cs, w) = timed(s"driver-local train nlist=$nlist n=$nTrain") {
        Ann.trainCoarse(big, nlist, seed = 42, sampleCap = 40 * nlist)
      }
      require(cs.length == nlist)
      results += f"""{"route":"train-driver-$nlist","n":$nTrain,"wall":$w%.1f}"""
    }

    if (routes("recall")) {
      val nq = 500; val k = 10
      val cands = corpus(nRecall, 128).localCheckpoint()
      val queries = spark.range(nq).select((col("id") + nRecall).as("vec_id"),
        mk(col("id"), lit(1L)).as("v")).localCheckpoint()
      def topSet(df: DataFrame): Map[Long, Set[Long]] = df
        .select("query_id", "cand_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      Ann.bruteTopK(cands.limit(500), queries.limit(5), k).count() // warm codegen
      val (brute, wB) = timed("brute ground truth") { topSet(Ann.bruteTopK(cands, queries, k)) }
      val nTrue = brute.values.map(_.size).sum.toDouble
      def recall(got: Map[Long, Set[Long]]): Double =
        brute.map { case (q, t) => got.getOrElse(q, Set.empty[Long]).intersect(t).size }
          .sum / nTrue
      results += f"""{"route":"brute","n":$nRecall,"wall":$wB%.1f,"recall":1.0}"""
      // matched candidate mass ~n/256 across both granularities
      for ((nlist, np) <- Seq((4096, 16), (16384, 64))) {
        val (cs, wT) = timed(s"recall: distributed train nlist=$nlist init=$initMode") {
          Ann.trainCoarseDistributed(cands, nlist, seed = 42, init = initMode)
        }
        val (got, w) = timed(s"recall: ivfTopK nlist=$nlist np=$np") {
          topSet(Ann.ivfTopK(cands, queries, k, cs, np))
        }
        val r = recall(got)
        results += f"""{"route":"ivf-dist-$nlist-np$np-$initMode","n":$nRecall,"train_wall":$wT%.1f,"wall":$w%.1f,"recall":$r%.4f}"""
        System.err.println(f"[coarse] ivf-dist-$nlist-np$np-$initMode recall@$k=$r%.4f")
      }
    }

    // VERDICT r15 #6 — IVF-PQ one octave past the r14 1 M datum, on the
    // distributed-trainer quantizer: at n = nTrain (default 10⁸) the
    // corpus floats (51 GB at d=64) are generated on the fly and read
    // exactly three times (ground truth, sample, index build); the
    // MATERIALIZED state is the codes-only relation (id, cell, 8 codes —
    // the memory-bound design the operator doc promises at 100 TB) plus
    // the rerank shortlist's exact vectors.
    if (routes("ivfpq")) {
      val n8 = nTrain
      // brute ground truth is the probe's dominant wall (n8·nq scored
      // rows through the top-k window); nq=50 keeps 500 true-neighbor
      // samples (recall ±~0.03) at half the nq=100 scan
      val nq = sys.env.get("SPARK_GRAFT_COARSE_NQ").map(_.toInt).getOrElse(100)
      val k = 10; val nlist = 16384
      // raw = whole-vector codes (the pre-r17 form); residual = IVFADC
      // residual codes (Ann.ivfPqIndex). The corpus/queries/quantizer are
      // a pure function of (n, nq, seed), so the CACHE dir lets the
      // variants share the expensive invariants (ground truth, coarse
      // centroids) across separate probe processes.
      val variant = sys.env.getOrElse("SPARK_GRAFT_COARSE_VARIANT", "raw")
      require(variant == "raw" || variant == "residual",
        s"SPARK_GRAFT_COARSE_VARIANT must be raw|residual, got $variant")
      val cacheDir = sys.env.get("SPARK_GRAFT_COARSE_CACHE")
      def cached(name: String): Option[String] = cacheDir.map(_ + "/" + name)
        .filter(p => new java.io.File(p + "/_SUCCESS").exists())
      val cands = corpus(n8, 256)
      val queries = spark.range(nq).select((col("id") + n8).as("vec_id"),
        mk(col("id"), lit(1L)).as("v")).localCheckpoint(eager = true)
      def topSet(df: DataFrame): Map[Long, Set[Long]] = df
        .select("query_id", "cand_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      Ann.bruteTopK(cands.limit(500), queries.limit(5), k).count() // warm codegen
      val gtName = s"gt-$n8-$nq-$k"
      val (brute, wB) = cached(gtName) match {
        case Some(p) =>
          System.err.println(s"[coarse] ivfpq: ground truth from cache $p")
          (topSet(spark.read.parquet(p)), 0.0)
        case None => timed(s"ivfpq: brute ground truth n=$n8 nq=$nq") {
          val gt = Ann.bruteTopK(cands, queries, k)
            .select("query_id", "cand_id")
          cacheDir.foreach(d => gt.write.mode("overwrite").parquet(s"$d/$gtName"))
          cached(gtName).map(p => topSet(spark.read.parquet(p)))
            .getOrElse(topSet(gt))
        }
      }
      val nTrue = brute.values.map(_.size).sum.toDouble
      val csName = s"coarse-$n8-$nlist"
      val (cs, wT) = cached(csName) match {
        case Some(p) =>
          System.err.println(s"[coarse] ivfpq: coarse centroids from cache $p")
          (spark.read.parquet(p).orderBy("cell").select("v").collect()
            .map(_.getSeq[Double](0).toArray), 0.0)
        case None => timed(s"ivfpq: distributed train nlist=$nlist") {
          val c = Ann.trainCoarseDistributed(cands, nlist, seed = 42)
          cacheDir.foreach { dd =>
            spark.createDataset(c.zipWithIndex.map { case (v, i) => (i, v) })
              .toDF("cell", "v").write.mode("overwrite").parquet(s"$dd/$csName")
          }
          c
        }
      }
      val dsub = d / 8
      val (codebooks, wCb) = timed(s"ivfpq: 8 subspace codebooks ($variant, one shared 20k sample)") {
        if (variant == "residual")
          Ann.trainPqCodebooksResidual(cands, cs, m = 8, sampleCap = 20000, seed = 99)
        else {
          // one sampling pass feeds all 8 subspace trainers — 8 separate
          // trainCoarse calls would each re-scan the corpus to sample
          val samp = cands.sample(withReplacement = false, 20000.0 / n8, 99)
            .localCheckpoint(eager = true)
          Array.tabulate(8) { s =>
            Ann.trainCoarse(samp.select(col("vec_id"),
              slice(col("v"), s * dsub + 1, dsub).as("v")), nlist = 256, seed = 7 + s)
          }
        }
      }
      val (compressed, wIdx) = timed(s"ivfpq: index build ($variant -> codes-only relation)") {
        val c = (if (variant == "residual") Ann.ivfPqIndex(cands, cs, codebooks)
          else Ann.ivfAssign(cands, cs)
            .join(Ann.pqEncode(cands, codebooks), "vec_id"))
          .localCheckpoint(eager = true)
        c
      }
      val isRes = variant == "residual"
      for (np <- Seq(64)) {
        val (gotAdc, wQ) = timed(s"ivfpq: search np=$np (pure ADC, $variant)") {
          topSet(Ann.ivfPqTopKIndexed(compressed, cands, queries, k, cs, np,
            codebooks, residual = isRes))
        }
        val rAdc = brute.map { case (q, t) =>
          gotAdc.getOrElse(q, Set.empty[Long]).intersect(t).size }.sum / nTrue
        val (gotRr, wQr) = timed(s"ivfpq: search np=$np rerank=${4 * k} ($variant)") {
          topSet(Ann.ivfPqTopKIndexed(compressed, cands, queries, k, cs, np, codebooks,
            rerank = 4 * k, residual = isRes))
        }
        val rRr = brute.map { case (q, t) =>
          gotRr.getOrElse(q, Set.empty[Long]).intersect(t).size }.sum / nTrue
        results += f"""{"route":"ivfpq-$nlist-np$np-$variant","n":$n8,"brute_wall":$wB%.1f,"train_wall":$wT%.1f,"codebook_wall":$wCb%.1f,"index_wall":$wIdx%.1f,"adc_wall":$wQ%.1f,"adc_recall":$rAdc%.4f,"rerank_wall":$wQr%.1f,"rerank_recall":$rRr%.4f}"""
        System.err.println(f"[coarse] ivfpq-$nlist-np$np-$variant adc=$rAdc%.4f rerank=$rRr%.4f")
      }
    }

    println(s"""{"probe":"coarse_trainer","d":$d,"centers":$centers,"loadavg_end":${loadavg()},"results":[${results.mkString(",")}]}""")
    spark.stop()
  }
}
