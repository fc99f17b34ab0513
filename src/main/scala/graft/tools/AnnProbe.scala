package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.LocalSpark
import graft.operators.Ann

/** VERDICT r11 item 5 — the similarity-search family's 100 TB
  * credibility gap: IVF/LSH/PQ/IVF-PQ/SQ8 recall floors were spec-sized
  * only (hundreds of vectors). This probe generates a 1 M-vector
  * clustered corpus (deterministic splitmix hashing — `centers` cluster
  * centroids, per-vector noise, no RNG state), computes exact brute
  * cosine top-k for `nq` held-out queries ONCE, then measures
  * recall@k + wall for each approximate route at its realistic
  * setting. The probe that does for ANN what MpProbe did for the
  * matrix profile.
  *
  * Usage: runMain graft.tools.AnnProbe [n nq k d centers routes]
  * `routes` = csv of {ivf, lsh, lshauto, lshcapfrac, ivfsweep, ivfpq,
  * sq8} (default:
  * the full r12 set "ivf,lsh,ivfpq,sq8"; brute always runs — it is the
  * ground truth). Round-13 additions: `lshauto` measures lshTopK at the
  * autoLshParams derivation (VERDICT r12 #1); `ivfsweep` measures
  * recall/wall past the old nlist=1024 cap at matched candidate mass
  * (VERDICT r12 #2 — run it at n=10M).
  */
object AnnProbe {
  // splitmix64-style avalanche → uniform in [-1, 1]; pure function of
  // (a, b) so every engine run regenerates the identical corpus
  // (package-visible: CoarseProbe builds its 10⁸ corpus from the same
  // generator so its measurements are comparable to the AnnProbe sweeps)
  private[tools] def h(a: Long, b: Long): Double = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
    z ^= (z >>> 27); z *= 0x94D049BB133111EBL
    z ^= (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 1000000
    val nq = if (args.length > 1) args(1).toInt else 1000
    val k = if (args.length > 2) args(2).toInt else 10
    val d = if (args.length > 3) args(3).toInt else 64
    val centers = if (args.length > 4) args(4).toInt else 1024
    val routes: Set[String] = (if (args.length > 5) args(5)
      else "ivf,lsh,ivfpq,sq8").split(",").map(_.trim).filter(_.nonEmpty).toSet
    // corpus SHAPE (VERDICT r14 #5): the single-p recall law was fit and
    // validated on ONE corpus shape (uniform cluster mass); "zipf" draws
    // the cluster log-uniformly (mass ∝ 1/c, zipf s≈1 — hot head, long
    // tail) so the lshauto measurement gets a second, differently-shaped
    // point. Queries follow the same mass law.
    val shape = if (args.length > 6) args(6) else "uniform"

    val spark = LocalSpark.session()
    import spark.implicits._

    // clustered corpus: vec = center(id % centers) + 0.8 * noise(id) —
    // wide-ish clusters on purpose: the 1 M lshauto run measured the
    // effective sign-collision p of a true top-10 neighbor at 0.682
    // (the pNear the auto LSH banding law is calibrated against, re-fit
    // in SCALEPROBE r14), not a trivially tight blob
    val zipfShape = shape == "zipf"
    val mk = udf((id: Long, salt: Long) => {
      val c =
        if (zipfShape) {
          // log-uniform cluster draw: u ∈ [0,1) from the id hash,
          // c = ⌊centersᵘ⌋ − 1-ish → P(c) ∝ 1/c
          val u = (h(id * 17L + 5L, 999L) + 1.0) / 2.0
          math.min(centers - 1L, math.pow(centers.toDouble, u).toLong)
        } else id % centers
      Array.tabulate(d)(j => h(c * 7919L + 13L, j) + 0.8 * h(id * 31L + salt, j))
    })
    val cands = spark.range(n).select(col("id").as("vec_id"),
      mk(col("id"), lit(0L)).as("v")).localCheckpoint()
    // held-out queries: same centers (round-robin), fresh noise
    val queries = spark.range(nq).select((col("id") + n).as("vec_id"),
      mk(col("id"), lit(1L)).as("v")).localCheckpoint()
    System.err.println(s"[annprobe] n=$n nq=$nq k=$k d=$d centers=$centers shape=$shape")

    def topSet(df: DataFrame): Map[Long, Set[Long]] = df
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }

    def timed[T](label: String)(f: => T): (T, Double) = {
      val (r, w) = LocalSpark.timed(f)
      System.err.println(f"[annprobe] $label: $w%.1f s")
      (r, w)
    }

    // codegen/classload warm-up so the first timed route is not the one
    // paying JIT + generated-class compilation
    Ann.bruteTopK(cands.limit(500), queries.limit(5), k).count()

    val (brute, wBrute) = timed("brute (ground truth)") {
      topSet(Ann.bruteTopK(cands, queries, k))
    }
    val nTrue = brute.values.map(_.size).sum.toDouble

    def recall(got: Map[Long, Set[Long]]): Double =
      brute.map { case (q, t) => got.getOrElse(q, Set.empty[Long]).intersect(t).size }
        .sum / nTrue

    val results = scala.collection.mutable.ArrayBuffer[String]()
    def record(label: String, w: Double, r: Double): Unit = {
      System.err.println(f"[annprobe] $label wall=$w%.1f recall@$k=$r%.4f")
      results += f"""{"route":"$label","wall":$w%.1f,"recall":$r%.4f}"""
    }
    record("brute", wBrute, 1.0)

    // IVF — coarse cells from the sampled trainer, three nprobe points
    if (routes("ivf")) {
      val (centroids, wTrain) = timed("ivf trainCoarse nlist=256") {
        Ann.trainCoarse(cands, nlist = 256, seed = 42, idCol = "vec_id", vecCol = "v")
      }
      for (nprobe <- Seq(4, 8, 16)) {
        val (got, w) = timed(s"ivf nprobe=$nprobe") {
          topSet(Ann.ivfTopK(cands, queries, k, centroids, nprobe))
        }
        record(f"ivf-256-np$nprobe (+train $wTrain%.0f s once)", w, recall(got))
      }
    }

    // IVF past the old nlist=1024 cap (VERDICT r12 #2): matched
    // candidate mass across nlist — np scales with nlist so every row
    // scans ~the same fraction of the corpus; recall differences are
    // then purely quantizer quality, wall differences purely cell
    // granularity. sampleCap scales to keep ~40 training points per
    // cell (20 k over 4096 cells would leave 5/cell — empty-cell
    // reseeds, junk quantizer).
    if (routes("ivfsweep")) {
      for (nlist <- Seq(1024, 4096)) {
        val sc = math.max(20000, 40 * nlist)
        val (cs, wT) = timed(s"ivfsweep trainCoarse nlist=$nlist sampleCap=$sc") {
          Ann.trainCoarse(cands, nlist = nlist, seed = 42, sampleCap = sc,
            idCol = "vec_id", vecCol = "v")
        }
        for (frac <- Seq(256, 128)) { // scan ~n/256, ~n/128 per query
          val nprobe = math.max(1, nlist / frac)
          val (got, w) = timed(s"ivfsweep nlist=$nlist np=$nprobe") {
            topSet(Ann.ivfTopK(cands, queries, k, cs, nprobe))
          }
          record(f"ivf-$nlist-np$nprobe (+train $wT%.0f s once)", w, recall(got))
        }
      }
    }

    // LSH — code bits must grow with log2(n): at 1 M vectors a 4-bit
    // band code (the toy default 16/4) means 16 buckets of ~62 k each —
    // the candidate join filled the shuffle disk before the cap. 16-bit
    // bands (64/4) are the scale setting; 8-bit (32/4) the coarse point.
    if (routes("lsh")) {
      for ((bits, bands) <- Seq((64, 4), (32, 4))) {
        val (got, w) = timed(s"lsh $bits/$bands") {
          topSet(Ann.lshTopK(cands, queries, k, dim = d, nBits = bits, nBands = bands))
        }
        record(s"lsh-$bits-$bands", w, recall(got))
      }
    }

    // LSH at the AUTO derivation (VERDICT r12 #1): the banding the
    // operator now picks for this corpus size — the probe validates the
    // recall target the law was solved for (>= 0.9 at 1 M).
    if (routes("lshauto")) {
      val (abBits, abBands) = Ann.autoLshParams(n)
      // SPARK_GRAFT_LSH_QCAP overrides the per-query candidate-mass cap
      // (lshTopK maxCandPerQuery) — the r15 sixteenth probe's nq=1000
      // zipf run spilled ~80 GB of candidate join with NO bucket over
      // the hot cap; the per-query cap bounds that mass by construction
      // and this knob measures its recall cost.
      val qcap = sys.env.get("SPARK_GRAFT_LSH_QCAP").map(_.toInt).getOrElse(500000)
      val (got, w) = timed(s"lsh auto $abBits/$abBands qcap=$qcap") {
        topSet(Ann.lshTopK(cands, queries, k, dim = d, maxCandPerQuery = qcap))
      }
      record(s"lsh-auto-$abBits-$abBands-qcap$qcap", w, recall(got))
    }

    // capped_fraction → recall (VERDICT r16 #3): lshTopK(withCapStats)
    // exposes, per query, the fraction of its probed buckets' candidate
    // rows removed by the hot-bucket + per-query caps. This route
    // measures whether that observable actually PREDICTS recall loss —
    // the property a fleet operator needs to route degraded queries to
    // IVF — by running the auto banding at one-or-more qcaps (csv in
    // SPARK_GRAFT_LSH_QCAP, default "50000,500000") and reporting mean
    // per-query recall bucketed by capped_fraction quartile, plus the
    // fraction–recall Pearson r. Run with shape=zipf: uniform mass caps
    // almost nothing, zipf mass is the adversarial case.
    if (routes("lshcapfrac")) {
      val qcaps = sys.env.getOrElse("SPARK_GRAFT_LSH_QCAP", "50000,500000")
        .split(",").map(_.trim.toInt)
      for (qcap <- qcaps) {
        val ((byQ, frac), w) = timed(s"lshcapfrac qcap=$qcap") {
          val out = Ann.lshTopK(cands, queries, k, dim = d,
              maxCandPerQuery = qcap, withCapStats = true)
            .select("query_id", "cand_id", "capped_fraction").collect()
          val g = out.map(r => (r.getLong(0), r.getLong(1)))
            .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
          val f = out.map(r => (r.getLong(0), r.getDouble(2))).toMap
          (g, f)
        }
        // per-query recall joined with per-query fraction; queries with
        // no returned rows (all buckets empty/capped) count as recall 0,
        // fraction 1 — the honest worst case
        val perQ = brute.map { case (q, t) =>
          val r = byQ.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / t.size
          (frac.getOrElse(q, 1.0), r)
        }.toSeq
        val quarts = perQ.groupBy { case (f, _) =>
          if (f <= 0.25) "q1_le25" else if (f <= 0.5) "q2_le50"
          else if (f <= 0.75) "q3_le75" else "q4_gt75" }
        val qStr = quarts.toSeq.sortBy(_._1).map { case (b, xs) =>
          f""""$b":{"n":${xs.size},"mean_frac":${xs.map(_._1).sum / xs.size}%.3f,"mean_recall":${xs.map(_._2).sum / xs.size}%.3f}"""
        }.mkString(",")
        val (mf, mr) = (perQ.map(_._1).sum / perQ.size, perQ.map(_._2).sum / perQ.size)
        val cov = perQ.map { case (f, r) => (f - mf) * (r - mr) }.sum
        val sf0 = math.sqrt(perQ.map(f => (f._1 - mf) * (f._1 - mf)).sum)
        val sr = math.sqrt(perQ.map(r => (r._2 - mr) * (r._2 - mr)).sum)
        val pearson = if (sf0 * sr == 0) 0.0 else cov / (sf0 * sr)
        val rAll = recall(byQ)
        System.err.println(f"[annprobe] lshcapfrac qcap=$qcap recall=$rAll%.3f pearson=$pearson%.3f")
        results += f"""{"route":"lshcapfrac-qcap$qcap","wall":$w%.1f,"recall":$rAll%.4f,"pearson_frac_recall":$pearson%.3f,"quartiles":{$qStr}}"""
      }
    }

    // IVF-PQ — 8 subspaces × 256 codewords, candidates pruned to the
    // probed cells of its own nlist=256 quantizer
    if (routes("ivfpq")) {
      val dsub = d / 8
      // TRAINED per-subspace codebooks (k-means over subvectors via the
      // coarse trainer) — raw data rows as codewords measured recall 0.29
      // at 50 k; training lifts the same route to production shape
      val codebooks = Array.tabulate(8) { sIdx =>
        Ann.trainCoarse(cands.select(col("vec_id"),
            slice(col("v"), sIdx * dsub + 1, dsub).as("v")),
          nlist = 256, seed = 7 + sIdx, idCol = "vec_id", vecCol = "v")
      }
      val centroids = Ann.trainCoarse(cands, nlist = 256, seed = 42,
        idCol = "vec_id", vecCol = "v")
      val (gotIvfPq, wIvfPq) = timed("ivfpq np=8") {
        topSet(Ann.ivfPqTopK(cands, queries, k, centroids, nprobe = 8, codebooks))
      }
      record("ivfpq-256-np8-adc", wIvfPq, recall(gotIvfPq))
      val (gotIvfPqR, wIvfPqR) = timed("ivfpq np=8 rerank=4k") {
        topSet(Ann.ivfPqTopK(cands, queries, k, centroids, nprobe = 8, codebooks,
          rerank = 4 * k))
      }
      record("ivfpq-256-np8-rerank4k", wIvfPqR, recall(gotIvfPqR))
    }

    // SQ8 — full affine-byte scan (codegen'd, no pruning): the
    // compression route, measured at a query subsample to bound the
    // full-scan cost
    if (routes("sq8")) {
      val qSub = queries.where(col("vec_id") < n + 100).localCheckpoint()
      val bruteSub = brute.filter(_._1 < n + 100)
      val (gotSq, wSq) = timed("sq8 (100 queries)") {
        topSet(Ann.sqTopK(cands, qSub, k))
      }
      val rSq = bruteSub.map { case (q, t) =>
        gotSq.getOrElse(q, Set.empty[Long]).intersect(t).size }.sum /
        bruteSub.values.map(_.size).sum.toDouble
      record("sq8-fullscan-100q", wSq, rSq)
    }

    println(s"""{"probe":"ann","n":$n,"nq":$nq,"k":$k,"d":$d,"centers":$centers,"shape":"$shape","routes":[${results.mkString(",")}]}""")
    spark.stop()
  }
}
