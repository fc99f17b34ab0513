package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TsFunctions

/** Approximate / exact nearest-neighbor search over embedding columns.
  *
  * - brute: crossJoin(broadcast(queries)) + window top-k. The baseline and
  *   the verifier for the approximate paths.
  * - IVF: coarse k-means centroids (trained on a driver sample), every
  *   vector assigned to its cell once; queries probe the nprobe nearest
  *   cells only, so the scan cost drops by ~nlist/nprobe. The cell
  *   assignment is an equi-join key — at 100TB this is the difference
  *   between a full-table scan per query batch and a partition-pruned one.
  */
object Ann {

  /** Exact top-k cosine neighbors for each query. */
  def bruteTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "v"): DataFrame = {
    val scored = candidates.crossJoin(broadcast(queries.select(
        col(idCol).as("query_id"), col(vecCol).as("qv"))))
      .select(col("query_id"), col(idCol).as("cand_id"),
        TsFunctions.cosineSim(col("qv"), col(vecCol)).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Per-subspace PQ encode — Jégou et al., "Product Quantization for
    * Nearest Neighbor Search" (TPAMI 2011): split the d-dim vector into
    * m contiguous subvectors and store, per subspace, the index of the
    * nearest codebook entry (argmin squared euclidean, lowest index on
    * ties). d floats become m small ints — the compression that lets a
    * 100 TB corpus keep its ANN index in memory. */
  def pqEncode(df: DataFrame, codebooks: Array[Array[Array[Double]]],
               idCol: String = "vec_id", vecCol: String = "v"): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(codebooks)
    val enc = udf((v: scala.collection.Seq[Double]) => {
      val cbs = bc.value
      val m = cbs.length
      val dsub = cbs(0)(0).length
      // a silent v.length/m floor would drop trailing dims from the
      // index — refuse instead (the reference PQ contract: d = m·dsub)
      require(v.length == m * dsub,
        s"vector dim ${v.length} != $m subspaces x $dsub dims")
      Array.tabulate(m) { s =>
        val cb = cbs(s)
        var best = 0
        var bestD = Double.PositiveInfinity
        var j = 0
        while (j < cb.length) {
          var d = 0.0
          var t = 0
          while (t < dsub) { val df2 = v(s * dsub + t) - cb(j)(t); d += df2 * df2; t += 1 }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        best
      }
    })
    df.select(col(idCol), enc(col(vecCol)).as("codes"))
  }

  /** PQ ANN with asymmetric distance (ADC): candidates are scored from
    * their codes alone — d²(q, c) ≈ Σ_s ‖q_s − codebook[s][codes_s]‖² —
    * so the scored side of the join carries only the COMPRESSED corpus
    * (m ints per vector); the candidate floats are never touched after
    * encode. Queries stay exact on their side of the asymmetry. */
  /** ADC scorer over broadcast codebooks: (query floats, cand codes) →
    * Σ_s ‖q_s − codebook[s][codes_s]‖². */
  private def adcUdf(spark: org.apache.spark.sql.SparkSession,
                     codebooks: Array[Array[Array[Double]]]) = {
    val bc = spark.sparkContext.broadcast(codebooks)
    udf((q: scala.collection.Seq[Double], codes: scala.collection.Seq[Int]) => {
      val cbs = bc.value
      val m = cbs.length
      val dsub = cbs(0)(0).length
      require(q.length == m * dsub,
        s"query dim ${q.length} != $m subspaces x $dsub dims")
      var d = 0.0
      var s = 0
      while (s < m) {
        val cb = cbs(s)(codes(s))
        var t = 0
        while (t < dsub) { val df2 = q(s * dsub + t) - cb(t); d += df2 * df2; t += 1 }
        s += 1
      }
      d
    })
  }

  def pqTopK(candidates: DataFrame, queries: DataFrame, k: Int,
             codebooks: Array[Array[Array[Double]]],
             idCol: String = "vec_id", vecCol: String = "v"): DataFrame = {
    val adc = adcUdf(candidates.sparkSession, codebooks)
    val enc = pqEncode(candidates, codebooks, idCol, vecCol)
    val scored = enc.crossJoin(broadcast(queries.select(
        col(idCol).as("query_id"), col(vecCol).as("qv"))))
      .select(col("query_id"), col(idCol).as("cand_id"),
        adc(col("qv"), col("codes")).as("d2"))
    val w = Window.partitionBy("query_id").orderBy(col("d2").asc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Scalar (int8) quantization — the SQ sibling of PQ: a per-vector
    * min/max affine grid, one byte per dimension (64 floats → 64 small
    * ints + two floats, a 4× in-memory-index compression). Unlike PQ
    * there is no codebook to train or broadcast; encode is a pure
    * per-row expression chain (whole-stage codegen, zero shuffle, no
    * UDF). code_i = floor((v_i − vmin) · 255 / (vmax − vmin)), with a
    * constant-vector guard. Reconstruction for asymmetric scoring:
    * v̂_i = vmin + code_i · (vmax − vmin)/255. */
  def sqEncode(df: DataFrame, idCol: String = "vec_id", vecCol: String = "v"): DataFrame =
    df.select(col(idCol), array_min(col(vecCol)).as("vmin"),
        array_max(col(vecCol)).as("vmax"), col(vecCol).as("sq_v"))
      .select(col(idCol), col("vmin"), col("vmax"),
        transform(col("sq_v"), x =>
          when(col("vmax") === col("vmin"), lit(0))
            .otherwise(floor((x - col("vmin")) * lit(255.0) /
              (col("vmax") - col("vmin"))).cast("int"))).as("codes"))

  /** SQ ANN with asymmetric distance: exact query floats vs decoded
    * candidate codes — the scored side of the join carries only
    * (id, vmin, vmax, codes). Entirely built-in expressions
    * (zip_with + aggregate): no UDF boxing, no broadcast state, and the
    * encode+score scan adds no exchange beyond the final top-k window
    * (plan-locked in PlanAuditSpec). */
  def sqTopK(candidates: DataFrame, queries: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "v"): DataFrame = {
    val enc = sqEncode(candidates, idCol, vecCol)
    val scale = (col("vmax") - col("vmin")) / lit(255.0)
    val d2 = aggregate(
      zip_with(col("qv"), col("codes"), (qi, c) => {
        val diff = qi - (col("vmin") + c * scale); diff * diff
      }),
      lit(0.0), (acc, x) => acc + x)
    val scored = enc.crossJoin(broadcast(queries.select(
        col(idCol).as("query_id"), col(vecCol).as("qv"))))
      .select(col("query_id"), col(idCol).as("cand_id"), d2.as("d2"))
    val w = Window.partitionBy("query_id").orderBy(col("d2").asc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF-PQ — the standard industrial ANN composition (coarse cells
    * prune the scan to nprobe inverted lists; PQ codes compress the
    * scanned payload to m ints): the scored relation carries ONLY
    * (id, cell, codes) — candidate floats are read once at index-build
    * (assign + encode) and never again. Queries stay exact (ADC).
    *
    * `rerank > 0` adds the production second stage: the ADC shortlist
    * of `rerank` per query (cheap, codes-only) is equi-joined back to
    * the exact candidate vectors — rerank·|queries| rows, never the
    * corpus — and exact cosine re-ranks to the final k. ADC alone
    * saturates ~0.5 recall@10 from 8-byte quantization error (1 M
    * corpus, SCALEPROBE round 12); rerank ≈ 4k recovers near-IVF recall
    * at ~the same wall. Default 0 keeps the pure-ADC contract (and the
    * driver oracle's replay) unchanged. */
  def ivfPqTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                centroids: Array[Array[Double]], nprobe: Int,
                codebooks: Array[Array[Array[Double]]],
                idCol: String = "vec_id", vecCol: String = "v",
                rerank: Int = 0): DataFrame = {
    val spark = candidates.sparkSession
    val compressed = ivfAssign(candidates, centroids, idCol, vecCol)
      .join(pqEncode(candidates, codebooks, idCol, vecCol), idCol)
    val qProbes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(probeCellsUdf(spark, centroids, nprobe)(col("qv"))))
    val adc = adcUdf(spark, codebooks)
    val scored = compressed.join(broadcast(qProbes), "cell")
      .select(col("query_id"), col(idCol).as("cand_id"),
        adc(col("qv"), col("codes")).as("d2"))
    // rank keys rounded to 4 decimals (same convention as the tf-idf
    // retrieval rank): the ADC sum's oracle twin is a re-associated SQL
    // SUM whose last-ulp order can differ, and an unrounded float key
    // lets candidates sharing PQ codes flip at the rank-k / shortlist
    // boundary between engines; ties break on cand_id in both
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("d2"), 4).asc, col("cand_id").asc)
    if (rerank <= 0)
      scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
    else {
      val shortlist = scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= math.max(rerank, k))
        .select(col("query_id"), col("cand_id"))
      val exact = shortlist
        .join(candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cv")), "cand_id")
        .join(broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))),
          "query_id")
        .select(col("query_id"), col("cand_id"),
          graft.functions.TsFunctions.cosineSim(col("qv"), col("cv")).as("cos"))
      val w2 = Window.partitionBy("query_id")
        .orderBy(round(col("cos"), 4).desc, col("cand_id").asc)
      exact.withColumn("rank", row_number().over(w2)).where(col("rank") <= k)
    }
  }

  /** nprobe nearest coarse cells per query by euclidean distance (lowest
    * cell index on ties — stable sort over the (cell, dist) list). */
  private def probeCellsUdf(spark: org.apache.spark.sql.SparkSession,
                            centroids: Array[Array[Double]], nprobe: Int) = {
    val bc = spark.sparkContext.broadcast(centroids)
    udf((q: scala.collection.Seq[Double]) => {
      val cs = bc.value
      val x = q.toArray
      cs.indices.map { c =>
        val cc = cs(c)
        require(cc.length == x.length, "euclidean requires equal-size series")
        var d = 0.0; var i = 0
        while (i < x.length) { val t = cc(i) - x(i); d += t * t; i += 1 }
        (c, math.sqrt(d))
      }.sortBy(_._2).take(nprobe).map(_._1).toArray
    })
  }

  /** Train nlist coarse centroids with driver-local Lloyd iterations on a
    * bounded sample (standard IVF practice: the coarse quantizer is
    * trained on a sample, only the assignment pass touches all data — a
    * distributed iteration per Lloyd step would cost 10 jobs for a
    * centroid set a single task can compute).
    *
    * The assignment scan is thread-parallel over FIXED sample chunks
    * with per-chunk partial (sums, counts) merged in chunk order —
    * bit-deterministic for a given (seed, sampleCap, chunk count). The
    * scan costs nlist·sampleCap·d·iters: nlist=4096/sampleCap=160k is
    * ~4·10¹¹ mults, minutes sequential, seconds across cores. */
  def trainCoarse(df: DataFrame, nlist: Int, seed: Long = 0L, sampleCap: Int = 20000,
                  idCol: String = "vec_id", vecCol: String = "v"): Array[Array[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = df.count()
    val sample = (if (n <= sampleCap) df.select(col(vecCol).cast("array<double>"))
      else df.select(col(vecCol).cast("array<double>"))
        .sample(withReplacement = false, sampleCap.toDouble / n, seed))
      .as[Array[Double]].collect()
    val rng = new scala.util.Random(seed)
    var centers = Array.tabulate(math.min(nlist, sample.length))(_ =>
      sample(rng.nextInt(sample.length)).clone())
    val dim = sample(0).length
    val nChunks = 64 // fixed, NOT cores-dependent: results must not vary by machine
    val bounds = Array.tabulate(nChunks + 1)(c => (c.toLong * sample.length / nChunks).toInt)
    for (_ <- 1 to 10) {
      val cs = centers
      val partials = new Array[(Array[Array[Double]], Array[Int])](nChunks)
      java.util.stream.IntStream.range(0, nChunks).parallel().forEach { chunk =>
        val sums = Array.fill(cs.length)(new Array[Double](dim))
        val counts = new Array[Int](cs.length)
        var s = bounds(chunk)
        while (s < bounds(chunk + 1)) {
          val x = sample(s)
          var best = 0; var bestD = Double.PositiveInfinity
          var c = 0
          while (c < cs.length) {
            var d = 0.0; var i = 0
            val cc = cs(c)
            while (i < dim) { val df2 = cc(i) - x(i); d += df2 * df2; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < dim) { sums(best)(i) += x(i); i += 1 }
          counts(best) += 1
          s += 1
        }
        partials(chunk) = (sums, counts)
      }
      // merge in chunk order — float association fixed regardless of
      // which thread finished first
      val sums = Array.fill(cs.length)(new Array[Double](dim))
      val counts = new Array[Int](cs.length)
      var chunk = 0
      while (chunk < nChunks) {
        val (ps, pc) = partials(chunk)
        var c = 0
        while (c < cs.length) {
          var i = 0
          while (i < dim) { sums(c)(i) += ps(c)(i); i += 1 }
          counts(c) += pc(c)
          c += 1
        }
        chunk += 1
      }
      centers = centers.indices.map { c =>
        if (counts(c) == 0) sample(rng.nextInt(sample.length)).clone()
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centers
  }

  /** Assign each vector to its nearest coarse cell: one broadcast pass.
    * This is the ONE pass that touches the full corpus, so it runs a
    * flat squared-euclidean argmin (lowest cell on ties, same rule as
    * the kmeans route it replaced) with zero per-eval allocation — the
    * generic kmeans assign wrapped every vector element into a (sz, d)
    * nested array PER DISTANCE EVAL, a ~10× constant that turns the
    * 10 M × nlist=4096 assignment from minutes into an hour. */
  def ivfAssign(df: DataFrame, centroids: Array[Array[Double]],
                idCol: String = "vec_id", vecCol: String = "v"): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(centroids)
    val assignUdf = udf((v: scala.collection.Seq[Double]) => {
      val x = v.toArray
      val cs = bc.value
      var best = 0; var bestD = Double.PositiveInfinity
      var c = 0
      while (c < cs.length) {
        val cc = cs(c)
        var d = 0.0; var i = 0
        while (i < x.length) { val df2 = cc(i) - x(i); d += df2 * df2; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    })
    df.select(col(idCol), assignUdf(col(vecCol)).as("cell"))
  }

  /** Deterministic hyperplane set for sign-random-projection LSH:
    * hp(h)(i) = ((h·53 + i·29 + 3) mod 41 − 20)/20 — a fixed integer
    * formula rather than a seeded gaussian so the driver oracle can
    * replay the exact planes in SQL. Distributionally this is a
    * quasi-random direction set; the LSH guarantees only need planes
    * independent of the data. */
  def hyperplanes(nBits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nBits, dim)((h, i) => ((h * 53 + i * 29 + 3) % 41 - 20) / 20.0)

  /** Banded signature rows (id, band, code): bit h = [⟨hp_h, v⟩ ≥ 0],
    * band code = the rBits-bit integer of its band's bits. Pure
    * codegen'd HOF expressions (zip_with + aggregate over literal plane
    * arrays) — a map-only scan, no UDF, no shuffle. */
  def lshBands(df: DataFrame, planes: Array[Array[Double]], nBands: Int,
               idCol: String = "vec_id", vecCol: String = "v"): DataFrame = {
    val nBits = planes.length
    require(nBits % nBands == 0, s"nBits $nBits not divisible into $nBands bands")
    val rBits = nBits / nBands
    val bits = planes.map { hp =>
      val dot = aggregate(
        zip_with(col(vecCol), typedlit(hp.toSeq), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, 1).otherwise(0)
    }
    val codes = (0 until nBands).map { b =>
      (0 until rBits).map(r => bits(b * rBits + r) * lit(1 << r)).reduce(_ + _)
    }
    df.select(col(idCol), posexplode(array(codes: _*)).as(Seq("band", "code")))
  }

  /** Scale-aware (nBits, nBands) for [[lshTopK]] — pure function of the
    * candidate count, so the auto route is replayable. Derivation
    * (standard banding analysis, same law the minhash bands in
    * Dedup.dedupNearMinhash cite):
    *  - bits per band r from target bucket occupancy: a band code must
    *    discriminate the corpus into ~n/2^r ≈ `targetBucket` rows, so
    *    r = ⌈log₂(n / targetBucket)⌉ — this is the "code bits must grow
    *    with log₂(n)" rule the 1 M-vector scale run measured (recall 0.117
    *    at the old fixed 4-bit bands; buckets of 62 k rows).
    *  - bands b from the recall law P(candidate) = 1 − (1 − pʳ)ᵇ ≥
    *    `recallTarget`, at p = `pNear`, the sign-collision probability
    *    1 − θ/π of a true top-k neighbor. The default 0.68 is MEASURED:
    *    the 1 M-vector lshauto campaign (SCALEPROBE round 14) ran the
    *    previous p=0.77 derivation (144 bits / 18 bands) and observed
    *    recall 0.579, not the ≥0.9 it was solved for; inverting the law
    *    at (r=8, b=18) gives the effective p = 0.682 of a true top-10
    *    neighbor on the clustered probe corpus. CAVEAT, also measured:
    *    a single-p law OVERESTIMATES recall, because true neighbors are
    *    heterogeneous — the validation re-run at the re-fit (138, 23)
    *    banding measured 0.786 against a 0.909 projection, and
    *    inverting THAT point gives p = 0.634: the effective p falls as
    *    r falls, since the law's misses concentrate on the low-p
    *    neighbors that fewer bits can't rescue. Treat the projection as
    *    an upper bound; both measured points are in SCALEPROBE r14.
    *  - honesty relaxation: at the measured p, the occupancy-derived r
    *    can need more bands than `maxBands` to hit the target (r=8
    *    needs 50 at p=0.68). Rather than silently shipping a banding
    *    that projects recall 0.68, r is walked down until the target is
    *    reachable inside the band cap (each −1 on r doubles expected
    *    bucket width and so candidate mass, but squares-down the
    *    per-band miss rate). The walk is loud: it prints the projected
    *    per-query candidate fraction b·2⁻ʳ — at 1 M that is 23/64 ≈ 36 %
    *    of the corpus per query, which is the honest cost of holding
    *    0.9 recall with sign bits at this scale. When that fraction is
    *    unacceptable, IVF is the right tool (its recall holds by
    *    probing more cells, not more bits) — the ivfsweep probe in
    *    SCALEPROBE.md measures that frontier.
    *  - the walk is floored by `maxBucketWidth` (lshTopK's hot-bucket
    *    cap): r below ⌈log₂(n / maxBucketWidth)⌉ would make the
    *    EXPECTED bucket wider than the cap, so every bucket gets
    *    dropped and the result is empty — the relaxation must never
    *    trade a low-recall banding for a zero-recall one. Past the n
    *    where the floor and the band cap pinch together (~4 M at
    *    p=0.68), no sign-LSH banding reaches 0.9 and the warning
    *    reports the honest projected recall.
    * Bits per band stay clamped to [4, 12]; bands to ≤ maxBands. */
  def autoLshParams(n: Long, targetBucket: Int = 4096, pNear: Double = 0.68,
                    recallTarget: Double = 0.9, maxBands: Int = 24,
                    maxBucketWidth: Long = 50000L): (Int, Int) = {
    def bandsFor(r: Int): Int = math.max(2,
      math.ceil(math.log1p(-recallTarget) / math.log1p(-math.pow(pNear, r))).toInt)
    val rOcc = math.max(4, math.min(12,
      math.ceil(math.log(math.max(2.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt))
    val rFloor = math.max(4, math.min(rOcc,
      math.ceil(math.log(math.max(2.0, n.toDouble / maxBucketWidth)) / math.log(2.0)).toInt))
    var r = rOcc
    while (r > rFloor && bandsFor(r) > maxBands) r -= 1
    val b = math.min(maxBands, bandsFor(r))
    if (bandsFor(r) > maxBands || r < rOcc) {
      val frac = b * math.pow(2.0, -r)
      val proj = 1.0 - math.pow(1.0 - math.pow(pNear, r), b)
      System.err.println(
        f"[ann] autoLshParams: occupancy wants $rOcc-bit bands but recall " +
          f"$recallTarget%.2f needs ${bandsFor(rOcc)} bands (cap $maxBands) at " +
          f"p=$pNear%.2f — resolved to $r-bit bands x $b (projected recall " +
          f"$proj%.3f — an UPPER BOUND: the single-p law overestimates on " +
          "heterogeneous neighbors; measured floors at 1 M vs a 0.909 " +
          "projection are 0.786 (uniform cluster mass, SCALEPROBE r14) " +
          "and 0.741 (zipf mass, r15) — " +
          f"~${frac * 100}%.0f%% of corpus as candidates per query" +
          (if (proj < recallTarget) "; TARGET UNREACHABLE inside the band and " +
            "bucket caps" else "") +
          "). If the candidate mass or the bound is unacceptable, use " +
          "ivfTopK: IVF recall holds by probing more cells, not more bits.")
    }
    (r * b, b)
  }

  /** Hyperplane-LSH top-k: candidate pair iff ANY band code matches
    * (the minhash/simhash banding trick on sign bits), exact cosine on
    * the surviving pairs only. The scale path that complements IVF:
    * signatures are one map pass, the candidate generation is an
    * equi-join on (band, code) — at 100 TB nothing here is n², and the
    * bucket join partitions cleanly by band code. Recall < 1 by
    * construction (spec'd against brute like ivfTopK).
    *
    * `nBits`/`nBands` ≤ 0 (the default) derives both from the candidate
    * count via [[autoLshParams]] — band bits that actually grow with
    * log₂(n) (the 1 M-vector scale run measured recall 0.117 at the old
    * fixed 16/4 defaults — exactly the scale the operator exists for).
    * Operating regime, measured at 1 M (SCALEPROBE r14): sign-LSH's
    * value is CHEAP MODERATE-RECALL candidate generation (e.g. 0.58
    * recall at ~7 % candidate mass). Holding ≥0.9 recall at this scale
    * needs candidate mass approaching brute (36 % at the solver's
    * banding, measured recall still only 0.786 at a wall ABOVE the
    * brute scan's) — for high-recall top-k past ~10⁶ rows, use ivfTopK.
    * Callers that already know the corpus size pass it as `n` and the
    * auto route stays job-free; only when `n` ≤ 0 does the derivation
    * fall back to one count() job at call time — at fleet scale that is
    * a full corpus scan inside what looks like a constructor, so the
    * cosine router and any pipeline caller should pass the hint. Pass
    * both `nBits` and `nBands` explicitly to pin a replayable
    * configuration (the driver oracle does); passing exactly one of the
    * two is a contract error and fails loudly rather than silently
    * discarding the explicit value in favor of auto.
    *
    * Hot-bucket cap: a band code holding a huge slice of the corpus is
    * a useless discriminator whose candidate join would emit
    * width·|queries| rows (the 1 M-vector scale run measured 4-bit band
    * codes filling the shuffle disk with a 250 M-row join). The cap
    * is folded into the candidate scan as a window count over
    * (band, code) — same single job, no eager detection pass (the old
    * groupBy + count() guard cost two extra jobs per call even when no
    * bucket was hot). Queries-side bands stay uncapped (|queries| rows).
    * Capped rows are not silent: an `observe` on the pre-filter scan
    * publishes `dropped_sig_rows` / `capped_buckets` under metric name
    * "lsh_hot_bucket_cap" (read via a QueryExecutionListener) — recall
    * degradation from over-wide buckets at scale is visible to
    * operators without adding a job (the fix is more bits per band).
    * Caveat: if EVERY bucket is capped, AQE's empty-relation
    * propagation replaces the zero-row join subtree with an empty
    * LocalRelation and the metrics node is elided with it — that
    * pathology is already loud (the result is empty); the metric
    * covers the silent partial-cap regime it was built for.
    *
    * Per-QUERY candidate-mass bound (`maxCandPerQuery`): the hot-bucket
    * cap bounds any single bucket, but a query probing `bands` buckets
    * that are each merely WARM still accumulates up to bands·maxBucket
    * candidates — under zipf corpus mass at 1 M vectors the nq=1000
    * candidate join spilled ~80 GB and died (SCALEPROBE r15 sixteenth
    * probe) with zero buckets over the hot cap. Each bucket is therefore
    * further capped at maxCandPerQuery/bands rows, retained in
    * xxhash64(cand_id) order — a deterministic per-bucket sample,
    * independent of partitioning and of the query side — so worst-case
    * candidate mass is ≤ |queries|·maxCandPerQuery BY CONSTRUCTION, not
    * by corpus luck. Both caps fold into the same (band, code) window
    * exchange (no extra shuffle, no extra job); rows the query-mass cap
    * drops are published under metric "lsh_query_cand_cap"
    * (`dropped_cand_rows`). maxCandPerQuery ≤ 0 disables the bound
    * (bucket cap alone, the pre-r16 behavior).
    *
    * PER-QUERY degradation surface (`withCapStats`, VERDICT r16 #3):
    * the two caps bound candidate MASS, but a query whose true
    * neighbors live in a capped bucket silently gets low-recall
    * results — the aggregate observe metrics say the run dropped rows,
    * not WHICH queries were hurt. With `withCapStats = true` the output
    * gains a `capped_fraction` column: of the candidate rows in the
    * buckets THIS query probes, the fraction removed by either cap
    * (hot bucket ⇒ the whole bucket; else rows past mPerBand). At the
    * zipf shape the fraction tracks recall loss (SCALEPROBE twentieth-
    * probe datum), so a fleet operator routes queries above a threshold
    * to ivfTopK instead of discovering bad recall downstream. Cost: one
    * extra aggregation over the signature scan (bands·n narrow rows →
    * one row per (band, code)) plus a broadcast-size join on the
    * queries side — no change to the candidate path, and nothing when
    * the flag is off (the default: output schema is unchanged). */
  def lshTopK(candidates: DataFrame, queries: DataFrame, k: Int,
              dim: Int, nBits: Int = -1, nBands: Int = -1,
              idCol: String = "vec_id", vecCol: String = "v",
              maxBucket: Int = 50000, n: Long = -1L,
              maxCandPerQuery: Int = 500000,
              withCapStats: Boolean = false): DataFrame = {
    require((nBits > 0) == (nBands > 0),
      s"lshTopK: pass both nBits and nBands or neither (got nBits=$nBits, " +
        s"nBands=$nBands) — a lone explicit value would be silently discarded by auto")
    val (bits, bands) =
      if (nBits > 0) (nBits, nBands)
      else autoLshParams(if (n > 0) n else candidates.count(),
        maxBucketWidth = maxBucket)
    // per-bucket retention for the per-query mass bound; never below k so
    // a query whose true neighbors share one bucket can still fill top-k
    val mPerBand = if (maxCandPerQuery > 0) math.max(k, maxCandPerQuery / bands)
                   else Int.MaxValue
    val planes = hyperplanes(bits, dim)
    val wBucket = Window.partitionBy("band", "code")
    val cb = lshBands(candidates, planes, bands, idCol, vecCol)
      .select(col(idCol).as("cand_id"), col("band"), col("code"))
      .withColumn("bw", count(lit(1)).over(wBucket))
      .withColumn("qr", row_number().over(
        wBucket.orderBy(xxhash64(col("cand_id")).asc, col("cand_id").asc)))
      .observe("lsh_hot_bucket_cap",
        sum(when(col("bw") > maxBucket, lit(1L)).otherwise(lit(0L))).as("dropped_sig_rows"),
        sum(when(col("bw") > maxBucket, lit(1.0) / col("bw")).otherwise(lit(0.0))).as("capped_buckets"))
      .observe("lsh_query_cand_cap",
        sum(when(col("bw") <= maxBucket && col("qr") > mPerBand, lit(1L))
          .otherwise(lit(0L))).as("dropped_cand_rows"))
      .where(col("bw") <= maxBucket && col("qr") <= mPerBand)
      .drop("bw", "qr")
    val qb = lshBands(queries, planes, bands, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("band"), col("code"))
    val pairs = qb.join(cb, Seq("band", "code"))
      .select(col("query_id"), col("cand_id")).distinct()
    // vector columns attached WIDE-SIDE-LAST: joining candidates first
    // shuffles only narrow (query_id, cand_id) pairs by cand_id; the
    // queries join then typically broadcasts (AQE), so the d-double qv
    // never rides a shuffle. The original queries-first order widened
    // every pair row by qv BEFORE the cand_id shuffle — at the zipf
    // probe's mass that ordering alone was ~30× the shuffle bytes.
    val scored = pairs
      .join(candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cv")), "cand_id")
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")), "query_id")
      .select(col("query_id"), col("cand_id"),
        TsFunctions.cosineSim(col("qv"), col("cv")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
    val topk = scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
    if (!withCapStats) topk
    else {
      // exact bucket widths from ONE aggregation over the signature scan
      // (no window needed: the caps are pure functions of the width), then
      // per-query fraction over the buckets that query's bands probe. The
      // (band, code) stats relation has ≤ bands·2^bits rows — broadcast
      // side of the queries join at any corpus size.
      val widths = lshBands(candidates, planes, bands, idCol, vecCol)
        .groupBy("band", "code").agg(count(lit(1)).as("bw"))
      val droppedCol = when(col("bw") > maxBucket, col("bw"))
        .otherwise(greatest(lit(0L), col("bw") - lit(mPerBand.toLong)))
      val qStats = qb.join(widths, Seq("band", "code"), "left")
        .groupBy("query_id")
        .agg((coalesce(sum(droppedCol), lit(0L)) /
              greatest(coalesce(sum(col("bw")), lit(0L)), lit(1L)))
          .as("capped_fraction"))
      topk.join(qStats, Seq("query_id"), "left")
    }
  }

  /** IVF search: probe the nprobe nearest cells per query. Returns the
    * same schema as bruteTopK. Recall < 1 by construction; verified ≥
    * threshold against brute in tests. */
  def ivfTopK(candidates: DataFrame, queries: DataFrame, k: Int,
              centroids: Array[Array[Double]], nprobe: Int,
              idCol: String = "vec_id", vecCol: String = "v"): DataFrame = {
    val cells = ivfAssign(candidates, centroids, idCol, vecCol)
    val cands = candidates.join(cells, idCol)
    val spark = candidates.sparkSession
    val qProbes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(probeCellsUdf(spark, centroids, nprobe)(col("qv"))))
    // queries side explicitly broadcast, matching ivfPqTopK: the corpus
    // side of an IVF candidate join must never shuffle on a stats
    // misestimate at fleet scale (AQE rescues local runs only)
    val scored = cands.join(broadcast(qProbes), "cell")
      .select(col("query_id"), col(idCol).as("cand_id"),
        TsFunctions.cosineSim(col("qv"), col(vecCol)).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
