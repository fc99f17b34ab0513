package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators.
  *
  * All are shuffle-lean by construction:
  *  - exact: one hash-groupBy (map-side combine).
  *  - MinHash+LSH: shingle explode → per-doc signature agg → band-bucket
  *    join. Candidate pairs only ever form inside a bucket, so the
  *    all-pairs O(n²) never materializes — the 100TB path.
  *  - SimHash: 60-bit signature per doc, banded into 4×15-bit keys; pairs
  *    agreeing on ≥1 band are candidates (Hamming ≤ 3 within 60 bits is
  *    guaranteed caught by pigeonhole on 4 bands).
  *  - embedding cosine: triangle self-join at small n; at scale, the
  *    IVF cell-bucketed candidate join (embeddingCosineIvf).
  *
  * Every text hash is the 60-bit md5 of [[md5Hash60]], which the DuckDB
  * oracles replay as `substring(md5(x), 1, 15)`.
  */
object Dedup {

  /** Exact dedup: representative (min id) + multiplicity per distinct text. */
  def exact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word k-shingles, distinct per doc: (doc_id, sh).
    *
    * Precondition: `idCol` is unique per input row. Dedupe is per-ROW
    * (array_distinct before explode), so duplicate doc_id rows would
    * yield duplicate (doc_id, sh) pairs and inflate downstream set
    * sizes (e.g. Jaccard denominators). Callers with possibly-duplicated
    * ids must `dropDuplicates(idCol)` first. */
  def shingles(df: DataFrame, k: Int = 3, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    // Native one-pass construction (guide §4): the former
    // split(lower)/transform(sequence)/slice/array_join HOF chain cost
    // interpreted lambda dispatch + an intermediate word array per row
    // (and historically needed a careful two-select split so Catalyst
    // would not inline split() into the lambda — measured 2.5s -> 0.3s
    // on 5k docs). ShingleSpansExpression emits the IDENTICAL shingle
    // strings (each shingle is the contiguous lowercased byte span of
    // its k-word window; single-space separators make the join equal
    // the span), so every downstream hash and string join is unchanged.
    // The per-doc distinct mirrors array_distinct (first-occurrence
    // order), per-row before the explode — no shuffle.
    df.select(col(idCol).as("doc_id"),
      explode(graft.functions.NativeExpressions.shingleSpansNative(
        col(textCol), k)).as("sh"))
  }

  /** Directional shingle containment C(a → b) = |Sh(a) ∩ Sh(b)| / |Sh(a)|
    * — the quote / near-subset detector Jaccard misses: a short doc
    * fully quoted inside a long one has containment ≈ 1 but low Jaccard
    * (the union is dominated by the long doc). Same capped
    * inverted-index join as the Jaccard pipeline (dfCapped bounds every
    * shingle bucket at maxDf² pairs); emits BOTH directions of a pair
    * when they clear the threshold, since containment is asymmetric. */
  def containmentPairs(docsDf: DataFrame, threshold: Double, k: Int = 3,
                       maxDf: Int = 100): DataFrame = {
    // construction + per-doc distinct + 60-bit hash in one native pass
    // (ShingleHash60Expression): same semantics as shingles(k) —
    // lowercase, truncated window for short docs — but the index keys
    // are 8-byte longs and no intermediate shingle strings exist. The
    // containment VALUES are unchanged (counts of equal keys).
    val raw = docsDf.select(col("doc_id"),
      explode(graft.functions.NativeExpressions.shingleHash60Native(
        col("text"), k, lowercase = true, distinct = true)).as("sh"))
    // localCheckpoint before dfCapped for the same reuse reasons as
    // doc_jaccard_pairs (hot-set groupBy + anti-join + both join sides)
    val capped = dfCapped(raw.localCheckpoint(), maxDf).select(col("doc_id"), col("sh"))
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = capped.select(col("doc_id").as("doc_a"), col("sh"))
    val b = capped.select(col("doc_id").as("doc_b"), col("sh"))
    // the intersection is symmetric: run the heavy inverted-index join
    // over the a < b triangle ONCE, then emit both directions from the
    // (far smaller) pair list. localCheckpoint: the union reads the
    // joined pair frame twice; uncheckpointed, the whole index join
    // would re-evaluate per direction.
    val withSizes = a.join(b, "sh").where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .localCheckpoint()
    withSizes.select(col("doc_a"), col("doc_b"),
        (col("inter") / col("sz_a")).as("containment"))
      .union(withSizes.select(col("doc_b"), col("doc_a"),
        (col("inter") / col("sz_b")).as("containment")))
      .where(col("containment") >= threshold)
  }

  /** Sketch-then-verify containment (VERDICT r10 "what's wrong" #2 —
    * the one pair emitter without a cheap pre-filter). Phase 1 runs the
    * inverted-index join over a 1/`sampleMod` MODHASH sample of shingle
    * space (keep sh where sh mod sampleMod = 0 — consistent across
    * docs, so a pair's sampled intersection count estimates |∩| scaled
    * by the sample rate); a pair becomes a candidate when its sampled
    * estimate could still clear `threshold` in EITHER direction under a
    * `slack` guard. Phase 2 recounts candidates EXACTLY from the two
    * docs' full capped shingle-hash arrays (native array_intersect —
    * per-candidate O(sz), no index join).
    *
    * Cost shape: the index join — the output-bound part that costs
    * ~10 µs/pair × Σbucket² — runs over a sampleMod× smaller index, so
    * its emitted-pair mass drops ~sampleMod× for near-dup-heavy corpora
    * while true candidates survive; the exact verify is linear in
    * candidates, not in shared-shingle mass. The prune is
    * PROBABILISTIC: a true pair whose sampled estimate dips below
    * threshold·slack is lost (short docs carry the most variance) —
    * recall vs the exact [[containmentPairs]] is measured in
    * SCALEPROBE.md; the exact path remains the oracle. */
  def containmentPairsSketched(docsDf: DataFrame, threshold: Double,
                               k: Int = 3, maxDf: Int = 100,
                               // recall is governed by sampleMod alone (slack-invariant
                               // on both measured corpora): a lost pair is one with ZERO
                               // sampled-shingle overlap, P ≈ exp(−c·|A|/sampleMod) for
                               // containment c over |A| distinct shingles — so mod 2 ≈
                               // 0.97 / mod 4 ≈ 0.91 / mod 8 ≈ 0.83 pair recall on the
                               // zipf corpus (SCALEPROBE round-12 frontier, quiet walls
                               // 10.0 / 6.3 / 2.9 s vs exact 14.7 s). Default = the
                               // ≥95 %-recall point; raise sampleMod only when the
                               // corpus' min doc length supports it.
                               sampleMod: Int = 2,
                               slack: Double = 0.5,
                               // plan audits need the un-truncated lineage;
                               // production keeps the checkpoints (reused
                               // relations, cut re-execution)
                               checkpoint: Boolean = true): DataFrame = {
    def cp(df: DataFrame): DataFrame = if (checkpoint) df.localCheckpoint() else df
    val raw = docsDf.select(col("doc_id"),
      explode(graft.functions.NativeExpressions.shingleHash60Native(
        col("text"), k, lowercase = true, distinct = true)).as("sh"))
    val capped = cp(dfCapped(cp(raw), maxDf)
      .select(col("doc_id"), col("sh")))
    // full per-doc arrays + sizes for the verify phase (doc-local agg)
    val arrs = cp(capped.groupBy("doc_id")
      .agg(collect_list(col("sh")).as("shs"), count(lit(1)).as("sz")))
    // phase 1: candidate pairs off the sampled index
    val sampled = cp(capped.where(pmod(col("sh"), lit(sampleMod.toLong)) === 0))
    val sSizes = sampled.groupBy("doc_id").agg(count(lit(1)).as("ssz"))
    val cands = sampled.select(col("doc_id").as("doc_a"), col("sh"))
      .join(sampled.select(col("doc_id").as("doc_b"), col("sh")), "sh")
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("sinter"))
      .join(sSizes.select(col("doc_id").as("doc_a"), col("ssz").as("ssz_a")), "doc_a")
      .join(sSizes.select(col("doc_id").as("doc_b"), col("ssz").as("ssz_b")), "doc_b")
      .where(col("sinter") >=
        lit(slack * threshold) * least(col("ssz_a"), col("ssz_b")))
      .select("doc_a", "doc_b")
    // phase 2: exact recount per candidate
    val ver = cands
      .join(arrs.select(col("doc_id").as("doc_a"),
        col("shs").as("shs_a"), col("sz").as("sz_a")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"),
        col("shs").as("shs_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
    val verCp = cp(ver)
    verCp.select(col("doc_a"), col("doc_b"),
        (col("inter") / col("sz_a")).as("containment"))
      .union(verCp.select(col("doc_b"), col("doc_a"),
        (col("inter") / col("sz_b")).as("containment")))
      .where(col("containment") >= threshold)
  }

  /** Doc-frequency cap over a (doc_id, sh) shingle stream — drops
    * shingles present in more than `maxDf` docs (stop-word n-grams)
    * before an inverted-index join, bounding every index bucket at
    * maxDf² pairs. Skew-immune by construction: the df count is a
    * groupBy (a hot shingle partial-aggregates to ONE row per map
    * partition), where a `Window.partitionBy(sh)` would co-locate all
    * of the hot shingle's rows in a single task BEFORE the filter
    * could drop them — the one shape that breaks at 100 TB. The hot
    * set is small by construction (≤ shingle rows / maxDf distinct
    * values), so it broadcasts and the cap is applied map-side with no
    * shuffle of the stream at all.
    *
    * PRECONDITION: `shingleStream` must hold at most one row per
    * (doc_id, sh) — true for every call site ([[shingles]], or a
    * per-doc distinct before the explode). Only then does count(1)
    * equal doc frequency.
    *
    * The hot set's only bound is rows/maxDf, which a web-scale corpus
    * can push past driver memory, so the broadcast is guarded: the hot
    * set is counted (it is materialized anyway) and past
    * [[BroadcastCap]] rows the anti-join falls back to a plain shuffled
    * join — the same guard-and-fallback split as the DTW k-NN front
    * doors' size guard (`Cdist.fitsIndex`) and connectedComponents. */
  def dfCapped(shingleStream: DataFrame, maxDf: Int): DataFrame = {
    // localCheckpoint (eager): the hot frame feeds the count AND the
    // anti-join — without it the groupBy runs twice
    val hot = shingleStream.groupBy("sh").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select("sh")
      .localCheckpoint()
    if (hot.count() <= BroadcastCap)
      shingleStream.join(broadcast(hot), Seq("sh"), "left_anti")
    else
      shingleStream.join(hot.hint("shuffle_hash"), Seq("sh"), "left_anti")
  }

  /** Connected components over a near-duplicate pair list — the
    * canonical clusters step after any pair generator (minhash / simhash
    * / embedding-cosine): every doc in a pair gets its component's min
    * id as cluster representative, so a dedup pipeline can keep one row
    * per cluster. Iterative min-label propagation: each round is one
    * shuffle join (edges × labels) plus one map-side-combined min
    * aggregation, with the corpus never shuffled — only the edge
    * endpoints (pairs ≪ docs after LSH banding). Each round also
    * shortcuts every label to its label's label (pointer doubling), so
    * the label distance to the component minimum halves per round and
    * rounds scale with log(diameter), not diameter — maxIter=20 covers
    * any component a real corpus can produce (diameter ≲ 2^20).
    * Throws if the cap is still hit (a silently split cluster is a
    * wrong dedup answer, never acceptable). Returns (doc_id, cluster). */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b", maxIter: Int = 20,
                          localEdgeCap: Long = 5000000L): DataFrame = {
    // localCheckpoint the directed list BEFORE the union: both union
    // branches derive from it, the pair generator upstream (minhash/LSH)
    // is the expensive part — uncached it would evaluate twice — and
    // truncating its lineage keeps every round's plan flat (no re-analysis
    // of the whole LSH tree per iteration)
    val edges = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .localCheckpoint()
    // Small-graph fast path: the edge list is the LSH candidate-pair
    // output — ≪ corpus size by construction — and is already
    // materialized, so counting it is free. Below the cap, a single-task
    // path-compressed union-find replaces ~log(diameter) shuffle rounds
    // (each join+agg+checkpoint round costs ~1 s of fixed local-mode
    // overhead regardless of data size). Output is IDENTICAL to the
    // iterative fixpoint — (node, min id of its component) — which
    // DedupAnnSpec locks by direct comparison. Past the cap (a corpus
    // whose near-dup pair list alone is >5M edges) the distributed
    // pointer-doubling loop below is the scale path, exactly like the
    // DTW k-NN front doors' broadcast / tiled split (`Cdist.fitsIndex`).
    val nEdges = edges.count()
    if (nEdges <= localEdgeCap) return ccLocal(edges)
    val und = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    var labels = und.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id")).cache()
    var it = 0
    var changed = 1L
    while (changed > 0 && it < maxIter) {
      val nbrMin = und.join(labels, und("src") === labels("doc_id"))
        .groupBy(und("dst").as("doc_id")).agg(min(col("cluster")).as("nbr"))
      // cache: hop feeds BOTH sides of the doubling self-join — without
      // it the join+groupBy above evaluates twice per round. Unpersisted
      // as soon as `next` is materialized (cache, not localCheckpoint,
      // so the blocks are released deterministically, not at GC).
      val hop = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("nbr"), col("cluster"))).as("cluster"))
        .cache()
      // pointer doubling: labels only ever hold ids of nodes in the same
      // component, so jumping to the label's own label is sound and
      // keeps the min-label monotone
      // localCheckpoint (not cache): truncates the lineage so round i's
      // plan does not embed rounds 0..i-1 — with plain cache every round
      // re-analyzes (and AQE re-plans) a linearly deeper tree, which
      // measurably dominates once the per-round data is small. On a real
      // cluster swap for reliable checkpoint() if executor loss matters.
      val next = hop.alias("x")
        .join(hop.select(col("doc_id").as("pid"), col("cluster").as("pc")).alias("p"),
          col("x.cluster") === col("pid"), "left")
        .select(col("x.doc_id").as("doc_id"), col("x.old").as("old"),
          least(col("x.cluster"), coalesce(col("pc"), col("x.cluster"))).as("cluster"))
        .localCheckpoint()
      changed = next.where(col("cluster") =!= col("old")).count()
      hop.unpersist()
      labels.unpersist()
      labels = next.select("doc_id", "cluster")
      it += 1
    }
    edges.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds ($changed labels still moving)")
    labels
  }

  /** Single-task union-find over a materialized edge list (the
    * small-graph path of [[connectedComponents]]). Union-by-min: a root
    * is only ever re-pointed at a SMALLER root, so every component's
    * root is its minimum id and find(x) is exactly the min-label
    * fixpoint the distributed loop converges to. Path compression keeps
    * it O(E α(E)); primitive LongMap avoids boxing. */
  private def ccLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val res = edges.select(col("src"), col("dst")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = new scala.collection.mutable.LongMap[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (s, d) =>
          if (!parent.contains(s)) parent(s) = s
          if (!parent.contains(d)) parent(d) = d
          val rs = find(s); val rd = find(d)
          if (rs != rd) {
            if (rs < rd) parent(rd) = rs else parent(rs) = rd
          }
        }
        // snapshot keys: find() path-compresses (mutates values) during
        // the final pass, so don't iterate the live map
        val ks = parent.keys.toArray
        ks.iterator.map(x => (x, find(x)))
      }
      .toDF("doc_id", "cluster")
      .localCheckpoint() // materialize before releasing the edge blocks
    edges.unpersist()
    res
  }

  /** Row cap on the broadcast side of the hot-set anti-joins
    * ([[dfCapped]], [[capBuckets]]); a larger hot set is shuffle-joined. */
  private val BroadcastCap: Long = 2000000L

  /** The MinHash modulus: 2^31−1 keeps a·x+b < 2^62 (no ANSI overflow). */
  val MinhashP: Long = 2147483647L

  /** The (a_i, b_i) permutation coefficients — exposed so the DuckDB
    * oracle can be generated with IDENTICAL constants. */
  def minhashCoeffs(numHashes: Int, seed: Long): Array[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    Array.fill(numHashes)((math.abs(rng.nextLong()) % (MinhashP - 1) + 1,
      math.abs(rng.nextLong()) % MinhashP))
  }

  /** The text-dedup base hash: first 15 hex chars of md5 as a 60-bit
    * long — computable bit-identically in DuckDB
    * (`CAST(CONCAT('0x', substring(md5(x),1,15)) AS BIGINT)`), so every
    * signature built on it has an external oracle. Native codegen
    * expression (digest bytes -> long, no hex string + conv round-trip:
    * ~2.5x). */
  def md5Hash60(c: Column): Column =
    graft.functions.NativeExpressions.md5Hash60Native(c.cast("string"))

  /** All-permutation minima in one typed aggregation: the base hash is
    * computed per shingle ROW (codegen'd column expr), then one Scala loop
    * per row updates the 64-slot minima buffer. Replaces 64 separate
    * min(pmod(…)) aggregates whose whole-stage codegen compile alone cost
    * seconds; map-side combine ships (doc, 64 minima) per mapper. */
  private class MinHashAgg(coeffs: Array[(Long, Long)], p: Long)
      extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Array[Long]]
      with Serializable {
    private val n = coeffs.length
    private val as = coeffs.map(_._1)
    private val bs = coeffs.map(_._2)
    def zero: Array[Long] = Array.fill(n)(Long.MaxValue)
    def reduce(buf: Array[Long], x: Long): Array[Long] = {
      var i = 0
      while (i < n) {
        val h = (as(i) * x + bs(i)) % p
        if (h < buf(i)) buf(i) = h
        i += 1
      }
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < n) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }
    def finish(buf: Array[Long]): Array[Long] = buf
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** MinHash signatures: numHashes permutations via (a_i·x + b_i) mod p,
    * aggregated over pre-hashed base values `(doc_id, x)` with x already
    * in [0, p). One typed min-agg — no shingle×hash row explosion; udaf
    * on a plain groupBy (not typed groupByKey) skips the per-row tuple
    * encode/decode of the Dataset conversion while keeping the
    * single-buffer aggregation + map-side combine. */
  def minhashSignaturesFromHashes(xs: DataFrame, numHashes: Int = 64,
                                  seed: Long = 42L): DataFrame = {
    val p = MinhashP
    val coeffs = minhashCoeffs(numHashes, seed)
    val minAgg = udaf(new MinHashAgg(coeffs, p),
      org.apache.spark.sql.Encoders.scalaLong)
    xs.groupBy("doc_id").agg(minAgg(col("x")).as("sig"))
  }

  /** Bucket-width cap shared by the banded candidate generators: a
    * degenerate band bucket (boilerplate-heavy corpora can put many
    * thousands of docs behind one band) goes quadratic in the candidate
    * self-join — width w costs w² pairs. Buckets wider than `maxBucket`
    * are dropped BEFORE the join, and never silently: the drop count is
    * reported on stderr (the same no-silent-caps discipline as the
    * Jaccard doc-frequency cap). The count pass is a map-side-partial
    * groupBy and the hot set is broadcast, so the cap itself is
    * skew-immune. Note a triggered cap is a recall trade: pairs inside
    * a dropped bucket are only found if they share another band. */
  private def capBuckets(banded: DataFrame, keyCols: Seq[String],
                         maxBucket: Int, what: String): DataFrame = {
    // localCheckpoint (eager): materializes the tiny hot set once for
    // the count AND the later broadcast, GC-managed like the session's
    // other checkpoint blocks
    val hot = banded.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucket)
      .select(keyCols.map(col): _*)
      .localCheckpoint()
    val nHot = hot.count()
    if (nHot == 0) banded
    else {
      System.err.println(
        s"[dedup] $what: dropping $nHot band buckets wider than " +
          s"$maxBucket docs (a w-wide bucket costs w^2 candidate pairs)")
      // broadcast is a counted guard, not an assumption: the hot-bucket
      // set is rows/maxBucket-bounded, which web scale can still blow
      // past driver memory — past the cap, shuffled anti-join instead
      if (nHot <= BroadcastCap) banded.join(broadcast(hot), keyCols, "left_anti")
      else banded.join(hot.hint("shuffle_hash"), keyCols, "left_anti")
    }
  }

  /** LSH banding: docs sharing any band bucket become candidate pairs;
    * candidates are verified against the estimated Jaccard from full
    * signatures. Returns (doc_a, doc_b, est_jaccard ≥ threshold).
    * `maxBucket` bounds any one band bucket's candidate contribution
    * (see [[capBuckets]]). The base shingle hash is [[md5Hash60]] and a
    * band's bucket key is its slice VALUE, so an external SQL oracle
    * reproduces the banding as a plain list-equality join. The mode
    * flag before `maxBucket` accepts only its default, `true`; it stays
    * for callers that still pass it by name. */
  def minhashLsh(df: DataFrame, threshold: Double = 0.5, numHashes: Int = 64,
                 bands: Int = 16, shingleK: Int = 3, seed: Long = 42L,
                 idCol: String = "doc_id", textCol: String = "text",
                 portable: Boolean = true, maxBucket: Int = 1000): DataFrame = {
    require(portable, "minhashLsh: the xxhash64 mode (portable = false) was removed; " +
      "the 60-bit md5 is the only base hash")
    val rowsPerBand = numHashes / bands
    // NOTE (measured, round 9): the exploded UDAF shape here is
    // deliberate — swapping in the fused per-row MinhashSigExpression
    // (the streaming path's win) made THIS path ~60% slower (1.25 s →
    // 2.05 s warm at sf0.1): the explode pipelines hashing through
    // codegen row by row, while the per-row form materializes each
    // doc's whole signature before the next stage sees it. What DOES
    // win is replacing the interpreted string-shingle construction
    // with the native one-pass hash (ShingleHash60Expression): same
    // explode+UDAF shape, 8-byte rows, no intermediate strings.
    // distinct=false: per-permutation minima are multiset-invariant, so
    // the per-doc distinct is pure overhead.
    // localCheckpoint, not cache: the signature table feeds the banding,
    // the bucket-cap count AND both verification joins of the lazily
    // returned result — a cache here is never unpersistable before the
    // caller materializes, so it would pin blocks for the session
    val sig = minhashSignaturesFromHashes(
      df.select(col(idCol).cast("long").as("doc_id"),
          explode(graft.functions.NativeExpressions.shingleHash60Native(
            col(textCol), shingleK, lowercase = true, distinct = false)).as("h"))
        .select(col("doc_id"), pmod(col("h"), lit(MinhashP)).as("x")),
      numHashes, seed).localCheckpoint()
    val banded = capBuckets(
      sig.select(col("doc_id"), col("sig"),
        posexplode(array((0 until bands).map(b =>
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand).cast("string")): _*))
          .as(Seq("band", "bucket"))),
      Seq("band", "bucket"), maxBucket, "minhashLsh")
    val candidates = banded.select(col("band"), col("bucket"), col("doc_id"))
      .alias("a")
      .join(banded.select(col("band"), col("bucket"), col("doc_id").as("doc_b")).alias("b"),
        Seq("band", "bucket"))
      .where(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
    candidates
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** Elementwise vector sum as a typed aggregation — replaces nBits
    * separate sum(CASE…) aggregates whose whole-stage codegen alone cost
    * seconds to compile; the buffer is one primitive array with map-side
    * combine. */
  private class BitSumAgg(nBits: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Long]
      with Serializable {
    def zero: Array[Long] = new Array[Long](nBits)
    def reduce(buf: Array[Long], h: Long): Array[Long] = {
      var b = 0
      while (b < nBits) {
        buf(b) += (if (((h >> b) & 1L) == 1L) 1L else -1L)
        b += 1
      }
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < nBits) { a(i) += b(i); i += 1 }
      a
    }
    def finish(buf: Array[Long]): Long = {
      var sh = 0L
      var b = 0
      while (b < nBits) { if (buf(b) > 0) sh |= (1L << b); b += 1 }
      sh
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }

  /** SimHash per doc from word-level hashes (unweighted): 60 bits, one
    * per bit of the word's [[md5Hash60]], so a DuckDB oracle reproduces
    * it bit-for-bit. */
  def simhash(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bitAgg = udaf(new BitSumAgg(60),
      org.apache.spark.sql.Encoders.scalaLong)
    df.select(col(idCol).cast("long").as("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("w"))
      .select(col("doc_id"), md5Hash60(col("w")).as("h"))
      .groupBy("doc_id")
      .agg(bitAgg(col("h")).as("simhash"))
  }

  /** SimHash near-dup candidates with Hamming distance ≤ maxHamming,
    * banded into 4 keys of 15 bits (of the 60-bit signature) —
    * pigeonhole-complete for maxHamming ≤ 3 as long as no band bucket
    * exceeds `maxBucket` (a dropped degenerate bucket trades that
    * completeness for a bounded join; see [[capBuckets]], which reports
    * any drop). */
  def simhashPairs(df: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxBucket: Int = 1000): DataFrame = {
    val bandBits = 15
    val bandMask = (1L << bandBits) - 1
    // localCheckpoint for the same no-session-pin reason as minhashLsh
    val sh = simhash(df, idCol, textCol).localCheckpoint()
    val banded = capBuckets(
      sh.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("simhash"), b * bandBits).bitwiseAND(bandMask)): _*))
          .as(Seq("band", "key"))),
      Seq("band", "key"), maxBucket, "simhashPairs")
    val cands = banded.alias("a")
      .join(banded.select(col("band"), col("key"), col("doc_id").as("doc_b"),
        col("simhash").as("simhash_b")).alias("b"), Seq("band", "key"))
      .where(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"),
        col("simhash"), col("simhash_b"))
      .distinct()
    cands.select(col("doc_a"), col("doc_b"),
      bit_count(col("simhash").bitwiseXOR(col("simhash_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Embedding cosine near-dup pairs — brute triangle with a broadcast
    * right side. Exact; right for inputs under broadcast size. Above it,
    * use [[embeddingCosineIvf]] (approximate, cell-bucketed candidates).
    *
    * Perf note: the cast + norm are materialized per ROW before the join
    * (localCheckpoint barrier). Left inlined, Catalyst re-evaluates them
    * per PAIR inside the nested-loop join — measured 25× slower. Inside
    * the pair loop only the dot product remains. */
  def embeddingCosine(df: DataFrame, threshold: Double,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.TsFunctions
    val e = df.select(col(idCol).as("vec_id"),
      TsFunctions.l2NormalizeUdf(transform(col(vecCol), x => x.cast("double"))).as("v"))
      .localCheckpoint(eager = false)
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    // small parquet inputs arrive as one partition; spread the pair loop
    // across cores (the broadcast side stays whole)
    e.repartition(parallelism).alias("a")
      .join(broadcast(e.select(col("vec_id").as("vec_b"), col("v").as("vb"))).alias("b"),
        col("vec_id") < col("vec_b"))
      .select(col("vec_id").as("vec_a"), col("vec_b"),
        graft.functions.NativeExpressions.dotNative(col("v"), col("vb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): embedding-space
    * dedup that catches paraphrases exact/MinHash dedup can't. Cluster
    * the embeddings (one broadcast-seed assignment pass), then compare
    * pairs ONLY within a cluster; a vector is a semantic duplicate if
    * it has cosine ≥ `threshold` with any lower-id vector of its
    * cluster (the deterministic keeper rule). Returns
    * (vec_id, cell, is_dup) for every vector.
    *
    * Scale shape — the paper's own design point: the within-cluster
    * equi-join bounds pair mass to Σ|cluster|² instead of n²; with
    * k ≈ √n clusters that is ~n^1.5 candidate pairs, and the cosine is
    * the codegen'd native expression. The cell join shuffles by cell —
    * AQE skew-join splits an over-full cell (no manual repartition,
    * per the plan-lock convention). */
  def semDedup(df: DataFrame, seeds: Array[Array[Double]],
               threshold: Double, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val e = df.select(col(idCol).as("vec_id"),
      transform(col(vecCol), x => x.cast("double")).as("values"))
    val assign = graft.ml.TimeSeriesKMeans.assign(
        e.select(col("vec_id").as("series_id"), col("values")),
        seeds, "euclidean", 0.0)
      .select(col("series_id").as("vec_id"), col("cluster").as("cell"))
    val v = e.join(assign, "vec_id").localCheckpoint()
    val a = v.select(col("cell"), col("vec_id").as("va"), col("values").as("xa"))
    val b = v.select(col("cell"), col("vec_id").as("vb"), col("values").as("xb"))
    val dups = a.join(b, "cell").where(col("va") < col("vb"))
      .where(graft.functions.NativeExpressions.cosineNative(
        col("xa"), col("xb")) >= threshold)
      .select(col("vb").as("vec_id")).distinct()
    v.select(col("vec_id"), col("cell"))
      .join(dups.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** Size-routed front door for cosine near-dup: EXACT brute triangle
    * under `exactLimit` rows, IVF cell-bucketed candidates past it —
    * the same guard-and-fallback split as the DTW k-NN `Cdist.fitsIndex` /
    * connectedComponents / dfCapped, so a pipeline written against one
    * call survives the corpus growing 1000×. The recall contract at the
    * switch: the IVF route only LOSES pairs (two vectors sharing no
    * probed cell), never invents them — every emitted pair is
    * exact-cosine verified ≥ threshold on both routes. The count is one
    * columnar aggregate; the switch is loud on stderr. */
  def embeddingCosineAuto(df: DataFrame, threshold: Double,
                          exactLimit: Long = 100000L,
                          nlist: Int = -1, nprobe: Int = 4, seed: Long = 0L,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val n = df.count()
    if (n <= exactLimit) embeddingCosine(df, threshold, idCol, vecCol)
    else {
      // nlist = -1 → the FAISS-style √n rule, capped at 4096: the
      // largest nlist the driver-local coarse trainer was measured at
      // (209.5 s, SCALEPROBE r14; its Lloyd cost is quadratic in nlist
      // under the 40-points-per-cell sampling rule). √n reaches the cap
      // at n ≈ 1.7·10⁷ vectors. For this operator the query side IS the
      // corpus, so the candidate scan term n²·np/nlist dominates any
      // assignment cost and √n cells win as n grows. nprobe = 4 is the
      // measured knee of the recall/wall frontier (SCALEPROBE round 12:
      // recall 0.51 → 0.87-0.93 over nprobe 2 → 4 at the SAME wall;
      // nprobe 8 buys ~1.0 recall at ~3× the wall)
      val lists = if (nlist > 0) nlist
        else math.max(32, math.min(4096, math.ceil(math.sqrt(n.toDouble)).toInt))
      System.err.println(
        s"[dedup] embeddingCosineAuto: $n rows > exactLimit=$exactLimit — routing to " +
          s"IVF (nlist=$lists, nprobe=$nprobe); recall<1 by construction, emitted " +
          "pairs stay exact-verified")
      embeddingCosineIvf(df, threshold, lists, nprobe, seed, idCol, vecCol)
    }
  }

  /** APPROXIMATE cosine near-dup pairs at scale: vectors are multi-probe
    * assigned to their `nprobe` nearest of `nlist` coarse cells
    * (Ann.trainCoarse quantizer); only pairs sharing ≥1 cell become
    * candidates, then the exact cosine filters. Kernel work drops from
    * n²/2 to Σ_cell |cell|²·(nprobe²) — the 100 TB route. Recall < 1 by
    * construction (verified ≥ threshold vs [[embeddingCosine]] in tests):
    * a true pair is missed only when the two vectors share no probed cell. */
  def embeddingCosineIvf(df: DataFrame, threshold: Double, nlist: Int = 32,
                         nprobe: Int = 2, seed: Long = 0L,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.TsFunctions
    val spark = df.sparkSession
    val e = df.select(col(idCol).as("vec_id"),
      TsFunctions.l2NormalizeUdf(transform(col(vecCol), x => x.cast("double"))).as("v"))
      .localCheckpoint(eager = false)
    // sampleCap scales with nlist (40 training points per cell, the
    // SCALEPROBE r14 ivfsweep rule): the default 20 k over the router's
    // ceiling would leave ~2 points/cell — empty-cell reseeds and a
    // junk quantizer
    val centroids = Ann.trainCoarse(e, nlist, seed,
      sampleCap = math.max(20000, 40 * nlist), idCol = "vec_id", vecCol = "v")
    val bc = spark.sparkContext.broadcast(centroids)
    val probeUdf = udf((x: scala.collection.Seq[Double]) => {
      val cs = bc.value
      val xa = x.toArray
      cs.indices.map { c =>
        var d = 0.0; var i = 0
        while (i < xa.length) { val t = cs(c)(i) - xa(i); d += t * t; i += 1 }
        (c, d)
      }.sortBy(_._2).take(nprobe).map(_._1).toArray
    })
    val assigned = e.select(col("vec_id"), col("v"), explode(probeUdf(col("v"))).as("cell"))
    val cands = assigned.select(col("cell"), col("vec_id").as("vec_a"), col("v").as("va"))
      .join(assigned.select(col("cell"), col("vec_id").as("vec_b"), col("v").as("vb"))
        .hint("shuffle_hash"), Seq("cell"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), graft.functions.NativeExpressions.dotNative(col("va"), col("vb")).as("cos"))
      .where(col("cos") >= threshold)
    cands.distinct()
  }
}
