package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language-ID heuristic, content fingerprinting. All
  * pure column expressions — codegen'd, no UDFs, no shuffle (per-row). */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish sub-word tokenization count: runs of letters, runs of
    * digits, or single non-alphanumeric marks (a cheap proxy for byte-pair
    * token counts; same regex runs in the DuckDB oracle). */
  val bpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(bpeishPattern), lit(0)))

  /** Punctuation ratio: non-alphanumeric-non-space chars / chars. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^a-z0-9 ]", ""))).cast("double") /
      length(text)

  /** Stopword hit ratio over a fixed English stopword list. */
  val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
  def stopwordRatio(text: Column): Column = {
    val words = split(lower(text), " ")
    val hits = stopwords.map(sw =>
      size(filter(words, w => w === sw))).reduce(_ + _)
    hits.cast("double") / size(words)
  }

  /** Composite quality score in [0,1]: length band + low punct + stopword
    * presence (typical pretraining-filter shape). */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text)
    val lenScore = when(nTok.between(20, 1000), 1.0)
      .when(nTok.between(5, 19), 0.5).otherwise(0.0)
    val punct = punctRatio(text)
    val punctScore = when(punct <= 0.1, 1.0).when(punct <= 0.3, 0.5).otherwise(0.0)
    val swScore = when(stopwordRatio(text) > 0.02, 1.0).otherwise(0.0)
    round((lenScore + punctScore + swScore) / 3.0, 4)
  }

  /** n-gram-free language-ID heuristic: score = count of language marker
    * words present; predict argmax, 'und' when no marker hits. Marker
    * lists are tiny and deterministic so the same logic runs in SQL. */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "und", "die", "ist"),
    "fr" -> Seq("le", "et", "la", "est"),
    "es" -> Seq("el", "y", "la", "es"))
  def langId(text: Column): Column = {
    val words = split(lower(text), " ")
    def score(lang: String): Column =
      markers(lang).map(m => size(filter(words, w => w === m))).reduce(_ + _)
    val scored = markers.keys.toSeq.sorted.map(l => struct(score(l).as("s"), lit(l).as("l")))
    // argmax score, ties -> lexicographically smallest language
    val best = scored.reduce((a, b) =>
      when(b.getField("s") > a.getField("s"), b).otherwise(a))
    when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und"))
  }

  /** Deterministic stratified downsampling — the training-mix rebalance
    * step: each row lands in a stable bucket 0..99 via the portable
    * 60-bit md5 of its id, and survives iff bucket < quota(stratum).
    * Hash-based (not `sample`) so the kept set is (a) reproducible
    * across runs, executors and cluster sizes, (b) consistent between
    * incremental pipeline runs (a doc's fate never changes), and (c)
    * bit-reproducible by an external SQL engine. Pure scan + filter —
    * no shuffle, the 100 TB path is the parquet scan itself. Rows whose
    * stratum is absent from `quotas` get `defaultQuota`. */
  def stratifiedSample(df: DataFrame, quotas: Map[String, Int],
                       defaultQuota: Int = 100, idCol: String = "doc_id",
                       stratumCol: String = "lang"): DataFrame = {
    val bucket = pmod(Dedup.md5Hash60(col(idCol).cast("string")), lit(100))
    val quota = quotas.foldLeft(lit(defaultQuota)) { case (acc, (k, q)) =>
      when(col(stratumCol) === k, q).otherwise(acc)
    }
    df.withColumn("bucket", bucket).where(col("bucket") < quota)
  }

  /** Per-source document cap — the per-domain quota of C4/RefinedWeb-style
    * pipelines: keep the `cap` docs per source, ranked by a deterministic
    * portable md5 of doc_id (data-independent, so any cluster size or
    * rerun agrees on the survivors). Exact top-cap per key in TWO bounded
    * windows: a salted local pass keeps ≤ cap per (source, salt) — any
    * single task sees only its salt shard of a hot source — then the
    * ≤ salts·cap survivors per source rank globally. Top-cap of each salt
    * shard is a superset of the global top-cap, so the result is exact;
    * no task ever holds a hot key's full document list (at 100 TB one
    * domain can be a large corpus fraction — the unbounded-key analog of
    * the doc_jaccard hot-shingle fix). */
  def sourceCap(docs: DataFrame, cap: Int, salts: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = docs.select(col("doc_id"), col("source"),
      md5(col("doc_id").cast("string")).as("rk"))
    val salted = ranked.withColumn("salt",
      pmod(conv(substring(col("rk"), 1, 2), 16, 10).cast("int"), lit(salts)))
    val w1 = Window.partitionBy("source", "salt").orderBy("rk", "doc_id")
    val w2 = Window.partitionBy("source").orderBy("rk", "doc_id")
    salted.withColumn("r1", row_number().over(w1)).where(col("r1") <= cap)
      .withColumn("rank", row_number().over(w2)).where(col("rank") <= cap)
      .select(col("doc_id"), col("source"), col("rank"))
  }

  /** Temperature-based mixture sampling — the mT5/XLM α-sampling rule:
    * a source's share of the sampled budget is ∝ n_s^α, so α < 1
    * flattens the mixture toward low-resource sources (α = 1 is
    * proportional, α = 0 uniform-over-sources). Targets
    * t_s = min(n_s, ⌊budget · n_s^α / Σ_u n_u^α⌋) are computed on the
    * per-SOURCE aggregate relation (the mixAllocate shape: never
    * corpus-scale); selection within a source is the deterministic md5
    * rank taken with the same salted two-window pass as [[sourceCap]],
    * so no task ever holds a hot source's full list. The product is
    * rounded at 1e-6 before the floor so both engines agree at
    * integer boundaries. Returns (doc_id, source, rank, target). */
  def temperatureSample(docs: DataFrame, alpha: Double, budget: Long,
                        salts: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(pow(col("n").cast("double"), alpha)).as("z"))
    val targets = counts.crossJoin(tot)
      .select(col("source"),
        least(col("n"), floor(round(
            lit(budget.toDouble) * pow(col("n").cast("double"), alpha) / col("z"),
            6)).cast("long")).as("t"))
    val ranked = docs.select(col("doc_id"), col("source"),
      md5(col("doc_id").cast("string")).as("rk"))
    val salted = ranked.withColumn("salt",
      pmod(conv(substring(col("rk"), 1, 2), 16, 10).cast("int"), lit(salts)))
    val w1 = Window.partitionBy("source", "salt").orderBy("rk", "doc_id")
    val w2 = Window.partitionBy("source").orderBy("rk", "doc_id")
    salted.join(broadcast(targets), "source")
      .withColumn("r1", row_number().over(w1)).where(col("r1") <= col("t"))
      .withColumn("rank", row_number().over(w2)).where(col("rank") <= col("t"))
      .select(col("doc_id"), col("source"), col("rank"), col("t").as("target"))
  }

  /** Fused text → d-bucket count histogram, one pass over the bytes. */
  def hashedBow(text: Column, d: Int): Column =
    graft.functions.NativeExpressions.hashedBowNative(text, d)

  /** One logistic-regression gradient step for a learned quality filter
    * over hashed bag-of-words features — the distributed training unit
    * (full-batch gradient): p_i = σ(w·x_i + b);
    * grad_w = (1/n) Σ_i (p_i − y_i)·x_i, grad_b likewise on 1.
    * Weights broadcast as literals into a codegen'd per-row score, the
    * gradient is ONE explode + map-side-partial groupBy(bucket) — d+1
    * result rows at any corpus size. Returns (bucket, weight) with the
    * intercept at bucket = −1. The fasttext-style quality-classifier
    * analog (CCNet §4.3 / LLaMA's Wikipedia-reference filter) as a
    * Spark-first training step. */
  def qualityLogisticStep(docs: DataFrame, labelCol: Column,
                          w: Array[Double], b: Double,
                          eta: Double, d: Int): DataFrame = {
    val staged = docs.select(labelCol.cast("double").as("y"),
      hashedBow(col("text"), d).as("x"))
    val wLit = array(w.map(lit).toIndexedSeq: _*)
    val z = aggregate(zip_with(wLit, col("x"), (wi, xi) => wi * xi),
      lit(b), (acc, t) => acc + t)
    // localCheckpoint: the scored residuals feed BOTH gradient branches
    // (per-bucket and intercept) of one union plan — without it the
    // md5 + histogram feature chain runs twice (measured ~4 s → ~1.5 s
    // at sf0.1)
    val scored = staged.select(col("x"),
        (lit(1.0) / (lit(1.0) + exp(-z)) - col("y")).as("resid"))
      .localCheckpoint()
    val n = scored.count().toDouble // one row per doc; in-memory after checkpoint
    val gradW = scored
      .select(posexplode(col("x")).as(Seq("bucket", "xb")), col("resid"))
      .groupBy("bucket").agg((sum(col("xb") * col("resid")) / n).as("g"))
    val gradB = scored.agg((sum("resid") / n).as("g"))
      .select(lit(-1).as("bucket"), col("g"))
    val wDf = docs.sparkSession.createDataFrame(
      (w.zipWithIndex.map { case (wi, i) => (i, wi) } :+ ((-1, b))).toSeq)
      .toDF("bucket", "w_old")
    wDf.join(gradW.unionByName(gradB), Seq("bucket"), "left")
      .select(col("bucket"),
        (col("w_old") - lit(eta) * coalesce(col("g"), lit(0.0))).as("weight"))
  }

  /** Full-batch gradient-descent fit of the quality filter: `iters`
    * chained [[qualityLogisticStep]]s (driver loop, one job per step —
    * the same shape as the k-means/DBA/shapelet trainers). Returns
    * (weights, intercept). */
  def qualityLogisticFit(docs: DataFrame, labelCol: Column, d: Int = 32,
                         eta: Double = 0.5, iters: Int = 20): (Array[Double], Double) = {
    var w = Array.fill(d)(0.0)
    var b = 0.0
    (0 until iters).foreach { _ =>
      val upd = qualityLogisticStep(docs, labelCol, w, b, eta, d)
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      w = Array.tabulate(d)(upd(_))
      b = upd(-1)
    }
    (w, b)
  }

  /** Score docs with a fitted quality filter: p = σ(w·x + b), one
    * codegen'd pass, no shuffle. */
  def qualityLogisticPredict(docs: DataFrame, w: Array[Double], b: Double): DataFrame = {
    val d = w.length
    val wLit = array(w.map(lit).toIndexedSeq: _*)
    docs.select(col("doc_id"), hashedBow(col("text"), d).as("x"))
      .select(col("doc_id"), (lit(1.0) / (lit(1.0) +
        exp(-aggregate(zip_with(wLit, col("x"), (wi, xi) => wi * xi),
          lit(b), (acc, t) => acc + t)))).as("p_quality"))
  }

  /** In-corpus bigram language-model scoring — the CCNet/LLaMA-pipeline
    * "LM quality filter" computed from the corpus itself (no external
    * model): score(doc) = mean over positions i ≥ 2 of
    * ln P(w_i | w_{i−1}) with add-k-smoothed bigram MLE
    * P(w2|w1) = (C(w1,w2) + k) / (C(w1) + k·V), V = distinct unigrams.
    * Low scores = improbable word sequences (gibberish, boilerplate
    * soup) — the standard perplexity-filter signal.
    *
    * Scale shape: one pass builds the count tables (two map-side-
    * combinable groupBys; both are one row per DISTINCT gram, so their
    * size is vocabulary-bounded, not corpus-bounded), then each doc's
    * bigrams join those aggregated tables — join skew is bounded by the
    * hottest gram's OCCURRENCES (doc side), never squared, and the
    * per-doc mean is a bounded grouped agg. Docs with < 2 words are
    * excluded (no bigram events). */
  def lmScore(docs: DataFrame, k: Double = 0.5): DataFrame = {
    val base = docs.select(col("doc_id"), split(lower(col("text")), " ").as("w"))
    // localCheckpoint: the bigram stream feeds BOTH the count table and
    // the scoring join — uncheckpointed, the per-row bigram explode (an
    // interpreted HOF) ran twice over the corpus (guide §1.2)
    val bigrams = base.where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(0), size(col("w")) - 2),
        i => struct(col("w")(i).as("w1"), col("w")(i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .localCheckpoint()
    // localCheckpoint: the unigram table feeds both the V count below
    // and the per-doc join — without it the corpus is scanned twice
    val uniCounts = base.select(explode(col("w")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
      .localCheckpoint()
    val vocab = uniCounts.count() // one value: the smoothing denominator
    val biCounts = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    bigrams
      .join(biCounts, Seq("w1", "w2"))
      .join(uniCounts, Seq("w1"))
      .select(col("doc_id"),
        log((col("c12") + lit(k)) / (col("c1") + lit(k * vocab))).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), avg("lp").as("lm_score"))
  }

  /** Corpus-level duplicate-span removal with text reassembly — the C4
    * "remove duplicated spans, keep one occurrence" cleanup (Raffel et
    * al. 2020 §2.2 do it over three-sentence spans; this corpus has no
    * sentence boundaries, so the unit is a tumbling `spanTokens`-token
    * window). A span seen in more than one document survives only in
    * the lowest-doc_id document; every other document loses it and its
    * text is reassembled from the surviving spans in order.
    *
    * Scale shape: explode to (doc, pos, span) → ONE map-side-combinable
    * groupBy(span) for the document frequency + keeper → one shuffle
    * join back on span → ONE groupBy(doc) reassembly whose per-group
    * state is the doc's own spans (bounded by doc length, never by
    * corpus size). A pathologically hot span concentrates its COPIES on
    * one reducer in the join — the same exposure as the shingle joins,
    * bounded here because a doc contributes a span position at most
    * once per occurrence and the join's build side is one row per
    * distinct span. Output keeps the rewritten text as an md5 so the
    * result relation stays narrow at any corpus size. */
  def spanDedup(docs: DataFrame, spanTokens: Int = 10): DataFrame = {
    val words = split(col("text"), " ")
    val nSpans = ceil(size(words) / lit(spanTokens.toDouble)).cast("int")
    val spans = docs.select(col("doc_id"), posexplode(
        transform(sequence(lit(0), nSpans - 1),
          i => array_join(slice(words, i * spanTokens + 1, lit(spanTokens)), " ")))
        .as(Seq("pos", "span")))
    val dfreq = spans.groupBy("span")
      .agg(min("doc_id").as("keeper"))
    val kept = spans.join(dfreq, "span")
      .where(col("doc_id") === col("keeper"))
    val reassembled = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("span")))),
        x => x.getField("span")), " ").as("text_dedup"))
    docs.select(col("doc_id"), nSpans.cast("long").as("n_spans"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        (col("n_spans") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        md5(coalesce(col("text_dedup"), lit("")).cast("binary")).as("text_md5"))
  }

  /** Exact-substring deduplication — the sliding-window flavor of
    * cross-document dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): any token k-gram occurring more than
    * once in the corpus is removed from every occurrence EXCEPT the
    * globally first ((doc_id, pos)-minimal) one; overlapping removed
    * grams merge into maximal spans, and each doc is reassembled from its
    * surviving tokens. Unlike [[spanDedup]]'s C4 tumbling windows, the
    * k-grams here slide (stride 1), so duplicated text is caught at ANY
    * alignment, not only on span boundaries.
    *
    * Scale shape: the occurrence relation is one row per token (the
    * corpus itself — never pair space); the keeper per gram is a
    * map-side-combined min(struct) aggregation (skew-immune: a hot gram
    * reduces to one row per map task), then one equi-join back; interval
    * merge and reassembly are per-doc windows. At
    * 100 TB the gram key would be a 128-bit hash of the k-gram instead
    * of the string (collision odds ~0, shuffle bytes ~constant per
    * token); here the string itself keeps the DuckDB oracle exact.
    * Output: (doc_id, n_tokens, n_removed, text_md5). */
  def substringDedup(docs: DataFrame, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = split(col("text"), " ")
    val toks = docs.select(col("doc_id"), posexplode(ws).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("w"))
    // 1-based start positions; docs shorter than k emit no grams
    val grams = docs.where(size(ws) >= k)
      .select(col("doc_id"), posexplode(
          transform(sequence(lit(1), size(ws) - (k - 1)),
            i => array_join(slice(ws, i, lit(k)), " ")))
        .as(Seq("g0", "gram")))
      .select(col("doc_id"), (col("g0") + 1).as("pos"), col("gram"))
    // keeper = (doc_id, pos)-minimal occurrence. A rank window over the
    // gram key would sort every occurrence of a hot gram in one task; the
    // min(struct) aggregation is map-side combined, so a gram occurring
    // in 30 % of the corpus (the zipf campaign's hot shingle) still
    // reduces to ONE keeper row before the join. The dup test is then a
    // left_anti join on the FULL composite key (gram, doc_id, pos) —
    // Spark hash-partitions an equi-join on all its keys, so the hot
    // gram's occurrences spread uniformly across partitions instead of
    // reconvening on the gram's one partition (the straggler a
    // gram-keyed join would recreate after the skew-immune agg).
    val keepers = grams.groupBy("gram")
      .agg(min(struct(col("doc_id"), col("pos"))).as("kp"))
      .select(col("gram"), col("kp.doc_id").as("doc_id"), col("kp.pos").as("pos"))
    val dups = grams.join(keepers, Seq("gram", "doc_id", "pos"), "left_anti")
      .select(col("doc_id"), col("pos").as("s"), (col("pos") + (k - 1)).as("e"))
    // classic interval union: a removal starts a new island iff it begins
    // past the running max end of everything before it
    val wD = Window.partitionBy("doc_id").orderBy(col("s").asc)
    val islands = dups
      .withColumn("pm", max(col("e")).over(wD.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island", sum(
          when(col("s") > coalesce(col("pm"), lit(-1)), 1).otherwise(0))
        .over(wD.rowsBetween(Window.unboundedPreceding, 0)))
    val covered = islands.groupBy("doc_id", "island")
      .agg(min("s").as("s"), max("e").as("e"))
      .select(col("doc_id"), explode(sequence(col("s"), col("e"))).as("p"))
    val kept = toks.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("w")))),
          x => x.getField("w")), " ").as("t"))
    docs.select(col("doc_id"), size(ws).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        md5(coalesce(col("t"), lit("")).cast("binary")).as("text_md5"))
  }

  /** Greedy sequence packing — the step between the cleaned corpus and
    * the trainer: concatenate documents into fixed-size context windows
    * so the token stream has minimal padding. Packing domain = `source`
    * (keeps provenance-local context, and makes the op embarrassingly
    * parallel across sources). Within a source, docs are visited in
    * doc_id order and greedily fill the current pack; a doc that would
    * overflow `ctxLen` starts a new pack (a doc longer than ctxLen gets
    * a pack of its own — the trainer's chunker splits it downstream).
    *
    * Scale shape: ONE shuffle (hash by source), then a streaming
    * per-partition scan with O(1) state — sortWithinPartitions gives
    * each task its sources as contiguous runs, so no task ever holds a
    * source's docs in memory and the output is independent of the
    * partition count. This is exactly how production packing runs at
    * 100 TB: the only sequential dependency is within a (source-local)
    * run, everything across sources is parallel. */
  def packSequences(docs: DataFrame, ctxLen: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("source"), col("doc_id").cast("long"),
        tokenCount(col("text")).cast("long").as("tk"))
      .as[(String, Long, Long)]
      .repartition(col("source"))
      .sortWithinPartitions("source", "doc_id")
      .mapPartitions { it =>
        var cur: String = null
        var pack = 0L
        var fill = 0L
        it.map { case (src, id, tk) =>
          if (src != cur) { cur = src; pack = 0L; fill = 0L }
          else if (fill > 0L && fill + tk > ctxLen) { pack += 1; fill = 0L }
          val off = fill
          fill += tk
          (src, id, tk, pack, off)
        }
      }
      .toDF("source", "doc_id", "tk", "pack_seq", "token_offset")
  }

  /** Token-length histogram — the sequence-packing planner's input
    * (how much mass sits in each context-length bucket): bucket =
    * tokens / bucketSz, per-bucket doc count + token mass. One
    * map-side-partial groupBy over a per-row expression — flat at any
    * scale, ~bucket-count result rows. */
  def lengthBuckets(docs: DataFrame, bucketSz: Int = 16): DataFrame =
    docs.select(tokenCount(col("text")).as("tk"))
      .select((col("tk") / bucketSz).cast("int").as("bucket"), col("tk"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("tk").as("total_tokens"))

  /** Order-insensitive content fingerprint: md5 of the sorted distinct
    * word set (catches word-reorder near-dups). */
  def bagOfWordsFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(split(lower(text), " "))), " ").cast("binary"))

  /** Gopher-style repetition signals per document — the standard
    * pre-training repetition filter family (Rae et al. 2021, table A1):
    *  - dup_word_frac:     1 − distinct words / words (per-row array
    *                       exprs, zero shuffle)
    *  - top_bigram_frac:   occurrences of the most frequent bigram /
    *                       total bigrams
    *  - dup_trigram_frac:  fraction of trigram INSTANCES whose trigram
    *                       occurs more than once in the doc
    * The n-gram legs explode per doc and aggregate on (doc_id, gram) —
    * partial-agg friendly, keyed by doc so no corpus-level skew is
    * possible (a task's work is bounded by its docs' lengths). Docs too
    * short for a gram level get 0.0 (left join + coalesce). */
  def repetitionSignals(df: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val d = df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("words"))
    val base = d.select(col("doc_id"), size(col("words")).as("nw"),
      size(array_distinct(col("words"))).as("nd"))
    // guard: a doc shorter than n words has no n-grams — without the
    // filter, sequence(0, size−n) goes negative and slice(start=0) throws
    def gramCounts(n: Int) = d.where(size(col("words")) >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("words")) - n),
          i => array_join(slice(col("words"), i + 1, lit(n)), " "))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val bi = gramCounts(2).groupBy("doc_id")
      .agg((max("c") / sum("c")).as("tbf"))
    val tri = gramCounts(3).groupBy("doc_id")
      .agg((sum(when(col("c") > 1, col("c")).otherwise(0L)) / sum("c")).as("dtf"))
    base.join(bi, Seq("doc_id"), "left").join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(lit(1.0) - col("nd") / col("nw") + lit(0.0), 4).as("dup_word_frac"),
        round(coalesce(col("tbf"), lit(0.0)) + lit(0.0), 4).as("top_bigram_frac"),
        round(coalesce(col("dtf"), lit(0.0)) + lit(0.0), 4).as("dup_trigram_frac"))
  }

  /** Word-level Shannon entropy per document (bits) — the cheap
    * perplexity proxy of pretraining quality filters: word-salad and
    * boilerplate docs sit at the distribution tails. Explode +
    * (doc_id, word) partial aggs; work bounded per doc like
    * [[repetitionSignals]]. */
  def wordEntropy(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val wc = df.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val tot = wc.groupBy("doc_id").agg(sum("c").as("n"))
    wc.join(tot, "doc_id")
      .groupBy("doc_id")
      .agg(round(-sum((col("c") / col("n")) * log2(col("c") / col("n"))) + lit(0.0), 4)
        .as("word_entropy"))
  }

  /** Benchmark decontamination: training docs that share at least
    * `minShared` distinct word k-grams with any doc of the (small) eval
    * set, with the shared count — the pipeline step that drops eval-set
    * leaks before training. The eval side's distinct shingles are the
    * broadcast build side of one equi-join on the shingle string; the
    * corpus is scanned once, never shuffled by content (per-doc counts
    * aggregate map-side on doc_id). Returns (doc_id, n_shared). */
  def contamination(corpus: org.apache.spark.sql.DataFrame,
                    eval: org.apache.spark.sql.DataFrame, k: Int = 3,
                    minShared: Int = 1): org.apache.spark.sql.DataFrame = {
    val corpusSh = Dedup.shingles(corpus, k)
    val evalSh = Dedup.shingles(eval, k).select(col("sh")).distinct()
    corpusSh.join(broadcast(evalSh), "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** BM25 retrieval of the top-k docs per query (Robertson-Sparck Jones
    * "probabilistic relevance"; the standard quality-retrieval /
    * seed-corpus-expansion step of data pipelines — e.g. importance
    * resampling against a query set). Okapi formula per (query, doc):
    * Σ_{t∈q} idf(t)·tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), idf =
    * ln((N−df+0.5)/(df+0.5)+1).
    *
    * Scale shape: the query term set is TINY and broadcast — the first
    * join prunes the exploded corpus to docs containing a query term
    * before anything shuffles. df is one row per query term (broadcast
    * back). The only corpus-scale exchanges are the (doc, term) tf
    * groupBy and the (query, doc) score sum, both map-side-combinable,
    * and the final per-query top-k is TopK.byKey's k-slot buffer (k
    * rows per key per mapper cross the wire, no sort). `queries`:
    * (query_id LONG, terms ARRAY<STRING>). */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 5,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val words = docs.select(col("doc_id"), split(lower(col("text")), " ").as("w"))
    val stats = words.agg(count(lit(1)).as("n"), avg(size(col("w"))).as("avgdl")).head()
    val (nDocs, avgdl) = (stats.getLong(0), stats.getDouble(1))
    val qt = queries.select(col("query_id"), explode(col("terms")).as("term")).distinct()
    val tf = words
      .select(col("doc_id"), size(col("w")).as("dl"), explode(col("w")).as("term"))
      .join(broadcast(qt.select("term").distinct()), "term")
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
      // feeds both the df aggregation and the scoring join — one scan
      .localCheckpoint()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), "term").join(broadcast(qt), "term")
      .select(col("query_id"), col("doc_id"),
        (log((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl)))).as("s"))
      .groupBy("query_id", "doc_id").agg(sum("s").as("score"))
    TopK.byKey(scored.select(col("query_id"), col("doc_id"),
        negate(col("score")).as("ns")), k, "query_id", "doc_id", "ns")
      .select(col("query_id"), col("rank"), col("doc_id"),
        negate(col("ns")).as("score"))
  }

  /** TF-IDF cosine retrieval of the top-k docs per query — the
    * vector-space twin of [[bm25TopK]]: w(d,t) = tf·idf with
    * idf = ln(N/df), score(q,d) = Σ_{t∈q} w(d,t)·idf(t) / (‖d‖·‖q‖).
    * Unlike BM25 the denominator needs each doc's FULL tf-idf norm —
    * over the doc's whole vocabulary, not just the query terms — so
    * there is one extra corpus-scale aggregation; it is
    * map-side-combinable and produces exactly one row per doc.
    *
    * Scale shape otherwise identical to BM25: query terms broadcast,
    * the scoring relation is pruned to docs sharing a query term
    * before any shuffle, df/idf live on the vocabulary-bounded
    * relation, and the final per-query top-k is TopK.byKey's k-slot
    * buffer. `queries`: (query_id LONG, terms ARRAY<STRING>). */
  def tfIdfTopK(docs: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val words = docs.select(col("doc_id"), split(lower(col("text")), " ").as("w"))
    val nDocs = words.count()
    // (doc, term, tf): feeds df, the doc norms, and the scoring join
    val tf = words.select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .select(col("term"), log(lit(nDocs.toDouble) / col("df")).as("idf"))
    val norms = tf.join(dfreq, "term")
      .groupBy("doc_id")
      .agg(sqrt(sum(col("tf") * col("idf") * col("tf") * col("idf"))).as("dn"))
    val qt = queries.select(col("query_id"), explode(col("terms")).as("term")).distinct()
    val qw = qt.join(dfreq, "term") // query weight = 1·idf per distinct term
    val qnorm = qw.groupBy("query_id").agg(sqrt(sum(col("idf") * col("idf"))).as("qn"))
    // dn > 0 guard: a doc whose every term appears in all N docs has
    // idf = 0 everywhere, so dn = 0 and the cosine is 0/0; such a doc
    // also has dot = 0 for any query, so dropping it loses nothing.
    // Ranking is over the 4-decimal-ROUNDED score (doc_id tiebreak):
    // exact-duplicate docs produce mathematically equal scores whose
    // summation-order float error could otherwise flip rank between
    // engines — the ts_discord cross-engine tie class.
    val scored = tf.join(broadcast(qw), "term")
      .groupBy("query_id", "doc_id")
      .agg(sum(col("tf") * col("idf") * col("idf")).as("dot"))
      .join(norms, "doc_id").join(broadcast(qnorm), "query_id")
      .filter(col("dn") > 0)
      .select(col("query_id"), col("doc_id"),
        round(col("dot") / (col("dn") * col("qn")), 4).as("score"))
    TopK.byKey(scored.select(col("query_id"), col("doc_id"),
        negate(col("score")).as("ns")), k, "query_id", "doc_id", "ns")
      .select(col("query_id"), col("rank"), col("doc_id"),
        negate(col("ns")).as("score"))
  }

  /** Count-min sketch of the corpus unigram frequencies (Cormode &
    * Muthukrishnan 2005) — the heavy-hitter primitive for vocabularies
    * too large to count exactly in memory. `d` independent md5-keyed
    * hash rows × `w` columns; the sketch relation is d·w rows AT ANY
    * CORPUS SIZE (one map-side-combinable groupBy) — that fixed size is
    * the whole 100 TB point. Portable hashing (md5 hex, the
    * minhash-oracle trick) so an external engine replays the sketch
    * bit-exactly. Returns (r, cell, c). */
  def cmsSketch(docs: DataFrame, d: Int = 4, w: Int = 64): DataFrame =
    // count table first: md5 runs per DISTINCT term (vocabulary-bounded),
    // not per occurrence — at corpus scale the d hashes per token were
    // the dominant cost, and cell counts are identical either way
    docs.select(explode(split(lower(col("text")), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tc"))
      .select(col("tc"), posexplode(transform(sequence(lit(0), lit(d - 1)),
        r => pmod(conv(substring(md5(concat(r.cast("string"), lit(":"), col("term"))),
          1, 15), 16, 10).cast("long"), lit(w.toLong)))).as(Seq("r", "cell")))
      .groupBy("r", "cell").agg(sum("tc").as("c"))

  /** Point-estimate terms against a CMS sketch: est(t) = min_r
    * sketch(r, h_r(t)) — always ≥ the true count (the CMS guarantee;
    * asserted by the driver row against exact counts). `terms`:
    * (term STRING); sketch as produced by [[cmsSketch]] (broadcast —
    * d·w rows). */
  def cmsEstimate(sketch: DataFrame, terms: DataFrame,
                  d: Int = 4, w: Int = 64): DataFrame =
    terms.select(col("term"), posexplode(transform(sequence(lit(0), lit(d - 1)),
        r => pmod(conv(substring(md5(concat(r.cast("string"), lit(":"), col("term"))),
          1, 15), 16, 10).cast("long"), lit(w.toLong)))).as(Seq("r", "cell")))
      .join(broadcast(sketch), Seq("r", "cell"))
      .groupBy("term").agg(min("c").as("cms_est"))

  /** Training-mix token allocation by water-filling: give every source
    * a_s = min(cap_s, λ·w_s) with the water level λ chosen so
    * Σ a_s = budget — the standard capped-proportional mix planner
    * (sources too small to absorb their weighted share saturate; the
    * surplus redistributes over the rest). Closed form, not iterative:
    * sort by cap/w ascending, prefix-sum, and the first row whose
    * candidate level (budget − C_prev)/W_remaining fits under its own
    * ratio gives λ. Runs entirely on the per-SOURCE aggregate relation
    * (one row per source — planning over aggregates, never raw data;
    * the tiny window sort is over sources, not docs).
    * `perSource`: (source, cap LONG, w DOUBLE). Returns
    * (source, cap, alloc). */
  def mixAllocate(perSource: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = perSource.agg(sum("w"), sum("cap")).head()
    val wTot = tot.getDouble(0)
    // budget ≥ Σcap: every source saturates at its cap and no breakpoint
    // row satisfies lam_k ≤ r (the .head() below would throw) — the
    // water level is above every source's ceiling.
    if (budget >= tot.getLong(1))
      return perSource.select(col("source"), col("cap"),
        col("cap").cast("double").as("alloc"))
    val winExcl = Window.orderBy(col("r"), col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perSource.withColumn("r", col("cap") / col("w"))
      .withColumn("cprev", coalesce(sum("cap").over(winExcl), lit(0L)))
      .withColumn("wprev", lit(wTot) - coalesce(sum("w").over(winExcl), lit(0.0)))
      .withColumn("lam_k", (lit(budget) - col("cprev")) / col("wprev"))
      .localCheckpoint() // one row per source; read twice below
    val lambda = ranked.where(col("lam_k") <= col("r"))
      .orderBy(col("r"), col("source")).limit(1)
      .select("lam_k").head().getDouble(0)
    ranked.select(col("source"), col("cap"),
      least(col("cap").cast("double"), lit(lambda) * col("w")).as("alloc"))
  }

  /** Bloom-filter bit positions of an eval set's distinct shingles —
    * the MEMBERSHIP sketch completing the CMS (counts) / HLL
    * (cardinality) trio: `kHashes` md5-keyed positions per shingle,
    * deduplicated, ≤ `m` rows no matter how many shingles went in. At
    * benchmark-suite scale the exact shingle set broadcasts fine
    * (contamination); when the eval side is itself huge, this m-bounded
    * bit relation is what you broadcast instead. */
  def bloomBits(evalDocs: DataFrame, m: Int = 1024, kHashes: Int = 3,
                shingleK: Int = 3): DataFrame =
    Dedup.shingles(evalDocs, shingleK).select(col("sh")).distinct()
      .select(explode(transform(sequence(lit(0), lit(kHashes - 1)),
        r => pmod(Dedup.md5Hash60(concat(r.cast("string"), lit(":"), col("sh"))),
          lit(m.toLong)))).as("pos"))
      .distinct()

  /** Bloom-filter decontamination: a corpus shingle "maybe matches" the
    * eval set iff ALL `kHashes` of its bit positions are set (classic
    * false-positive-only semantics — never drops a true leak). One
    * broadcast equi-join on the bit position + two grouped counts;
    * returns (doc_id, n_maybe) for docs with ≥ 1 maybe-shared shingle.
    * FP rate at defaults: (1−e^(−kn/m))^k with the usual k·n/m
    * trade-off; the driver row replays the same hashes so FPs are
    * deterministic and oracle-checked, not flaky. */
  def bloomContamination(corpus: DataFrame, bits: DataFrame,
                         m: Int = 1024, kHashes: Int = 3,
                         shingleK: Int = 3): DataFrame =
    Dedup.shingles(corpus, shingleK)
      .select(col("doc_id"), col("sh"),
        explode(transform(sequence(lit(0), lit(kHashes - 1)),
          r => pmod(Dedup.md5Hash60(concat(r.cast("string"), lit(":"), col("sh"))),
            lit(m.toLong)))).as("pos"))
      .join(broadcast(bits), "pos")
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("hits"))
      .where(col("hits") === kHashes)
      .groupBy("doc_id").agg(count(lit(1)).as("n_maybe"))

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") over hashed
    * bag-of-words features: logw(doc) = Σ_tokens ln p_target(bucket) −
    * ln p_raw(bucket), with add-k smoothed bucket unigram models
    * estimated from the corpus itself (target = rows matching
    * `targetPred`; raw = all rows). High logw = looks like the target
    * domain — the principled "sample toward Wikipedia-like text"
    * pipeline step.
    *
    * Scale shape: both models are d-row bucket tables (two map-side-
    * combinable groupBys over the exploded corpus), frozen into a d
    * literal vector; per-doc scoring is a pure per-row expression over
    * the doc's hashed-BoW histogram — ZERO doc-keyed shuffles at any
    * corpus size. Returns (doc_id, n_tokens, logw). */
  def importanceWeights(docs: DataFrame, targetPred: Column, d: Int = 32,
                        smooth: Double = 0.5): DataFrame = {
    val (_, ratiosDf) = importanceModel(docs, targetPred, d, smooth)
    // Per-row scoring against the frozen d-vector — the exact expression
    // shape of StreamingOps.importanceAtIngest, which is oracle-proven
    // equal to the feat-join formulation (doc_stream_importance shares
    // this operator's oracle). Replaces the former corpus-scale scoring
    // join + groupBy(doc_id) — guide §2.4: with per-doc histograms the
    // operator needs ZERO doc-keyed shuffles (the model aggregation in
    // importanceModel is a d-key map-side-combinable groupBy).
    // n_tokens = Σ histogram = the word count (exact integers).
    val ratios = new Array[Double](d)
    ratiosDf.collect().foreach(r => ratios(r.getInt(0)) = r.getDouble(1))
    val lrs = typedLit(ratios.toIndexedSeq)
    docs.select(col("doc_id"), hashedBow(col("text"), d).as("hist"))
      .select(col("doc_id"),
        aggregate(col("hist"), lit(0.0), (acc, x) => acc + x)
          .cast("long").as("n_tokens"),
        aggregate(zip_with(col("hist"), lrs, (x, l) => x * l),
          lit(0.0), (acc, x) => acc + x).as("logw"))
  }

  /** The TRAIN half of the DSIR split: the (doc, bucket) count relation
    * and the d-row log-ratio model — collect the latter to freeze it
    * into [[graft.streaming.StreamingOps.importanceAtIngest]]'s
    * stateless serve-side scorer. */
  def importanceModel(docs: DataFrame, targetPred: Column, d: Int = 32,
                      smooth: Double = 0.5): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    val hist = docs.select(col("doc_id"), targetPred.as("is_target"),
      hashedBow(col("text"), d).as("hist"))
    // The (doc, bucket) feature relation, LAZY: kept for the public
    // (feat, ratios) contract, but the model below no longer reads it —
    // nothing pays the former corpus-scale groupBy(doc, bucket) shuffle
    // unless a caller actually consumes feat. Values match the old
    // explode+count form exactly (the histogram counts are the same
    // exact integers; zero-count buckets had no row then and are
    // filtered now).
    val feat = hist
      .select(col("doc_id"), col("is_target"),
        posexplode(col("hist")).as(Seq("bucket", "xb")))
      .where(col("xb") > 0)
      .select(col("doc_id"), col("bucket"), col("xb").cast("long").as("xb"),
        col("is_target"))
    // d-row model from the per-doc histograms directly: the ONLY
    // shuffle is a d-key map-side-combinable groupBy (guide §2.4 — the
    // former shape shuffled the exploded corpus into (doc, bucket)
    // groups first). Histogram entries are exact small integers in
    // doubles and the sums stay < 2^53, so the cast-back longs equal
    // the former count-based sums bit-for-bit, and the log-ratios are
    // unchanged.
    val bucketCounts = hist
      .select(col("is_target"), posexplode(col("hist")).as(Seq("bucket", "xb")))
      .groupBy("bucket")
      .agg(sum("xb").cast("long").as("cr"),
        sum(when(col("is_target"), col("xb")).otherwise(lit(0.0)))
          .cast("long").as("ct"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val totR = bucketCounts.map(_._2).sum
    val totT = bucketCounts.map(_._3).sum
    val byBucket = bucketCounts.map(t => t._1 -> ((t._2, t._3))).toMap
    val ratios = spark.range(d).select(col("id").cast("int").as("bucket"))
      .join(broadcast(spark.createDataFrame(
          (0 until d).map(b => (b, byBucket.get(b).map(_._1),
            byBucket.get(b).map(_._2)))).toDF("bucket", "cr", "ct")),
        Seq("bucket"), "left")
      .select(col("bucket"),
        (log((coalesce(col("ct"), lit(0L)) + smooth) / (totT + smooth * d)) -
          log((coalesce(col("cr"), lit(0L)) + smooth) / (totR + smooth * d))).as("lr"))
    (feat, ratios)
  }

  /** HyperLogLog registers for a STRING item column (Flajolet et al.
    * 2007) — the distinct-count primitive for key spaces too large to
    * countDistinct exactly. 2^p registers; register = max over items of
    * (leading zeros of the hash suffix + 1). The register relation is
    * ≤ 2^p rows AT ANY CARDINALITY (one map-side-combinable max
    * groupBy); portable md5 hashing so an external engine replays the
    * registers bit-exactly. 60-bit hash: p index bits + a (60−p)-bit
    * suffix whose bit length comes off `bin()` (identical no-leading-
    * zeros semantics in Spark and DuckDB). Returns (idx, m_j). */
  def hllSketch(items: DataFrame, itemCol: String = "term", p: Int = 6): DataFrame = {
    val m = 1L << p
    val w = 60 - p
    val h = conv(substring(md5(col(itemCol)), 1, 15), 16, 10).cast("long")
    val suffix = shiftright(h, p)
    val rank = when(suffix === 0, lit(w + 1))
      .otherwise(lit(w + 1) - length(bin(suffix)))
    // NOT distinct-first (unlike cmsSketch): registers are maxes, so a
    // pre-distinct would be semantically free — but measured at 16×
    // sf0.1 it is 4× SLOWER (0.25 s → 1.11 s): distinct() shuffles the
    // full token stream, while hashing per occurrence feeds a
    // map-side-partial max groupBy that ships 64 rows per mapper. One
    // md5 per occurrence is cheaper than one exchange of the stream.
    items.select(pmod(h, lit(m)).as("idx"), rank.as("rank"))
      .groupBy("idx").agg(max("rank").as("m_j"))
  }

  /** The HLL cardinality estimate from a register relation: E =
    * α_m·m²/Σ 2^(−M_j) with empty registers filled in (M = 0) and the
    * standard small-range linear-counting correction (E ≤ 2.5 m with
    * V > 0 empty registers → m·ln(m/V)). One row out. */
  def hllEstimate(registers: DataFrame, p: Int = 6): DataFrame = {
    val spark = registers.sparkSession
    val m = 1L << p
    val full = spark.range(m).select(col("id").as("idx"))
      .join(broadcast(registers), Seq("idx"), "left")
      .select(coalesce(col("m_j"), lit(0L)).as("m_j"))
    full.agg(
        sum(pow(lit(2.0), -col("m_j"))).as("s"),
        sum(when(col("m_j") === 0, 1L).otherwise(0L)).as("v"))
      .select(
        when(
          lit((0.7213 / (1.0 + 1.079 / m)) * m * m) / col("s") <= lit(2.5 * m)
            && col("v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v")))
          .otherwise(lit((0.7213 / (1.0 + 1.079 / m)) * m * m) / col("s"))
          .as("hll_est"))
  }

  /** Greedy left-to-right merge of ONE symbol pair (l, r) in a symbol
    * array — the BPE apply step, as a pure `aggregate` HOF (no UDF):
    * fold positions with (out, skip) state; a matched pair emits the
    * concatenated symbol and skips its right half, so "aaa" + (a,a) →
    * ["aa", "a"], never ["aa","aa"]. */
  private def bpeMergeOnce(syms: Column, l: String, r: String): Column =
    aggregate(
      sequence(lit(0), size(syms) - 1),
      struct(array().cast("array<string>").as("arr"), lit(false).as("skip")),
      (st, i) => {
        val cur = get(syms, i)
        val nxt = get(syms, i + 1)
        val isMerge = cur === lit(l) && nxt === lit(r)
        when(st.getField("skip"),
          struct(st.getField("arr").as("arr"), lit(false).as("skip")))
          .otherwise(when(isMerge,
            struct(array_append(st.getField("arr"), lit(l + r)).as("arr"),
              lit(true).as("skip")))
            .otherwise(
              struct(array_append(st.getField("arr"), cur).as("arr"),
                lit(false).as("skip"))))
      },
      st => st.getField("arr"))

  /** BPE merge-rule induction (Sennrich et al. 2016) — tokenizer
    * TRAINING on the corpus, `steps` merges. Faithful to the reference
    * algorithm: pair statistics count every adjacent symbol pair
    * (overlapping included, weighted by word frequency); the argmax
    * pair (ties: lexicographic (left, right)) becomes the step's merge
    * rule; applying a rule is greedy left-to-right non-overlapping.
    *
    * Scale shape — the 100 TB reason to do BPE this way: the corpus is
    * touched ONCE (the distinct-word groupBy); every one of the
    * `steps` iterations then runs on the VOCABULARY relation (one row
    * per distinct word — bounded by the language, not the corpus),
    * with one map-side-combinable pair-count aggregation + a
    * TakeOrdered(1) per step and the merge applied as a codegen'd
    * expression. No driver loop ever sees more than one row per step.
    * Returns (step, left, right, pair_count). */
  def bpeMerges(docs: DataFrame, steps: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, steps)._1.toDF("step", "left", "right", "pair_count")
  }

  /** The learned tokenizer APPLIED: after `steps` merges, each
    * vocabulary word's final symbol segmentation. This is the encode
    * half of the BPE story — `bpeMerges` learns the rules, this emits
    * the segmentation those rules produce (word, enc = space-joined
    * symbols, n_tok, freq). Same vocabulary-bounded shape: the corpus
    * is touched once, every merge pass is a codegen'd projection of
    * the vocab relation, and per-doc token counts at serving time are
    * a broadcast join of this table against the corpus words. */
  def bpeEncode(docs: DataFrame, steps: Int): DataFrame =
    bpeTrain(docs, steps)._2
      .select(col("word"), concat_ws(" ", col("syms")).as("enc"),
        size(col("syms")).cast("long").as("n_tok"), col("freq"))

  /** The tokenizer SERVED: per-doc token counts under the learned
    * merges. The segmentation table is vocabulary-bounded, so it
    * broadcasts against the corpus words — the 100 TB shape: small
    * model, one corpus scan, map-side join, map-side partial sum.
    * This is the number every context-window planner (packing,
    * length histograms, mix allocation) actually budgets with. */
  def bpeTokenize(docs: DataFrame, steps: Int): DataFrame = {
    val enc = bpeEncode(docs, steps).select(col("word"), col("n_tok"))
    docs.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("word"))
      .where(length(col("word")) > 0)
      .join(broadcast(enc), Seq("word"))
      .groupBy("doc_id")
      .agg(sum("n_tok").as("n_tok"), count(lit(1)).as("n_words"))
  }

  /** Shared BPE training loop: merge list + the final per-word symbol
    * layer (word, syms, freq). */
  private def bpeTrain(docs: DataFrame, steps: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var vocab = docs
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      // split() yields "" for consecutive/leading spaces; an empty word
      // would make sequence(1, 0) produce the descending [1, 0] → two
      // empty symbols and a phantom ("","") pair carrying its frequency.
      .where(length(col("word")) > 0)
      .select(col("word"), transform(sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1))).as("syms"), col("freq"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (step <- 1 to steps) {
      val best = vocab
        .where(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(sequence(lit(0), size(col("syms")) - 2),
          i => struct(get(col("syms"), i).as("l"), get(col("syms"), i + 1).as("r"))))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
        .head()
      val (l, r, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      out += ((step, l, r, cnt))
      vocab = vocab.select(col("word"),
          bpeMergeOnce(col("syms"), l, r).as("syms"), col("freq"))
        .localCheckpoint()
    }
    (out.toSeq, vocab)
  }

  // ---------------------------------------------------------------
  // PII redaction
  // ---------------------------------------------------------------

  /** PII patterns — deliberately restricted to syntax valid in BOTH
    * Java regex (Spark codegen) and RE2 (the DuckDB oracle): character
    * classes, bounded repetition, \b word boundaries; no lookaround,
    * no backreferences. */
  val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val piiPhoneRe = "\\+[0-9]{10,15}"

  /** PII redaction: emails, IPv4 addresses, and +-prefixed phone
    * numbers replaced by typed placeholder tokens, with per-doc match
    * counts. Email runs FIRST so dotted digits inside an address are
    * consumed before the IP pass. Pure per-row column expressions —
    * codegen'd, no shuffle, no UDF — so at 100 TB this is a map-only
    * pass that pipelines into whatever scan feeds it.
    * Adds n_email / n_ip / n_phone / red to `docs`. */
  def piiRedact(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val r1 = regexp_replace(t, piiEmailRe, "<EMAIL>")
    val r2 = regexp_replace(r1, piiIpv4Re, "<IP>")
    val r3 = regexp_replace(r2, piiPhoneRe, "<PHONE>")
    docs
      .withColumn("n_email", regexp_count(t, lit(piiEmailRe)))
      .withColumn("n_ip", regexp_count(r1, lit(piiIpv4Re)))
      .withColumn("n_phone", regexp_count(r2, lit(piiPhoneRe)))
      .withColumn("red", r3)
  }
}
