package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import QueryPrep._
import OracleSqlGen._

/** Text and training-data ops: dedup, near-dup hashing, quality,
  * sampling, tokenization, contamination and the text streams. */
object TextQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
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
    "ml_persistence_roundtrip" -> ((s, _) => {
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
      val aug = docs(s, dir).select(id, col("source"), piiInjectedText)
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
      val aug = docs(s, dir).select(id, piiInjectedText)
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

    // Streaming sketch twins, batch-run through the REAL
    // mapGroupsWithState paths (the ts_stream_* convention): state is
    // one Long per register / per cell — the sketch's fixed size IS
    // the streaming bound. Outputs equal the batch sketch rows, so the
    // oracles are shared.
    "doc_stream_hll" -> ((s, dir) => {
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

  /** Each document's text with formula PII appended, as `text`: an email
    * always, an IPv4 on even ids and a phone number on ids ≡ 0 (mod 3). */
  private def piiInjectedText: Column = {
    val id = col("doc_id")
    concat(col("text"),
      lit(" contact user"), id.cast("string"), lit("@mail.example.com"),
      when(id % 2 === 0,
        concat(lit(" from 10."), (id % 256).cast("string"), lit("."),
          ((id * 7 + 3) % 256).cast("string"), lit(".25")))
        .otherwise(lit("")),
      when(id % 3 === 0,
        concat(lit(" call +1415555"),
          lpad((id % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))).as("text")
  }

  /** Each document's distinct lower-cased word trigrams, `sh(doc_id,
    * sh)`. Ends inside `sh`. */
  private val trigramCtes: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[j:j+2], ' ') AS sh
      |  FROM words, (SELECT unnest(generate_series(1, 1000)) AS j) g
      |  WHERE j <= len(w) - 2""".stripMargin

  /** Every document's minhash signature `sig(doc_id, mh_0..mh_63)`
    * over its trigrams, generated from the SAME permutation constants
    * the Spark operator uses. Ends inside `sig`. */
  private def minhashSigCtes: String = {
    val p = graft.operators.Dedup.MinhashP
    val coeffs = graft.operators.Dedup.minhashCoeffs(64, 42L)
    val sigCols = coeffs.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * x + $b) % $p) AS mh_$i"
    }.mkString(",\n    ")
    trigramCtes + s"""
       |), base AS (
       |  SELECT doc_id,
       |    CAST(CONCAT('0x', substring(md5(sh), 1, 15)) AS BIGINT) % $p AS x
       |  FROM sh
       |), sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM base GROUP BY 1""".stripMargin
  }

  /** DuckDB oracle for doc_contamination and its streaming twin: per
    * document with id >= 10, the trigrams it shares with the probe docs
    * (id < 10). */
  private def contaminationOracleSql: String =
    trigramCtes + """
      |), ev AS (
      |  SELECT DISTINCT sh FROM sh WHERE doc_id < 10
      |)
      |SELECT s.doc_id, count(*) AS n_shared
      |FROM sh s JOIN ev USING (sh)
      |WHERE s.doc_id >= 10
      |GROUP BY 1""".stripMargin

  /** DuckDB oracle for doc_minhash_pairs. */
  private def minhashOracleSql: String = {
    val bandEqs = (0 until 16).map { band =>
      (0 until 4).map(r => s"a.mh_${band * 4 + r} = b.mh_${band * 4 + r}")
        .mkString("(", " AND ", ")")
    }.mkString("\n      OR ")
    val matchCount = (0 until 64)
      .map(i => s"(CASE WHEN a.mh_$i = b.mh_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    minhashSigCtes + s"""
       |), cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    ($matchCount) AS m
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |  WHERE $bandEqs
       |)
       |SELECT doc_a, doc_b, round(m / 64.0, 4) AS est_jaccard
       |FROM cand WHERE m / 64.0 >= 0.35""".stripMargin
  }

  /** The greedy per-source packer over `src(source, doc_id, text)`:
    * 256-token packs in doc_id order as the recursive CTE `p`, then its
    * rows. Starts at `t AS (`: the caller writes `WITH RECURSIVE ` or
    * the separator. */
  private def packSql(src: String): String =
    s"""t AS (
       |  SELECT source, doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tk,
       |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |  FROM $src
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

  /** Shared oracle for doc_pack_greedy AND doc_stream_pack (batch-mode
    * streaming packer == batch packer element-for-element). */
  private def packGreedyOracleSql: String = "WITH RECURSIVE " + packSql("documents")

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
    val bandSelects = (0 until 16).map { band =>
      val cols = (0 until 4).map(r => s"mh_${band * 4 + r}").mkString(", ")
      s"SELECT doc_id, $band AS band, min(doc_id) OVER (PARTITION BY $cols) AS dup_of FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    minhashSigCtes + s"""
       |), hits AS (
       |  $bandSelects
       |)
       |SELECT doc_id, band, dup_of FROM hits WHERE doc_id != dup_of""".stripMargin
  }

  /** minhashOracleSql's CTEs through `cand`, then its thresholded pairs
    * as undirected edges `e` and their transitive closure `reach(doc,
    * r)` from every document. Ends inside `reach`. */
  private def minhashReachCtes: String = {
    // everything up to cand: the prefix ends at the line before "SELECT doc_a"
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
        |  FROM reach JOIN e ON e.a = reach.r""".stripMargin
  }

  /** DuckDB oracle for doc_dedup_clusters: the SAME thresholded minhash
    * pair list as minhashOracleSql, then the transitive closure as a
    * recursive CTE; every doc's cluster is the min reachable id
    * (singletons map to themselves via the documents left side). */
  private def dedupClustersOracleSql: String =
    minhashReachCtes +
      """
        |)
        |SELECT doc AS doc_id, min(r) AS cluster FROM reach GROUP BY 1""".stripMargin

  /** DuckDB oracle for doc_dedup_keep_best: the doc_dedup_clusters
    * closure joined to the doc_quality formula, representative = rank 1
    * of (quality DESC, doc_id) within each cluster. */
  private def dedupKeepBestOracleSql: String =
    minhashReachCtes +
      """
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

  /** Every document's 60-bit simhash bit sums `bits(doc_id, b, s)`:
    * the md5 word hash and sign-of-bit-sums construction of
    * Dedup.simhash. Ends inside `bits`. */
  private val simhashBitsCtes: String =
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
      |  GROUP BY 1, 2""".stripMargin

  /** DuckDB oracle for doc_simhash. */
  private def simhashOracleSql: String =
    simhashBitsCtes + """
      |)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
      |    AS simhash
      |FROM bits GROUP BY 1""".stripMargin

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

  /** [[materialized]] for the BPE oracles: the CTE after `WITH RECURSIVE`
    * is materialized too, and the recursive `w<k>` CTEs stay plain. */
  private def bpeOracleFinish(sql: String): String =
    sql.replaceAll("(?m)^(WITH RECURSIVE |, )(\\w+) AS \\($", "$1$2 AS MATERIALIZED (")
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

  def oracleSql: Map[String, String] = Map(
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

    // same oracle as doc_contamination — the streaming twin must flag
    // the identical docs with identical shared counts
    "doc_stream_contamination" -> contaminationOracleSql,

    "doc_minhash_pairs" -> minhashOracleSql,

    "doc_stream_neardup" -> streamNeardupOracleSql,

    "doc_quality_model_step" -> qualityStepOracleSql,

    "ml_persistence_roundtrip" -> persistenceRoundtripOracleSql,

    "doc_dedup_clusters" -> dedupClustersOracleSql,

    "doc_dedup_keep_best" -> dedupKeepBestOracleSql,

    "doc_ngram_topk" ->
      (trigramCtes + """
        |), df AS (
        |  SELECT sh AS ngram, count(*) AS df FROM sh GROUP BY 1
        |)
        |SELECT CAST(row_number() OVER (ORDER BY df DESC, ngram) AS INT) AS rank,
        |  ngram, df
        |FROM df ORDER BY df DESC, ngram LIMIT 20""".stripMargin),

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
         |), """.stripMargin + packSql("keep")
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
      (trigramCtes + """
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
        |FROM hits WHERE h = 3 GROUP BY 1""".stripMargin),

    "doc_contamination" -> contaminationOracleSql,

    "doc_simhash" -> simhashOracleSql,

    // the 4×15-bit band pigeonhole is lossless for hamming ≤ 3, so the
    // banded Spark pipeline must equal the brute-force hamming join
    "doc_simhash_pairs" ->
      (simhashBitsCtes + """
        |), sh AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
        |      AS simhash
        |  FROM bits GROUP BY 1
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  bit_count(xor(a.simhash, b.simhash)) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),

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
        |WHERE rn <= 25""".stripMargin)
  )
}
