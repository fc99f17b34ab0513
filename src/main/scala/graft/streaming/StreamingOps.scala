package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators (SURVEY §2.8).
  *
  * The reference is batch-only; these are the streaming-native versions of
  * its semantically-streaming operators: event-time windowed aggregation
  * with watermark, gap sessionization via native session_window, and the
  * early-classification predict loop as flatMapGroupsWithState (classify a
  * growing prefix, emit as soon as the stopping rule fires).
  */
object StreamingOps {

  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double, event_type: String)
  case class EarlyDecision(user_id: Long, decided_at: Int, label: Int, cost: Double)

  /** Event-time tumbling window agg with late-data watermark. */
  def hourlyCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_v"))

  /** Gap-based sessionization with the native session_window (30-min gap,
    * same semantics as the batch ts_sessionize query). */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        (unix_millis(max(col("ts"))) - unix_millis(min(col("ts")))).as("duration_ms"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("duration_ms"))

  /** Streaming exact dedup for an ingest pipeline: keep the first doc
    * per content hash, dropping re-deliveries and content duplicates
    * inside the watermark horizon. State is one row per distinct hash
    * and IS evicted once the watermark passes: this must be
    * dropDuplicatesWithinWatermark (not dropDuplicates) — a plain
    * dropDuplicates on a non-event-time subset never builds a key
    * eviction predicate, so its state grows with every distinct hash
    * forever; the watermark there only drops late input rows. The
    * within-watermark variant guarantees dedup for duplicates arriving
    * inside the horizon and bounds state to the horizon — the right
    * contract for an unbounded ingest stream (the streaming analogue of
    * Dedup.exact, with the same content_hash key). */
  def dedupExact(docs: DataFrame, watermark: String = "1 hour",
                 tsCol: String = "ts", textCol: String = "text"): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming benchmark decontamination at ingest — the stream-side
    * twin of TextAnalysis.contamination: each incoming doc is checked
    * against the eval set's distinct word-k-gram vocabulary and emitted
    * with its shared-shingle count when ≥ minShared. STATELESS by
    * design (per-row membership against a broadcast set): append mode,
    * no state store, no watermark — the right shape at ingest, where the
    * eval sets are small and fixed and the stream is unbounded. Shingle
    * construction matches Dedup.shingles exactly (lowercase, space
    * split, per-doc distinct, short docs yield one truncated shingle),
    * so flagged docs equal the batch operator's output. */
  def contamination(docs: DataFrame, evalDocs: DataFrame, k: Int = 3,
                    minShared: Int = 1, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    // eval side is batch and tiny (a benchmark); its distinct shingles
    // are collected once and broadcast
    val evalSh = graft.operators.Dedup.shingles(evalDocs, k)
      .select("sh").distinct()
      .collect().map(_.getString(0)).toSet
    val bc = spark.sparkContext.broadcast(evalSh)
    val kk = k
    val sharedUdf = udf((text: String) => {
      val set = bc.value
      val w = text.toLowerCase.split(" ", -1)
      val upper = math.max(w.length - kk, 0)
      val seen = scala.collection.mutable.HashSet.empty[String]
      var c = 0
      var i = 0
      while (i <= upper) {
        val sh = w.slice(i, math.min(i + kk, w.length)).mkString(" ")
        if (set.contains(sh) && seen.add(sh)) c += 1
        i += 1
      }
      c.toLong
    })
    docs.withColumn("n_shared", sharedUdf(col(textCol)))
      .where(col("n_shared") >= minShared)
      .select(col("doc_id"), col("n_shared"))
  }

  /** Stateless PII redaction at ingest — the batch operator's column
    * graph verbatim (pure codegen'd per-row regexp expressions), so it
    * attaches to any readStream scan in append mode with no state
    * store and no watermark. Redact-at-ingest is the shape that
    * matters at 100 TB: the raw text never lands anywhere downstream
    * of the first hop. */
  def piiAtIngest(docs: DataFrame, textCol: String = "text"): DataFrame =
    graft.operators.TextAnalysis.piiRedact(docs, textCol)

  case class BandHit(doc_id: Long, band: Int, dup_of: Long)

  /** Per-row word-k-shingle array (same construction as Dedup.shingles
    * without the per-doc distinct, as an expression) — the native
    * one-pass span form (guide §4): identical strings in identical order
    * to the former split/transform/slice/array_join HOF chain, minus the
    * interpreted lambda dispatch and the intermediate word array. */
  def shingleArr(textCol: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    graft.functions.NativeExpressions.shingleSpansNative(textCol, k, distinct = false)

  /** Streaming near-duplicate detection at ingest — the streaming twin
    * of Dedup.minhashLsh's banding stage: per-row signatures, LSH band
    * codes as the state key, and one `flatMapGroupsWithState` keeping
    * ONE Long per (band, bucket): the lowest doc_id seen so far. The
    * signature is the fused MinhashSigExpression, stateless and
    * row-local (Structured Streaming cannot chain the batch route's
    * explode + min-agg into flatMapGroupsWithState), with the same math
    * bit-for-bit: sig_j = min over word-k-shingles of (a_j·x + b_j) mod p
    * with x = md5Hash60(shingle) mod p. A doc landing in a non-empty bucket
    * emits (doc_id, band, dup_of = that holder) — the ingest-time
    * "probably seen before" signal, before any expensive verification.
    * Docs in each micro-batch are processed in doc_id order so the
    * operator is deterministic (batch mode ≡ one big micro-batch: every
    * non-min doc of a bucket pairs with the bucket min). State is one
    * Long per distinct (band, bucket) — production bounds it with a
    * state-store TTL; the group sort is bounded by the bucket's rows in
    * ONE micro-batch, not the stream's history. */
  def dedupNearMinhash(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
                       shingleK: Int = 3, seed: Long = 42L): Dataset[BandHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rowsPerBand = numHashes / bands
    // one primitive codegen'd pass per row, bit-identical to the DuckDB
    // oracle's md5 replay
    val sig = docs.select(col("doc_id").cast("long").as("doc_id"),
        shingleArr(col("text"), shingleK).as("shs"))
      .select(col("doc_id"),
        graft.functions.NativeExpressions.minhashSigNative(
          col("shs"), numHashes, seed).as("sig"))
    val banded = sig.select(col("doc_id"), posexplode(
        array((0 until bands).map(b =>
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand).cast("string")): _*))
        .as(Seq("band", "bucket")))
      .as[(Long, Int, String)]
    banded.groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[Long, BandHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((band, _), it, state: GroupState[Long]) =>
          val ids = it.map(_._1).toArray.sorted
          var minSeen = state.getOption.getOrElse(Long.MaxValue)
          val out = Vector.newBuilder[BandHit]
          ids.foreach { d =>
            if (minSeen != Long.MaxValue && d != minSeen)
              out += BandHit(d, band, minSeen)
            if (d < minSeen) minSeen = d
          }
          if (minSeen != Long.MaxValue) state.update(minSeen)
          out.result().iterator
      }
  }

  case class PackAssign(source: String, doc_id: Long, tk: Long,
                        pack_seq: Long, token_offset: Long)

  /** Streaming sequence packing — continuous training-shard building at
    * ingest: the streaming twin of TextAnalysis.packSequences. One
    * flatMapGroupsWithState per source stream whose state is just
    * (current pack, current fill) — a doc arriving in a later
    * micro-batch keeps filling the pack the previous batch left open
    * (exactly what a continuous shard writer wants), and batch mode
    * (one big micro-batch, docs processed in doc_id order) is
    * element-for-element the batch operator. State: two Longs per
    * source. */
  def packSequences(docs: DataFrame, ctxLen: Int): Dataset[PackAssign] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("source"), col("doc_id").cast("long").as("doc_id"),
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long").as("tk"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), PackAssign](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (src, it, state: GroupState[(Long, Long)]) =>
          var (pack, fill) = state.getOption.getOrElse((0L, 0L))
          val out = it.toArray.sortBy(_._2).map { case (_, id, tk) =>
            if (fill > 0L && fill + tk > ctxLen) { pack += 1; fill = 0L }
            val off = fill
            fill += tk
            PackAssign(src, id, tk, pack, off)
          }
          state.update((pack, fill))
          out.iterator
      }
  }

  case class MpPoint(user_id: Long, seq: Long, value: Double)
  case class MpValue(user_id: Long, i: Long, mp: Double)

  /** Streaming LEFT matrix profile (STAMPI semantics), keyed by series id:
    * as each point arrives, the newly completed length-m subsequence is
    * compared against all PRIOR subsequences (exclusion zone m/2) and its
    * left-profile value is emitted once. Past emissions are never updated
    * — that is the defining property of the left profile, and what makes
    * it streamable with O(history) state and no re-emission.
    *
    * State per key: the last `history` points (ring-capped), so memory is
    * bounded regardless of stream length; distances beyond the horizon are
    * not considered (document the approximation when history < stream).
    * Input must carry a monotonically increasing per-key `seq`. */
  def leftMatrixProfile(points: Dataset[MpPoint], m: Int,
                        history: Int = 4096): Dataset[MpValue] = {
    val spark = points.sparkSession
    import spark.implicits._
    require(history >= 2 * m, "history must cover at least two windows")
    val excl = m / 2
    points.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Array[Double]), MpValue](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[MpPoint], state: GroupState[(Long, Array[Double])]) =>
          // state: (seq of first buffered point, buffered values)
          var (bufStart, buf) = state.getOption.getOrElse((0L, Array.empty[Double]))
          val out = scala.collection.mutable.ArrayBuffer.empty[MpValue]
          batch.toArray.sortBy(_.seq).foreach { p =>
            buf = buf :+ p.value
            if (buf.length > history) {
              bufStart += buf.length - history
              buf = buf.takeRight(history)
            }
            val n = buf.length
            if (n >= m) {
              val qStartLocal = n - m // newest window, local index
              val newestIdx = bufStart + qStartLocal
              var best = Double.PositiveInfinity
              var j = 0
              // all prior windows inside the horizon, exclusion-zoned
              while (j <= n - m - 1) {
                if (math.abs(qStartLocal - j) > excl) {
                  var d = 0.0
                  var t = 0
                  while (t < m) {
                    val df = buf(qStartLocal + t) - buf(j + t)
                    d += df * df
                    t += 1
                  }
                  if (d < best) best = d
                }
                j += 1
              }
              if (best != Double.PositiveInfinity)
                out += MpValue(uid, newestIdx, math.sqrt(best))
            }
          }
          state.update((bufStart, buf))
          out.iterator
      }
  }

  /** Early classification over growing prefixes, keyed by series id —
    * the streaming form of NonMyopicEarlyClassifier.predict
    * (`early_classification/early_classification.py:350-359`): buffer the
    * prefix in state; when the classifier's stopping rule fires (or the
    * stream ends for the key), emit one decision.
    *
    * `classify`: prefix → (label, confidence). `minLen`/`tau`: emit once
    * confidence ≥ tau (or at maxLen). State is the O(prefix) buffer only.
    */
  def earlyClassify(events: Dataset[Event],
                    classify: Array[Double] => (Int, Double),
                    minLen: Int, maxLen: Int, tau: Double): Dataset[EarlyDecision] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Array[Double], EarlyDecision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[Array[Double]]) =>
          // empty buffer is the "already decided" sentinel (a live buffer
          // always has >= 1 value; null state values are rejected by Spark)
          if (state.exists && state.get.isEmpty) Iterator.empty
          else {
            var buf = state.getOption.getOrElse(Array.empty[Double])
            var decision: Option[EarlyDecision] = None
            val sorted = batch.toArray.sortBy(e => (e.ts.getTime, e.value))
            var i = 0
            while (i < sorted.length && decision.isEmpty) {
              buf = buf :+ sorted(i).value
              if (buf.length >= minLen) {
                val (label, conf) = classify(buf)
                if (conf >= tau || buf.length >= maxLen)
                  decision = Some(EarlyDecision(uid, buf.length, label, 1.0 - conf))
              }
              i += 1
            }
            decision match {
              case Some(d) => state.update(Array.empty[Double]); Iterator.single(d)
              case None => state.update(buf); Iterator.empty
            }
          }
      }
  }

  /** Ingest-time DSIR scoring — the SERVE side of the
    * importance-resampling split: the d-bucket log-ratio model is
    * trained batch-side (TextAnalysis.importanceWeights' ratios) and
    * FROZEN into this stateless per-row scorer — no state store, no
    * watermark, the same shape as [[contamination]]. Histogram-then-
    * fold in bucket order so the per-doc sum matches the batch
    * operator's per-bucket aggregation. */
  def importanceAtIngest(docs: DataFrame, ratios: Array[Double],
                         d: Int = 32,
                         passthrough: Seq[String] = Nil): DataFrame = {
    val ta = graft.operators.TextAnalysis
    val lrs = typedLit(ratios)
    val pt = passthrough.map(col)
    docs
      .select(col("doc_id") +: ta.hashedBow(col("text"), d).as("hist") +: pt: _*)
      .select(col("doc_id") +:
        // n_tokens = word count = Σ histogram (counts are exact ints)
        aggregate(col("hist"), lit(0.0), (acc, x) => acc + x)
          .cast("long").as("n_tokens") +:
        aggregate(zip_with(col("hist"), lrs, (x, l) => x * l),
          lit(0.0), (acc, x) => acc + x).as("logw") +: pt: _*)
  }

  /** Streaming HyperLogLog registers — continuous distinct counting at
    * ingest: one `mapGroupsWithState` keyed by register index whose
    * state is ONE Long (the running max rank). State is ≤ 2^p rows at
    * ANY stream length — the sketch's fixed size IS the streaming
    * bound; no watermark needed because the state never grows. Batch
    * mode (one micro-batch) is row-for-row TextAnalysis.hllSketch
    * (registers are maxes, so per-batch maxes fold associatively).
    * Emits the updated (idx, m_j) per register per batch. */
  def hllRegisters(items: DataFrame, itemCol: String = "term",
                   p: Int = 6): Dataset[(Long, Long)] = {
    val spark = items.sparkSession
    import spark.implicits._
    val m = 1L << p
    val w = 60 - p
    val h = conv(substring(md5(col(itemCol)), 1, 15), 16, 10).cast("long")
    val suffix = shiftright(h, p)
    val rank = when(suffix === 0, lit(w + 1))
      .otherwise(lit(w + 1) - length(bin(suffix)))
    items.select(pmod(h, lit(m)).as("idx"), rank.as("rank"))
      .as[(Long, Long)]
      // mapGroupsWithState has NO map-side partial aggregation — without
      // this pre-fold the exchange carries every token row to 2^p
      // reducers. Per-partition max first: ≤ 2^p rows per partition
      // cross the wire (the batch sketch's partial-agg shape, by hand).
      .mapPartitions { it =>
        val mx = scala.collection.mutable.HashMap.empty[Long, Long]
        it.foreach { case (idx, r) =>
          if (r > mx.getOrElse(idx, 0L)) mx(idx) = r
        }
        mx.iterator
      }
      .groupByKey(_._1)
      .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
        (idx: Long, batch: Iterator[(Long, Long)], state: GroupState[Long]) =>
          var mx = state.getOption.getOrElse(0L)
          batch.foreach { case (_, r) => if (r > mx) mx = r }
          state.update(mx)
          (idx, mx)
      }
  }

  /** Streaming second-moment registers — the covariance/PCA sketch at
    * ingest: `mapGroupsWithState` keyed by dimension i whose state is
    * (n, Σx_i, Σx_i·x_j for j ≥ i) — d state rows holding d(d+3)/2
    * doubles TOTAL at ANY stream length (the moment sketch's fixed
    * size IS the streaming bound; a 100 TB stream of 64-dim vectors
    * carries 2 144 doubles of state). Per-partition pre-fold first
    * (mapGroupsWithState has no map-side combine): ≤ d rows per
    * partition cross the stateful exchange, each carrying its
    * upper-triangle tail block. Batch mode (one micro-batch) equals
    * Pca.MomentAgg's buffer exactly — sums fold associatively — so
    * continuously-maintained registers feed the SAME driver eigensolve
    * (Pca.fit's power iteration) without a second corpus pass.
    * Emits per batch, per dim: (i, n, Σx_i, prods tail j ≥ i). */
  def momentRegisters(vecs: DataFrame, vecCol: String = "embedding")
      : Dataset[(Int, Long, Double, Array[Double])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.select(col(vecCol)).as[Array[Float]]
      .mapPartitions { it =>
        var d = -1
        var n = 0L
        var sums: Array[Double] = null
        var prods: Array[Array[Double]] = null // prods(i)(j - i)
        it.foreach { x =>
          if (d < 0) {
            d = x.length
            sums = new Array[Double](d)
            prods = Array.tabulate(d)(i => new Array[Double](d - i))
          }
          var i = 0
          while (i < d) {
            val xi = x(i).toDouble
            sums(i) += xi
            var j = i
            while (j < d) { prods(i)(j - i) += xi * x(j); j += 1 }
            i += 1
          }
          n += 1
        }
        if (d < 0) Iterator.empty
        else (0 until d).iterator.map(i => (i, n, sums(i), prods(i)))
      }
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double, Array[Double]),
                          (Int, Long, Double, Array[Double])](
        GroupStateTimeout.NoTimeout) {
        (i: Int, batch: Iterator[(Int, Long, Double, Array[Double])],
         state: GroupState[(Long, Double, Array[Double])]) =>
          var (n, s, p) = state.getOption
            .getOrElse((0L, 0.0, null: Array[Double]))
          batch.foreach { case (_, bn, bs, bp) =>
            n += bn; s += bs
            if (p == null) p = bp.clone()
            else { var j = 0; while (j < p.length) { p(j) += bp(j); j += 1 } }
          }
          state.update((n, s, p))
          (i, n, s, p)
      }
  }

  /** Streaming count-min-sketch cells — continuous heavy-hitter
    * counting at ingest: `mapGroupsWithState` keyed by (row, cell),
    * state = ONE Long (the running count). ≤ d·w state rows at any
    * stream length. Batch mode equals TextAnalysis.cmsSketch's cell
    * totals (counts fold associatively). Emits (r, cell, c) per
    * touched cell per batch. */
  def cmsCells(docs: DataFrame, d: Int = 4, w: Int = 64,
               textCol: String = "text"): Dataset[(Int, Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(split(lower(col(textCol)), " ")).as("term"))
      .as[String]
      // two partial-aggs by hand (mapGroupsWithState has no map-side
      // combine of its own): fold TERM counts per partition first, so
      // the d md5 hashes run per distinct-term-per-partition instead of
      // per occurrence (the batch cmsSketch's count-table trick,
      // measured 2.6x there), then fold the hashed (r, cell) counts so
      // ≤ d·w rows per partition cross the stateful exchange.
      // NativeOps.md5Hash60 of "r:term" is bit-identical to the
      // pmod(conv(substring(md5(concat(r, ':', term)))..)) expression.
      .mapPartitions { it =>
        val tc = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { t => tc(t) = tc.getOrElse(t, 0L) + 1L }
        val cells = scala.collection.mutable.HashMap.empty[(Int, Long), Long]
        tc.foreach { case (term, n) =>
          var r = 0
          while (r < d) {
            val h = graft.functions.NativeOps.md5Hash60(
              org.apache.spark.unsafe.types.UTF8String.fromString(r + ":" + term))
            val cell = h % w
            cells((r, cell)) = cells.getOrElse((r, cell), 0L) + n
            r += 1
          }
        }
        cells.iterator.map { case ((r, c), n) => (r, c, n) }
      }
      .groupByKey(t => (t._1, t._2))
      .mapGroupsWithState[Long, (Int, Long, Long)](GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), batch: Iterator[(Int, Long, Long)], state: GroupState[Long]) =>
          var c = state.getOption.getOrElse(0L)
          batch.foreach(c += _._3)
          state.update(c)
          (key._1, key._2, c)
      }
  }
}
