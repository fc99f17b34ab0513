package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, classic}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import graft.functions.TsFunctions

/** All-pairs metric θ-join machinery — the reference's only join shape
  * (`/root/reference/tslearn/metrics/utils.py:8-85`, SURVEY §2.4).
  *
  * Scale design: the pair space is the product of the two inputs; the
  * small side (centroids, probes, shapelets — almost always ≪ the data)
  * is broadcast so NO shuffle of the big side happens. Self-joins compute
  * the upper triangle only (`a.id < b.id`) and mirror, halving kernel
  * work exactly like `_cdist_generic`'s k=0/1 triangle optimization.
  */
object Cdist {

  /** Cross distance: every row of `left` × every row of `right`, distance
    * via `metric(leftSeries, rightSeries)`. `right` is broadcast — callers
    * put the smaller side there. Output: (left_id, right_id, dist). */
  def cross(left: DataFrame, right: DataFrame, metric: (Column, Column) => Column,
            seriesCol: String = "values"): DataFrame = {
    val l = left.select(col("series_id").as("left_id"), col(seriesCol).as("lv"))
    val r = right.select(col("series_id").as("right_id"), col(seriesCol).as("rv"))
    l.crossJoin(broadcast(r))
      .select(col("left_id"), col("right_id"), metric(col("lv"), col("rv")).as("dist"))
  }

  /** Upper-triangle pairs (left_id < right_id) of the broadcast self-join:
    * the metric is evaluated once per unordered pair, as
    * `metric(lv, rv)` with the lower id on the left. */
  def selfUpper(ds: DataFrame, metric: (Column, Column) => Column,
                seriesCol: String = "values"): DataFrame = {
    val l = ds.select(col("series_id").as("left_id"), col(seriesCol).as("lv"))
    val r = ds.select(col("series_id").as("right_id"), col(seriesCol).as("rv"))
    l.crossJoin(broadcast(r))
      .where(col("left_id") < col("right_id"))
      .select(col("left_id"), col("right_id"), metric(col("lv"), col("rv")).as("dist"))
  }

  /** Symmetric self cross-distance: [[selfUpper]] plus its mirror. The
    * triangle join halves the O(n²) kernel evaluations. Diagonal dist is
    * 0 for true metrics; pass computeDiagonal=false to skip it (as
    * `compute_diagonal` does). */
  def selfCross(ds: DataFrame, metric: (Column, Column) => Column,
                seriesCol: String = "values", computeDiagonal: Boolean = true): DataFrame =
    withMirror(ds, selfUpper(ds, metric, seriesCol), if (computeDiagonal) Some(0.0) else None)

  /** Both orientations of every upper-triangle row plus, when `diagonal`
    * is given, one (id, id, diagonal) row per series. Both rows come out
    * of the ONE evaluated row: a union of `upper` with a column-swapped
    * copy of itself plans the pair join, metric included, once per
    * branch. */
  private def withMirror(ds: DataFrame, upper: DataFrame, diagonal: Option[Double]): DataFrame = {
    val both = upper.select(explode(array(
        struct(col("left_id"), col("right_id"), col("dist")),
        struct(col("right_id").as("left_id"), col("left_id").as("right_id"), col("dist"))
      )).as("p"))
      .select(col("p.left_id"), col("p.right_id"), col("p.dist"))
    val diag = diagonal match {
      case Some(d) =>
        ds.select(col("series_id").as("left_id"), col("series_id").as("right_id"), lit(d).as("dist"))
      case None => ds.sparkSession.emptyDataFrame
        .select(lit(0L).as("left_id"), lit(0L).as("right_id"), lit(0.0).as("dist")).limit(0)
    }
    both.unionAll(diag)
  }

  /** Upper-triangle pairs (left_id < right_id) of the block-partitioned
    * self-join: each row is hashed to one of `blocks` buckets and
    * replicated to the triangle of bucket pairs, so pairs form via an
    * equi-join on the (bucket, bucket) key — shuffle volume is
    * `blocks`·|ds| rows, peak task input 2·|ds|/`blocks` rows, and NO
    * BroadcastExchange of the full relation. Requires a symmetric metric.
    * Pick `blocks` ≈ √(2·parallelism). */
  def selfBlockedUpper(ds: DataFrame, metric: (Column, Column) => Column, blocks: Int,
                       seriesCol: String = "values"): DataFrame = {
    require(blocks >= 1, "blocks must be >= 1")
    val withBlk = ds.select(col("series_id"), col(seriesCol))
      .withColumn("blk", pmod(xxhash64(col("series_id")), lit(blocks)).cast("int"))
    // a row in bucket b takes the LEFT role for pair-blocks (b, j>=b) and
    // the RIGHT role for (i<=b, b): every unordered bucket pair meets once
    val lrep = withBlk.select(col("series_id").as("left_id"),
        col(seriesCol).as("lv"), col("blk").as("pi"))
      .withColumn("pj", explode(sequence(col("pi"), lit(blocks - 1))))
    val rrep = withBlk.select(col("series_id").as("right_id"),
        col(seriesCol).as("rv"), col("blk").as("pj"))
      .withColumn("pi", explode(sequence(lit(0), col("pj"))))
    // shuffle-hash hint: this path exists precisely because the input
    // exceeds broadcast size, so never let the planner's size estimate
    // pick BroadcastHashJoin (sort order is useless here — hash beats merge)
    val joined = lrep.join(rrep.hint("shuffle_hash"), Seq("pi", "pj"))
    // same-bucket pairs: triangle filter; cross-bucket pairs appear exactly
    // once with arbitrary id order — normalize (metric is symmetric)
    val samePairs = joined.where(col("pi") === col("pj") && col("left_id") < col("right_id"))
      .select(col("left_id"), col("right_id"), metric(col("lv"), col("rv")).as("dist"))
    val crossPairs = joined.where(col("pi") =!= col("pj"))
      .select(least(col("left_id"), col("right_id")).as("left_id"),
        greatest(col("left_id"), col("right_id")).as("right_id"),
        metric(col("lv"), col("rv")).as("dist"))
    samePairs.unionAll(crossPairs)
  }

  /** Block-partitioned symmetric self cross-distance for inputs too large
    * to broadcast — [[selfBlockedUpper]] plus the mirror and diagonal.
    * Same output contract as [[selfCross]]. */
  def selfCrossBlocked(ds: DataFrame, metric: (Column, Column) => Column, blocks: Int,
                       seriesCol: String = "values",
                       computeDiagonal: Boolean = true): DataFrame =
    withMirror(ds, selfBlockedUpper(ds, metric, blocks, seriesCol),
      if (computeDiagonal) Some(0.0) else None)

  /** The upper triangle of a symmetric metric's self-join:
    * [[selfUpper]] when `blocks` is 0, [[selfBlockedUpper]] into
    * `blocks` buckets when it is positive. */
  def selfUpperOrBlocked(ds: DataFrame, metric: (Column, Column) => Column, blocks: Int,
                         seriesCol: String = "values"): DataFrame =
    if (blocks > 0) selfBlockedUpper(ds, metric, blocks, seriesCol)
    else selfUpper(ds, metric, seriesCol)

  // ------------------------------------------------ normalized-GAK gram

  /** The column of each series' log self-GAK ([[withLogSelfGak]]), and
    * the name its UDF carries in a plan. */
  val LogSelfGak = "log_self_gak"

  private val logSelfGakUdf = TsFunctions.logGakUdf.withName(LogSelfGak)

  /** The series column of a GAK pair join: struct(v = series, lg = its
    * log self-GAK). */
  private val GakSeries = "gak_series"

  /** `ds` with each series' log self-GAK,
    * `Kernels.logUnnormalizedGak(x, x, σ)` of its `values`, added as
    * column [[LogSelfGak]]: one DP per series, the self term of every
    * pair the series meets. */
  private[graft] def withLogSelfGak(ds: DataFrame, sigma: Double): DataFrame =
    ds.withColumn(LogSelfGak, logSelfGakUdf(col("values"), col("values"), lit(sigma)))

  /** The pair-join side of a frame that carries [[LogSelfGak]]. */
  private def gakSide(withSelf: DataFrame): DataFrame =
    withSelf.select(col("series_id"),
      struct(col("values").as("v"), col(LogSelfGak).as("lg")).as(GakSeries))

  /** One pair of the gram: its one DP, normalised by `Kernels.gakFromLogs`
    * from the two carried self terms. */
  private def gakPair(sigma: Double)(l: Column, r: Column): Column =
    TsFunctions.gakPairUdf(l.getField("v"), l.getField("lg"), r.getField("v"), r.getField("lg"), lit(sigma))

  /** Normalized-GAK cross gram (left_id, right_id, dist) of `left` ×
    * broadcast `right` — `cdist_gak` (`softdtw_variants.py:140-218`).
    * Each series' log self-GAK is computed once per side, below the pair
    * join (the reference's diagonal reuse), and each pair runs one DP;
    * every value is bit-identical to `Kernels.gak` of the pair. */
  def gakCross(left: DataFrame, right: DataFrame, sigma: Double): DataFrame =
    cross(gakSide(withLogSelfGak(left, sigma)), gakSide(withLogSelfGak(right, sigma)),
      gakPair(sigma), GakSeries)

  /** The upper triangle (left_id < right_id) of the normalized-GAK self
    * gram, as [[gakCross]] builds each pair; `blocks` > 0 takes the
    * block-partitioned join ([[selfUpperOrBlocked]]). */
  def gakSelfUpper(ds: DataFrame, sigma: Double, blocks: Int = 0): DataFrame =
    gakSelfUpperOf(withLogSelfGak(ds, sigma), sigma, blocks)

  /** [[gakSelfUpper]] of a frame that already carries each series'
    * [[LogSelfGak]] for this `sigma` ([[withLogSelfGak]]): KernelKMeans
    * checkpoints its fit input with the column, so it pays for the self
    * terms once. */
  private[graft] def gakSelfUpperOf(withSelf: DataFrame, sigma: Double, blocks: Int): DataFrame =
    selfUpperOrBlocked(gakSide(withSelf), gakPair(sigma), blocks, GakSeries)

  /** The full normalized-GAK self gram: [[gakSelfUpper]], its mirror and
    * the diagonal k(x, x) = 1. */
  def gakSelfGram(ds: DataFrame, sigma: Double, blocks: Int = 0): DataFrame =
    withMirror(ds, gakSelfUpper(ds, sigma, blocks), Some(1.0))

  /** Normalized soft-DTW cross-distance:
    * D(x,y) − ½(D(x,x) + D(y,y)) — `cdist_soft_dtw_normalized`
    * (`softdtw_variants.py:451-605`). The self-distances are computed
    * once per side and joined back (the reference's diagonal reuse). */
  def softDtwNormalized(left: DataFrame, right: DataFrame, gamma: Double,
                        seriesCol: String = "values"): DataFrame = {
    import graft.functions.TsFunctions
    val lSelf = left.select(col("series_id").as("left_id"),
      col(seriesCol).as("lv"),
      TsFunctions.softDtwUdf(col(seriesCol), col(seriesCol), lit(gamma)).as("l_self"))
    val rSelf = right.select(col("series_id").as("right_id"),
      col(seriesCol).as("rv"),
      TsFunctions.softDtwUdf(col(seriesCol), col(seriesCol), lit(gamma)).as("r_self"))
    lSelf.crossJoin(broadcast(rSelf))
      .select(col("left_id"), col("right_id"),
        (TsFunctions.softDtwUdf(col("lv"), col("rv"), lit(gamma))
          - (col("l_self") + col("r_self")) / 2).as("dist"))
  }

  /** k-NN: for each probe, the k nearest train series under `metric` —
    * `neighbors/neighbors.py:81-169`. crossJoin(broadcast(train)) + window
    * top-k; ties broken by train id for determinism. */
  def knn(probes: DataFrame, train: DataFrame, k: Int,
          metric: (Column, Column) => Column, seriesCol: String = "values"): DataFrame = {
    val d = cross(probes, train, metric, seriesCol)
    val w = Window.partitionBy(col("left_id")).orderBy(col("dist").asc, col("right_id").asc)
    d.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("left_id").as("probe_id"), col("rank"), col("right_id").as("neighbor_id"), col("dist"))
  }

  /** Train rows up to which the DTW k-NN front doors broadcast their index. */
  private val MaxIndexRows = 100000

  /** Bytes of prepared broadcast indexes that [[indexStore]] holds at once. */
  private val MaxStoredIndexBytes = 64L << 20

  /** The size guard of both DTW k-NN front doors, [[knnDtwPruned]] and
    * [[knnDtwRagged]]. Up to [[MaxIndexRows]] train rows, the whole train
    * index is collected once, broadcast, and scanned per probe row inside
    * one UDF call: the plan adds no exchange (PlanAuditSpec-locked). Past
    * it — where a broadcast index would run the driver out of memory at
    * a 100× train scale-up — each front door takes its tiled twin,
    * [[knnDtwBlocked]] or [[knnDtwRaggedBlocked]]: the train side
    * shuffles into 16 hashed blocks ([[tiledBest]]) and the output is
    * identical (CdistBlockSpec, VariableLengthSpec). All four routes rank
    * by (dist, id) ascending, NaN after every number: the k-slot
    * [[TopK.insert]] on the broadcast side, array_sort merges on the
    * tiled side. limit + count answers "more than MaxIndexRows rows?"
    * without scanning the full relation. A call that finds its index in
    * [[indexStore]] skips the guard: only broadcast indexes are stored. */
  private def fitsIndex(train: DataFrame): Boolean =
    train.select(col("series_id")).limit(MaxIndexRows + 1).count() <= MaxIndexRows

  /** What a broadcast k-NN index depends on besides its train relation:
    * the series column, and for the pruned kind the envelope radius.
    * `k` and `factor` never change an index. */
  private[graft] sealed trait IndexKind
  private[graft] final case class PrunedIndex(seriesCol: String, radius: Int) extends IndexKind
  private[graft] final case class RaggedIndex(seriesCol: String) extends IndexKind

  /** Prepared broadcast k-NN indexes, kept across calls for train
    * relations that Spark's CacheManager holds persisted, so a warm call
    * runs only its query job. An entry is keyed on the identity of its
    * relation's cache builder plus its [[IndexKind]]: a new persist, even
    * of the same plan, and a recache each make a new builder, so an old
    * entry never answers for new data. It holds the broadcast handle
    * only. [[sweep]] drops every entry whose cached RDD is no longer
    * registered with the running SparkContext (unpersisted, recached, or
    * of a stopped context). Entries beyond `capBytes` in total are
    * evicted least recently used first; an index larger than `capBytes`
    * is never stored. An entry that leaves the store while its context
    * runs unpersists its broadcast, which frees the executors' copies
    * but never destroys it: a DataFrame a front door returned holds the
    * broadcast in its UDF and may run again at any later time, so the
    * driver's copy lives until the ContextCleaner finds no such frame. */
  private[graft] final class IndexStore(capBytes: Long) {
    private final class Entry(val builder: AnyRef, val kind: IndexKind, val rdd: RDD[_],
                              val bc: Broadcast[_], val bytes: Long)
    // least recently used first
    private val entries = mutable.ArrayBuffer.empty[Entry]

    private def find(builder: AnyRef, kind: IndexKind): Int =
      entries.indexWhere(e => (e.builder eq builder) && e.kind == kind)

    def get(builder: AnyRef, kind: IndexKind): Option[Broadcast[_]] = synchronized {
      val i = find(builder, kind)
      if (i < 0) None
      else {
        val e = entries.remove(i)
        entries += e
        Some(e.bc)
      }
    }

    /** Stores `bc`, the index of `kind` over the relation cached as
      * `rdd` by `builder`, unless it is over the cap or already stored. */
    def put(builder: AnyRef, kind: IndexKind, rdd: RDD[_], bc: Broadcast[_], bytes: Long): Unit =
      synchronized {
        if (bytes <= capBytes && find(builder, kind) < 0) {
          var total = entries.iterator.map(_.bytes).sum + bytes
          while (total > capBytes) {
            val e = entries.remove(0)
            total -= e.bytes
            e.bc.unpersist()
          }
          entries += new Entry(builder, kind, rdd, bc, bytes)
        }
      }

    def sweep(sc: SparkContext): Unit = synchronized {
      val live = sc.getPersistentRDDs
      entries.filterInPlace { e =>
        val running = e.rdd.sparkContext eq sc
        val valid = running && live.get(e.rdd.id).exists(_ eq e.rdd)
        // a stopped context's broadcast ids are reused by its successor
        if (running && !valid) e.bc.unpersist()
        valid
      }
    }

    /** (kind, bytes, broadcast) of every entry, least recently used first. */
    def snapshot: Seq[(IndexKind, Long, Broadcast[_])] = synchronized {
      entries.map(e => (e.kind, e.bytes, e.bc)).toSeq
    }
  }

  private val indexStore = new IndexStore(MaxStoredIndexBytes)

  /** The entries of the front doors' [[IndexStore]]. */
  private[graft] def storedIndexes: Seq[(IndexKind, Long, Broadcast[_])] = indexStore.snapshot

  /** The broadcast index of a front door, or None when the train side
    * is past [[fitsIndex]] and the tiled twin runs instead. `build`
    * returns the index and its size in bytes; it runs unless the train
    * relation is persisted and [[indexStore]] holds its index of `kind`,
    * and its result is stored when the relation is persisted. */
  private def broadcastIndex[T: ClassTag](train: DataFrame, kind: IndexKind,
                                          build: => (T, Long)): Option[Broadcast[T]] = {
    val sc = train.sparkSession.sparkContext
    indexStore.sweep(sc)
    val builder = (train match {
      case ds: classic.Dataset[_] => ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      case _ => None
    }).map(_.cachedRepresentation.cacheBuilder)
    builder.flatMap(indexStore.get(_, kind)) match {
      case Some(bc) => Some(bc.asInstanceOf[Broadcast[T]])
      case None if !fitsIndex(train) => None
      case None =>
        val (index, bytes) = build
        val bc = sc.broadcast(index)
        builder.foreach(b => indexStore.put(b, kind, b.cachedColumnBuffers, bc, bytes))
        Some(bc)
    }
  }

  /** DTW k-NN with LB_Keogh pre-pruning (equal-length series required for
    * the bound) — the reference's lower-bound optimization
    * (`dtw_variants.py:1224-1296`) as a pre-join filter: the cheap O(n)
    * bound prunes candidates before the O(n²) DTW runs. `factor` keeps
    * k·factor candidates per probe by LB before the exact metric
    * ([[lbSelect]]). Route by train size: [[fitsIndex]]; a persisted
    * train side's index is built once ([[broadcastIndex]]). */
  def knnDtwPruned(probes: DataFrame, train: DataFrame, k: Int, radius: Int,
                   factor: Int = 4, seriesCol: String = "values"): DataFrame =
    broadcastIndex(train, PrunedIndex(seriesCol, radius), prunedIndex(train, radius, seriesCol)) match {
      case Some(bc) => knnDtwBroadcastIndex(probes, bc, k, radius, factor, seriesCol)
      case None => knnDtwBlocked(probes, train, k, radius, factor, seriesCol = seriesCol)
    }

  /** The pruned index: per train series, ascending id, its (id, lower,
    * upper) envelope and its values; and its size in bytes. Envelopes are
    * computed once per train series (O(sz·radius) each), not per pair. */
  private def prunedIndex(train: DataFrame, radius: Int, seriesCol: String)
      : ((Array[(Long, Array[Double], Array[Double])], Array[Array[Double]]), Long) = {
    val spark = train.sparkSession
    import spark.implicits._
    val index = train.select(col("series_id").cast("long"),
        col(seriesCol).cast("array<double>").as("tv"),
        TsFunctions.envelopeUdf(col(seriesCol), lit(radius)).as("env"))
      .select(col("series_id"), col("tv"), col("env._1"), col("env._2"))
      .as[(Long, Array[Double], Array[Double], Array[Double])]
      .collect()
      .sortBy(_._1)
    ((index.map(r => (r._1, r._3, r._4)), index.map(_._2)),
      8L * index.iterator.map(r => 1L + r._2.length + r._3.length + r._4.length).sum)
  }

  private def knnDtwBroadcastIndex(
      probes: DataFrame,
      bc: Broadcast[(Array[(Long, Array[Double], Array[Double])], Array[Array[Double]])],
      k: Int, radius: Int, factor: Int, seriesCol: String): DataFrame = {
    // The train side was ALWAYS the broadcast side of this join — so skip
    // the pair-row materialization entirely: run the whole LB-prune →
    // DTW → top-k per probe inside one kernel call per probe row. Zero
    // shuffles, no n² row stream; each executor scans the index with
    // O(sz) bounds and runs the O(sz·radius) DTW only for the k·factor
    // LB survivors.
    val kf = k * factor
    val knnUdf = udf((lv: scala.collection.Seq[Double]) => {
      val q = lv.toArray
      val (env, series) = bc.value
      cascade(q, keoghSelect(q, env, kf).map { case (lb, i) => (lb, env(i)._1, series(i)) },
        k, radius)
    })
    ranked(probes, col("series_id"), knnUdf(col(seriesCol)), "_1", "_2")
  }

  /** The LB candidate select of both pruned routes: LB_Keogh of `q`
    * against every (id, lower, upper) envelope of `env`, and the `kf`
    * best by [[lbSelect]]. LB_Keogh is UNDEFINED for unequal lengths (the
    * reference raises, `dtw_variants.py:1248-1251`): a silent min-length
    * walk would be a bound of NOTHING and prune true neighbors, so it is
    * rejected loudly. */
  private def keoghSelect(q: Array[Double], env: Array[(Long, Array[Double], Array[Double])],
                          kf: Int): Array[(Double, Int)] =
    lbSelect(env.length, env(_)._1, kf) { i =>
      require(env(i)._2.length == q.length,
        s"LB_Keogh requires equal-length series (probe sz=${q.length}, " +
          s"train id=${env(i)._1} sz=${env(i)._2.length}); " +
          "use Cdist.knnDtwRagged for variable-length input")
      graft.kernels.Kernels.lbKeoghEnv(q, env(i)._2, env(i)._3)
    }

  /** The one LB order of every DTW k-NN route: `bound(i)` of each of `n`
    * candidates, then the `keep` best as (lb, candidate), ascending
    * (lb, id) — lbs by `java.lang.Double.compare` (NaN after every
    * number), ids by `id(i)`. The pruned routes keep k·factor candidates
    * by LB_Keogh; the ragged routes keep all of them, ordered by
    * [[Kernels.lbRagged]]. A bottom-up merge sort of primitive
    * candidate indices: no boxing and no tuple per comparison. */
  private def lbSelect(n: Int, id: Int => Long, keep: Int)(bound: Int => Double)
      : Array[(Double, Int)] = {
    val lbs = new Array[Double](n)
    val ids = new Array[Long](n)
    var i = 0
    while (i < n) { lbs(i) = bound(i); ids(i) = id(i); i += 1 }
    var order = Array.range(0, n)
    var merged = new Array[Int](n)
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var a = lo; var b = mid; var o = lo
        while (o < hi) {
          val takeB = a >= mid || (b < hi && {
            val c = java.lang.Double.compare(lbs(order(b)), lbs(order(a)))
            c < 0 || (c == 0 && ids(order(b)) < ids(order(a)))
          })
          if (takeB) { merged(o) = order(b); b += 1 } else { merged(o) = order(a); a += 1 }
          o += 1
        }
        lo = hi
      }
      val t = order; order = merged; merged = t
      width *= 2
    }
    Array.tabulate(math.min(keep, n))(r => (lbs(order(r)), order(r)))
  }

  /** LB-ordered k-slot early-abandon cascade — the exact pass of every
    * DTW k-NN route. `cands` come ascending (lb, id) from [[lbSelect]];
    * once the k-slot buffer fills, a candidate whose LB exceeds the
    * kth-best distance is skipped outright (dist ≥ lb), and the DP of a
    * survivor abandons past that bound ([[Kernels.dtwFlatEA]], on two DP
    * rows allocated once per call).
    *
    * Both comparisons are strict, and the skip is also conservative by
    * the relative margin (|q| + |c|)·2⁻⁵²: an lb and a DP that are equal
    * in exact arithmetic round apart by up to about (|q| + |c|)·2⁻⁵³
    * relative (each is a sum of that many rounded squares), so without
    * the margin a computed lb could land an ulp above a computed
    * distance that ties the kth best, and skip a candidate the (dist, id)
    * rule must rank (two constant series: LB = DTW). So a candidate
    * TYING the kth best is always computed exactly, and the result is
    * bit-identical to the exhaustive pass it replaces. A NaN kth best
    * (the distance to an empty series) neither skips nor abandons, and
    * any number displaces it ([[TopK.insert]]). */
  private[graft] def cascade(q: Array[Double],
                             cands: scala.collection.Seq[(Double, Long, Array[Double])],
                             k: Int, radius: Int): Array[(Long, Double)] = {
    val b = TopK.Buf(new Array[Long](k), new Array[Double](k), 0)
    val width = cands.iterator.map(_._3.length + 1).maxOption.getOrElse(0)
    val row0 = new Array[Double](width)
    val row1 = new Array[Double](width)
    cands.foreach { case (lb, id, tv) =>
      val bsf = if (b.n == k) b.vs(k - 1) else Double.PositiveInfinity
      if (!(b.n == k && lb * (1 - (q.length + tv.length) * math.ulp(1.0)) > bsf))
        TopK.insert(b, id, graft.kernels.Kernels.dtwFlatEA(q, tv, radius, bsf, row0, row1))
    }
    Array.tabulate(b.n)(i => (b.ids(i), b.vs(i)))
  }

  /** Partitioned-index DTW k-NN for train sides too large to broadcast.
    *
    * Phase 1 is LB-only: the train side's (id, envelope) index is tiled
    * against the probes ([[tiledBest]]; series stay OUT of the index —
    * they are re-joined for the winners only), so shuffle volume is
    * blocks·|probes| + |train| rows, never a pair-space stream and never
    * a full-relation broadcast. The global merge re-slices the per-block
    * LB survivors to the k·factor best by (lb, id) — bit-identical
    * candidate selection to the broadcast path's. Phase 2 equi-joins ONLY
    * those winners' series back by id, regroups per probe, and runs the
    * same LB-ordered early-abandon [[cascade]] as the broadcast path:
    * exact DTW work is ≤ k·factor DPs per probe, each abandoning at the
    * running kth-best. */
  private[graft] def knnDtwBlocked(probes: DataFrame, train: DataFrame, k: Int, radius: Int,
                                   factor: Int = 4, blocks: Int = 16,
                                   seriesCol: String = "values"): DataFrame = {
    val kf = k * factor
    val tEnv = train.select(col("series_id").cast("long").as("id"),
      TsFunctions.envelopeUdf(col(seriesCol), lit(radius)).as("env"))
    // per tile, the survivors as (probe_id, lb, id): array_sort on
    // (lb, id) then reproduces the broadcast path's global selection
    val lbUdf = udf((ps: scala.collection.Seq[(Long, scala.collection.Seq[Double])],
                     idx: scala.collection.Seq[(Long, scala.collection.Seq[Double],
                       scala.collection.Seq[Double])]) => {
      // ARRAYS, not the converter's Seq: the deserialized Seq can be a
      // linked list, and an O(i) apply inside the sort comparator turns
      // the per-probe top-kf into O(n² log n) (measured: every executor
      // thread stuck in List.drop at the sf1 octave)
      val env = idx.iterator.map(r => (r._1, r._2.toArray, r._3.toArray)).toArray
      ps.iterator.flatMap { case (pid, q) =>
        keoghSelect(q.toArray, env, kf).map { case (lb, i) => (pid, lb, env(i)._1) }
      }.toArray
    })
    val winners = tiledBest(probes, tEnv, Seq(col("env._1"), col("env._2")), blocks,
        seriesCol, lbUdf, kf)
      .select(col("probe_id"), explode(col("best")).as("c"))
      .select(col("probe_id"), col("c._1").as("lb"), col("c._2").as("id"))
    val cascadeUdf = udf((q: scala.collection.Seq[Double],
                          cs: scala.collection.Seq[(Double, Long, scala.collection.Seq[Double])]) => {
      val c = cs.toArray
      cascade(q.toArray,
        lbSelect(c.length, c(_)._2, c.length)(c(_)._1)
          .map { case (lb, i) => (lb, c(i)._2, c(i)._3.toArray) },
        k, radius)
    })
    // shuffle_hash on both rejoins: this path exists because train (and
    // possibly probes) exceed broadcast size — never let a toy input
    // bait Catalyst into a broadcast the real scale can't afford
    val cands = winners
      .join(train.select(col("series_id").cast("long").as("id"),
        col(seriesCol).cast("array<double>").as("tv")).hint("shuffle_hash"), Seq("id"))
      .groupBy("probe_id")
      .agg(collect_list(struct(col("lb").as("_1"), col("id").as("_2"),
        col("tv").as("_3"))).as("cs"))
      .join(probes.select(col("series_id").cast("long").as("probe_id"),
        col(seriesCol).cast("array<double>").as("q")).hint("shuffle_hash"), Seq("probe_id"))
    ranked(cands, col("probe_id"), cascadeUdf(col("q"), col("cs")), "_1", "_2")
  }

  /** Exact DTW k-NN for RAGGED input (sz1 ≠ sz2). LB_Keogh is undefined
    * for unequal lengths (the reference raises,
    * `dtw_variants.py:1248-1251`; VARIABLE_LENGTH_METRICS admits dtw
    * itself, `metrics/__init__.py:29`), so these routes order candidates
    * by [[Kernels.lbRagged]] instead — corners plus each value's distance
    * to the other series' value range, valid for any two lengths and any
    * band. Every (probe, train) pair enters the k-slot [[cascade]] in
    * (lb, id) order: once the kth best falls below a candidate's bound
    * the DP is skipped, otherwise it abandons at the running kth best,
    * and tie-ranking stays (dist, id) bit-identical to an exhaustive
    * pass. radius < 0 = unconstrained DTW (Sakoe-Chiba on ragged pairs
    * widens the band by |sz1−sz2|, a different semantics — callers opt
    * in explicitly). Route by train size: [[fitsIndex]]; a persisted
    * train side's index is built once ([[broadcastIndex]]). */
  def knnDtwRagged(probes: DataFrame, train: DataFrame, k: Int, radius: Int = -1,
                   seriesCol: String = "values"): DataFrame =
    broadcastIndex(train, RaggedIndex(seriesCol), raggedIndex(train, seriesCol)) match {
      case Some(bc) =>
        val knnUdf = udf((lv: scala.collection.Seq[Double]) =>
          raggedKnn(lv.toArray, bc.value, k, radius))
        ranked(probes, col("series_id"), knnUdf(col(seriesCol)), "_1", "_2")
      case None => knnDtwRaggedBlocked(probes, train, k, radius, seriesCol = seriesCol)
    }

  /** Train series of a ragged route: ids, values, and each series' value
    * range [lo, hi] for [[Kernels.lbRagged]]. */
  private final case class RaggedSeries(ids: Array[Long], series: Array[Array[Double]],
                                       lo: Array[Double], hi: Array[Double])

  /** The (id, tv, lo, hi) rows of both ragged routes' indexes: `lo` and
    * `hi` are `array_min` / `array_max` of the series (NaN ranks above
    * every number; an empty series, whose lb is 0, reads 0). */
  private def raggedRows(train: DataFrame, seriesCol: String): DataFrame = {
    val tv = col(seriesCol).cast("array<double>")
    train.select(col("series_id").cast("long").as("id"), tv.as("tv"),
      coalesce(array_min(tv), lit(0.0)).as("lo"), coalesce(array_max(tv), lit(0.0)).as("hi"))
  }

  /** The exact pass of both ragged routes: the top-k of `q` over every
    * series of `t`, through the [[cascade]] in (lb, id) order by
    * [[Kernels.lbRagged]]. */
  private def raggedKnn(q: Array[Double], t: RaggedSeries, k: Int,
                        radius: Int): Array[(Long, Double)] = {
    val (qLo, qHi) =
      if (q.isEmpty) (0.0, 0.0)
      else (q.reduce((a, b) => math.min(a, b)), q.reduce((a, b) => math.max(a, b)))
    val order = lbSelect(t.ids.length, t.ids(_), t.ids.length) { i =>
      graft.kernels.Kernels.lbRagged(q, qLo, qHi, t.series(i), t.lo(i), t.hi(i))
    }
    cascade(q, order.map { case (lb, i) => (lb, t.ids(i), t.series(i)) }, k, radius)
  }

  /** The ragged index: every train series, ascending id, with its value
    * range; and its size in bytes (8 per id, value and range end). */
  private def raggedIndex(train: DataFrame, seriesCol: String): (RaggedSeries, Long) = {
    val spark = train.sparkSession
    import spark.implicits._
    val rows = raggedRows(train, seriesCol).as[(Long, Array[Double], Double, Double)]
      .collect().sortBy(_._1)
    (RaggedSeries(rows.map(_._1), rows.map(_._2), rows.map(_._3), rows.map(_._4)),
      8L * rows.iterator.map(3L + _._2.length).sum)
  }

  /** Tiled no-broadcast variant of [[knnDtwRagged]]: the same tiling as
    * [[knnDtwBlocked]] ([[tiledBest]]) over (id, series, lo, hi) block
    * entries; each tile runs the same LB-ordered cascade per probe
    * against the block's series and emits that tile's exact top-k. The
    * global merge keeps the k best of the k·blocks survivors per probe
    * on (dist, id) — exact, and output-identical to the broadcast route
    * (VariableLengthSpec). */
  private[graft] def knnDtwRaggedBlocked(probes: DataFrame, train: DataFrame, k: Int,
                                         radius: Int, blocks: Int = 16,
                                         seriesCol: String = "values"): DataFrame = {
    val tileUdf = udf((ps: scala.collection.Seq[(Long, scala.collection.Seq[Double])],
                       idx: scala.collection.Seq[
                         (Long, scala.collection.Seq[Double], Double, Double)]) => {
      // arrays up front: the converter's Seq can be a linked list and
      // O(i) applies amplify quadratically inside the cascade loop
      val rows = idx.toArray
      val t = RaggedSeries(rows.map(_._1), rows.map(_._2.toArray), rows.map(_._3), rows.map(_._4))
      ps.iterator.flatMap { case (pid, q) =>
        raggedKnn(q.toArray, t, k, radius).map { case (id, d) => (pid, d, id) }
      }.toArray
    })
    ranked(tiledBest(probes, raggedRows(train, seriesCol), Seq(col("tv"), col("lo"), col("hi")),
        blocks, seriesCol, tileUdf, k),
      col("probe_id"), col("best"), "_2", "_1")
  }

  /** The probe × train tiling of both no-broadcast routes. `train` rows
    * (an `id` plus whatever `fields` read) hash into `blocks` blocks,
    * each collected as one `idx` array of struct(id, fields…), and
    * probes hash into chunks collected as `ps` = array of
    * struct(probe_id, q). `scan(ps, idx)` runs once per (chunk × block)
    * tile and returns (probe_id, key, id) survivors; the merge keeps the
    * `keep` best per probe as `best` = array of struct(key, id),
    * ascending (key, id) — array_sort, NaN after every number.
    *
    * One UDF call per tile decodes the block index ONCE per tile pair,
    * not once per probe row — per-row decode of a thousand-entry struct
    * array was the measured bottleneck at the sf1 octave (5 effective
    * threads, minutes of pure deserialization). The block side is
    * salted: `blocks` alone is too few join keys to occupy a fleet
    * (measured: 5 busy threads of 32 at the sf1 octave), so each block
    * row replicates `salt`× and a probe chunk joins exactly the replica
    * at chk % salt — every tile pair still meets exactly once, over
    * blocks·salt ≥ 4·parallelism keys. The join is shuffle-hash: these
    * routes exist because train exceeds broadcast size. */
  private def tiledBest(probes: DataFrame, train: DataFrame, fields: Seq[Column], blocks: Int,
                        seriesCol: String, scan: UserDefinedFunction, keep: Int): DataFrame = {
    require(blocks >= 1, "blocks must be >= 1")
    val parallelism = train.sparkSession.sparkContext.defaultParallelism
    val salt = math.max(1, (4 * parallelism + blocks - 1) / blocks)
    val entry = (col("id") +: fields).zipWithIndex.map { case (c, i) => c.as(s"_${i + 1}") }
    val tIdx = train
      .withColumn("blk", pmod(xxhash64(col("id")), lit(blocks)).cast("int"))
      .groupBy("blk")
      .agg(collect_list(struct(entry: _*)).as("idx"))
      .withColumn("slt", explode(sequence(lit(0), lit(salt - 1))))
    val chunks = math.max(32, parallelism * 4)
    val pChunks = probes
      .select(col("series_id").cast("long").as("probe_id"),
        col(seriesCol).cast("array<double>").as("q"))
      .withColumn("chk", pmod(xxhash64(col("probe_id")), lit(chunks)).cast("int"))
      .groupBy("chk")
      .agg(collect_list(struct(col("probe_id").as("_1"), col("q").as("_2"))).as("ps"))
      .withColumn("blk", explode(sequence(lit(0), lit(blocks - 1))))
      .withColumn("slt", pmod(col("chk"), lit(salt)).cast("int"))
    pChunks.join(tIdx.hint("shuffle_hash"), Seq("blk", "slt"))
      .select(explode(scan(col("ps"), col("idx"))).as("c"))
      .select(col("c._1").as("probe_id"),
        struct(col("c._2").as("_1"), col("c._3").as("_2")).as("c"))
      .groupBy("probe_id")
      .agg(slice(array_sort(collect_list(col("c"))), 1, keep).as("best"))
  }

  /** The (probe_id, rank, neighbor_id, dist) output of every DTW k-NN
    * route: one row per element of the per-probe `hits` array, rank
    * 1-based in array order, id and dist read from the named fields. */
  private def ranked(rows: DataFrame, probeId: Column, hits: Column,
                     idField: String, distField: String): DataFrame =
    rows.select(probeId.as("probe_id"), posexplode(hits).as(Seq("rank0", "hit")))
      .select(col("probe_id"), (col("rank0") + 1).as("rank"),
        col(s"hit.$idField").as("neighbor_id"), col(s"hit.$distField").as("dist"))
}
