package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Distributed matrix profile for ONE very long series — the scale
  * path for `matrix_profile.py:184-199` semantics (non-normalized
  * euclidean, exclusion band ⌈m/4⌉).
  *
  * Layout: the series is a DataFrame of (idx, v) rows, so no single node
  * ever holds it. Subsequence space splits into `blockSize`-wide tiles;
  * each tile pulls one segment of blockSize+m−1 points, and every tile
  * PAIR (bi <= bj) is one task that sweeps the pair's diagonals with an
  * O(1) rolling squared-distance update (d²(i+1,j+1) = d²(i,j) −
  * (x_i−x_j)² + (x_{i+m}−x_{j+m})²) in [[tileMinima]], so a pair costs
  * O(blockSize² + blockSize·m) instead of O(blockSize²·m). A final
  * groupBy(i).min + sqrt folds the per-pair partial minima.
  * [[matrixProfileTiled]] sweeps every diagonal; [[matrixProfileDiagBand]]
  * sweeps one diagonal band (the anytime / chunked form), optionally
  * against segments built once by [[segmentSeries]].
  */
object MatrixProfileDist {

  /** Cross-tile minima kernel of every tiled sweep.
    * Tile A holds subsequences [aIdx0, aIdx0+aLen) with values `va`
    * (aLen+m-1 points); tile B likewise, with bIdx0 >= aIdx0. Sweeps
    * every global diagonal g = j−i > band that intersects the tile
    * pair with the O(1) rolling squared-distance update, returning
    * per-row SQUARED minima for both tiles
    * (PositiveInfinity where the pair contributes nothing — e.g. the
    * band-excluded corner of adjacent tiles). Self pairs (aIdx0 ==
    * bIdx0) fall out naturally: only g > band sweeps run and each
    * update feeds both sides of the pair. */
  private[operators] def tileMinima(va: Array[Double], aIdx0: Long, aLen: Int,
                                    vb: Array[Double], bIdx0: Long, bLen: Int,
                                    m: Int, band: Int,
                                    gLo: Long = Long.MinValue,
                                    gHi: Long = Long.MaxValue): (Array[Double], Array[Double]) = {
    val minsA = Array.fill(aLen)(Double.PositiveInfinity)
    val minsB = Array.fill(bLen)(Double.PositiveInfinity)
    val delta = bIdx0 - aIdx0 // >= 0 by contract
    // offset o = jj - ii (tile-local); global diagonal g = delta + o;
    // [gLo, gHi] further restricts the swept diagonals (the chunked /
    // anytime path) — defaults sweep everything past the band
    var g = math.max(math.max(band + 1L, delta - (aLen - 1)), gLo)
    val gMax = math.min(delta + (bLen - 1), gHi)
    while (g <= gMax) {
      val o = (g - delta).toInt
      val lo = math.max(0, -o)
      val hi = math.min(aLen, bLen - o)
      if (lo < hi) {
        var sq = 0.0
        var k = 0
        while (k < m) {
          val df = va(lo + k) - vb(lo + o + k)
          sq += df * df
          k += 1
        }
        var ii = lo
        while (ii < hi) {
          if (sq < minsA(ii)) minsA(ii) = sq
          if (sq < minsB(ii + o)) minsB(ii + o) = sq
          if (ii + 1 < hi) {
            val dOld = va(ii) - vb(ii + o)
            val dNew = va(ii + m) - vb(ii + o + m)
            sq += dNew * dNew - dOld * dOld
          }
          ii += 1
        }
      }
      g += 1
    }
    (minsA, minsB)
  }

  /** Tiled matrix profile over a DISTRIBUTED series: (i, mp) rows for
    * every subsequence start. Input is a DataFrame of
    * (idx: Long, v: Double) rows, idx contiguous from 0.
    *
    * SCAMP-style decomposition: subsequence space splits into
    * `blockSize`-wide tiles; every tile PAIR (bi <= bj) is one task that
    * pulls just its two segments (blockSize+m−1 points each), sweeps the
    * pair's diagonals with the O(1) rolling update, and emits
    * per-row partial minima; a final groupBy(idx).min + sqrt folds the
    * (n/B) partials per row. Costs: segments move through one shuffle
    * replicated (n/B)× — total (n²/B + n·m) values on the wire — and
    * the partial-min fold shuffles n·(n/B) rows (map-side combined), in
    * exchange for O(blockSize) peak memory per task and no
    * driver/broadcast bottleneck. Pick blockSize so
    * n/blockSize ≈ 4× total cores; bigger tiles cut replication
    * quadratically in exchange for per-task memory. */
  def matrixProfileTiled(spark: SparkSession, series: DataFrame, m: Int,
                         blockSize: Int = 65536): DataFrame =
    tiledImpl(spark, series, m, blockSize, Long.MinValue, Long.MaxValue)

  /** ANYTIME / CHUNKED matrix profile: the exact profile RESTRICTED to
    * global diagonals g = j − i in (gFrom, gTo] (always further
    * intersected with g > band, the exclusion zone). This is the
    * formulation past ~10⁹ points, where even the tiled full sweep is
    * one unbounded O(n²) job: diagonal-band chunks
    * (band, band+W], (band+W, band+2W], … are each a bounded O(n·W)
    * job, chunks fold by element-wise min (sqrt is monotone, so folding
    * the sqrt'd outputs is exact), and after k chunks the fold IS the
    * exact matrix profile of the first k·W diagonals — a valid upper
    * bound on the true profile that only tightens, which is the anytime
    * property: stop whenever the time budget ends, resume by running
    * the next chunk, no state beyond the folded result. On real series
    * nearest neighbors concentrate at small |j − i| (temporal
    * locality), so early chunks capture most true minima; the fold is
    * exact regardless once all chunks run. Rows untouched by the band
    * are absent from the output (fold with an outer-min).
    *
    * Chunk cost: only tile pairs whose diagonal span intersects the
    * band are generated — W ≤ blockSize touches just the ~2·n/B
    * adjacent pairs, so the per-chunk task count is flat in the number
    * of chunks and total work over all chunks equals one full tiled
    * sweep (each diagonal swept exactly once). */
  def matrixProfileDiagBand(spark: SparkSession, series: DataFrame, m: Int,
                            gFrom: Long, gTo: Long,
                            blockSize: Int = 65536): DataFrame = {
    require(gTo > gFrom, s"empty diagonal band ($gFrom, $gTo]")
    tiledImpl(spark, series, m, blockSize, gFrom + 1, gTo)
  }

  /** Precomputed segment relation for a chunked/anytime run (VERDICT
    * r14 #4). Building `segs` is a full explode + shuffle + sort over
    * the series; the r14 10⁸-point probe attributed its ~1.4× per-cell
    * overhead vs the flat tiled rate to rebuilding that relation (and
    * folding the output) EVERY chunk — at the 10⁹-point / ~30 500-chunk
    * design point the rebuild would be the dominant term. Build once,
    * sweep any number of diagonal bands against it.
    *
    * `segs` is persisted MEMORY_AND_DISK (disk-spilling: a 10⁹-point
    * segment relation is ~8 GB plus overlap) but NOT materialized —
    * the first chunk pays the one build. For cross-SESSION resume,
    * write `segs` to parquet (bucketed by seg if the table is managed)
    * and reload — the constructor is public, so
    * `SegmentedSeries(reloadedSegs, nPoints, m, blockSize)` resumes
    * against any (seg, vals) relation regardless of origin. Call
    * `unpersist()` when the run is complete. */
  final case class SegmentedSeries(segs: DataFrame, nPoints: Long, m: Int,
                                   blockSize: Int) {
    def unpersist(): Unit = segs.unpersist()
  }

  /** Segment a distributed (idx, v) series once for repeated
    * diagonal-band sweeps. */
  def segmentSeries(series: DataFrame, m: Int, blockSize: Int = 65536): SegmentedSeries = {
    import org.apache.spark.sql.functions.{col, max}
    val nPoints = series.agg(max(col("idx"))).head().getLong(0) + 1
    require(nPoints >= 2L * m, "series shorter than two windows")
    val n = nPoints - m + 1
    val nBlocks = ((n + blockSize - 1) / blockSize).toInt
    val segs = segmentsPlan(series, m, blockSize, nBlocks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    SegmentedSeries(segs, nPoints, m, blockSize)
  }

  /** Diagonal-band chunk over a PREBUILT segment relation: identical
    * output to the series-input form, minus the per-chunk segment
    * rebuild. */
  def matrixProfileDiagBand(spark: SparkSession, seg: SegmentedSeries,
                            gFrom: Long, gTo: Long): DataFrame = {
    require(gTo > gFrom, s"empty diagonal band ($gFrom, $gTo]")
    sweepBand(spark, seg.segs, seg.nPoints, seg.m, seg.blockSize, gFrom + 1, gTo)
  }

  /** The (seg, vals) relation: segment `seg` holds the blockSize+m−1
    * values its tile needs. Each VALUE feeds the segment of its own
    * block and, when it sits in the first m−1 positions of a block, the
    * previous block's overlap. */
  private def segmentsPlan(series: DataFrame, m: Int, b: Int, nBlocks: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val ext = m - 1
    // Aggregate with ~ONE segment group per task, not shuffle.partitions
    // tasks each holding nBlocks/partitions group buffers at once: the
    // object-hash aggregate keeps every group of its partition LIVE
    // (boxed collect_list buffers, ~50 B/point), so at 10⁹ points the
    // 32-partition local default held ~100 GB of buffers and OOM'd a
    // 110 g heap — while per-group state is only ~b·50 B. Repartitioning
    // by seg to ~nBlocks satisfies the aggregation's distribution (no
    // second exchange) and bounds per-task agg state to ~one group at
    // any n. Small series keep their session default (max with
    // shuffle.partitions); the cap keeps task counts sane past ~10¹¹
    // points.
    val aggParts = math.max(series.sparkSession.sessionState.conf.numShufflePartitions,
      math.min(nBlocks, 16384))
    series
      .select(col("idx"), col("v"), explode(array(
        floor(col("idx") / b).cast("long"),
        when(pmod(col("idx"), lit(b.toLong)) < ext,
          floor(col("idx") / b).cast("long") - 1))).as("seg"))
      .where(col("seg").isNotNull && col("seg") >= 0 && col("seg") < nBlocks)
      .repartition(aggParts, col("seg"))
      .groupBy("seg")
      .agg(sort_array(collect_list(struct(col("idx"), col("v")))).as("pts"))
      .select(col("seg"),
        transform(col("pts"), p => p.getField("v")).as("vals"))
  }

  private def tiledImpl(spark: SparkSession, series: DataFrame, m: Int,
                        blockSize: Int, gLo: Long, gHi: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val b = blockSize
    val nPoints = series.agg(max(col("idx"))).head().getLong(0) + 1
    require(nPoints >= 2L * m, "series shorter than two windows")
    val n = nPoints - m + 1 // subsequence count
    val nBlocks = ((n + b - 1) / b).toInt
    val segs = segmentsPlan(series, m, b, nBlocks)
    sweepBand(spark, segs, nPoints, m, b, gLo, gHi)
  }

  /** Sweep diagonals g ∈ [gLo, gHi] (∩ g > band) of the tile-pair
    * relation against a segment relation. */
  private def sweepBand(spark: SparkSession, segs: DataFrame, nPoints: Long,
                        m: Int, blockSize: Int, gLo: Long, gHi: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val b = blockSize
    val n = nPoints - m + 1 // subsequence count
    val band = math.ceil(m / 4.0).toInt
    val nBlocks = ((n + b - 1) / b).toInt
    // tile-pair relation: (bi, bj) with bi <= bj — one Range row per bi
    // exploding its bj tail. No join: the Range×Range non-equi form
    // plans as a cartesian/nested-loop at Spark's whim, and a
    // driver-side list stops scaling at large nBlocks (pairs grow as
    // nBlocks²/2); this stays distributed at any block count.
    // A diagonal band restricts the bj window: pair (bi, bj) spans
    // g ∈ [Δ·b − (b−1), Δ·b + b−1] with Δ = bj − bi, so only
    // Δ ∈ [⌈(gLo−(b−1))/b⌉, ⌊(gHi+(b−1))/b⌋] can intersect [gLo, gHi] —
    // chunk task counts stay flat in the number of chunks.
    val loD = if (gLo == Long.MinValue) 0L
      else math.max(0L, math.ceil((gLo - (b - 1)).toDouble / b).toLong)
    val hiD = if (gHi >= n) nBlocks - 1L
      else math.min(nBlocks - 1L, (gHi + (b - 1)) / b)
    // partition count: a full sweep's pairs cost ~uniformly (b² cells
    // each) and 2× cores is right; a NARROW diagonal band makes pair
    // cost bimodal (a self/near pair sweeps ~W·b cells, a far-delta
    // pair almost nothing), and hashing ~nBlocks·Δ rows into 2× cores
    // leaves a straggler tail of stacked heavy pairs (measured: the
    // 10⁸-point chunk probe ran with only 8/32 cores busy). One task
    // per pair bounds the tail at a single heavy pair.
    val bandNarrow = hiD - loD < 4
    val nPairTasks =
      if (bandNarrow) {
        // EXACT pair count, not the (hiD−loD+1)·nBlocks upper bound: bi
        // near nBlocks−1 has a truncated bj window, so the bound can
        // overshoot by ~2× — and flooring at defaultParallelism off an
        // overshoot stacks multiple heavy pairs per task on small
        // clusters, weakening the documented one-task-per-pair bound
        // (ADVICE r14). Driver loop is O(nBlocks) — ~15 k at 10⁹ points.
        val exactPairs = (0L until nBlocks.toLong).foldLeft(0L) { (acc, bi) =>
          val lo = bi + loD
          if (lo > nBlocks - 1L) acc
          else acc + (math.min(nBlocks - 1L, bi + hiD) - lo + 1L)
        }
        math.max(1L, math.min(exactPairs, 4096L)).toInt
      } else spark.sparkContext.defaultParallelism * 2
    val pairs = spark.range(nBlocks).select(col("id").as("bi"))
      .where(col("bi") + loD <= nBlocks - 1L)
      .select(col("bi"),
        explode(sequence(col("bi") + loD,
          least(lit(nBlocks - 1L), col("bi") + hiD))).as("bj"))
      .repartition(nPairTasks)
    pairs
      .join(segs.select(col("seg").as("bi"), col("vals").as("va")), "bi")
      .join(segs.select(col("seg").as("bj"), col("vals").as("vb")), "bj")
      .select(col("bi"), col("bj"), col("va"), col("vb"))
      .as[(Long, Long, Array[Double], Array[Double])]
      .flatMap { case (bi, bj, va, vb) =>
        val a0 = bi * b; val aLen = (math.min(n, a0 + b) - a0).toInt
        val b0 = bj * b; val bLen = (math.min(n, b0 + b) - b0).toInt
        val (ma, mb) = tileMinima(va, a0, aLen, vb, b0, bLen, m, band, gLo, gHi)
        // self pairs: ma holds each in-tile pair's smaller index, mb its
        // larger — merge element-wise before the infinity filter
        if (bi == bj)
          (0 until aLen).iterator
            .map(ii => (a0 + ii, math.min(ma(ii), mb(ii))))
            .filter(!_._2.isInfinity)
        else
          (0 until aLen).iterator
            .filter(ii => !ma(ii).isInfinity).map(ii => (a0 + ii, ma(ii))) ++
          (0 until bLen).iterator
            .filter(jj => !mb(jj).isInfinity).map(jj => (b0 + jj, mb(jj)))
      }
      .toDF("i", "sq")
      .groupBy("i")
      .agg(sqrt(greatest(min(col("sq")), lit(0.0))).as("mp"))
  }
}
