package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.UserDefinedFunction
import graft.kernels.{Advanced, Kernels, Mask, Ncc, Sax}

/** Spark SQL surface of the kernel library.
  *
  * Two tiers, per SURVEY.md §4.2:
  *  - pure-Column higher-order-function ops (z-norm, min-max, PAA, SAX
  *    symbols, resample, envelopes) — these stay inside whole-stage
  *    codegen, shuffle nothing, and prune to the scanned columns;
  *  - Scala-UDF metric kernels (DTW/GAK/softDTW/LCSS/NCC…) for the
  *    sequential DPs Catalyst can't express. Kernels are registered once
  *    per session; a custom Expression (doGenCode) is the measured next
  *    step if ser/de shows up in profiles.
  */
object TsFunctions {

  private type S = scala.collection.Seq[Double]
  private type SS = scala.collection.Seq[scala.collection.Seq[Double]]

  @inline private def toTs(s: SS): Kernels.TS = {
    val out = new Array[Array[Double]](s.length)
    var i = 0
    while (i < s.length) { out(i) = s(i).toArray; i += 1 }
    out
  }
  @inline private def uniTs(s: S): Kernels.TS = {
    val out = new Array[Array[Double]](s.length)
    var i = 0
    while (i < s.length) { out(i) = Array(s(i)); i += 1 }
    out
  }

  // ------------------------------------------------------------- UDFs
  // Univariate (ARRAY<DOUBLE>) fast-path versions; the multivariate
  // (ARRAY<ARRAY<DOUBLE>>) versions carry the `_mv` suffix.

  val dtwUdf: UserDefinedFunction =
    udf((a: S, b: S) => Kernels.dtw(uniTs(a), uniTs(b)))
  val dtwMvUdf: UserDefinedFunction =
    udf((a: SS, b: SS) => Kernels.dtw(toTs(a), toTs(b)))
  // full multivariate metric surface — every kernel DP is (sz, d)-native,
  // so the _mv variants are just the ARRAY<ARRAY<DOUBLE>> bindings
  val euclideanMvUdf: UserDefinedFunction =
    udf((a: SS, b: SS) => Kernels.euclidean(toTs(a), toTs(b)))
  val lcssMvUdf: UserDefinedFunction =
    udf((a: SS, b: SS, eps: Double) => Kernels.lcss(toTs(a), toTs(b), eps))
  val gakMvUdf: UserDefinedFunction =
    udf((a: SS, b: SS, sigma: Double) => Kernels.gak(toTs(a), toTs(b), sigma))
  val softDtwMvUdf: UserDefinedFunction =
    udf((a: SS, b: SS, gamma: Double) => Kernels.softDtw(toTs(a), toTs(b), gamma))
  val sbdMvUdf: UserDefinedFunction =
    udf((a: SS, b: SS) => Ncc.sbd(toTs(a), toTs(b)))
  val dtwSakoeUdf: UserDefinedFunction =
    udf((a: S, b: S, r: Int) =>
      Kernels.dtw(uniTs(a), uniTs(b), Mask.sakoeChiba(a.length, b.length, r)))
  val dtwItakuraUdf: UserDefinedFunction =
    udf((a: S, b: S, slope: Double) =>
      Kernels.dtw(uniTs(a), uniTs(b), Mask.itakura(a.length, b.length, slope)))
  val sqEuclideanUdf: UserDefinedFunction =
    udf((a: S, b: S) => Kernels.sqEuclidean(uniTs(a), uniTs(b)))
  val euclideanUdf: UserDefinedFunction =
    udf((a: S, b: S) => Kernels.euclidean(uniTs(a), uniTs(b)))
  val lcssUdf: UserDefinedFunction =
    udf((a: S, b: S, eps: Double) => Kernels.lcss(uniTs(a), uniTs(b), eps))
  val gakUdf: UserDefinedFunction =
    udf((a: S, b: S, sigma: Double) => Kernels.gak(uniTs(a), uniTs(b), sigma))
  val logGakUdf: UserDefinedFunction =
    udf((a: S, b: S, sigma: Double) => Kernels.logUnnormalizedGak(uniTs(a), uniTs(b), sigma))
  /** Normalized GAK of a pair from its two log self-GAKs `la` and `lb`:
    * one DP per pair (the gram builders of `Cdist`). */
  val gakPairUdf: UserDefinedFunction =
    udf((a: S, la: Double, b: S, lb: Double, sigma: Double) =>
      Kernels.gakFromLogs(Kernels.logUnnormalizedGak(uniTs(a), uniTs(b), sigma), la, lb))
  val softDtwUdf: UserDefinedFunction =
    udf((a: S, b: S, gamma: Double) => Kernels.softDtw(uniTs(a), uniTs(b), gamma))
  val sbdUdf: UserDefinedFunction =
    udf((a: S, b: S) => Ncc.sbd(uniTs(a), uniTs(b)))
  val lbKeoghUdf: UserDefinedFunction =
    udf((q: S, c: S, r: Int) => Kernels.lbKeogh(q.toArray, c.toArray, r))
  val dtwPathUdf: UserDefinedFunction =
    udf((a: S, b: S) => {
      val (path, dist) = Kernels.dtwPath(uniTs(a), uniTs(b))
      (path.map(p => Array(p._1, p._2)), dist)
    })
  val lcssPathUdf: UserDefinedFunction =
    udf((a: S, b: S, eps: Double) => {
      val (path, sim) = Advanced.lcssPath(uniTs(a), uniTs(b), eps)
      (path.map(p => Array(p._1, p._2)), sim)
    })
  /** dtw_path_from_metric with cityblock local cost (univariate):
    * raw accumulated cost, not sqrt'd (`dtw_variants.py:201-381`). */
  val dtwCityblockUdf: UserDefinedFunction =
    udf((a: S, b: S) => Advanced.dtwPathFromMetric(uniTs(a), uniTs(b),
      (x, y) => math.abs(x(0) - y(0)))._2)
  val ctwUdf: UserDefinedFunction =
    udf((a: S, b: S) => Advanced.ctw(uniTs(a), uniTs(b)))
  val ctwFixedUdf: UserDefinedFunction =
    udf((a: S, b: S, rounds: Int) => Advanced.ctwFixed(uniTs(a), uniTs(b), rounds))
  val softDtwAlignmentValueUdf: UserDefinedFunction =
    udf((a: S, b: S, gamma: Double) => {
      val (e, v) = Kernels.softDtwAlignment(uniTs(a), uniTs(b), gamma)
      (e.map(_.toSeq), v)
    })
  /** soft-DTW gradient wrt the first series (univariate): the backward
    * pass the soft-DTW barycenter descends on (`soft_dtw_fast.pyx:69-104`). */
  val softDtwGradUdf: UserDefinedFunction =
    udf((a: S, b: S, gamma: Double) =>
      Kernels.softDtwGrad(uniTs(a), uniTs(b), gamma)._2.map(_(0)).toSeq)
  val dtwSubseqUdf: UserDefinedFunction =
    udf((q: S, l: S) => Kernels.dtwSubsequencePath(uniTs(q), uniTs(l))._2)
  /** Subsequence match end position + distance: the path's last long-series
    * index is the kernel's strict-< argmin over the free last row (lowest
    * j wins ties). */
  val dtwSubseqMatchUdf: UserDefinedFunction =
    udf((q: S, l: S) => {
      val (path, d) = Kernels.dtwSubsequencePath(uniTs(q), uniTs(l))
      (path.last._2, d)
    })
  val ldtwUdf: UserDefinedFunction =
    udf((a: S, b: S, maxLength: Int) =>
      Advanced.dtwLimitedWarpingLength(uniTs(a), uniTs(b), maxLength))
  val ldtwPathUdf: UserDefinedFunction =
    udf((a: S, b: S, maxLength: Int) => {
      val (path, dist) = Advanced.dtwLimitedWarpingLengthPath(uniTs(a), uniTs(b), maxLength)
      (path.map(p => Array(p._1, p._2)), dist)
    })
  /** 1d-SAX symbols (d avg symbols then d slope symbols per segment). */
  val oneDSaxUdf: UserDefinedFunction =
    udf((s: S, nSeg: Int, aAvg: Int, aSlope: Int, sigmaL: Double) =>
      Sax.oneDSax(uniTs(s), nSeg, aAvg, aSlope, sigmaL).map(_.toSeq))
  /** 1d-SAX distance over symbol arrays (cysax.pyx:95-124). */
  val dist1dSaxUdf: UserDefinedFunction =
    udf((a: scala.collection.Seq[scala.collection.Seq[Int]],
         b: scala.collection.Seq[scala.collection.Seq[Int]],
         aAvg: Int, aSlope: Int, sigmaL: Double, originalSz: Int) =>
      Sax.dist1dSax(a.map(_.toArray).toArray, b.map(_.toArray).toArray,
        aAvg, aSlope, sigmaL, originalSz))
  /** Inverse transforms (`piecewise.py` inverse_transform surfaces):
    * PAA segment means repeated back to the original length
    * (`inv_transform_paa`), SAX bin medians (`inv_transform_sax`),
    * 1d-SAX avg + slope·(t − t_mid) reconstruction
    * (`inv_transform_1d_sax`, `cysax.pyx:127-151`). Each runs the full
    * kernel transform + inverse in one call per row. */
  val inversePaaUdf: UserDefinedFunction =
    udf((s: S, nSeg: Int) =>
      Sax.inversePaa(Kernels.paa(uniTs(s), nSeg), s.length).map(_(0)))
  val inverseSaxUdf: UserDefinedFunction =
    udf((s: S, nSeg: Int, alpha: Int) =>
      Sax.inverseSax(Sax.sax(uniTs(s), nSeg, alpha), alpha, s.length).map(_(0)))
  val inverse1dSaxUdf: UserDefinedFunction =
    udf((s: S, nSeg: Int, aAvg: Int, aSlope: Int, sigmaL: Double) =>
      Sax.inverse1dSax(Sax.oneDSax(uniTs(s), nSeg, aAvg, aSlope, sigmaL),
        aAvg, aSlope, sigmaL, s.length).map(_(0)))
  /** lcss_path_from_metric with a cityblock local metric
    * (`dtw_variants.py:1693-1879`) on multivariate rows — distinct from
    * the default euclidean gate only for d ≥ 2 (any monotone 1-D metric
    * is threshold-equivalent). Returns the raw LCS length. */
  val lcssMvCityblockUdf: UserDefinedFunction =
    udf((a: SS, b: SS, eps: Double) =>
      Advanced.lcssPathFromMetric(toTs(a), toTs(b), eps,
        (x, y) => {
          var s = 0.0; var k = 0
          while (k < x.length) { s += math.abs(x(k) - y(k)); k += 1 }
          s
        })._1.length)
  val matrixProfileUdf: UserDefinedFunction =
    udf((s: S, m: Int, scale: Boolean) => Kernels.matrixProfile(s.toArray, m, scale))
  val matrixProfileIdxUdf: UserDefinedFunction =
    udf((s: S, m: Int, scale: Boolean, decimals: Int) =>
      Kernels.matrixProfileWithIndex(s.toArray, m, scale, decimals))
  val saxUdf: UserDefinedFunction =
    udf((s: S, nSeg: Int, alpha: Int) => Sax.sax(uniTs(s), nSeg, alpha).map(_(0)))
  val saxMindistUdf: UserDefinedFunction =
    udf((a: scala.collection.Seq[Int], b: scala.collection.Seq[Int], alpha: Int, sz: Int) =>
      Sax.mindist(a.map(Array(_)).toArray, b.map(Array(_)).toArray, alpha, sz))
  val resampleUdf: UserDefinedFunction =
    udf((s: S, target: Int) => Kernels.resample(uniTs(s), target).map(_(0)))
  /** Per-series z-norm as ONE kernel call per row. Prefer this over the
    * Column tsZNorm in operator pipelines: a higher-order-function tree
    * wrapped around another expensive expression gets inlined by Catalyst
    * into every lambda reference and re-evaluates it per array element
    * (measured 10x slowdown on the kNN pipeline). */
  val znormUdf: UserDefinedFunction =
    udf((s: S) => Kernels.scaleMeanVariance(uniTs(s)).map(_(0)))
  val minmaxUdf: UserDefinedFunction =
    udf((s: S) => Kernels.scaleMinMax(uniTs(s)).map(_(0)))
  /** Resample then z-norm in one kernel call (common pipeline prefix). */
  val resampleZnormUdf: UserDefinedFunction =
    udf((s: S, target: Int) =>
      Kernels.scaleMeanVariance(Kernels.resample(uniTs(s), target)).map(_(0)))
  /** L2-normalize a vector in one pass (pre-join materialization for
    * cosine pair joins). */
  val l2NormalizeUdf: UserDefinedFunction =
    udf((s: S) => {
      var n = 0.0; var i = 0
      while (i < s.length) { n += s(i) * s(i); i += 1 }
      val inv = if (n == 0.0) 0.0 else 1.0 / math.sqrt(n)
      val out = new Array[Double](s.length)
      i = 0
      while (i < s.length) { out(i) = s(i) * inv; i += 1 }
      out
    })
  /** Per-series sliding min/max envelope in one call: returns
    * struct(low, up) (LB_Keogh precompute — one pass per series, not per
    * pair). */
  val envelopeUdf: UserDefinedFunction =
    udf((s: S, r: Int) => {
      val (low, up) = Kernels.lbEnvelope(s.toArray, r)
      (low, up)
    })

  /** Register every kernel for SQL use. Idempotent. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("ts_dtw", dtwUdf)
    spark.udf.register("ts_dtw_mv", dtwMvUdf)
    spark.udf.register("ts_euclidean_mv", euclideanMvUdf)
    spark.udf.register("ts_lcss_mv", lcssMvUdf)
    spark.udf.register("ts_gak_mv", gakMvUdf)
    spark.udf.register("ts_softdtw_mv", softDtwMvUdf)
    spark.udf.register("ts_sbd_mv", sbdMvUdf)
    spark.udf.register("ts_dtw_sakoe", dtwSakoeUdf)
    spark.udf.register("ts_dtw_itakura", dtwItakuraUdf)
    spark.udf.register("ts_euclidean", euclideanUdf)
    spark.udf.register("ts_sqeuclidean", sqEuclideanUdf)
    spark.udf.register("ts_lcss", lcssUdf)
    spark.udf.register("ts_lcss_path", lcssPathUdf)
    spark.udf.register("ts_ctw", ctwUdf)
    spark.udf.register("ts_softdtw_alignment", softDtwAlignmentValueUdf)
    spark.udf.register("ts_gak", gakUdf)
    spark.udf.register("ts_log_gak", logGakUdf)
    spark.udf.register("ts_softdtw", softDtwUdf)
    spark.udf.register("ts_softdtw_grad", softDtwGradUdf)
    spark.udf.register("ts_sbd", sbdUdf)
    spark.udf.register("ts_lb_keogh", lbKeoghUdf)
    spark.udf.register("ts_dtw_subseq", dtwSubseqUdf)
    spark.udf.register("ts_dtw_subseq_match", dtwSubseqMatchUdf)
    spark.udf.register("ts_ldtw", ldtwUdf)
    spark.udf.register("ts_matrix_profile", matrixProfileUdf)
    spark.udf.register("ts_sax", saxUdf)
    spark.udf.register("ts_sax_mindist", saxMindistUdf)
    spark.udf.register("ts_resample", resampleUdf)
    spark.udf.register("ts_znorm", znormUdf)
    spark.udf.register("ts_minmax", minmaxUdf)
    spark.udf.register("ts_resample_znorm", resampleZnormUdf)
  }

  // ---------------------------------------- pure-Column array ops
  // All operate on univariate ARRAY<DOUBLE> columns, codegen-friendly,
  // no shuffle (per-row math only).

  /** Per-series mean of an array column. */
  def tsMean(c: Column): Column =
    aggregate(c, lit(0.0), (acc, x) => acc + x) / size(c)

  /** Population stddev of an array column (zero→1 guard, matching
    * `preprocessing.py:204-298`). */
  def tsStd(c: Column): Column = {
    val n = size(c)
    val mu = tsMean(c)
    val variance = aggregate(c, lit(0.0), (acc, x) => acc + (x - mu) * (x - mu)) / n
    val sd = sqrt(variance)
    when(sd === 0.0, 1.0).otherwise(sd)
  }

  /** Per-series z-normalization (TimeSeriesScalerMeanVariance). */
  def tsZNorm(c: Column, mu: Double = 0.0, std: Double = 1.0): Column = {
    val m = tsMean(c)
    val s = tsStd(c)
    transform(c, x => (x - m) / s * lit(std) + lit(mu))
  }

  /** All length-m stride-1 sliding windows of an array column; a series
    * shorter than m yields no windows (unguarded, sequence(0, size−m)
    * turns descending and slice(start=0) throws). */
  def tsSlidingWindows(c: Column, m: Int): Column =
    when(size(c) >= m,
      transform(sequence(lit(0), size(c) - m), i => slice(c, i + 1, lit(m))))
      .otherwise(array())

  // ------------------------------------------------ embedding helpers

  /** Dot product of two double-array columns. Native expression over the
    * primitive Tungsten buffers: the HOF zip_with+aggregate form allocates
    * a zipped array and evaluates a lambda per element, and a Scala UDF
    * boxes both arrays per call — at 10⁷ pairs in a cosine self-join the
    * boxing alone was the dominant cost (GC-bound, 5–20× run-to-run
    * variance). Same left-fold element order, so values are bit-identical
    * to the former forms. */
  def vecDot(a: Column, b: Column): Column =
    NativeExpressions.dotNative(a, b)

  def vecNorm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity between two array columns (one native pass). */
  def cosineSim(a: Column, b: Column): Column =
    NativeExpressions.cosineNative(a, b)
}
