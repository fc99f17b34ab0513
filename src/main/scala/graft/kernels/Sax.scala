package graft.kernels

/** SAX / 1d-SAX symbolization — semantics of
  * `/root/reference/tslearn/piecewise/piecewise.py` and
  * `/root/reference/tslearn/metrics/cysax.pyx`, re-expressed in Scala.
  */
object Sax {

  /** Inverse standard normal CDF, Acklam's rational approximation
    * (~1.15e-9 relative error) — replaces scipy.stats.norm.ppf used for
    * SAX breakpoints (`piecewise.py:34-56`). Public-domain algorithm.
    */
  def normPpf(p: Double, scale: Double = 1.0): Double = {
    require(p > 0.0 && p < 1.0, s"ppf requires 0<p<1, got $p")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pLow = 0.02425
    val x =
      if (p < pLow) {
        val q = math.sqrt(-2 * math.log(p))
        (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
          ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
      } else if (p <= 1 - pLow) {
        val q = p - 0.5
        val r = q * q
        (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
          (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
      } else {
        val q = math.sqrt(-2 * math.log(1 - p))
        -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
          ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
      }
    x * scale
  }

  /** Gaussian breakpoints for nBins symbols — `piecewise.py:34-44`. */
  def breakpoints(nBins: Int, scale: Double = 1.0): Array[Double] =
    Array.tabulate(nBins - 1)(i => normPpf((i + 1).toDouble / nBins, scale))

  /** Per-bin median values (inverse transform) — `piecewise.py:47-56`. */
  def binMedians(nBins: Int, scale: Double = 1.0): Array[Double] =
    Array.tabulate(nBins)(i => normPpf((2 * i + 1).toDouble / (2 * nBins), scale))

  /** Value → symbol: number of breakpoints ≤ value —
    * `_paa_to_symbols` (`piecewise.py:15-31`). */
  @inline def toSymbol(v: Double, bps: Array[Double]): Int = {
    var s = 0
    while (s < bps.length && v >= bps(s)) s += 1
    s
  }

  /** SAX transform: PAA then symbolize each (segment, dim) —
    * `piecewise.py:405-408`. */
  def sax(ts: Kernels.TS, nSegments: Int, alphabetSize: Int): Array[Array[Int]] = {
    val bps = breakpoints(alphabetSize)
    Kernels.paa(ts, nSegments).map(_.map(v => toSymbol(v, bps)))
  }

  /** SAX MINDIST (lower-bounds euclidean on z-normed data) —
    * `cysax.pyx:39-55`: cells differing by ≤1 symbol contribute 0, else
    * (bp[max−1] − bp[min])²; scaled by √(sz/nSeg). */
  def mindist(sax1: Array[Array[Int]], sax2: Array[Array[Int]],
              alphabetSize: Int, originalSz: Int): Double = {
    val bps = breakpoints(alphabetSize)
    var s = 0.0
    var i = 0
    while (i < sax1.length) {
      var k = 0
      while (k < sax1(i).length) {
        val a = sax1(i)(k); val b = sax2(i)(k)
        if (math.abs(a - b) > 1) {
          val df = bps(math.max(a, b) - 1) - bps(math.min(a, b))
          s += df * df
        }
        k += 1
      }
      i += 1
    }
    math.sqrt(s * originalSz.toDouble / sax1.length)
  }

  /** Inverse SAX: symbol → bin median, repeated segSz times —
    * `cysax.pyx` inv_transform_sax. */
  def inverseSax(symbols: Array[Array[Int]], alphabetSize: Int, originalSz: Int): Kernels.TS = {
    val med = binMedians(alphabetSize)
    val nSeg = symbols.length
    val segSz = originalSz / nSeg
    val d = symbols(0).length
    Array.tabulate(originalSz) { t =>
      val seg = math.min(nSeg - 1, t / segSz)
      Array.tabulate(d)(k => med(symbols(seg)(k)))
    }
  }

  /** Inverse PAA (`inv_transform_paa`): each segment mean repeated
    * segSz times. */
  def inversePaa(paa: Kernels.TS, originalSz: Int): Kernels.TS = {
    val nSeg = paa.length
    val segSz = originalSz / nSeg
    val d = paa(0).length
    Array.tabulate(originalSz) { t =>
      val seg = math.min(nSeg - 1, t / segSz)
      Array.tabulate(d)(k => paa(seg)(k))
    }
  }

  /** Inverse 1d-SAX (`inv_transform_1d_sax`, `cysax.pyx:127-151`):
    * reconstruct each segment as avg + slope·(t − t_mid) from the bin
    * medians of the (avg, slope) symbols. */
  def inverse1dSax(symbols: Array[Array[Int]], alphabetAvg: Int, alphabetSlope: Int,
                   sigmaL: Double, originalSz: Int): Kernels.TS = {
    val medAvg = binMedians(alphabetAvg)
    val medSlope = binMedians(alphabetSlope, sigmaL)
    val nSeg = symbols.length
    val segSz = originalSz / nSeg
    val d = symbols(0).length / 2
    Array.tabulate(originalSz) { t =>
      val seg = math.min(nSeg - 1, t / segSz)
      val tMid = seg * segSz + 0.5 * segSz
      Array.tabulate(d)(k =>
        medAvg(symbols(seg)(k)) + medSlope(symbols(seg)(k + d)) * (t - tMid))
    }
  }

  /** Per-segment OLS slope of value on timestep (1d-SAX) —
    * `piecewise.py:653-661`, `cysax.pyx:80-92`. Regression is on the
    * segment's absolute t indices. */
  def segmentSlopes(ts: Kernels.TS, nSegments: Int): Kernels.TS = {
    val sz = ts.length
    val d = ts(0).length
    val segSz = sz / nSegments
    Array.tabulate(nSegments) { s =>
      val start = s * segSz
      Array.tabulate(d) { k =>
        // OLS slope over (t, v) pairs, t in [start, start+segSz)
        var sumT = 0.0; var sumV = 0.0; var sumTV = 0.0; var sumTT = 0.0
        var t = start
        while (t < start + segSz) {
          sumT += t; sumV += ts(t)(k); sumTV += t * ts(t)(k); sumTT += t.toDouble * t
          t += 1
        }
        val n = segSz.toDouble
        val denom = sumTT - sumT * sumT / n
        if (denom == 0.0) 0.0 else (sumTV - sumT * sumV / n) / denom
      }
    }
  }

  /** 1d-SAX distance — `cysax.pyx:95-124`: reconstruct each segment as
    * avg + slope·(t − t_mid) from the (avg, slope) bin medians and
    * accumulate squared differences over the ORIGINAL timesteps. Symbol
    * rows are the [[oneDSax]] layout: d avg symbols then d slope symbols. */
  def dist1dSax(sax1: Array[Array[Int]], sax2: Array[Array[Int]],
                alphabetAvg: Int, alphabetSlope: Int, sigmaL: Double,
                originalSz: Int): Double = {
    require(sax1.length == sax2.length && sax1(0).length == sax2(0).length,
      "1d-SAX distance requires equal symbol shapes")
    val medAvg = binMedians(alphabetAvg)
    val medSlope = binMedians(alphabetSlope, sigmaL)
    val sz = sax1.length
    val d = sax1(0).length / 2
    val segSz = originalSz / sz
    var s = 0.0
    var t = 0
    while (t < sz) {
      val t0 = t * segSz
      val tMid = t0 + 0.5 * segSz
      var di = 0
      while (di < d) {
        val avg1 = medAvg(sax1(t)(di)); val avg2 = medAvg(sax2(t)(di))
        val sl1 = medSlope(sax1(t)(di + d)); val sl2 = medSlope(sax2(t)(di + d))
        var tt = t0
        while (tt < segSz * (t + 1)) {
          val diff = (avg1 - avg2) + (sl1 - sl2) * (tt - tMid)
          s += diff * diff
          tt += 1
        }
        di += 1
      }
      t += 1
    }
    math.sqrt(s)
  }

  /** 1d-SAX transform: (avg symbol, slope symbol) per segment —
    * `piecewise.py:663-678`. Slope breakpoints use N(0, sigmaL). */
  def oneDSax(ts: Kernels.TS, nSegments: Int, alphabetAvg: Int, alphabetSlope: Int,
              sigmaL: Double): Array[Array[Int]] = {
    val bpsAvg = breakpoints(alphabetAvg)
    val bpsSlope = breakpoints(alphabetSlope, sigmaL)
    val avgs = Kernels.paa(ts, nSegments)
    val slopes = segmentSlopes(ts, nSegments)
    val d = ts(0).length
    Array.tabulate(nSegments) { s =>
      val avgSyms = Array.tabulate(d)(k => toSymbol(avgs(s)(k), bpsAvg))
      val slopeSyms = Array.tabulate(d)(k => toSymbol(slopes(s)(k), bpsSlope))
      avgSyms ++ slopeSyms
    }
  }
}
