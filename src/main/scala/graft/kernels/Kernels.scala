package graft.kernels

/** Pure-Scala, Spark-free time-series kernels over `Array[Array[Double]]`
  * (a series is `ts(t)(dim)`; ragged lengths are native — no NaN padding).
  *
  * These re-express the semantics of the reference's numba/Cython kernels
  * (citations per function) but are written Spark-first: score-only DPs use
  * O(min(sz)) rolling buffers, constraints are index bounds (no mask
  * matrices), and GAK accumulates in log-space for 100TB-scale numerical
  * stability (the reference multiplies raw probabilities and underflows on
  * long series, `/root/reference/tslearn/metrics/softdtw_variants.py:22-36`).
  */
object Kernels {
  type TS = Array[Array[Double]]

  val Inf: Double = Double.PositiveInfinity

  /** ‖x−y‖² over dims — `dtw_variants.py:15-21`. */
  @inline def localSqDist(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0
    var d = 0
    val n = x.length
    while (d < n) { val diff = x(d) - y(d); s += diff * diff; d += 1 }
    s
  }

  /** Univariate convenience: wrap a flat series as (sz, 1). */
  def uni(xs: Array[Double]): TS = xs.map(Array(_))
  def uni(xs: Double*): TS = xs.toArray.map(Array(_))

  // ---------------------------------------------------------------- DTW

  /** DTW score with optional global constraint —
    * `dtw_variants.py:24-82,384-465`. Score-only: two-row rolling DP,
    * O(sz1·sz2) time (O(sz1·r) banded), O(sz2) space.
    */
  def dtw(s1: TS, s2: TS, bounds: Bounds): Double = {
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return Double.NaN
    var prev = Array.fill(l2 + 1)(Inf)
    var cur = Array.fill(l2 + 1)(Inf)
    prev(0) = 0.0
    var i = 1
    while (i <= l1) {
      java.util.Arrays.fill(cur, Inf)
      val lo = bounds.lo(i - 1); val hi = bounds.hi(i - 1)
      var j = lo + 1
      val jEnd = hi + 1
      while (j <= jEnd) {
        val d = localSqDist(s1(i - 1), s2(j - 1))
        var m = prev(j)          // (i-1, j)
        val a = cur(j - 1)       // (i, j-1)
        if (a < m) m = a
        val b = prev(j - 1)      // (i-1, j-1)
        if (b < m) m = b
        cur(j) = d + m
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    math.sqrt(prev(l2))
  }

  def dtw(s1: TS, s2: TS): Double = dtw(s1, s2, Mask.none(s1.length, s2.length))

  /** Univariate flat-array DTW (no per-timestep array wrappers) with
    * early abandonment — the one score DP behind the native Catalyst
    * expression, k-means' DTW assignment and the kNN cascades. radius < 0
    * means unconstrained; radius ≥ 0 applies the Sakoe-Chiba band.
    * An infinite or NaN cutoff never abandons: the exact distance.
    * Otherwise this is the UCR-suite cascade the reference reaches via LB
    * pruning (`dtw_variants.py:1224-1296`): every warping path crosses
    * every row of the DP, so the minimum of an accumulated row (within
    * the band) lower-bounds the final cost; once sqrt(that minimum)
    * strictly exceeds the cutoff the exact distance is provably > cutoff
    * and the DP stops. Returns PositiveInfinity on abandonment (callers
    * read it as "worse than the current kth best"), else the exact
    * distance. Abandonment is STRICT (>): a candidate tying the cutoff is
    * computed exactly, so (dist, id) tie-ranking downstream is
    * unchanged. */
  def dtwFlatEA(a: Array[Double], b: Array[Double], radius: Int, cutoff: Double): Double = {
    val width = b.length + 1
    dtwFlatEA(a, b, radius, cutoff, new Array[Double](width), new Array[Double](width))
  }

  /** [[dtwFlatEA]] on two caller-owned DP rows, each at least
    * `b.length + 1` long, so a caller running many DPs allocates them
    * once. What the rows hold on entry is never read: each row fills
    * only its band of [[Mask.sakoeChiba]] (every column when radius < 0),
    * computed inline, and resets to +Inf only the two cells outside the
    * band that it or the next row reads: the one left of the band and
    * the one past its end. The bands of consecutive rows start and end
    * at most one column apart, so every cell a row reads is in a band
    * or one of those reset cells. */
  private[graft] def dtwFlatEA(a: Array[Double], b: Array[Double], radius: Int, cutoff: Double,
                               row0: Array[Double], row1: Array[Double]): Double = {
    val l1 = a.length; val l2 = b.length
    if (l1 == 0 || l2 == 0) return Double.NaN
    // row i's band is [i − wLo, i + wHi] clipped to the columns; a radius
    // past both lengths (or none) admits every column
    val r = if (radius < 0) math.max(l1, l2) else math.min(radius, math.max(l1, l2))
    val wLo = if (l1 <= l2) r else l1 - l2 + r
    val wHi = if (l1 <= l2) l2 - l1 + r else r
    val abandon = !(cutoff.isNaN || cutoff.isInfinity)
    var prev = row0
    var cur = row1
    // DP row 0 (1-shifted): the origin, then +Inf under row 1's band
    prev(0) = 0.0
    java.util.Arrays.fill(prev, 1, math.min(l2 - 1, wHi) + 2, Inf)
    var i = 1
    while (i <= l1) {
      val lo = math.max(0, i - 1 - wLo)
      val hi = math.min(l2 - 1, i - 1 + wHi)
      cur(lo) = Inf
      if (hi + 2 <= l2) cur(hi + 2) = Inf
      val ai = a(i - 1)
      var rowMin = Inf
      var j = lo + 1
      val jEnd = hi + 1
      while (j <= jEnd) {
        val diff = ai - b(j - 1)
        var m = prev(j)
        if (cur(j - 1) < m) m = cur(j - 1)
        if (prev(j - 1) < m) m = prev(j - 1)
        val v = diff * diff + m
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      // compare in DISTANCE space: cutoff² can round BELOW the true
      // squared cost of an exact tie (sqrt-then-square loses ulps) and
      // abandon a candidate the tie rule must keep; IEEE sqrt is
      // correctly rounded and monotone, so sqrt(rowMin) > cutoff fires
      // only when the final distance strictly exceeds the cutoff
      if (abandon && math.sqrt(rowMin) > cutoff) return Double.PositiveInfinity
      val t = prev; prev = cur; cur = t
      i += 1
    }
    math.sqrt(prev(l2))
  }

  /** A lower bound of [[dtwFlatEA]]`(x, y, r, _)` for ANY two lengths and
    * any radius r. Every warping path holds both corner cells and at least
    * one cell in each row and each column, so
    * LB(x, y) = √((x₀−y₀)² + (x_last−y_last)² + Σ₀<ᵢ<last dist(xᵢ, [yLo, yHi])²)
    * bounds it whenever [yLo, yHi] holds y's values, and so does LB(y, x);
    * this is their max (LB_Kim's corners, Kim et al. ICDE 2001, plus
    * LB_Yi's range, Yi et al. ICDE 1998). An inner NaN value or a NaN
    * range end adds 0 to the sum, so a range over the non-NaN values only
    * (Spark's `array_min`) still bounds every finite DP result: a finite
    * result is the cost of a path whose every cell is finite. 0 when
    * either series has fewer than two points (one point is both
    * corners) and when the bound is NaN (an infinity meeting the same
    * infinity at a corner). */
  def lbRagged(x: Array[Double], xLo: Double, xHi: Double,
               y: Array[Double], yLo: Double, yHi: Double): Double = {
    if (x.length < 2 || y.length < 2) return 0.0
    val lb = math.sqrt(math.max(lbRangeSq(x, y, yLo, yHi), lbRangeSq(y, x, xLo, xHi)))
    if (lb.isNaN) 0.0 else lb
  }

  /** LB(x, y)² of [[lbRagged]]: both corners, then each inner x value's
    * squared distance to [lo, hi]. */
  private def lbRangeSq(x: Array[Double], y: Array[Double], lo: Double, hi: Double): Double = {
    val d0 = x(0) - y(0)
    val dn = x(x.length - 1) - y(y.length - 1)
    var s = d0 * d0 + dn * dn
    var i = 1
    while (i < x.length - 1) {
      val v = x(i)
      if (v < lo) { val d = lo - v; s += d * d }
      else if (v > hi) { val d = v - hi; s += d * d }
      i += 1
    }
    s
  }

  /** Full accumulated cost matrix (squared costs), (sz1+1)×(sz2+1), for
    * path backtracking — `dtw_variants.py:24-57`. */
  def dtwAccumulated(s1: TS, s2: TS, bounds: Bounds): Array[Array[Double]] = {
    val l1 = s1.length; val l2 = s2.length
    val cum = Array.fill(l1 + 1, l2 + 1)(Inf)
    cum(0)(0) = 0.0
    var i = 1
    while (i <= l1) {
      val lo = bounds.lo(i - 1); val hi = bounds.hi(i - 1)
      var j = lo + 1
      while (j <= hi + 1) {
        val d = localSqDist(s1(i - 1), s2(j - 1))
        var m = cum(i - 1)(j)
        if (cum(i)(j - 1) < m) m = cum(i)(j - 1)
        if (cum(i - 1)(j - 1) < m) m = cum(i - 1)(j - 1)
        cum(i)(j) = d + m
        j += 1
      }
      i += 1
    }
    cum
  }

  /** Backtrack on the (1-shifted) accumulated matrix; diagonal preferred on
    * ties, matching `_return_path` (`dtw_variants.py:86-106`). */
  private[kernels] def returnPath(cum: Array[Array[Double]]): Array[(Int, Int)] = {
    var i = cum.length - 1
    var j = cum(0).length - 1
    val path = scala.collection.mutable.ArrayBuffer((i - 1, j - 1))
    while (i > 1 || j > 1) {
      if (i == 1) j -= 1
      else if (j == 1) i -= 1
      else {
        val diag = cum(i - 1)(j - 1); val up = cum(i - 1)(j); val left = cum(i)(j - 1)
        if (diag <= up && diag <= left) { i -= 1; j -= 1 }
        else if (up <= left) i -= 1
        else j -= 1
      }
      path += ((i - 1, j - 1))
    }
    path.reverse.toArray
  }

  /** DTW with optimal alignment path — `dtw_variants.py:109-198`. */
  def dtwPath(s1: TS, s2: TS, bounds: Bounds): (Array[(Int, Int)], Double) = {
    val cum = dtwAccumulated(s1, s2, bounds)
    (returnPath(cum), math.sqrt(cum(s1.length)(s2.length)))
  }

  def dtwPath(s1: TS, s2: TS): (Array[(Int, Int)], Double) =
    dtwPath(s1, s2, Mask.none(s1.length, s2.length))

  // ------------------------------------------------- subsequence DTW

  /** Open-begin open-end DTW of `subseq` within `longseq` —
    * `dtw_variants.py:746-903`. Row 0 of the cost matrix is the raw local
    * cost (any start position is free). */
  def subsequenceCostMatrix(subseq: TS, longseq: TS): Array[Array[Double]] = {
    val l1 = subseq.length; val l2 = longseq.length
    val cum = Array.ofDim[Double](l1, l2)
    var j = 0
    while (j < l2) { cum(0)(j) = localSqDist(subseq(0), longseq(j)); j += 1 }
    var i = 1
    while (i < l1) {
      cum(i)(0) = cum(i - 1)(0) + localSqDist(subseq(i), longseq(0))
      j = 1
      while (j < l2) {
        var m = cum(i - 1)(j)
        if (cum(i - 1)(j - 1) < m) m = cum(i - 1)(j - 1)
        if (cum(i)(j - 1) < m) m = cum(i)(j - 1)
        cum(i)(j) = localSqDist(subseq(i), longseq(j)) + m
        j += 1
      }
      i += 1
    }
    cum
  }

  /** Best match path + distance — `dtw_variants.py:851-903`. */
  def dtwSubsequencePath(subseq: TS, longseq: TS): (Array[(Int, Int)], Double) = {
    val cum = subsequenceCostMatrix(subseq, longseq)
    val l1 = subseq.length; val l2 = longseq.length
    var best = 0; var j = 1
    while (j < l2) { if (cum(l1 - 1)(j) < cum(l1 - 1)(best)) best = j; j += 1 }
    // backtrack from (l1-1, best) until i == 0
    var i = l1 - 1; j = best
    val path = scala.collection.mutable.ArrayBuffer((i, j))
    while (i > 0) {
      if (j == 0) i -= 1
      else {
        val diag = cum(i - 1)(j - 1); val up = cum(i - 1)(j); val left = cum(i)(j - 1)
        if (diag <= up && diag <= left) { i -= 1; j -= 1 }
        else if (up <= left) i -= 1
        else j -= 1
      }
      path += ((i, j))
    }
    (path.reverse.toArray, math.sqrt(cum(l1 - 1)(best)))
  }

  // ---------------------------------------------------------------- LCSS

  /** LCSS similarity in [0,1] with ε-matching — `dtw_variants.py:1370-1460`.
    * Full int DP (rolling rows), normalized by min length. */
  def lcss(s1: TS, s2: TS, eps: Double, bounds: Bounds): Double = {
    val l1 = s1.length; val l2 = s2.length
    var prev = new Array[Int](l2 + 1)
    var cur = new Array[Int](l2 + 1)
    var i = 1
    while (i <= l1) {
      java.util.Arrays.fill(cur, 0)
      val lo = bounds.lo(i - 1); val hi = bounds.hi(i - 1)
      var j = 1
      while (j <= l2) {
        if (j - 1 >= lo && j - 1 <= hi) {
          if (math.sqrt(localSqDist(s1(i - 1), s2(j - 1))) <= eps)
            cur(j) = 1 + prev(j - 1)
          else
            cur(j) = math.max(cur(j - 1), prev(j))
        } else cur(j) = 0
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(l2).toDouble / math.min(l1, l2)
  }

  def lcss(s1: TS, s2: TS, eps: Double = 1.0): Double =
    lcss(s1, s2, eps, Mask.none(s1.length, s2.length))

  // ---------------------------------------------------------------- GAK

  /** log(2−exp(g)) − g Gaussian-kernel term; log-space Gram entry.
    * Matches `_gak_gram` (`softdtw_variants.py:39-42`). */
  @inline private def logGakKernel(sqd: Double, sigma: Double): Double = {
    val g = -sqd / (2.0 * sigma * sigma)
    g - math.log(2.0 - math.exp(g))
  }

  @inline private def logSumExp3(a: Double, b: Double, c: Double): Double = {
    var m = a; if (b > m) m = b; if (c > m) m = c
    if (m == Double.NegativeInfinity) Double.NegativeInfinity
    else m + math.log(math.exp(a - m) + math.exp(b - m) + math.exp(c - m))
  }

  /** log of the unnormalized GAK (`njit_gak`, `softdtw_variants.py:22-36`)
    * — sum-product DP done in log-space so 100k-step series don't
    * underflow. */
  def logUnnormalizedGak(s1: TS, s2: TS, sigma: Double): Double = {
    val l1 = s1.length; val l2 = s2.length
    val NegInf = Double.NegativeInfinity
    var prev = Array.fill(l2 + 1)(NegInf)
    var cur = Array.fill(l2 + 1)(NegInf)
    prev(0) = 0.0
    var i = 1
    while (i <= l1) {
      java.util.Arrays.fill(cur, NegInf)
      var j = 1
      while (j <= l2) {
        val lg = logGakKernel(localSqDist(s1(i - 1), s2(j - 1)), sigma)
        cur(j) = logSumExp3(prev(j), cur(j - 1), prev(j - 1)) + lg
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(l2)
  }

  def unnormalizedGak(s1: TS, s2: TS, sigma: Double = 1.0): Double =
    math.exp(logUnnormalizedGak(s1, s2, sigma))

  /** The GAK normalisation, k(x,y) = exp(l12 − ½(l11 + l22)), from the
    * log unnormalized GAK of the pair (`l12`) and of each series with
    * itself. Every normalized-GAK value in the engine comes through here,
    * so a gram whose self terms are computed once per series is
    * bit-identical to [[gak]]. */
  @inline def gakFromLogs(l12: Double, l11: Double, l22: Double): Double =
    math.exp(l12 - 0.5 * (l11 + l22))

  /** Normalized GAK: k(x,x) = 1 — `softdtw_variants.py:96-137`. */
  def gak(s1: TS, s2: TS, sigma: Double = 1.0): Double =
    gakFromLogs(logUnnormalizedGak(s1, s2, sigma),
      logUnnormalizedGak(s1, s1, sigma), logUnnormalizedGak(s2, s2, sigma))

  // ------------------------------------------------------------- softDTW

  /** Soft-min of three values at temperature γ (γ=0 → hard min) —
    * `soft_dtw_fast.pyx:23-37`. */
  @inline def softMin3(a: Double, b: Double, c: Double, gamma: Double): Double = {
    if (gamma == 0.0) {
      var m = a; if (b < m) m = b; if (c < m) m = c; m
    } else {
      val na = -a / gamma; val nb = -b / gamma; val nc = -c / gamma
      var m = na; if (nb > m) m = nb; if (nc > m) m = nc
      if (m == Double.NegativeInfinity) return Inf
      val t = math.exp(na - m) + math.exp(nb - m) + math.exp(nc - m)
      -gamma * (math.log(t) + m)
    }
  }

  /** soft-DTW value (can be negative) — `softdtw_variants.py:316-448`,
    * forward DP `soft_dtw_fast.pyx:40-66`. Score-only rolling DP. */
  def softDtw(s1: TS, s2: TS, gamma: Double = 1.0): Double = {
    val l1 = s1.length; val l2 = s2.length
    var prev = Array.fill(l2 + 1)(Double.MaxValue)
    var cur = Array.fill(l2 + 1)(Double.MaxValue)
    prev(0) = 0.0
    var i = 1
    while (i <= l1) {
      cur(0) = Double.MaxValue
      var j = 1
      while (j <= l2) {
        val d = localSqDist(s1(i - 1), s2(j - 1))
        cur(j) = d + softMin3(prev(j), prev(j - 1), cur(j - 1), gamma)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(l2)
  }

  /** soft-DTW value + gradient wrt s1 — forward/backward DP pair
    * (`soft_dtw_fast.pyx:40-104`, jacobian `:107-117`). Used by the
    * soft-DTW barycenter's L-BFGS driver loop. */
  /** soft-DTW value + full alignment matrix E (expected alignment weights,
    * `soft_dtw_alignment`, `softdtw_variants.py:377-448`): E(i)(j) is the
    * soft alignment mass on cell (i, j). */
  def softDtwAlignment(s1: TS, s2: TS, gamma: Double): (Array[Array[Double]], Double) = {
    val (value, e) = softDtwForwardBackward(s1, s2, gamma)
    val m = s1.length; val n = s2.length
    (Array.tabulate(m)(i => Array.tabulate(n)(j => e(i + 1)(j + 1))), value)
  }

  def softDtwGrad(s1: TS, s2: TS, gamma: Double): (Double, TS) = {
    val (value, e) = softDtwForwardBackward(s1, s2, gamma)
    val m = s1.length; val n = s2.length
    // jacobian product for squared euclidean: G[i] = SUM_j E[i+1][j+1] * 2(x_i - y_j)
    val d = s1(0).length
    val grad = Array.ofDim[Double](m, d)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < n) {
        val ee = e(i + 1)(j + 1)
        var k = 0
        while (k < d) { grad(i)(k) += ee * 2.0 * (s1(i)(k) - s2(j)(k)); k += 1 }
        j += 1
      }
      i += 1
    }
    (value, grad)
  }

  /** Shared forward R / backward E pass of soft-DTW (`_soft_dtw` /
    * `_soft_dtw_grad`, `soft_dtw_fast.pyx:40-104`). */
  private def softDtwForwardBackward(s1: TS, s2: TS, gamma: Double): (Double, Array[Array[Double]]) = {
    val m = s1.length; val n = s2.length
    val D = Array.ofDim[Double](m + 1, n + 1)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < n) { D(i)(j) = localSqDist(s1(i), s2(j)); j += 1 }
      i += 1
    }
    // forward
    val R = Array.ofDim[Double](m + 2, n + 2)
    i = 0
    while (i <= m + 1) { java.util.Arrays.fill(R(i), 0.0); i += 1 }
    i = 0
    while (i <= m) { R(i)(0) = Double.MaxValue; i += 1 }
    var j = 0
    while (j <= n) { R(0)(j) = Double.MaxValue; j += 1 }
    R(0)(0) = 0.0
    i = 1
    while (i <= m) {
      j = 1
      while (j <= n) {
        R(i)(j) = D(i - 1)(j - 1) + softMin3(R(i - 1)(j), R(i - 1)(j - 1), R(i)(j - 1), gamma)
        j += 1
      }
      i += 1
    }
    val value = R(m)(n)
    // backward (E matrix), per _soft_dtw_grad
    val E = Array.ofDim[Double](m + 2, n + 2)
    i = 1
    while (i <= m) { D(i - 1)(n) = 0.0; R(i)(n + 1) = Double.MinValue; i += 1 }
    j = 1
    while (j <= n) { D(m)(j - 1) = 0.0; R(m + 1)(j) = Double.MinValue; j += 1 }
    E(m + 1)(n + 1) = 1.0
    R(m + 1)(n + 1) = R(m)(n)
    D(m)(n) = 0.0
    val g = if (gamma == 0.0) 1e-10 else gamma // γ=0 grad undefined; nudge
    j = n
    while (j >= 1) {
      i = m
      while (i >= 1) {
        val a = math.exp((R(i + 1)(j) - R(i)(j) - D(i)(j - 1)) / g)
        val b = math.exp((R(i)(j + 1) - R(i)(j) - D(i - 1)(j)) / g)
        val c = math.exp((R(i + 1)(j + 1) - R(i)(j) - D(i)(j)) / g)
        E(i)(j) = E(i + 1)(j) * a + E(i)(j + 1) * b + E(i + 1)(j + 1) * c
        i -= 1
      }
      j -= 1
    }
    (value, E)
  }

  // ------------------------------------------- LB_Keogh / envelope

  /** Sliding min/max envelope of radius r (univariate) —
    * `dtw_variants.py:1299-1367`. Returns (low, up). */
  def lbEnvelope(ts: Array[Double], radius: Int): (Array[Double], Array[Double]) = {
    val n = ts.length
    val low = new Array[Double](n)
    val up = new Array[Double](n)
    var i = 0
    while (i < n) {
      var mn = Inf; var mx = -Inf
      var j = math.max(0, i - radius)
      val end = math.min(n - 1, i + radius)
      while (j <= end) {
        if (ts(j) < mn) mn = ts(j)
        if (ts(j) > mx) mx = ts(j)
        j += 1
      }
      low(i) = mn; up(i) = mx
      i += 1
    }
    (low, up)
  }

  /** LB_Keogh lower bound of DTW (requires equal sizes) —
    * `dtw_variants.py:1224-1296`. */
  def lbKeogh(query: Array[Double], candidate: Array[Double], radius: Int): Double = {
    require(query.length == candidate.length, "LB_Keogh requires equal-size series")
    val (low, up) = lbEnvelope(candidate, radius)
    lbKeoghEnv(query, low, up)
  }

  /** LB_Keogh against a precomputed envelope — the per-pair O(sz) band
    * check when the candidate's envelope is amortized across queries. */
  def lbKeoghEnv(query: Array[Double], low: Array[Double], up: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < query.length) {
      val q = query(i)
      if (q > up(i)) { val d = q - up(i); s += d * d }
      else if (q < low(i)) { val d = low(i) - q; s += d * d }
      i += 1
    }
    math.sqrt(s)
  }

  // ------------------------------------------------------- plain metrics

  /** Euclidean distance between equal-length series. */
  def euclidean(s1: TS, s2: TS): Double = {
    require(s1.length == s2.length, "euclidean requires equal-size series")
    var s = 0.0; var i = 0
    while (i < s1.length) { s += localSqDist(s1(i), s2(i)); i += 1 }
    math.sqrt(s)
  }

  def sqEuclidean(s1: TS, s2: TS): Double = {
    var s = 0.0; var i = 0
    while (i < s1.length) { s += localSqDist(s1(i), s2(i)); i += 1 }
    s
  }

  // ------------------------------------------------------ preprocessing

  /** Per-series z-normalization to (mu, std) —
    * `preprocessing/preprocessing.py:204-298` (population std; zero std
    * mapped to 1, as the reference does). */
  def scaleMeanVariance(ts: TS, mu: Double = 0.0, std: Double = 1.0): TS = {
    if (ts.isEmpty) return ts
    val d = ts(0).length
    val mean = new Array[Double](d)
    val m2 = new Array[Double](d)
    var i = 0
    while (i < ts.length) {
      var k = 0
      while (k < d) { mean(k) += ts(i)(k); m2(k) += ts(i)(k) * ts(i)(k); k += 1 }
      i += 1
    }
    val n = ts.length.toDouble
    val sd = new Array[Double](d)
    var k = 0
    while (k < d) {
      mean(k) /= n
      val v = m2(k) / n - mean(k) * mean(k)
      sd(k) = if (v <= 0) 1.0 else math.sqrt(v)
      if (sd(k) == 0.0) sd(k) = 1.0
      k += 1
    }
    ts.map { row =>
      val out = new Array[Double](d)
      var k2 = 0
      while (k2 < d) { out(k2) = (row(k2) - mean(k2)) / sd(k2) * std + mu; k2 += 1 }
      out
    }
  }

  /** Per-series min-max rescale to [lo, hi] —
    * `preprocessing/preprocessing.py:103-201`. */
  def scaleMinMax(ts: TS, lo: Double = 0.0, hi: Double = 1.0): TS = {
    if (ts.isEmpty) return ts
    val d = ts(0).length
    val mn = Array.fill(d)(Inf)
    val mx = Array.fill(d)(-Inf)
    var i = 0
    while (i < ts.length) {
      var k = 0
      while (k < d) {
        if (ts(i)(k) < mn(k)) mn(k) = ts(i)(k)
        if (ts(i)(k) > mx(k)) mx(k) = ts(i)(k)
        k += 1
      }
      i += 1
    }
    ts.map { row =>
      val out = new Array[Double](d)
      var k2 = 0
      while (k2 < d) {
        val range = mx(k2) - mn(k2)
        out(k2) = if (range == 0.0) lo else (row(k2) - mn(k2)) / range * (hi - lo) + lo
        k2 += 1
      }
      out
    }
  }

  /** Linear-interpolation resample to `targetSz` points (per dim), matching
    * numpy.interp on linspace grids — `preprocessing.py:15-100`. */
  def resample(ts: TS, targetSz: Int): TS = {
    val sz = ts.length
    if (sz == 0 || targetSz <= 0) return Array.empty
    val d = ts(0).length
    val out = Array.ofDim[Double](targetSz, d)
    var j = 0
    while (j < targetSz) {
      val pos = if (targetSz == 1) 0.0 else j.toDouble * (sz - 1) / (targetSz - 1)
      val i0 = math.floor(pos).toInt
      val i1 = math.min(sz - 1, i0 + 1)
      val frac = pos - i0
      var k = 0
      while (k < d) { out(j)(k) = ts(i0)(k) * (1 - frac) + ts(i1)(k) * frac; k += 1 }
      j += 1
    }
    out
  }

  // --------------------------------------------------- PAA / segments

  /** PAA: mean per tumbling segment; segment size = sz / nSegments
    * (integer division, tail dropped) — `piecewise.py:143-153`. */
  def paa(ts: TS, nSegments: Int): TS = {
    val sz = ts.length
    if (sz == 0) return Array.empty
    val d = ts(0).length
    val segSz = sz / nSegments
    require(segSz > 0, s"series of length $sz too short for $nSegments segments")
    val out = Array.ofDim[Double](nSegments, d)
    var s = 0
    while (s < nSegments) {
      val start = s * segSz
      var k = 0
      while (k < d) {
        var acc = 0.0; var t = start
        while (t < start + segSz) { acc += ts(t)(k); t += 1 }
        out(s)(k) = acc / segSz
        k += 1
      }
      s += 1
    }
    out
  }

  /** All length-m stride-1 sliding segments (matrix profile building
    * block) — `matrix_profile/matrix_profile.py:25-66`. */
  def slidingSegments(ts: Array[Double], m: Int): Array[Array[Double]] = {
    val n = ts.length - m + 1
    if (n <= 0) return Array.empty
    Array.tabulate(n)(i => java.util.Arrays.copyOfRange(ts, i, i + m))
  }

  /** Matrix profile (numpy implementation semantics,
    * `matrix_profile.py:184-199`): per segment, min euclidean distance to
    * any segment whose start differs by more than ⌈m/4⌉; optional
    * per-segment z-normalization (scale=true). */
  def matrixProfile(ts: Array[Double], m: Int, scale: Boolean = false): Array[Double] = {
    val raw = slidingSegments(ts, m)
    val segs =
      if (scale) raw.map(s => scaleMeanVariance(uni(s)).map(_(0)))
      else raw
    val n = segs.length
    val band = math.ceil(m / 4.0).toInt
    val out = Array.fill(n)(Inf)
    var i = 0
    while (i < n) {
      var j = i + band + 1
      while (j < n) {
        var s = 0.0; var k = 0
        while (k < m) { val df = segs(i)(k) - segs(j)(k); s += df * df; k += 1 }
        val dist = math.sqrt(s)
        if (dist < out(i)) out(i) = dist
        if (dist < out(j)) out(j) = dist
        j += 1
      }
      i += 1
    }
    out
  }

  /** [[matrixProfile]] WITH the profile INDEX: out(i) = (mp_i, j_i)
    * where j_i is the nearest band-excluded neighbor window (strict-<
    * update order keeps the SMALLEST j among exact ties — the
    * deterministic contract the motif oracle replays).
    *
    * `decimals >= 0` compares distances ROUNDED to that many decimals
    * (Spark `round` semantics, HALF_UP over the decimal rendering):
    * a full-precision argmin-j is fragile across engines — two
    * neighbors agreeing at 4 decimals can order either way on
    * summation ulps — so the driver-signal query rounds BEFORE the
    * strict-< comparison, making the kept j exactly the SQL
    * `ORDER BY round(d, decimals), j` row. */
  def matrixProfileWithIndex(ts: Array[Double], m: Int,
                             scale: Boolean = false,
                             decimals: Int = -1): Array[(Double, Int)] = {
    val raw = slidingSegments(ts, m)
    val segs =
      if (scale) raw.map(s => scaleMeanVariance(uni(s)).map(_(0)))
      else raw
    def rnd(x: Double): Double =
      if (decimals < 0 || !java.lang.Double.isFinite(x)) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(decimals, java.math.RoundingMode.HALF_UP).doubleValue()
    val n = segs.length
    val band = math.ceil(m / 4.0).toInt
    val best = Array.fill(n)(Inf)
    val idx = Array.fill(n)(-1)
    var i = 0
    while (i < n) {
      var j = i + band + 1
      while (j < n) {
        var s = 0.0; var k = 0
        while (k < m) { val df = segs(i)(k) - segs(j)(k); s += df * df; k += 1 }
        val dist = rnd(math.sqrt(s))
        if (dist < best(i)) { best(i) = dist; idx(i) = j }
        if (dist < best(j)) { best(j) = dist; idx(j) = i }
        j += 1
      }
      i += 1
    }
    Array.tabulate(n)(t => (best(t), idx(t)))
  }
}
