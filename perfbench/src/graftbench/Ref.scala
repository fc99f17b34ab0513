package graftbench

/** Independent reference implementations the benchmark checks the
  * program's outputs against. Written for clarity, not speed: full DP
  * matrices, no early abandoning, no shared code with the program. */
object Ref {
  /** DTW with a Sakoe-Chiba band |i - j| <= radius (radius < 0: none). */
  def dtw(a: Array[Double], b: Array[Double], radius: Int): Double = {
    val n = a.length; val m = b.length
    val d = Array.fill(n + 1, m + 1)(Double.PositiveInfinity)
    d(0)(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = 1
      while (j <= m) {
        if (radius < 0 || math.abs(i - j) <= radius) {
          val c = (a(i - 1) - b(j - 1)) * (a(i - 1) - b(j - 1))
          d(i)(j) = c + math.min(d(i - 1)(j - 1), math.min(d(i - 1)(j), d(i)(j - 1)))
        }
        j += 1
      }
      i += 1
    }
    math.sqrt(d(n)(m))
  }

  /** LB_Keogh of `q` against the radius-r envelope of `c` (equal lengths). */
  def lbKeogh(q: Array[Double], c: Array[Double], radius: Int): Double = {
    var s = 0.0
    for (i <- q.indices) {
      val win = c.slice(math.max(0, i - radius), math.min(c.length, i + radius + 1))
      val lo = win.min; val up = win.max
      if (q(i) > up) s += (q(i) - up) * (q(i) - up)
      else if (q(i) < lo) s += (lo - q(i)) * (lo - q(i))
    }
    math.sqrt(s)
  }

  /** Top-k (id, dist) by (dist, id) over `cands`. */
  def topK(q: Array[Double], cands: Seq[Series], k: Int, radius: Int): Seq[(Long, Double)] =
    cands.map(s => (s.id, dtw(q, s.values, radius)))
      .sortBy { case (id, d) => (d, id) }.take(k)

  /** knnDtwPruned's documented contract: the k*factor candidates with the
    * smallest (LB_Keogh, id), then the exact banded DTW top-k among them. */
  def knnPruned(q: Array[Double], index: Seq[Series], k: Int, radius: Int,
                factor: Int): Seq[(Long, Double)] = {
    val cands = index.map(s => (lbKeogh(q, s.values, radius), s))
      .sortBy { case (lb, s) => (lb, s.id) }.take(k * factor).map(_._2)
    topK(q, cands, k, radius)
  }

  /** np.interp of a series onto `sz` evenly spaced points. */
  def resample(xs: Array[Double], sz: Int): Array[Double] = {
    val n = xs.length
    Array.tabulate(sz) { j =>
      val x = if (sz == 1) 0.0 else (j.toDouble / (sz - 1)) * (n - 1)
      val i = math.min(n - 2, math.floor(x).toInt).max(0)
      if (n == 1) xs(0) else xs(i) + (xs(i + 1) - xs(i)) * (x - i)
    }
  }

  /** z-normalisation with the population std (std 0 maps to 1). */
  def znorm(xs: Array[Double]): Array[Double] = {
    val mu = xs.sum / xs.length
    val sd = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / xs.length)
    val s = if (sd == 0.0) 1.0 else sd
    xs.map(x => (x - mu) / s)
  }

  /** Per-user values in (time, event id) order. */
  def seriesOf(events: Seq[Event]): Map[Long, Array[Double]] =
    events.groupBy(_.userId).map { case (u, es) =>
      u -> es.sortBy(e => (e.tsUs, e.eventId)).map(_.value).toArray
    }

  def euclid(a: Array[Double], b: Array[Double]): Double =
    math.sqrt(a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum)

  def nearest(x: Array[Double], cs: Array[Array[Double]]): Int =
    cs.indices.minBy(c => (euclid(x, cs(c)), c))

  /** Lloyd replay of euclidean k-means from the k lowest-id series: returns
    * the final centroids, or None when a cluster empties (not replayable). */
  def lloyd(data: Seq[Series], k: Int, iters: Int): Option[Array[Array[Double]]] = {
    val sorted = data.sortBy(_.id)
    var cs = sorted.take(k).map(_.values).toArray
    var it = 0
    var ok = true
    while (ok && it < iters) {
      val groups = sorted.groupBy(s => nearest(s.values, cs))
      if (groups.size < k) ok = false
      else cs = Array.tabulate(k) { c =>
        val ms = groups(c)
        Array.tabulate(cs(c).length)(t => ms.map(_.values(t)).sum / ms.size)
      }
      it += 1
    }
    if (ok) Some(cs) else None
  }

  def shingles(text: String, k: Int = 3): Set[String] = {
    val w = text.split(" ")
    if (w.length <= k) Set(w.mkString(" ")) else w.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  /** Largest |estimate - exact| accepted for a MinHash Jaccard estimate over
    * `numHashes` permutations: five standard deviations, floored so that
    * exact values near 0 or 1 keep a usable margin. */
  def minhashTolerance(j: Double, numHashes: Int): Double =
    5.0 * math.sqrt(math.max(j * (1 - j), 0.02) / numHashes)

  def relClose(a: Double, b: Double, rel: Double = 1e-9): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
