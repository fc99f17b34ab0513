package graftbench

import graft.kernels.{Kernels, Ncc}

/** Direct timings of the kernels layer on the workloads' own series, and
  * the DTW cell count of a search operation, computed by replaying the
  * search cascade on sampled probes. */
object KernelTimings {
  // results of the timed calls land here, so the JIT cannot drop the calls
  private var sink = 0.0

  /** Median nanoseconds per unit over rounds of `pairs` calls; `units(i)`
    * is the work of call i. Runs at least 5 rounds and 0.3 s. */
  def nsPerUnit(pairs: Int, units: Int => Long)(call: Int => Double): Double = {
    val total = (0 until pairs).map(units).sum.toDouble
    val rates = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (rates.size < 5 || System.nanoTime() - t0 < 300000000L) {
      val r0 = System.nanoTime()
      var i = 0
      while (i < pairs) { sink += call(i); i += 1 }
      rates += (System.nanoTime() - r0) / total
    }
    val s = rates.sorted
    s(s.size / 2)
  }

  def bandCells(n: Int, m: Int, radius: Int): Long =
    (0 until n).map(i => math.min(m - 1, i + radius) - math.max(0, i - radius) + 1L).sum

  /** DP cells the early-abandoning DTW evaluates before it finishes or
    * abandons at `cutoff` (abandon when sqrt(row minimum) > cutoff). */
  def eaCells(a: Array[Double], b: Array[Double], radius: Int, cutoff: Double): (Double, Long) = {
    val n = a.length; val m = b.length
    var prev = Array.fill(m + 1)(Double.PositiveInfinity); prev(0) = 0.0
    var cells = 0L
    var i = 1
    while (i <= n) {
      val cur = Array.fill(m + 1)(Double.PositiveInfinity)
      val lo = if (radius < 0) 1 else math.max(1, i - radius)
      val hi = if (radius < 0) m else math.min(m, i + radius)
      var rowMin = Double.PositiveInfinity
      var j = lo
      while (j <= hi) {
        val c = (a(i - 1) - b(j - 1)) * (a(i - 1) - b(j - 1))
        cur(j) = c + math.min(prev(j - 1), math.min(prev(j), cur(j - 1)))
        rowMin = math.min(rowMin, cur(j))
        j += 1
      }
      cells += hi - lo + 1
      if (!cutoff.isInfinite && math.sqrt(rowMin) > cutoff) return (Double.PositiveInfinity, cells)
      prev = cur
      i += 1
    }
    (math.sqrt(prev(m)), cells)
  }

  /** Cells of the k-slot cascade over candidates sorted by (lb, id). */
  def cascadeCells(q: Array[Double], cands: Seq[(Double, Long, Array[Double])], k: Int,
                   radius: Int): Long = {
    var best = List.empty[(Double, Long)]
    var cells = 0L
    cands.foreach { case (lb, id, tv) =>
      val bsf = if (best.size == k) best.last._1 else Double.PositiveInfinity
      if (!(best.size == k && lb > bsf)) {
        val (d, c) = eaCells(q, tv, radius, bsf)
        cells += c
        best = (best :+ ((d, id))).sortBy(identity).take(k)
      }
    }
    cells
  }

  def run(seed: Long): Map[String, Any] = {
    val search = new SearchWorkload(seed)
    search.generate()
    val fit = new FitWorkload(seed)
    fit.generate()
    val r = search.radius
    val eq = search.index.take(65).map(_.values)
    val rg = search.ragged.take(65).map(_.values)
    val envs = eq.map(Kernels.lbEnvelope(_, r))
    val gk = fit.referenceSeries("kernel_kmeans").toSeq.sortBy(_._1).map(_._2).toArray
    val ks = fit.referenceSeries("kshape").toSeq.sortBy(_._1).map(_._2).take(65).toArray
    val uni = ks.map(Kernels.uni(_))
    val gu = gk.map(Kernels.uni(_))

    val dtwEa = nsPerUnit(64, i => bandCells(eq(i).length, eq(i + 1).length, r))(i =>
      Kernels.dtwFlatEA(eq(i), eq(i + 1), r, Double.MaxValue))
    val dtwRagged = nsPerUnit(64, i => rg(i).length.toLong * rg(i + 1).length)(i =>
      Kernels.dtwFlatEA(rg(i), rg(i + 1), -1, Double.MaxValue))
    val lb = nsPerUnit(64, i => eq(i).length.toLong)(i =>
      Kernels.lbKeoghEnv(eq(i + 1), envs(i)._1, envs(i)._2))
    val gak = nsPerUnit(gk.length - 1, i => {
      val a = gk(i).length.toLong; val b = gk(i + 1).length.toLong
      a * b + a * a + b * b
    })(i => Kernels.gak(gu(i), gu(i + 1), 1.0))
    val ncc = nsPerUnit(64, _ => 1L)(i => Ncc.sbd(uni(i), uni(i + 1)))

    // cells per search operation: cascade replay on sampled probes, scaled
    // to the probes of one operation and averaged over the cycle
    val kf = search.k * search.factor
    val pruned = search.prunedBatches(0).take(4).map { p =>
      val cands = search.index.toSeq
        .map(s => (Ref.lbKeogh(p.values, s.values, r), s.id, s.values))
        .sortBy(c => (c._1, c._2)).take(kf)
      cascadeCells(p.values, cands, search.k, r).toDouble
    }
    val raggedCells = search.raggedBatches(0).take(4).map { p =>
      cascadeCells(p.values, search.ragged.toSeq.map(s => (0.0, s.id, s.values)), search.k, -1).toDouble
    }
    val perOp = search.cycle.map {
      case "pruned" => pruned.sum / pruned.length * search.prunedProbes
      case _ => raggedCells.sum / raggedCells.length * search.raggedProbes
    }
    Map(
      "kernels.dtw_ea_ns_per_cell" -> dtwEa,
      "kernels.dtw_ragged_ns_per_cell" -> dtwRagged,
      "kernels.lb_keogh_ns_per_point" -> lb,
      "kernels.gak_ns_per_cell" -> gak,
      "kernels.ncc_ns_per_pair" -> ncc,
      "kernels.dtw_cells_per_op" -> perOp.sum / perOp.size)
  }
}
