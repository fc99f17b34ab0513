package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.scalatest.funsuite.AnyFunSuite
import graft.kernels.Kernels
import graft.ml.KernelKMeans

/** KernelKMeans against a plain-Scala replay of the kernel-trick Lloyd
  * (`kmeans.py:390-405`) on a full gram: every iteration assigns each
  * series to the non-empty cluster c minimising
  * K_ii − 2·Σ_{j∈c}K_ij/|c| + Σ_{j,l∈c}K_jl/|c|², ties to the lower c, and
  * stops after maxIter rounds or when the inertia falls by less than tol. */
class KernelKMeansSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  private case class Replay(labels: Array[Int], d2: Array[Double], term3: Map[Int, Double],
                            inertia: Double, ties: Int)

  /** The reference fit over series sorted by id. */
  private def replay(xs: Array[Array[Double]], kernel: (Array[Double], Array[Double]) => Double,
                     init: Array[Int], k: Int, maxIter: Int, tol: Double): Replay = {
    val n = xs.length
    // the engine evaluates each pair once, lower id on the left
    val g = Array.tabulate(n, n)((i, j) =>
      if (i == j) 1.0 else if (i < j) kernel(xs(i), xs(j)) else kernel(xs(j), xs(i)))
    def members(lab: Array[Int], c: Int) = (0 until n).filter(lab(_) == c)
    def term3(lab: Array[Int], c: Int) = {
      val m = members(lab, c)
      m.map(j => m.map(l => g(j)(l)).sum).sum / (m.size.toLong * m.size)
    }
    var lab = init
    var d2 = Array.fill(n)(Double.NaN)
    var prev = Double.PositiveInfinity
    var inertia = Double.PositiveInfinity
    var ties = 0
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      val live = (0 until k).filter(c => members(lab, c).nonEmpty)
      val t3 = live.map(c => c -> term3(lab, c)).toMap
      val dist = Array.tabulate(n)(i => live.map { c =>
        val m = members(lab, c)
        c -> (1.0 - 2.0 * m.map(j => g(i)(j)).sum / m.size + t3(c))
      })
      ties += dist.count(ds => ds.map(_._2).distinct.length < ds.length)
      val best = dist.map(_.minBy { case (c, d) => (if (d.isNaN) 1 else 0, d, c) })
      lab = best.map(_._1)
      d2 = best.map(_._2)
      inertia = d2.sum
      if (prev - inertia < tol) done = true
      prev = inertia
      iter += 1
    }
    val t3 = (0 until k).filter(c => members(lab, c).nonEmpty).map(c => c -> term3(lab, c)).toMap
    Replay(lab, d2, t3, inertia, ties)
  }

  private def gak(sigma: Double)(x: Array[Double], y: Array[Double]) =
    Kernels.gak(Kernels.uni(x), Kernels.uni(y), sigma)

  private def rbf(gamma: Double)(x: Array[Double], y: Array[Double]) =
    math.exp(-gamma * x.indices.map(t => (x(t) - y(t)) * (x(t) - y(t))).sum)

  /** pmod(xxhash64(series_id, seed), k) for a long series_id. */
  private def randomInit(ids: Seq[Long], seed: Long, k: Int): Array[Int] =
    ids.map(id => java.lang.Math.floorMod(XXH64.hashLong(seed, XXH64.hashLong(id, 42L)), k.toLong).toInt)
      .toArray

  private def blobs(n: Int, sz: Int, seed: Int, ragged: Boolean = false): Seq[(Long, Array[Double])] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      val len = if (ragged) sz - 4 + rng.nextInt(8) else sz
      (i.toLong, Array.tabulate(len)(t => (i % 3) * 0.8 + math.sin(t * (0.3 + 0.1 * (i % 3))) +
        0.3 * rng.nextGaussian()))
    }
  }

  /** Fits `km` both ways and checks it against the replay; returns the replay. */
  private def check(km: KernelKMeans, rows: Seq[(Long, Array[Double])],
                    kernel: (Array[Double], Array[Double]) => Double): Replay = {
    val sorted = rows.sortBy(_._1)
    val init =
      if (km.init == "mod") sorted.map(r => java.lang.Math.floorMod(r._1, km.k.toLong).toInt).toArray
      else randomInit(sorted.map(_._1), km.seed, km.k)
    val want = replay(sorted.map(_._2).toArray, kernel, init, km.k, km.maxIter, km.tol)
    // shuffled row order and several partitions: the fit must not depend on either
    val df: DataFrame = scala.util.Random.shuffle(rows).toDF("series_id", "values").repartition(3)
    val got = km.fitAssign(df).as[(Long, Int, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == sorted.map(_._1))
    assert(got.map(_._2).toSeq == want.labels.toSeq, "labels")
    got.map(_._3).zip(want.d2).foreach { case (g, w) => assert(math.abs(g - w) <= 1e-9, s"d2 $g vs $w") }
    val model = km.fitModel(df)
    assert(model.assignments.sortBy(_._1).map(a => (a._1, a._3)).toSeq ==
      sorted.map(_._1).zip(want.labels))
    assert(model.term3.keySet == want.term3.keySet)
    want.term3.foreach { case (c, t) => assert(math.abs(model.term3(c) - t) <= 1e-9, s"term3($c)") }
    assert(math.abs(model.inertia - want.inertia) <= 1e-9, s"inertia ${model.inertia} vs ${want.inertia}")
    want
  }

  private val ninf = Double.NegativeInfinity

  test("gak, mod and random init, fixed iterations: matches the replay") {
    val rows = blobs(18, 16, seed = 1)
    check(new KernelKMeans(k = 3, maxIter = 4, tol = ninf, sigma = 1.0, init = "mod"), rows, gak(1.0))
    check(new KernelKMeans(k = 3, maxIter = 4, tol = ninf, sigma = 2.0, seed = 5), rows, gak(2.0))
  }

  test("rbf, mod and random init, fixed iterations: matches the replay") {
    val rows = blobs(20, 12, seed = 2)
    check(new KernelKMeans(k = 3, maxIter = 3, tol = ninf, init = "mod", kernel = "rbf",
      gamma = 0.1), rows, rbf(0.1))
    check(new KernelKMeans(k = 4, maxIter = 5, tol = ninf, seed = 9, kernel = "rbf",
      gamma = 0.05), rows, rbf(0.05))
  }

  test("finite tol stops at the replay's iteration") {
    val rows = blobs(18, 16, seed = 3)
    // +Inf - inertia is never < tol, so a huge tol stops after exactly two rounds
    val two = check(new KernelKMeans(k = 3, maxIter = 10, tol = 1e9, seed = 4), rows, gak(1.0))
    val fixed = check(new KernelKMeans(k = 3, maxIter = 2, tol = ninf, seed = 4), rows, gak(1.0))
    assert(two.labels.toSeq == fixed.labels.toSeq)
    check(new KernelKMeans(k = 3, maxIter = 10, tol = 1e-3, seed = 4), rows, gak(1.0))
  }

  test("block-partitioned gram matches the replay") {
    val rows = blobs(17, 16, seed = 4)
    check(new KernelKMeans(k = 3, maxIter = 3, tol = ninf, init = "mod", blocks = 2), rows, gak(1.0))
    check(new KernelKMeans(k = 3, maxIter = 3, tol = ninf, seed = 2, kernel = "rbf", gamma = 0.1,
      blocks = 2), rows, rbf(0.1))
  }

  test("ragged gak input matches the replay") {
    val rows = blobs(16, 14, seed = 5, ragged = true)
    assert(rows.map(_._2.length).distinct.size > 1)
    check(new KernelKMeans(k = 2, maxIter = 4, tol = ninf, sigma = 2.0, seed = 1), rows, gak(2.0))
  }

  test("exact d2 ties go to the lower cluster, and an emptied cluster stays empty") {
    // identical series: every d2 is exactly 0 in every cluster
    val rows = (0 until 6).map(i => (i.toLong, Array(0.5, -1.0, 2.0, 0.25)))
    val want = check(new KernelKMeans(k = 3, maxIter = 3, tol = ninf, init = "mod"), rows, gak(1.0))
    assert(want.ties > 0)
    assert(want.labels.forall(_ == 0))
    assert(want.term3.keySet == Set(0))
  }
}
