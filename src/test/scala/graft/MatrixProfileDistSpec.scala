package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.kernels.Kernels
import graft.operators.MatrixProfileDist

class MatrixProfileDistSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** The (idx, v) relation of a series, spread over several partitions. */
  private def seriesOf(ts: Array[Double]) =
    spark.createDataset(ts.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("idx", "v").repartition(4)

  test("distributed single-series MP equals the local kernel exactly") {
    val rng = new scala.util.Random(13)
    val ts = Array.tabulate(500)(t => math.sin(t * 0.17) + 0.2 * rng.nextGaussian())
    val m = 16
    val local = Kernels.matrixProfile(ts, m)
    // small blockSize forces multi-block + cross-block diagonals
    val dist = MatrixProfileDist.matrixProfileTiled(spark, seriesOf(ts), m, blockSize = 64)
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(dist.length == local.length)
    dist.foreach { case (i, v) =>
      assert(math.abs(v - local(i.toInt)) < 1e-8, s"i=$i: $v vs ${local(i.toInt)}")
    }
  }

  test("tiled no-broadcast MP equals the local kernel on a distributed series") {
    val rng = new scala.util.Random(29)
    // length chosen so the tail tile is partial and several tile pairs
    // are adjacent (band-excluded corners exercised)
    val ts = Array.tabulate(777)(t => math.cos(t * 0.11) + 0.3 * rng.nextGaussian())
    val m = 24
    val local = Kernels.matrixProfile(ts, m)
    val seriesDf = seriesOf(ts)
    val tiled = MatrixProfileDist.matrixProfileTiled(spark, seriesDf, m, blockSize = 100)
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(tiled.length == local.length,
      s"row count ${tiled.length} vs ${local.length}")
    tiled.foreach { case (i, v) =>
      assert(math.abs(v - local(i.toInt)) < 1e-8, s"i=$i: $v vs ${local(i.toInt)}")
    }
  }

  test("rolling-update numerical drift stays tiny on long constant-plus-noise input") {
    val rng = new scala.util.Random(5)
    val ts = Array.tabulate(3000)(t => 100.0 + 0.01 * rng.nextGaussian() +
      (if (t % 500 == 250) 5.0 else 0.0))
    val m = 32
    val local = Kernels.matrixProfile(ts, m)
    val dist = MatrixProfileDist.matrixProfileTiled(spark, seriesOf(ts), m, blockSize = 512)
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(dist.length == local.length)
    dist.foreach { case (i, v) =>
      assert(math.abs(v - local(i.toInt)) < 1e-6, s"i=$i: $v vs ${local(i.toInt)}")
    }
  }

  test("diagonal-band chunks fold to the full tiled profile; each chunk is an upper bound") {
    // VERDICT r13 stretch 8 — the anytime/chunked formulation for 10⁹
    // points: chunk k sweeps diagonals (band + k·W, band + (k+1)·W];
    // the element-wise min over chunks must equal the full tiled
    // profile EXACTLY (every diagonal swept exactly once — the chunks
    // partition the diagonal space), and every prefix fold must be a
    // pointwise upper bound that only tightens (the anytime property).
    val rng = new scala.util.Random(41)
    val ts = Array.tabulate(900)(t => math.sin(t * 0.07) + 0.25 * rng.nextGaussian())
    val m = 20
    val band = math.ceil(m / 4.0).toInt
    val n = ts.length - m + 1
    val seriesDf = seriesOf(ts)
    val full = MatrixProfileDist.matrixProfileTiled(spark, seriesDf, m, blockSize = 128)
      .as[(Long, Double)].collect().toMap
    // W = 200 > blockSize = 128: chunks span non-adjacent tile pairs too
    val W = 200
    val folds = scala.collection.mutable.Map[Long, Double]()
    var prev: Map[Long, Double] = Map.empty
    var g = band.toLong
    while (g < n - 1) {
      val hi = math.min(g + W, n - 1L)
      val chunk = MatrixProfileDist
        .matrixProfileDiagBand(spark, seriesDf, m, g, hi, blockSize = 128)
        .as[(Long, Double)].collect().toMap
      chunk.foreach { case (i, v) =>
        folds(i) = math.min(folds.getOrElse(i, Double.PositiveInfinity), v) }
      // anytime: the fold never loosens, and stays >= the true profile
      folds.foreach { case (i, v) =>
        prev.get(i).foreach(p => assert(v <= p + 1e-12, s"fold loosened at $i"))
        assert(v >= full(i) - 1e-8, s"fold below true profile at $i") }
      prev = folds.toMap
      g = hi
    }
    assert(folds.size == full.size, s"${folds.size} vs ${full.size} rows")
    full.foreach { case (i, v) =>
      assert(math.abs(folds(i) - v) < 1e-8, s"i=$i: fold ${folds(i)} vs full $v")
    }
  }

  test("prebuilt segments: chunks are float-identical to the rebuild path and fold to full") {
    // VERDICT r14 #4 — resumable segments for the chunked run:
    // segmentSeries builds the (seg, vals) relation ONCE; every
    // diagonal-band chunk swept against it must be row-identical
    // (exact floats — same tile algebra, only the per-chunk rebuild is
    // gone) to the series-input form, and the fold over prebuilt-segment
    // chunks must still equal the full tiled profile.
    val rng = new scala.util.Random(97)
    val ts = Array.tabulate(700)(t => math.cos(t * 0.05) + 0.2 * rng.nextGaussian())
    val m = 16
    val band = math.ceil(m / 4.0).toInt
    val n = ts.length - m + 1
    val seriesDf = seriesOf(ts)
    val full = MatrixProfileDist.matrixProfileTiled(spark, seriesDf, m, blockSize = 128)
      .as[(Long, Double)].collect().toMap
    val seg = MatrixProfileDist.segmentSeries(spark, seriesDf, m, blockSize = 128)
    assert(seg.nPoints == ts.length.toLong)
    val W = 150
    val folds = scala.collection.mutable.Map[Long, Double]()
    var g = band.toLong
    while (g < n - 1) {
      val hi = math.min(g + W, n - 1L)
      val viaSeg = MatrixProfileDist.matrixProfileDiagBand(spark, seg, g, hi)
        .as[(Long, Double)].collect().toMap
      val viaSeries = MatrixProfileDist
        .matrixProfileDiagBand(spark, seriesDf, m, g, hi, blockSize = 128)
        .as[(Long, Double)].collect().toMap
      assert(viaSeg == viaSeries, s"chunk ($g,$hi] differs between segment paths")
      viaSeg.foreach { case (i, v) =>
        folds(i) = math.min(folds.getOrElse(i, Double.PositiveInfinity), v) }
      g = hi
    }
    seg.unpersist()
    assert(folds.size == full.size)
    full.foreach { case (i, v) =>
      assert(math.abs(folds(i) - v) < 1e-8, s"i=$i: fold ${folds(i)} vs full $v")
    }
  }
}
