package graft.tools

import org.apache.spark.sql.functions._
import graft.LocalSpark
import graft.functions.TsFunctions
import graft.model.TSModel
import graft.operators.Cdist

/** VERDICT r11 item 3: the blocked kNN path had only ever been
  * spec-parity-tested at toy size; knn_dtw_users grows 14.6× at the 10×
  * octave and only the broadcast-index route was ever benched. This
  * probe, on a scaled corpus (ScaleProbe scratch):
  *   1. times the broadcast-index route and the blocked route (min of
  *      N walls each) on the knn_dtw_users shape (self-kNN, k=4,
  *      radius=4, len-32 z-normed series),
  *   2. asserts the two routes return identical neighbors,
  *   3. replays the LB-ordered early-abandon cascade driver-side over a
  *      probe sample to report the prune rate (candidates skipped
  *      outright: LB > kth-best), the abandon rate (DPs stopped early),
  *      and the full-DP rate — the measured effect of the UCR-style
  *      cascade (`dtw_variants.py:1224-1296`) added this round.
  *
  * Usage: runMain graft.tools.KnnProbe <sfDir> [k radius factor blocks repeat]
  */
object KnnProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val k = if (args.length > 1) args(1).toInt else 4
    val radius = if (args.length > 2) args(2).toInt else 4
    val factor = if (args.length > 3) args(3).toInt else 4
    val blocks = if (args.length > 4) args(4).toInt else 16
    val repeat = if (args.length > 5) args(5).toInt else 2

    val spark = LocalSpark.session()
    TsFunctions.register(spark)

    val series = TSModel.eventsToSeries(spark, dir)
      .select(col("series_id"),
        TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
      .localCheckpoint()
    val n = series.count()
    System.err.println(s"[knnprobe] $dir series=$n k=$k radius=$radius factor=$factor blocks=$blocks")

    def time(label: String, f: () => Long): Double = {
      var best = Double.PositiveInfinity
      (1 to repeat).foreach { r =>
        val (rows, w) = LocalSpark.timed(f())
        best = math.min(best, w)
        System.err.println(f"[knnprobe] $label run $r: $w%.2f s rows=$rows")
      }
      best
    }

    // Int.MaxValue, not Long.MaxValue: the dispatch guard's limit(max+1)
    // saturates now, but the probe should not lean on overflow behavior
    // to route to the broadcast path (ADVICE r12)
    val wBroadcast = time("broadcast", () =>
      Cdist.knnDtwPruned(series, series, k, radius, factor,
        maxIndexRows = Int.MaxValue).count())
    val wBlocked = time("blocked", () =>
      Cdist.knnDtwBlocked(series, series, k, radius, factor, blocks).count())

    // route parity at full scale, not just toy size
    val a = Cdist.knnDtwPruned(series, series, k, radius, factor,
        maxIndexRows = Int.MaxValue)
      .select("probe_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val b = Cdist.knnDtwBlocked(series, series, k, radius, factor, blocks)
      .select("probe_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val parity = a.sameElements(b)
    System.err.println(s"[knnprobe] route parity: $parity (${a.length} rows)")

    // driver-side cascade replay over a probe sample: rates
    val idx = series.select(col("series_id").cast("long"),
        col("values").cast("array<double>"),
        TsFunctions.envelopeUdf(col("values"), lit(radius)).as("env"))
      .select(col("series_id"), col("values"), col("env._1"), col("env._2"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
        r.getSeq[Double](2).toArray, r.getSeq[Double](3).toArray))
      .sortBy(_._1)
    val sample = idx.take(math.min(idx.length, 500))
    val kf = k * factor
    var pruned = 0L; var abandoned = 0L; var full = 0L
    sample.foreach { case (_, q, _, _) =>
      val lbs = idx.map(t => graft.kernels.Kernels.lbKeoghEnv(q, t._3, t._4))
      val cand = idx.indices.sortBy(i => (lbs(i), idx(i)._1)).take(kf)
      val ds = new Array[Double](k); val ids = new Array[Long](k); var m = 0
      cand.foreach { i =>
        val bsf = if (m == k) ds(k - 1) else Double.PositiveInfinity
        if (m == k && lbs(i) > bsf) pruned += 1
        else {
          val d = graft.kernels.Kernels.dtwFlatEA(q, idx(i)._2, radius, bsf)
          if (d.isPosInfinity) abandoned += 1 else full += 1
          val id = idx(i)._1
          if (m < k || d < ds(k - 1) || (d == ds(k - 1) && id < ids(k - 1))) {
            var p = math.min(m, k - 1)
            while (p > 0 && (ds(p - 1) > d || (ds(p - 1) == d && ids(p - 1) > id))) {
              ds(p) = ds(p - 1); ids(p) = ids(p - 1); p -= 1
            }
            ds(p) = d; ids(p) = id
            if (m < k) m += 1
          }
        }
      }
    }
    val tot = (pruned + abandoned + full).toDouble.max(1.0)
    println(f"""{"probe":"knn","dir":"$dir","n":$n,"k":$k,"radius":$radius,"factor":$factor,"blocks":$blocks,"wall_broadcast":$wBroadcast%.2f,"wall_blocked":$wBlocked%.2f,"parity":$parity,"cand_per_probe":$kf,"pruned_pct":${100 * pruned / tot}%.1f,"abandoned_pct":${100 * abandoned / tot}%.1f,"full_dp_pct":${100 * full / tot}%.1f}""")
    spark.stop()
  }
}
