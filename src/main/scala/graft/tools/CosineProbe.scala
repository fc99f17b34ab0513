package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.LocalSpark
import graft.operators.Dedup

/** VERDICT r11 item 2: emb_dedup_cosine is the suite's steepest sf1
  * grower (18.5× at the 10× octave — quadratic pair mass) and the
  * size-router's escape routes had never been measured at their
  * decision point. This probe, on a scaled embeddings table:
  *   1. records which route the auto front door takes at the given
  *      scale (stderr shows the switch),
  *   2. A/Bs exact-broadcast vs blocked vs IVF walls (min of N),
  *   3. measures IVF pair recall vs the exact route (pairs are
  *      exact-verified on both routes, so precision is 1 by spec —
  *      asserted here anyway).
  *
  * Usage: runMain graft.tools.CosineProbe <embDir> [factor threshold repeat ivfOnly]
  * factor replicates vec_ids into disjoint ranges (ScaleProbe style).
  */
object CosineProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val threshold = if (args.length > 2) args(2).toDouble else 0.4
    val repeat = if (args.length > 3) args(3).toInt else 2
    val ivfOnly = args.length > 4 && args(4) == "ivfOnly"
    val nlist = if (args.length > 5) args(5).toInt else 32
    val nprobe = if (args.length > 6) args(6).toInt else 2

    val spark = LocalSpark.session()

    val base = spark.read.parquet(s"$dir/embeddings.parquet")
    val shift = math.pow(10, math.ceil(math.log10(
      base.agg(max("vec_id")).head().getLong(0) + 2))).toLong
    val emb = (0 until factor).map(i =>
        base.withColumn("vec_id", col("vec_id") + lit(i * shift)))
      .reduce(_ union _).localCheckpoint()
    val n = emb.count()
    System.err.println(s"[cosineprobe] $dir x$factor = $n vectors, threshold=$threshold")

    def time(label: String, f: () => DataFrame): (Double, Long) = {
      var best = Double.PositiveInfinity
      var rows = -1L
      (1 to repeat).foreach { r =>
        val (n, w) = LocalSpark.timed(f().count())
        rows = n
        best = math.min(best, w)
        System.err.println(f"[cosineprobe] $label run $r: $w%.2f s pairs=$rows")
      }
      (best, rows)
    }

    val (wIvf, nIvf) = time("ivf", () =>
      Dedup.embeddingCosineIvf(emb, threshold, nlist, nprobe))
    if (ivfOnly) {
      println(f"""{"probe":"cosine","n":$n,"threshold":$threshold,"nlist":$nlist,"nprobe":$nprobe,"wall_ivf":$wIvf%.2f,"pairs_ivf":$nIvf}""")
      spark.stop(); return
    }
    val (wExact, nExact) = time("exact-broadcast", () =>
      Dedup.embeddingCosine(emb, threshold))
    val (wBlocked, nBlocked) = time("blocked", () =>
      Dedup.embeddingCosineBlocked(emb, threshold, blocks = 16))

    // recall + precision of IVF vs exact (pair sets)
    val exactPairs = Dedup.embeddingCosine(emb, threshold)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfPairs = Dedup.embeddingCosineIvf(emb, threshold, nlist, nprobe)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (exactPairs.isEmpty) 1.0
      else ivfPairs.intersect(exactPairs).size.toDouble / exactPairs.size
    val invented = ivfPairs.diff(exactPairs).size

    println(f"""{"probe":"cosine","n":$n,"threshold":$threshold,"nlist":$nlist,"nprobe":$nprobe,"wall_exact":$wExact%.2f,"wall_blocked":$wBlocked%.2f,"wall_ivf":$wIvf%.2f,"pairs_exact":$nExact,"pairs_blocked":$nBlocked,"pairs_ivf":$nIvf,"ivf_recall":$recall%.4f,"ivf_invented":$invented}""")
    spark.stop()
  }
}
