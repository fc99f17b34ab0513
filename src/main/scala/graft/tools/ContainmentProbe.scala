package graft.tools

import org.apache.spark.sql.functions._
import graft.LocalSpark
import graft.operators.Dedup

/** VERDICT r11 item 4: containmentPairsSketched's (sampleMod, slack) →
  * recall/cost frontier was uncharted — a user could not pick settings
  * for a target recall. This probe computes the exact pair set once on
  * a (typically zipf) corpus, then sweeps the sketch grid, reporting
  * pair recall, wall (min of N), and the invented-pair count (must be
  * 0: values are exact-verified, the sketch only loses pairs).
  *
  * Usage: runMain graft.tools.ContainmentProbe <docsDir> [threshold repeat]
  */
object ContainmentProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/tmp/graft_scaleprobe/f16"
    val threshold = if (args.length > 1) args(1).toDouble else 0.6
    val repeat = if (args.length > 2) args(2).toInt else 2

    val spark = LocalSpark.session()

    val docs = spark.read.parquet(s"$dir/documents.parquet").localCheckpoint()
    val nDocs = docs.count()
    System.err.println(s"[containmentprobe] $dir docs=$nDocs threshold=$threshold")

    var wExact = Double.PositiveInfinity
    (1 to repeat).foreach { r =>
      val (n, w) = LocalSpark.timed(Dedup.containmentPairs(docs, threshold).count())
      wExact = math.min(wExact, w)
      System.err.println(f"[containmentprobe] exact run $r: $w%.2f s pairs=$n")
    }
    val exact = Dedup.containmentPairs(docs, threshold)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    System.err.println(s"[containmentprobe] exact pair rows: ${exact.size}")

    val rows = for (mod <- sys.env.getOrElse("CONT_MODS", "4,8,16").split(",").map(_.toInt).toSeq;
                     slack <- sys.env.getOrElse("CONT_SLACKS", "0.3,0.5,0.7").split(",").map(_.toDouble).toSeq) yield {
      val w = (1 to repeat).map(_ => LocalSpark.timed(Dedup.containmentPairsSketched(
        docs, threshold, sampleMod = mod, slack = slack).count())._2).min
      val got = Dedup.containmentPairsSketched(docs, threshold,
          sampleMod = mod, slack = slack)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = if (exact.isEmpty) 1.0
        else got.intersect(exact).size.toDouble / exact.size
      val invented = got.diff(exact).size
      System.err.println(f"[containmentprobe] mod=$mod slack=$slack wall=$w%.2f recall=$recall%.4f invented=$invented")
      f"""{"mod":$mod,"slack":$slack,"wall":$w%.2f,"recall":$recall%.4f,"invented":$invented}"""
    }
    println(f"""{"probe":"containment","dir":"$dir","docs":$nDocs,"threshold":$threshold,"wall_exact":$wExact%.2f,"exact_pairs":${exact.size},"grid":[${rows.mkString(",")}]}""")
    spark.stop()
  }
}
