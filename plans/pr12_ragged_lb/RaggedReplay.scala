// Standalone replay of the search workload's ragged calls through the
// program's Cdist.cascade (not part of the build: it lives outside
// src/ and perfbench/). Compile it against a perfbench build's classes,
// which hold both graft and graftbench, and run it single-threaded:
//
//   CL=$(python3 perfbench/build.py)
//   mkdir -p replay-classes && java -cp "$SPARK_HOME/jars/*" scala.tools.nsc.Main -nowarn \
//     -d replay-classes -classpath "$CL:$SPARK_HOME/jars/*" plans/pr12_ragged_lb/RaggedReplay.scala
//   java -cp "replay-classes:$CL:$SPARK_HOME/jars/*" graft.RaggedReplay 1
//
// Per probe it counts DP calls and DP cells with the program's candidate
// order (Kernels.lbRagged, ascending (lb, id)) and with lb = 0 (every
// candidate, the order before the bound), replaying the cascade's skip
// rule with perfbench's own cell counter, and checks the program's top-k
// against an exhaustive pass.
package graft

import graftbench.{KernelTimings, SearchWorkload}
import graft.kernels.Kernels
import graft.operators.Cdist

/** Replays the search workload's ragged calls through Cdist.cascade:
  * per probe, DP calls and DP cells with the lbRagged order (the
  * program's) and with lb = 0 (the parent's), and the top-k against an
  * exhaustive pass. */
object RaggedReplay {
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val w = new SearchWorkload(seed)
    w.generate()
    val k = w.k
    val train = w.ragged
    def range(x: Array[Double]) = (x.reduce((a, b) => math.min(a, b)), x.reduce((a, b) => math.max(a, b)))
    val ranges = train.map(s => range(s.values))
    var probes = 0; var same = 0
    var callsLb = 0L; var cellsLb = 0L; var callsZero = 0L; var cellsZero = 0L
    val perProbe = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (batch <- w.raggedBatches; p <- batch) {
      val q = p.values
      val (qLo, qHi) = range(q)
      val cands = train.indices.map { i =>
        (Kernels.lbRagged(q, qLo, qHi, train(i).values, ranges(i)._1, ranges(i)._2), train(i).id, train(i).values)
      }.sortBy(c => (c._1, c._2))
      val got = Cdist.cascade(q, cands, k, -1).toSeq
      val want = train.map(s => (s.id, Kernels.dtwFlatEA(q, s.values, -1, Double.PositiveInfinity)))
        .sortBy(t => (t._2, t._1)).take(k).toSeq
      probes += 1
      if (got == want) same += 1
      // the cascade's skip rule, with perfbench's cell counter
      def replay(cs: Seq[(Double, Long, Array[Double])]): (Long, Long) = {
        var best = List.empty[(Double, Long)]
        var calls = 0L; var cells = 0L
        cs.foreach { case (lb, id, tv) =>
          val bsf = if (best.size == k) best.last._1 else Double.PositiveInfinity
          if (!(best.size == k && lb * (1 - (q.length + tv.length) * math.ulp(1.0)) > bsf)) {
            val (d, c) = KernelTimings.eaCells(q, tv, -1, bsf)
            calls += 1; cells += c
            best = (best :+ ((d, id))).sortBy(identity).take(k)
          }
        }
        (calls, cells)
      }
      val (a, b) = replay(cands)
      val (c, d) = replay(train.toSeq.map(s => (0.0, s.id, s.values)))
      callsLb += a; cellsLb += b; callsZero += c; cellsZero += d
      perProbe += a
    }
    val s = perProbe.sorted
    println(f"seed $seed probes $probes identical_topk $same/$probes train ${train.length}")
    println(f"DP calls per probe: lb=0 ${callsZero.toDouble / probes}%.1f  lbRagged ${callsLb.toDouble / probes}%.1f (min ${s.head} median ${s(s.size / 2)} max ${s.last})")
    println(f"DP cells per probe: lb=0 ${cellsZero.toDouble / probes}%.0f  lbRagged ${cellsLb.toDouble / probes}%.0f  ratio ${cellsZero.toDouble / cellsLb}%.2f")
  }
}
