package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TsFunctions
import graft.kernels.Kernels
import graft.operators.Cdist

/** The normalized-GAK gram builder of `Cdist`: every shape it serves
  * (cross, self upper triangle, full self gram; broadcast and blocked)
  * is bit-identical to evaluating `Kernels.gak` per pair in the same
  * orientation, and each series' log self-GAK is computed below the pair
  * join, once per series and side, never per pair. */
class GakGramSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  private def ragged(seed: Int, n: Int, firstId: Long = 0L): DataFrame = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => (firstId + i, Array.fill(3 + rng.nextInt(10))(rng.nextGaussian() * 2)))
      .toDF("series_id", "values")
  }

  private def triples(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select(col("left_id").cast("long"), col("right_id").cast("long"), col("dist"))
      .as[(Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))

  /** Doubles compared by their bits, so a last-bit difference fails. */
  private def bits(rows: Seq[(Long, Long, Double)]): Seq[(Long, Long, Long)] =
    rows.map(r => (r._1, r._2, java.lang.Double.doubleToRawLongBits(r._3)))

  private val sigma = 1.7
  private def perPair(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    TsFunctions.gakUdf(a, b, lit(sigma))

  test("every gram shape equals the per-pair Kernels.gak formulation bit for bit") {
    val ds = ragged(1, 11)
    val probes = ragged(2, 4, firstId = 100)
    val byId = ds.union(probes).as[(Long, Array[Double])].collect().toMap
    val cross = triples(Cdist.gakCross(probes, ds, sigma))
    assert(cross.size == 44)
    assert(bits(cross) == bits(triples(Cdist.cross(probes, ds, perPair))))
    cross.foreach { case (l, r, d) =>
      assert(d == Kernels.gak(Kernels.uni(byId(l)), Kernels.uni(byId(r)), sigma), s"($l, $r)")
    }
    for (blocks <- Seq(0, 3)) {
      val upper = triples(Cdist.gakSelfUpper(ds, sigma, blocks))
      assert(upper.size == 55, s"blocks = $blocks")
      assert(bits(upper) == bits(triples(Cdist.selfUpperOrBlocked(ds, perPair, blocks))),
        s"blocks = $blocks")
      val gram = triples(Cdist.gakSelfGram(ds, sigma, blocks))
      val mirrored = upper.flatMap { case (l, r, d) => Seq((l, r, d), (r, l, d)) } ++
        byId.keys.filter(_ < 100).map(id => (id, id, 1.0))
      assert(bits(gram) == bits(mirrored.sortBy(r => (r._1, r._2))), s"blocks = $blocks")
    }
  }

  private def carriesSelfTerm(p: SparkPlan): Boolean =
    p.expressions.exists(_.exists {
      case u: ScalaUDF => u.udfName.contains(Cdist.LogSelfGak)
      case _ => false
    })

  test("the log self-GAK runs below the pair join, never per pair") {
    // checkpointed, so the optimizer cannot fold the UDFs into local rows
    val ds = ragged(3, 6).localCheckpoint()
    for ((name, gram) <- Seq(
        "cross" -> Cdist.gakCross(ragged(4, 3, firstId = 100).localCheckpoint(), ds, sigma),
        "self upper" -> Cdist.gakSelfUpper(ds, sigma))) {
      val plan = gram.queryExecution.sparkPlan
      val joins = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(joins.size == 1, s"$name: ${plan.treeString}")
      val carriers = plan.collect { case p if carriesSelfTerm(p) => p }
      val below = joins.head.children.flatMap(_.collect { case p if carriesSelfTerm(p) => p })
      // one carrier per side of the join, each under it
      assert(below.size == 2 && carriers.size == below.size, s"$name: ${plan.treeString}")
    }
  }

  test("a fit input that already carries its log self-GAK is not recomputed") {
    val ds = Cdist.withLogSelfGak(ragged(5, 5), sigma).localCheckpoint()
    val plan = Cdist.gakSelfUpperOf(ds, sigma, blocks = 0).queryExecution.sparkPlan
    assert(plan.collect { case p if carriesSelfTerm(p) => p }.isEmpty, plan.treeString)
    assert(bits(triples(Cdist.gakSelfUpperOf(ds, sigma, blocks = 0))) ==
      bits(triples(Cdist.selfUpper(ds, perPair))))
  }

  test("the public builders compute the self term even when a column of its name exists") {
    val ds = ragged(6, 5)
    // a stale self term of another sigma under the same column name
    val stale = Cdist.withLogSelfGak(ds, sigma * 3)
    assert(bits(triples(Cdist.gakSelfUpper(stale, sigma))) == bits(triples(Cdist.gakSelfUpper(ds, sigma))))
    assert(bits(triples(Cdist.gakCross(stale, stale, sigma))) == bits(triples(Cdist.gakCross(ds, ds, sigma))))
  }
}
