package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TsFunctions
import graft.operators.Cdist

/** The block-partitioned selfCross fallback must be a drop-in replacement
  * for the broadcast triangle join: identical pair set, identical
  * distances, and no BroadcastExchange of the full relation in its plan. */
class CdistBlockSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def mkSeries(n: Int, sz: Int) = {
    val rng = new scala.util.Random(42)
    (0 until n).map(i => (i.toLong, Array.fill(sz)(rng.nextGaussian())))
      .toDF("series_id", "values")
  }

  test("selfCrossBlocked matches selfCross exactly (with and without diagonal)") {
    val ds = mkSeries(37, 16).cache()
    for (diag <- Seq(true, false); blocks <- Seq(1, 4, 7)) {
      val base = Cdist.selfCross(ds, (a, b) => TsFunctions.dtwUdf(a, b),
          computeDiagonal = diag)
        .as[(Long, Long, Double)].collect().sorted
      val blocked = Cdist.selfCrossBlocked(ds, (a, b) => TsFunctions.dtwUdf(a, b),
          blocks, computeDiagonal = diag)
        .as[(Long, Long, Double)].collect().sorted
      assert(blocked.length == base.length, s"diag=$diag blocks=$blocks row count")
      base.zip(blocked).foreach { case (e, g) =>
        assert(e._1 == g._1 && e._2 == g._2, s"pair mismatch $e vs $g")
        assert(math.abs(e._3 - g._3) < 1e-12, s"dist mismatch $e vs $g")
      }
    }
  }

  test("selfCross and selfCrossBlocked evaluate each pair once and equal the union-of-mirror formulation") {
    val n = 23
    val ds = mkSeries(n, 8).cache()
    val calls = spark.sparkContext.longAccumulator("metric calls")
    val counted = udf((a: Seq[Double], b: Seq[Double]) => {
      calls.add(1); a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
    })
    val metric = (a: Column, b: Column) => counted(a, b)
    val routes: Seq[(String, Boolean => DataFrame, DataFrame)] = Seq(
      ("broadcast", d => Cdist.selfCross(ds, metric, computeDiagonal = d), Cdist.selfUpper(ds, metric)),
      ("blocked", d => Cdist.selfCrossBlocked(ds, metric, 4, computeDiagonal = d),
        Cdist.selfBlockedUpper(ds, metric, 4)))
    for ((name, route, upper) <- routes; diag <- Seq(true, false)) {
      // the formulation that plans the pair join once per union branch
      val diagRows =
        if (diag) ds.select(col("series_id").as("left_id"), col("series_id").as("right_id"), lit(0.0).as("dist"))
        else spark.emptyDataFrame.select(lit(0L).as("left_id"), lit(0L).as("right_id"), lit(0.0).as("dist")).limit(0)
      val union = upper.unionAll(upper.select(col("right_id").as("left_id"),
        col("left_id").as("right_id"), col("dist"))).unionAll(diagRows)
      val want = union.as[(Long, Long, Double)].collect().sorted
      calls.reset()
      val out = route(diag)
      val got = out.as[(Long, Long, Double)].collect().sorted
      assert(calls.value == n * (n - 1) / 2, s"$name diag=$diag: ${calls.value} metric calls")
      assert(out.schema.map(f => (f.name, f.dataType)) == union.schema.map(f => (f.name, f.dataType)))
      assert(got.sameElements(want), s"$name diag=$diag: output differs")
    }
    val plan = Cdist.selfCross(ds, metric).queryExecution.executedPlan.toString
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(plan).size == 1, plan)
  }

  test("selfCrossBlocked plan has no BroadcastExchange of the input relation") {
    val ds = mkSeries(20, 8)
    val plan = Cdist.selfCrossBlocked(ds, (a, b) => TsFunctions.dtwUdf(a, b), 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), s"unexpected broadcast in:\n$plan")
  }

  test("knnDtwPruned slim-shuffle rewrite returns the same neighbors as exact knn") {
    val ds = mkSeries(30, 16).cache()
    val exact = Cdist.knn(ds, ds, k = 3, (a, b) => TsFunctions.dtwUdf(a, b))
      .select("probe_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    // factor large enough that LB pruning is lossless on this tiny set
    val pruned = Cdist.knnDtwPruned(ds, ds, k = 3, radius = 16, factor = 10)
      .select("probe_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(pruned == exact)
  }

  test("knnDtwBlocked matches the broadcast-index path exactly") {
    val distinct = mkSeries(61, 16).cache()
    // every series twice under different ids: equal LBs and distances,
    // so the kth slot ties and (dist, id) decides it on both routes
    val duplicated = distinct.union(distinct.select(
      (col("series_id") + 61).as("series_id"), col("values"))).cache()
    val probes = mkSeries(9, 16)
    // tight factor so LB pruning actually bites (candidate set < train)
    for ((name, train) <- Seq("distinct" -> distinct, "duplicated" -> duplicated);
         blocks <- Seq(1, 4, 7)) {
      val base = Cdist.knnDtwPruned(probes, train, k = 3, radius = 4, factor = 2)
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
      val blocked = Cdist.knnDtwBlocked(probes, train, k = 3, radius = 4,
          factor = 2, blocks = blocks)
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
      assert(blocked.length == base.length, s"$name blocks=$blocks row count")
      base.zip(blocked).foreach { case (e, g) =>
        assert(e._1 == g._1 && e._2 == g._2 && e._3 == g._3, s"$name hit mismatch $e vs $g")
        assert(math.abs(e._4 - g._4) < 1e-12, s"$name dist mismatch $e vs $g")
      }
    }
  }

  test("knnDtwPruned on a persisted train: first and second calls match an unpersisted call") {
    val data = mkSeries(53, 16).select((col("series_id") + 1000).as("series_id"), col("values"))
    val probes = mkSeries(9, 16)
    def rows(df: DataFrame) = df.as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val want = rows(Cdist.knnDtwPruned(probes, data, k = 3, radius = 4, factor = 2))
    val train = data.persist()
    val first = rows(Cdist.knnDtwPruned(probes, train, k = 3, radius = 4, factor = 2))
    val second = rows(Cdist.knnDtwPruned(probes, train, k = 3, radius = 4, factor = 2))
    assert(want.length == 27)
    assert(first.sameElements(want), "first persisted call differs from the unpersisted call")
    assert(second.sameElements(want), "second persisted call differs from the unpersisted call")
    train.unpersist(true)
  }

  test("knnDtwPruned guard dispatches to the blocked path past maxIndexRows") {
    val train = mkSeries(40, 12).cache()
    val probes = mkSeries(6, 12)
    val guarded = Cdist.knnDtwBlocked(probes, train, k = 2, radius = 3,
      factor = 2, blocks = 4)
    // past the ceiling the plan must not broadcast the train relation
    val plan = guarded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), s"unexpected broadcast in:\n$plan")
    val base = Cdist.knnDtwPruned(probes, train, k = 2, radius = 3, factor = 2)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val got = guarded.as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(base.sameElements(got) || base.zip(got).forall { case (e, g) =>
      e._1 == g._1 && e._2 == g._2 && e._3 == g._3 && math.abs(e._4 - g._4) < 1e-12
    })
    // the guard itself at its real boundary: 100,001 train rows take the
    // tiled route. The plan is built, not run: only the guard's count job
    val big = spark.range(100001).select(col("id").as("series_id"),
      array(col("id").cast("double"), lit(0.0)).as("values"))
    val bigPlan = Cdist.knnDtwPruned(big.where(col("series_id") < 2), big, k = 1, radius = 1)
      .queryExecution.executedPlan.toString
    assert(bigPlan.contains("ShuffledHashJoin") && !bigPlan.contains("BroadcastExchange"),
      s"past 100,000 train rows the front door must tile:\n$bigPlan")
  }

  test("TopK.byKey ranks NaN after every number, in any arrival order") {
    import graft.operators.TopK
    // one partition, so all three values pass through one k-slot buffer
    // in the listed order; id 3 carries the NaN
    for (vs <- Seq(1.0, 2.0, Double.NaN).permutations; k <- Seq(2, 3)) {
      val rows = spark.sparkContext.parallelize(
        vs.map(v => (0L, if (v.isNaN) 3L else v.toLong, v)), 1).toDF("key", "id", "v")
      val got = TopK.byKey(rows, k, "key", "id", "v")
        .select("rank", "id").as[(Int, Long)].collect().sortBy(_._1)
      assert(got.map(_._2).sameElements(Seq(1L, 2L, 3L).take(k)),
        s"arrival ${vs.mkString(",")} k=$k: ${got.mkString(",")}")
    }
  }
}
