package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TsFunctions

/** Variable-length integration suite — the engine-side mirror of the
  * reference's `tslearn/tests/test_variablelength.py:1-94`: ragged
  * datasets through kNN (dtw / softdtw), SVM (gak), kernel k-means and
  * dtw k-means end to end. Ragged series are NATIVE here (arrays of
  * different sizes per row, no NaN padding — SURVEY §1.3), and the
  * VARIABLE_LENGTH_METRICS contract (`metrics/__init__.py:29`) is
  * enforced the other way too: equal-length-only metrics reject ragged
  * input (`kmeans.py:559-562`). */
class VariableLengthSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** Two well-separated classes of RAGGED series (lengths 10..19):
    * class 0 = slow sine, class 1 = offset cosine. */
  private lazy val ragged: DataFrame = {
    val rng = new scala.util.Random(7)
    val rows = (0 until 24).map { i =>
      val cls = i % 2
      val sz = 10 + rng.nextInt(10)
      val vs = Array.tabulate(sz)(t =>
        if (cls == 0) math.sin(t * 0.4) + 0.05 * rng.nextGaussian()
        else 2.0 + math.cos(t * 0.4) + 0.05 * rng.nextGaussian())
      (i.toLong, vs, s"c$cls")
    }
    rows.toDF("series_id", "values", "label").cache()
  }

  test("ragged fixture really is ragged") {
    val sizes = ragged.select(size(col("values"))).as[Int].collect().toSet
    assert(sizes.size > 1, s"fixture must have multiple lengths, got $sizes")
  }

  test("LB-pruned kNN routes reject ragged input loudly (dtw_variants.py:1248-1251)") {
    import graft.operators.Cdist
    // a silently-wrong LB on sz1 != sz2 would prune true neighbors; the
    // contract is an error that names the ragged-capable route
    def messageChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val eBroadcast = intercept[Exception] {
      Cdist.knnDtwPruned(ragged, ragged, k = 2, radius = 3).collect()
    }
    assert(messageChain(eBroadcast).contains("knnDtwRagged"), messageChain(eBroadcast))
    val eBlocked = intercept[Exception] {
      Cdist.knnDtwBlocked(ragged, ragged, k = 2, radius = 3, blocks = 3).collect()
    }
    assert(messageChain(eBlocked).contains("knnDtwRagged"), messageChain(eBlocked))
  }

  test("knnDtwRagged == exact window kNN on ragged input; blocked route identical") {
    import graft.operators.Cdist
    val exact = Cdist.knn(ragged, ragged, k = 3, (a, b) => TsFunctions.dtwUdf(a, b))
      .select("probe_id", "rank", "neighbor_id", "dist")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val got = Cdist.knnDtwRagged(ragged, ragged, k = 3)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(got.length == exact.length)
    exact.zip(got).foreach { case (e, g) =>
      assert(e._1 == g._1 && e._2 == g._2 && e._3 == g._3, s"hit mismatch $e vs $g")
      assert(math.abs(e._4 - g._4) < 1e-12, s"dist mismatch $e vs $g")
    }
    for (blocks <- Seq(1, 3, 5)) {
      val blocked = Cdist.knnDtwRaggedBlocked(ragged, ragged, k = 3,
          radius = -1, blocks = blocks)
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
      assert(blocked.length == exact.length, s"blocks=$blocks row count")
      exact.zip(blocked).foreach { case (e, g) =>
        assert(e._1 == g._1 && e._2 == g._2 && e._3 == g._3,
          s"blocks=$blocks hit mismatch $e vs $g")
        assert(math.abs(e._4 - g._4) < 1e-12, s"blocks=$blocks dist mismatch $e vs $g")
      }
    }
    // the tiled route must not broadcast the train relation
    val guarded = Cdist.knnDtwRaggedBlocked(ragged, ragged, k = 3, radius = -1, blocks = 3)
    assert(!guarded.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
    // the front door's guard at its real boundary: 100,001 train rows
    // take the tiled route. The plan is built, not run: only the guard's
    // count job
    val big = spark.range(100001).select(col("id").as("series_id"),
      array(col("id").cast("double"), lit(0.0)).as("values"))
    val bigPlan = Cdist.knnDtwRagged(big.where(col("series_id") < 2), big, k = 1)
      .queryExecution.executedPlan.toString
    assert(bigPlan.contains("ShuffledHashJoin") && !bigPlan.contains("BroadcastExchange"),
      s"past 100,000 train rows the front door must tile:\n$bigPlan")

    // against an exhaustive reference (dtwFlatEA on every pair, ranked
    // by (dist, id) with NaN last), on every route: `ragged` itself; an
    // empty series at the lowest id, whose NaN distance must not hold
    // the k = 1 slot against any number; and every series twice under
    // different ids, so the kth slot ties and (dist, id) decides it;
    // series holding +Inf and -Inf, and of lengths 1 and 2; and constant
    // series, whose lower bound equals their DTW exactly (every inner
    // value is as far from the other's range as from any of its values),
    // so the kth slot ties at lb = dist. Each input runs unconstrained
    // and at radius 2. The broadcast route also runs twice on a fresh
    // persisted copy: the second call reads its stored index
    val withEmpty = ragged.union(Seq((-1L, Array.empty[Double], "c0"))
      .toDF("series_id", "values", "label"))
    val duplicated = ragged.union(ragged.withColumn("series_id", col("series_id") + 100))
    val edges = ragged.union(Seq(
        (200L, Array(0.1, Double.PositiveInfinity, 0.3, 0.2), "c0"),
        (201L, Array(Double.NegativeInfinity, 2.0, 2.1), "c1"),
        (202L, Array(Double.PositiveInfinity, Double.NegativeInfinity), "c0"),
        (203L, Array(0.05), "c0"),
        (204L, Array(2.5), "c1"),
        (205L, Array(0.0, 0.4), "c0"),
        (206L, Array(2.2, 2.9), "c1"))
      .toDF("series_id", "values", "label"))
    val constants = Seq((0.1, 6), (0.3, 3), (0.3, 5), (0.7, 4), (0.5, 2), (0.7, 6),
        (0.3, 6), (0.1, 4), (1.3, 5), (0.7, 2))
      .zipWithIndex.map { case ((v, n), i) => (300L - i, Array.fill(n)(v), "c0") }
    val constantTies = (constants ++ Seq((400L, Array(0.1, 0.7, 0.2, 0.3, 0.3), "c1"),
        (401L, Array(0.3, 0.3, 0.3, 0.7), "c1")))
      .toDF("series_id", "values", "label")
    def storedIds = Cdist.storedIndexes.map(_._3.id).toSet
    for ((name, ds, k) <- Seq(("ragged", ragged, 3), ("empty at lowest id", withEmpty, 1),
                              ("duplicated", duplicated, 3), ("inf and short", edges, 3),
                              ("constant ties", constantTies, 3));
         radius <- Seq(-1, 2)) {
      val series = ds.select(col("series_id"), col("values")).as[(Long, Array[Double])].collect()
      val want = series.flatMap { case (pid, q) =>
        series.map { case (id, t) =>
            (id, graft.kernels.Kernels.dtwFlatEA(q, t, radius, Double.PositiveInfinity)) }
          .sortBy { case (id, d) => (d.isNaN, if (d.isNaN) 0.0 else d, id) }
          .take(k).zipWithIndex.map { case ((id, d), r) => (pid, r + 1, id, d) }
      }.sortBy(r => (r._1, r._2))
      val copy = ds.select(col("series_id"), col("values")).persist()
      val before = storedIds
      val cold = Cdist.knnDtwRagged(ds, copy, k, radius)
      val added = storedIds -- before
      assert(added.size == 1, s"$name: the persisted copy's index is not stored")
      val warm = Cdist.knnDtwRagged(ds, copy, k, radius)
      assert(storedIds -- before == added, s"$name: the warm call stored again")
      val routes = Seq("broadcast" -> Cdist.knnDtwRagged(ds, ds, k, radius),
          "broadcast persisted cold" -> cold, "broadcast persisted warm" -> warm) ++
        Seq(1, 3, 5).map(b => s"blocks=$b" -> Cdist.knnDtwRaggedBlocked(ds, ds, k,
          radius = radius, blocks = b))
      for ((route, df) <- routes) {
        val got = df.as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
        assert(got.length == want.length, s"$name r=$radius $route row count")
        want.zip(got).foreach { case (e, g) =>
          assert(e._1 == g._1 && e._2 == g._2 && e._3 == g._3,
            s"$name r=$radius $route hit mismatch $e vs $g")
          assert((e._4.isNaN && g._4.isNaN) || e._4 == g._4 || math.abs(e._4 - g._4) < 1e-12,
            s"$name r=$radius $route dist mismatch $e vs $g")
        }
      }
      copy.unpersist(true)
    }
  }

  test("cascade computes a candidate whose lb rounds an ulp above a tying distance") {
    import graft.operators.Cdist
    // two train series at the same DTW d from q; the lower id arrives
    // second, its lb one ulp above d (the rounding an lb equal to d in
    // exact arithmetic can take). The (dist, id) rule ranks it first, so
    // the skip test must not fire on it
    val q = Array(0.1, 0.7, 0.2, 0.3)
    val c = Array(1.0, 1.0)
    val d = graft.kernels.Kernels.dtwFlatEA(q, c, -1, Double.PositiveInfinity)
    val got = Cdist.cascade(q, Seq((0.5, 2L, c), (math.nextUp(d), 1L, c.clone())), k = 1, radius = -1)
    assert(got.toSeq == Seq((1L, d)))
  }

  test("kNN-DTW classifies ragged series (test_variablelength kNN leg)") {
    Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column](
      (a, b) => TsFunctions.dtwUdf(a, b),
      (a, b) => TsFunctions.softDtwUdf(a, b, lit(1.0))
    ).foreach { metric =>
      val pred = graft.ml.KNeighbors.classify(
        ragged.where(col("series_id") < 8),
        ragged.where(col("series_id") >= 8), k = 3, metric)
      val acc = pred.join(ragged.select(col("series_id"), col("label").as("y")),
          pred("probe_id") === col("series_id"))
        .select(avg(when(col("label") === col("y"), 1.0).otherwise(0.0)))
        .head().getDouble(0)
      assert(acc == 1.0, s"ragged kNN accuracy $acc")
    }
  }

  test("GAK SVC fits and predicts ragged series (SVM leg)") {
    val m = graft.ml.TimeSeriesSVC.fit(ragged, c = 1.0, sigma = 2.0)
    val pred = graft.ml.TimeSeriesSVC.predict(m, ragged, ragged)
    val acc = pred.join(ragged.select(col("series_id"), col("label").as("y")), "series_id")
      .select(avg(when(col("label") === col("y"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(acc >= 0.9, s"ragged GAK SVC train accuracy $acc")
  }

  test("kernel k-means and DTW k-means cluster ragged series (clustering leg)") {
    val unlabeled = ragged.drop("label")
    val kk = new graft.ml.KernelKMeans(k = 2, maxIter = 6, sigma = 2.0, seed = 1)
      .fit(unlabeled)
    assert(kk.select("cluster").distinct().count() == 2)
    val km = new graft.ml.TimeSeriesKMeans(k = 2, metric = "dtw", maxIter = 4,
      barycenterMaxIter = 3, seed = 1).fit(unlabeled)
    val assigned = km.predict(unlabeled)
    assert(assigned.count() == 24)
    assert(assigned.select("cluster").distinct().count() == 2)
    // clusters must separate the two generating processes perfectly
    val purity = assigned
      .join(ragged.select(col("series_id"), col("label")), "series_id")
      .groupBy("cluster").agg(countDistinct("label").as("nl"))
      .select(max("nl")).head().getLong(0)
    assert(purity == 1L, "each DTW k-means cluster should be label-pure")
  }

  test("equal-length-only metrics reject ragged input (kmeans.py:559-562)") {
    val e = intercept[Exception] {
      ragged.select(TsFunctions.euclideanUdf(col("values"),
        reverse(slice(col("values"), 1, 5)))).collect()
    }
    assert(e.getMessage.contains("equal-size") ||
      e.getCause != null && e.getCause.getMessage.contains("equal-size"))
  }
}
