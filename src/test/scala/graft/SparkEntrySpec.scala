package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SparkEntrySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("entry (flagship 1-NN DTW) returns one NN per series") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 15) // 15 users at sf0.001
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    assert(rows.forall(r => r.getDouble(2) >= 0))
  }

  test("every declared query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("queries and oracleSql declare exactly the same keys") {
    // Every declared query must be oracle-backed and vice versa — a
    // mechanical guard that keeps the 0-rows-only invariant true as both
    // maps grow (a query without an oracle silently downgrades the
    // driver's gate to a rows-only check).
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    val unbacked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
    assert(unbacked.isEmpty, s"query without oracle: $unbacked")
    // SparkEntry's maps are the `++` of the family maps, and `++` keeps
    // the later of two equal keys: a query declared in two families would
    // vanish silently. So no key may sit in two families, and the family
    // sizes must add up to the union's.
    val families = Seq(
      RelationalQueries.queries -> RelationalQueries.oracleSql,
      TransformQueries.queries -> TransformQueries.oracleSql,
      EventTimeQueries.queries -> EventTimeQueries.oracleSql,
      MatrixProfileQueries.queries -> MatrixProfileQueries.oracleSql,
      TextQueries.queries -> TextQueries.oracleSql,
      EmbeddingQueries.queries -> EmbeddingQueries.oracleSql,
      MultimodalQueries.queries -> MultimodalQueries.oracleSql,
      ClusteringQueries.queries -> ClusteringQueries.oracleSql,
      AlignmentQueries.queries -> AlignmentQueries.oracleSql,
      EstimatorQueries.queries -> EstimatorQueries.oracleSql)
    val keySets = families.map { case (q, o) => q.keySet ++ o.keySet }
    for (i <- keySets.indices; j <- 0 until i) {
      val twice = keySets(i) intersect keySets(j)
      assert(twice.isEmpty, s"declared in two families: $twice")
    }
    assert(families.map(_._1.size).sum == SparkEntry.queries.size)
    assert(families.map(_._2.size).sum == SparkEntry.oracleSql.size)
    assert(SparkEntry.queries.size == 181 && SparkEntry.oracleSql.size == 181)
  }

  test("mv metric UDFs agree with univariate variants on d=1 input") {
    import graft.functions.TsFunctions
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 3.0, 2.0), Seq(2.0, 3.0, 1.0, 0.0))
    ).toDF("a", "b")
      .withColumn("am", expr("transform(a, x -> array(x))"))
      .withColumn("bm", expr("transform(b, x -> array(x))"))
    val r = df.select(
      TsFunctions.dtwUdf(col("a"), col("b")) === TsFunctions.dtwMvUdf(col("am"), col("bm")),
      TsFunctions.euclideanUdf(col("a"), col("b")) ===
        TsFunctions.euclideanMvUdf(col("am"), col("bm")),
      TsFunctions.lcssUdf(col("a"), col("b"), lit(0.5)) ===
        TsFunctions.lcssMvUdf(col("am"), col("bm"), lit(0.5)),
      TsFunctions.gakUdf(col("a"), col("b"), lit(1.0)) ===
        TsFunctions.gakMvUdf(col("am"), col("bm"), lit(1.0)),
      TsFunctions.softDtwUdf(col("a"), col("b"), lit(1.0)) ===
        TsFunctions.softDtwMvUdf(col("am"), col("bm"), lit(1.0)),
      TsFunctions.sbdUdf(col("a"), col("b")) === TsFunctions.sbdMvUdf(col("am"), col("bm"))
    ).collect()(0)
    (0 until 6).foreach(i => assert(r.getBoolean(i), s"mv variant $i diverged"))
  }

  test("ts_dtw_mv_pairs emits one d=2 DTW per adjacent user pair") {
    val rows = SparkEntry.queries("ts_dtw_mv_pairs")(spark, sf).collect()
    assert(rows.length == 14) // 15 users at sf0.001 -> 14 adjacent pairs
    assert(rows.forall(_.getDouble(1) >= 0.0))
  }

  test("knn returns k ordered neighbors") {
    import graft.operators.Cdist
    import graft.functions.TsFunctions
    import org.apache.spark.sql.functions._
    val series = graft.model.TSModel.eventsToSeries(spark, sf)
      .select(col("series_id"), TsFunctions.znormUdf(col("values")).as("values"))
    val knn = Cdist.knn(series, series, 3, (a, b) => TsFunctions.dtwUdf(a, b)).collect()
    assert(knn.length == 15 * 3)
    // rank 1 must be self with dist 0 for a self-join
    val r1 = knn.filter(_.getAs[Int]("rank") == 1)
    assert(r1.forall(r => r.getAs[Long]("probe_id") == r.getAs[Long]("neighbor_id")))
    assert(r1.forall(r => r.getAs[Double]("dist") == 0.0))
  }

  test("lb-pruned dtw knn agrees with exact dtw knn (radius-constrained)") {
    import graft.operators.Cdist
    import graft.functions.TsFunctions
    import org.apache.spark.sql.functions._
    val series = graft.model.TSModel.eventsToSeries(spark, sf)
      .select(col("series_id"),
        TsFunctions.resampleZnormUdf(col("values"), lit(32)).as("values"))
      .cache()
    val pruned = Cdist.knnDtwPruned(series, series, k = 2, radius = 3, factor = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = Cdist.knn(series, series, 2,
      (a, b) => TsFunctions.dtwSakoeUdf(a, b, lit(3)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(pruned == exact)
  }

  test("normalized soft-dtw cdist: self-distance is zero") {
    import graft.operators.Cdist
    import org.apache.spark.sql.functions._
    val series = graft.model.TSModel.eventsToSeries(spark, sf)
      .limit(5)
      .select(col("series_id"), graft.functions.TsFunctions.znormUdf(col("values")).as("values"))
    val d = Cdist.softDtwNormalized(series, series, gamma = 1.0).collect()
    val self = d.filter(r => r.getLong(0) == r.getLong(1))
    assert(self.nonEmpty && self.forall(r => math.abs(r.getDouble(2)) < 1e-9))
  }
}
