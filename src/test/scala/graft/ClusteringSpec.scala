package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.{KNeighbors, KShape, KernelKMeans, TimeSeriesKMeans}

/** Clustering / estimator behavior tests. Quality-metric assertions
  * (inertia decreases, blobs separate) rather than raw label matching, as
  * the reference's own tests do (SURVEY §7.4 determinism note). */
class ClusteringSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** Two well-separated blobs of noisy series (seed-stable). */
  def blobs(nPerBlob: Int = 10, sz: Int = 24): org.apache.spark.sql.DataFrame = {
    val rng = new scala.util.Random(42)
    val rows = (0 until 2 * nPerBlob).map { i =>
      val blob = i / nPerBlob
      val base = if (blob == 0) (t: Int) => math.sin(t / 3.0) else (t: Int) => math.cos(t / 2.0) + 3.0
      (i.toLong, Array.tabulate(sz)(t => base(t) + rng.nextGaussian() * 0.1), blob)
    }
    rows.toDF("series_id", "values", "true_blob")
  }

  test("euclidean kmeans separates blobs") {
    val df = blobs()
    val model = new TimeSeriesKMeans(k = 2, metric = "euclidean", maxIter = 10, seed = 1).fit(df)
    val assigned = model.predict(df).join(df.select("series_id", "true_blob"), "series_id")
    val purity = assigned.groupBy("cluster", "true_blob").count()
      .groupBy("cluster").agg(max("count").as("m"))
      .agg(sum("m")).head().getLong(0)
    assert(purity == 20, "clusters should align with blobs")
    assert(model.inertia < 1.0)
  }

  test("dtw kmeans separates blobs (ragged tolerated)") {
    val df = blobs()
    val model = new TimeSeriesKMeans(k = 2, metric = "dtw", maxIter = 5,
      barycenterMaxIter = 3, seed = 1).fit(df)
    val assigned = model.predict(df).join(df.select("series_id", "true_blob"), "series_id")
    val purity = assigned.groupBy("cluster", "true_blob").count()
      .groupBy("cluster").agg(max("count").as("m"))
      .agg(sum("m")).head().getLong(0)
    assert(purity == 20)
  }

  test("softdtw kmeans runs and yields finite inertia") {
    val df = blobs(nPerBlob = 5, sz = 12)
    val model = new TimeSeriesKMeans(k = 2, metric = "softdtw", maxIter = 3,
      barycenterMaxIter = 5, seed = 1).fit(df)
    assert(java.lang.Double.isFinite(model.inertia))
  }

  test("softdtw kmeans gd solver separates blobs; gd step matches kernel gradient") {
    val df = blobs()
    val model = new TimeSeriesKMeans(k = 2, metric = "softdtw", maxIter = 5,
      barycenterMaxIter = 2, seed = 1, barycenterSolver = "gd",
      barycenterEta = 0.01).fit(df)
    val assigned = model.predict(df).join(df.select("series_id", "true_blob"), "series_id")
    val purity = assigned.groupBy("cluster", "true_blob").count()
      .groupBy("cluster").agg(max("count").as("m"))
      .agg(sum("m")).head().getLong(0)
    assert(purity == 20)
    // one distributed GD step == the driver-side kernel gradient update
    import graft.ml.DistributedBary
    import graft.kernels.Kernels
    val rows = df.select(col("true_blob").cast("int"), col("values").cast("array<double>"))
      .as[(Int, Array[Double])]
    val members = rows.collect()
    val init = Array(members.find(_._1 == 0).get._2.clone(),
      members.find(_._1 == 1).get._2.clone())
    val eta = 0.05
    val got = DistributedBary.softDtwGdByCluster(rows, init.map(_.clone()), 1.0, eta, 1)
    (0 to 1).foreach { c =>
      val grad = members.filter(_._1 == c).map(m =>
        Kernels.softDtwGrad(Kernels.uni(init(c)), Kernels.uni(m._2), 1.0)._2.map(_(0)))
        .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
      val want = init(c).zip(grad).map { case (b, g) => b - eta * g }
      got(c).zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9) }
    }
  }

  test("rbf kernel kmeans: blob partition is a fixed point; predict == fit") {
    // interleave ids so init="mod" (id % 2) starts AT the true blob
    // partition: with a correct rbf kernel-trick distance that
    // partition is a fixed point of Lloyd (within-blob kernel >>
    // cross-blob at this gamma), so any drift = a distance bug.
    // (A mixed symmetric init can legitimately collapse kernel k-means
    // — that's an init property, not a kernel one; the semantic trace
    // is driver signal via ts_kernel_kmeans_rbf.)
    val raw = blobs()
    val df = raw.select(((col("series_id") % 10) * 2 + col("true_blob")).as("series_id"),
      col("values"), col("true_blob"))
    val km = new KernelKMeans(k = 2, maxIter = 10, init = "mod",
      kernel = "rbf", gamma = 0.05)
    val assigned = km.fitAssign(df).join(df.select("series_id", "true_blob"), "series_id")
      .collect()
    assigned.foreach { r =>
      assert(r.getAs[Int]("cluster") == r.getAs[Int]("true_blob"),
        s"row $r drifted from the blob partition")
    }
    // predict on the training rows reproduces the fit assignment
    val model = km.fitModel(df)
    val fitLab = km.fit(df).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val predLab = model.predict(df).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fitLab == predLab)
  }

  test("kshape separates blobs") {
    val df = blobs()
    val model = new KShape(k = 2, maxIter = 10, seed = 3).fit(df)
    val assigned = model.predict(df).join(df.select("series_id", "true_blob"), "series_id")
    val purity = assigned.groupBy("cluster", "true_blob").count()
      .groupBy("cluster").agg(max("count").as("m"))
      .agg(sum("m")).head().getLong(0)
    assert(purity >= 18, s"purity $purity < 18") // shape-based; allow slack
  }

  test("power-iteration shape extraction matches eigSym up to tolerance") {
    import graft.ml.DistributedBary
    // znormed members keyed by cluster, centered on their znormed first
    // member — the exact shape of the KShape update pass
    val df = blobs().select(col("series_id"),
      graft.functions.TsFunctions.znormUdf(col("values")).as("values"),
      col("true_blob"))
    val cents = df.where(col("series_id").isin(0L, 10L)).orderBy("series_id")
      .collect().map(_.getSeq[Double](1).toArray)
    val rows = df.select(col("true_blob").cast("int"), col("values").cast("array<double>"))
      .as[(Int, Array[Double])]
    val eig = DistributedBary.shapeByCluster(rows, cents)
    val pow = DistributedBary.shapeByClusterPower(rows, cents, steps = 200)
    assert(eig.keySet == pow.keySet)
    eig.keys.foreach { c =>
      val (a, b) = (eig(c), pow(c))
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val cos = dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      assert(cos > 0.9999, s"cluster $c: power vs eigSym cosine $cos")
    }
  }

  test("kernel kmeans assigns every series to a cluster in range") {
    val df = blobs(nPerBlob = 6, sz = 16)
    val labels = new KernelKMeans(k = 2, maxIter = 5, sigma = 1.0, seed = 7).fit(df)
    assert(labels.count() == 12)
    val cs = labels.select("cluster").distinct().as[Int].collect()
    assert(cs.forall(c => c >= 0 && c < 2))
  }

  test("kernel kmeans fitAssign carries d2 and matches fit; mod init is deterministic") {
    val df = blobs(nPerBlob = 6, sz = 16)
    val km = new KernelKMeans(k = 2, maxIter = 4,
      tol = Double.NegativeInfinity, sigma = 1.0, init = "mod")
    val assign = km.fitAssign(df).orderBy("series_id")
      .select("series_id", "cluster", "d2").as[(Long, Int, Double)].collect()
    assert(assign.length == 12)
    // d2 is the kernel-trick distance: nonnegative up to fp noise
    assign.foreach { case (_, c, d2) => assert(c >= 0 && c < 2 && d2 > -1e-9) }
    // fit is fitAssign minus the distance column
    val labels = new KernelKMeans(k = 2, maxIter = 4,
      tol = Double.NegativeInfinity, sigma = 1.0, init = "mod").fit(df)
      .orderBy("series_id").as[(Long, Int)].collect()
    assert(labels.toSeq == assign.map(a => (a._1, a._2)).toSeq,
      "fit and fitAssign must agree on labels")
    // blobs are well separated: the fixed-iteration mod-init replay
    // still recovers the true 2-blob partition
    val byBlob = assign.groupBy(_._1 / 6).view.mapValues(_.map(_._2).distinct).toMap
    assert(byBlob.values.forall(_.length == 1), s"mixed blob assignment: $byBlob")
    assert(byBlob(0L) != byBlob(1L), "blobs must land in different clusters")
  }

  test("kernel kmeans predict refuses a training set past the broadcast guard") {
    val df = blobs(nPerBlob = 6, sz = 16)
    val model = new KernelKMeans(k = 2, maxIter = 3, sigma = 1.0, seed = 7)
      .fitModel(df)
    // the guard is the documented O(n_train)-per-probe ceiling: predict
    // must fail loudly, not OOM the broadcast at 100x train scale
    val e = intercept[IllegalArgumentException] {
      model.predict(df, maxTrainRows = 5)
    }
    assert(e.getMessage.contains("maxTrainRows"))
    // and under the guard it still answers
    assert(model.predict(df).count() == 12)
  }

  test("silhouette: separated blobs score high") {
    import graft.operators.Cdist
    import graft.functions.TsFunctions
    val df = blobs()
    val model = new TimeSeriesKMeans(k = 2, metric = "euclidean", maxIter = 10, seed = 1).fit(df)
    val assigned = model.predict(df)
    val dists = Cdist.selfCross(df, (a, b) => TsFunctions.euclideanUdf(a, b))
    val s = TimeSeriesKMeans.silhouette(dists, assigned)
    assert(s > 0.5, s"silhouette $s")
  }

  test("knn classifier: blobs classify correctly with dtw 3-NN") {
    import graft.functions.TsFunctions
    val df = blobs()
    val train = df.where(col("series_id") % 2 === 0)
      .select(col("series_id"), col("values"), col("true_blob").cast("string").as("label"))
    val test = df.where(col("series_id") % 2 === 1)
    val pred = KNeighbors.classify(test, train, k = 3,
      (a, b) => TsFunctions.dtwUdf(a, b))
      .join(df.select(col("series_id").as("probe_id"),
        col("true_blob").cast("string").as("truth")), "probe_id")
    val acc = pred.where(col("label") === col("truth")).count().toDouble / pred.count()
    assert(acc == 1.0, s"accuracy $acc")
  }

  test("k-means++ init: spreads seeds across separated clusters, potential decreases") {
    // 3 tight clusters far apart: the D² weighting must land one seed
    // in each (a uniform pick of 3 from 30 would collide often)
    val rows = (0 until 30).map { i =>
      val base = (i % 3) * 100.0
      (i.toLong, Array.tabulate(8)(j => base + (i / 3) * 0.01 + j * 0.001))
    }.toDF("series_id", "values")
    val trace = TimeSeriesKMeans.kmeansPlusPlusInit(rows, k = 3)
      .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
    assert(trace.map(_._1) == Seq(0, 1, 2))
    val clusters = trace.map(_._2 % 3).toSet
    assert(clusters.size == 3,
      s"seeds collided in clusters: ${trace.map(t => t._2 -> (t._2 % 3))}")
    val pots = trace.map(_._3)
    assert(pots == pots.sorted.reverse && pots.distinct == pots,
      s"potential not strictly decreasing: $pots")
    // chosen centers are never re-picked (their D² is zero)
    assert(trace.map(_._2).distinct.size == 3)
    // partition independence: same trace from a different layout
    val trace2 = TimeSeriesKMeans.kmeansPlusPlusInit(
        rows.repartition(7, col("series_id")), k = 3)
      .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
    assert(trace2.map(t => (t._1, t._2)) == trace.map(t => (t._1, t._2)),
      s"seeding changed under repartitioning: $trace2 vs $trace")
    // metric="dtw": same spread property (offset clusters keep their
    // separation under warping), same determinism
    val dtwTrace = TimeSeriesKMeans.kmeansPlusPlusInit(rows, k = 3, metric = "dtw")
      .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
    assert(dtwTrace.map(_._2 % 3).toSet.size == 3,
      s"dtw seeds collided: $dtwTrace")
    assert(dtwTrace.map(_._3) == dtwTrace.map(_._3).sorted.reverse)
    val dtwTrace2 = TimeSeriesKMeans.kmeansPlusPlusInit(
        rows.repartition(7, col("series_id")), k = 3, metric = "dtw")
      .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
    assert(dtwTrace2.map(t => (t._1, t._2)) == dtwTrace.map(t => (t._1, t._2)))
  }

  test("k-means++ init: once every D² is zero, the smallest unchosen id is taken") {
    // three copies each of two distinct series: after one seed per
    // series no row is live, so round 2 has no race and falls back
    val rows = (0 until 6).map { i =>
      (i.toLong, Array.tabulate(8)(j => if (i % 2 == 0) j.toDouble else 10.0 - j))
    }.toDF("series_id", "values")
    for (metric <- Seq("euclidean", "dtw")) {
      val trace = TimeSeriesKMeans.kmeansPlusPlusInit(rows, k = 3, metric = metric)
        .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
      val ids = trace.map(_._2)
      assert(ids(0) % 2 != ids(1) % 2, s"$metric: round 1 re-picked a copy: $trace")
      assert(ids(2) == (0L until 6L).filterNot(ids.take(2).contains).min,
        s"$metric: round 2 is not the smallest unchosen id: $trace")
      assert(trace(0)._3 > 0 && trace(1)._3 == 0.0 && trace(2)._3 == 0.0,
        s"$metric: potentials $trace")
    }
  }

  test("fit with init=k-means++det: converges on separated clusters") {
    val rows = (0 until 30).map { i =>
      val base = (i % 3) * 100.0
      (i.toLong, Array.tabulate(8)(j => base + (i / 3) * 0.01 + j * 0.001))
    }.toDF("series_id", "values")
    val m = new TimeSeriesKMeans(k = 3, init = "k-means++det", maxIter = 5).fit(rows)
    // seeds landed one per cluster, so Lloyd converges to the 3 tight
    // clusters and inertia is the within-cluster spread only
    assert(m.inertia < 1e-2, s"inertia ${m.inertia}")
    val assigned = m.predict(rows).select("series_id", "cluster")
      .as[(Long, Int)].collect()
    val byTrue = assigned.groupBy(_._1 % 3).values.map(_.map(_._2).toSet)
    assert(byTrue.forall(_.size == 1) &&
      byTrue.flatten.toSet.size == 3, s"clusters mixed: ${assigned.toSeq}")
  }

  test("dbaByCluster matches the local Barycenters.dba per cluster at fixed iterations") {
    // the distributed MM update (one per-cluster pass per iteration, no
    // task holding a cluster) against the local reference loop; tol = -inf
    // pins both to exactly `iters` iterations, so only the summation order
    // of the per-timestep sums differs
    import graft.ml.DistributedBary
    import graft.kernels.{Barycenters, Kernels}
    val rng = new scala.util.Random(11)
    def series(c: Int) = Array.tabulate(16)(t =>
      math.sin(0.3 * t + c) + 0.2 * rng.nextGaussian())
    val members = (0 until 60).map(i => (i % 3, series(i % 3)))
    val init = Array.tabulate(3)(c => Array.tabulate(16)(t => math.sin(0.3 * t + c)))
    val dist = DistributedBary.dbaByCluster(spark.createDataset(members),
      init.map(_.clone()), iters = 5, tol = Double.NegativeInfinity)
    assert(dist.keySet == Set(0, 1, 2))
    dist.foreach { case (cid, c) =>
      val ref = Barycenters.dba(members.filter(_._1 == cid).map(m => Kernels.uni(m._2)),
        barycenterSize = 16, maxIter = 5, tol = Double.NegativeInfinity,
        init = Kernels.uni(init(cid))).map(_(0))
      assert(c.length == ref.length)
      c.indices.foreach(t => assert(math.abs(c(t) - ref(t)) < 1e-9,
        s"cluster $cid t=$t: ${c(t)} vs ${ref(t)}"))
    }
  }

  test("dba releases its local checkpoint") {
    import graft.ml.DistributedBary
    val sc = spark.sparkContext
    val series = spark.createDataset((0 until 12).map(i =>
      Array.tabulate(16)(t => math.sin(0.3 * t + i % 3))))
    val before = sc.getPersistentRDDs.size
    val b = DistributedBary.dba(series, maxIter = 2)
    assert(b.length == 16)
    assert(sc.getPersistentRDDs.size == before, s"persisted RDDs: ${sc.getPersistentRDDs.keySet}")
  }

  test("Model.inertia is the last assignment's Σd²/n, at tol = 0 and tol = -1 alike") {
    // unstructured noise: Lloyd is still moving centroids at iteration 3
    val rng = new scala.util.Random(7)
    val df = (0 until 40).map(i => (i.toLong, Array.fill(8)(rng.nextGaussian())))
      .toDF("series_id", "values")
    val xs = df.select(col("values")).as[Array[Double]].collect()
    for (metric <- Seq("euclidean", "dtw")) {
      def fit(maxIter: Int, tol: Double) = new TimeSeriesKMeans(k = 3, metric = metric,
        maxIter = maxIter, tol = tol, init = "first", barycenterMaxIter = 1).fit(df)
      val (at0, atNeg) = (fit(3, 0.0), fit(3, -1.0))
      // the centroids the third (last) assignment ran against
      val before = fit(2, -1.0).centroids
      def same(a: Array[Array[Double]], b: Array[Array[Double]]) =
        a.indices.forall(c => java.util.Arrays.equals(a(c), b(c)))
      assert(same(at0.centroids, atNeg.centroids), s"$metric: tol 0 and -1 ran different iterations")
      // the fit does not converge: the last update still moves a centroid
      assert(!same(before, atNeg.centroids), s"$metric: converged before the last iteration")
      assert(at0.inertia == atNeg.inertia, s"$metric: ${at0.inertia} at tol 0, ${atNeg.inertia} at tol -1")
      val d = TimeSeriesKMeans.metricDist(metric, 1.0)
      val want = xs.map { x => val m = before.map(c => d(c, x)).min; m * m }.sum / xs.length
      assert(math.abs(atNeg.inertia - want) <= 1e-12 * want, s"$metric: inertia ${atNeg.inertia}, want $want")
    }
  }

  test("knn regressor: distance-weighted mean is exact for duplicate probe") {
    import graft.functions.TsFunctions
    val train = Seq(
      (0L, Array(1.0, 2.0, 3.0), 10.0),
      (1L, Array(4.0, 5.0, 6.0), 20.0),
      (2L, Array(7.0, 8.0, 9.0), 30.0)).toDF("series_id", "values", "y")
    val probes = Seq((100L, Array(1.0, 2.0, 3.0))).toDF("series_id", "values")
    val pred = KNeighbors.regress(probes, train, k = 2,
      (a, b) => TsFunctions.euclideanUdf(a, b), weights = "distance").head()
    assert(math.abs(pred.getDouble(1) - 10.0) < 1e-3)
  }
}
