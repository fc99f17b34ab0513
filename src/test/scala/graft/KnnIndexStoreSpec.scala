package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.{ListenerBusDrain, SparkException}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Cdist

/** The lifetime of the DTW k-NN front doors' stored broadcast indexes: a
  * persisted train relation's index is built once and its warm calls run
  * only the query job; an unpersisted relation is never stored; new data
  * behind a new persist is never answered from an old index; the byte cap
  * and the LRU eviction hold, and what leaves the store is released, not
  * destroyed, so a frame a front door returned still runs after it. */
class KnnIndexStoreSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  private def series(seed: Int, n: Int, sz: Int, firstId: Long = 0L,
                     col: String = "values"): DataFrame = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => (firstId + i, Array.fill(sz)(rng.nextGaussian() + i % 3)))
      .toDF("series_id", col)
  }

  private def raggedSeries(seed: Int, n: Int, firstId: Long = 0L,
                           col: String = "values"): DataFrame = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => (firstId + i, Array.fill(4 + rng.nextInt(9))(rng.nextGaussian() + i % 3)))
      .toDF("series_id", col)
  }

  private def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.as[(Long, Int, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))

  /** Jobs started while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc); n.get() }
    finally sc.removeSparkListener(listener)
  }

  private def storedIds: Set[Long] = Cdist.storedIndexes.map(_._3.id).toSet

  private def destroyed(bc: org.apache.spark.broadcast.Broadcast[_]): Boolean =
    try { bc.value; false } catch { case _: SparkException => true }

  private def persisted(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }

  test("a non-default seriesCol works on both front doors and both tiled twins") {
    val (train, probes) = (series(31, 12, 8), series(32, 3, 8, firstId = 100))
    val (rTrain, rProbes) = (raggedSeries(33, 12), raggedSeries(34, 3, firstId = 100))
    def asX(df: DataFrame) = df.withColumnRenamed("values", "x")
    val want = rows(Cdist.knnDtwPruned(probes, train, k = 3, radius = 2, factor = 2))
    val wantRagged = rows(Cdist.knnDtwRagged(rProbes, rTrain, k = 3))
    for (persist <- Seq(false, true)) {
      val t = if (persist) persisted(asX(train)) else asX(train)
      val rt = if (persist) persisted(asX(rTrain)) else asX(rTrain)
      val routes = Seq(
        "knnDtwPruned" -> (() => Cdist.knnDtwPruned(asX(probes), t, k = 3, radius = 2,
          factor = 2, seriesCol = "x")),
        "knnDtwBlocked" -> (() => Cdist.knnDtwBlocked(asX(probes), t, k = 3, radius = 2,
          factor = 2, blocks = 3, seriesCol = "x")),
        "knnDtwRagged" -> (() => Cdist.knnDtwRagged(asX(rProbes), rt, k = 3, seriesCol = "x")),
        "knnDtwRaggedBlocked" -> (() => Cdist.knnDtwRaggedBlocked(asX(rProbes), rt, k = 3,
          radius = -1, blocks = 3, seriesCol = "x")))
      for ((name, route) <- routes) {
        val expected = if (name.startsWith("knnDtwRagged")) wantRagged else want
        assert(rows(route()) == expected, s"$name, persisted = $persist")
      }
      if (persist) { t.unpersist(true); rt.unpersist(true) }
    }
  }

  test("a warm call on a persisted train runs one job and returns the cold call's rows") {
    val train = persisted(series(41, 12, 8))
    val probes = persisted(series(42, 4, 8, firstId = 100))
    val rTrain = persisted(raggedSeries(43, 12))
    val rProbes = persisted(raggedSeries(44, 4, firstId = 100))
    // an entry's size: 8 bytes per id and double (pruned: the series and
    // both envelope bounds; ragged: the series and its min and max)
    val raggedBytes = 8L * rTrain.selectExpr("size(values)").as[Int].collect().map(3L + _).sum
    val calls = Seq(
      ("pruned", () => Cdist.knnDtwPruned(probes, train, k = 3, radius = 2, factor = 2),
        8L * 12 * (1 + 3 * 8)),
      ("ragged", () => Cdist.knnDtwRagged(rProbes, rTrain, k = 3), raggedBytes))
    for ((name, call, bytes) <- calls) {
      val before = storedIds
      var cold = Seq.empty[(Long, Int, Long, Double)]
      val coldJobs = jobs { cold = rows(call()) }
      val added = Cdist.storedIndexes.filterNot(e => before(e._3.id))
      assert(added.map(_._2) == Seq(bytes), s"$name: the cold call stores one index, got $added")
      var warm = Seq.empty[(Long, Int, Long, Double)]
      val warmJobs = jobs { warm = rows(call()) }
      assert(warmJobs == 1, s"$name: warm call ran $warmJobs jobs (cold $coldJobs)")
      assert(coldJobs > warmJobs, s"$name: cold call ran $coldJobs jobs")
      assert(warm == cold, s"$name: warm rows differ from cold rows")
      assert(storedIds -- before == Set(added.head._3.id), s"$name: the warm call stored again")
    }
    Seq(train, probes, rTrain, rProbes).foreach(_.unpersist(true))
  }

  test("a train that is not persisted creates no entry") {
    val train = series(51, 12, 8)
    val rTrain = raggedSeries(52, 12)
    val before = storedIds
    val got = rows(Cdist.knnDtwPruned(series(53, 3, 8, firstId = 100), train, k = 2, radius = 2))
    val gotRagged = rows(Cdist.knnDtwRagged(raggedSeries(54, 3, firstId = 100), rTrain, k = 2))
    assert(got.size == 6 && gotRagged.size == 6)
    assert(storedIds.subsetOf(before), s"new entries: ${storedIds -- before}")
  }

  test("unpersist, even with a re-persist of the same plan, retires the old index") {
    val df = series(61, 12, 8)
    val probes = series(62, 3, 8, firstId = 100)
    val train = persisted(df)
    val before = storedIds
    val first = rows(Cdist.knnDtwPruned(probes, train, k = 2, radius = 2))
    val old = Cdist.storedIndexes.filterNot(e => before(e._3.id)).map(_._3)
    assert(old.size == 1)
    train.unpersist(true)
    // the next kNN call, on another relation, removes the entry and
    // unpersists its broadcast
    rows(Cdist.knnDtwRagged(raggedSeries(63, 3, firstId = 100), raggedSeries(64, 6), k = 1))
    assert(!storedIds(old.head.id), "the unpersisted relation's entry is still stored")
    assert(!destroyed(old.head), "the unpersisted relation's broadcast was destroyed")
    persisted(df)
    val again = rows(Cdist.knnDtwPruned(probes, df, k = 2, radius = 2))
    val renewed = Cdist.storedIndexes.filterNot(e => before(e._3.id))
    assert(renewed.size == 1 && renewed.head._3.id != old.head.id)
    assert(again == first)
    df.unpersist(true)
  }

  test("after a parquet overwrite, unpersist and re-persist, the next call sees the new data") {
    val root = Files.createTempDirectory("knn-index-store")
    val dir = root.resolve("train").toString
    val probes = series(71, 3, 8, firstId = 100)
    val (a, b) = (series(72, 12, 8), series(73, 12, 8, firstId = 50))
    val wantA = rows(Cdist.knnDtwPruned(probes, a, k = 2, radius = 2))
    val wantB = rows(Cdist.knnDtwPruned(probes, b, k = 2, radius = 2))
    assert(wantA != wantB)
    a.write.parquet(dir)
    val t1 = persisted(spark.read.parquet(dir))
    assert(rows(Cdist.knnDtwPruned(probes, t1, k = 2, radius = 2)) == wantA)
    assert(rows(Cdist.knnDtwPruned(probes, t1, k = 2, radius = 2)) == wantA)
    b.write.mode("overwrite").parquet(dir)
    t1.unpersist(true)
    val t2 = persisted(spark.read.parquet(dir))
    assert(rows(Cdist.knnDtwPruned(probes, t2, k = 2, radius = 2)) == wantB)
    t2.unpersist(true)
    Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  test("an index over the byte cap is not stored") {
    val sc = spark.sparkContext
    val store = new Cdist.IndexStore(1000L)
    val rdd = sc.parallelize(1 to 2).persist()
    val kind = Cdist.RaggedIndex("values")
    store.put(new Object, kind, rdd, sc.broadcast(Array(1.0)), 1001L)
    assert(store.snapshot.isEmpty, "an index over the cap was stored")
    store.put(new Object, kind, rdd, sc.broadcast(Array(1.0)), 1000L)
    assert(store.snapshot.map(_._2) == Seq(1000L), "an index at the cap was not stored")
    rdd.unpersist(true)
  }

  test("a kNN frame runs again after its stored index left the store") {
    val probes = series(81, 4, 8, firstId = 100)
    val rProbes = raggedSeries(82, 4, firstId = 100)
    for ((name, frame) <- Seq[(String, DataFrame => DataFrame)](
        "knnDtwPruned" -> (t => Cdist.knnDtwPruned(probes, t, k = 3, radius = 2)),
        "knnDtwRagged" -> (t => Cdist.knnDtwRagged(rProbes, t, k = 3)))) {
      val train = persisted(if (name == "knnDtwPruned") series(83, 12, 8) else raggedSeries(84, 12))
      val before = storedIds
      val df1 = frame(train)
      val first = rows(df1)
      assert(first.size == 12)
      val stored = storedIds -- before
      assert(stored.size == 1, s"$name: the persisted train's index is not stored")
      train.unpersist(true)
      // one call on another persisted relation sweeps the old entry
      val other = persisted(series(85, 6, 8))
      rows(Cdist.knnDtwPruned(probes, other, k = 1, radius = 2))
      assert((storedIds & stored).isEmpty, s"$name: the old entry is still stored")
      assert(rows(df1) == first, s"$name: the frame's second run differs")
      other.unpersist(true)
    }
  }

  test("LRU eviction releases the evicted broadcast without destroying it") {
    val sc = spark.sparkContext
    val store = new Cdist.IndexStore(100L)
    val rdd = sc.parallelize(1 to 2).persist()
    val kind = Cdist.RaggedIndex("values")
    val (ka, kb, kc) = (new Object, new Object, new Object)
    val Seq(a, b, c) = Seq(1.0, 2.0, 3.0).map(v => sc.broadcast(Array(v)))
    store.put(ka, kind, rdd, a, 40L)
    store.put(kb, kind, rdd, b, 40L)
    assert(store.get(ka, kind).contains(a))
    // a was used last, so b is the least recently used entry
    store.put(kc, kind, rdd, c, 40L)
    assert(store.snapshot.map(_._3) == Seq(a, c))
    assert(store.get(kb, kind).isEmpty)
    assert(!destroyed(a) && !destroyed(b) && !destroyed(c))
    rdd.unpersist(true)
  }
}
