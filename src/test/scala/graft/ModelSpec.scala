package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.TSModel

class ModelSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  test("text codec round-trips a multivariate series (utils.py:219-353)") {
    val dir = java.nio.file.Files.createTempDirectory("tscodec").toString
    val df = Seq(
      (0L, Array(Array(1.0, 10.0), Array(2.0, 20.0), Array(3.0, 30.0))),
      (1L, Array(Array(4.5, 45.0), Array(5.5, 55.0)))
    ).toDF("series_id", "ts")
    // write dim-major lines, then load back and compare time-major arrays
    df.select(TSModel.formatSeriesLine(
        expr("transform(sequence(0, size(ts[0]) - 1), d -> transform(ts, t -> t[d]))"))
        .as("value"))
      .coalesce(1).write.mode("overwrite").text(s"$dir/out")
    def collectTs(d: org.apache.spark.sql.DataFrame): Set[Seq[Seq[Double]]] =
      d.select("ts").collect()
        .map(_.getSeq[scala.collection.Seq[Double]](0).map(_.toSeq).toSeq).toSet
    assert(collectTs(TSModel.loadTimeSeriesTxt(spark, s"$dir/out")) == collectTs(df))
  }

  test("sklearn flat cast round-trips a multivariate series (cast.py:15-56)") {
    val df = Seq(
      (0L, Array(Array(1.0, 10.0), Array(2.0, 20.0), Array(3.0, 30.0))),
      (1L, Array(Array(4.5, 45.0), Array(5.5, 55.0)))
    ).toDF("series_id", "mv")
    val flat = df.select(col("series_id"), TSModel.toSklearnFlat(col("mv")).as("f"))
    // time-major layout: (sz, d) -> [t0d0, t0d1, t1d0, ...]
    val f0 = flat.where(col("series_id") === 0).select("f")
      .head().getSeq[Double](0)
    assert(f0 == Seq(1.0, 10.0, 2.0, 20.0, 3.0, 30.0))
    val back = flat.select(col("series_id"), TSModel.fromSklearnFlat(col("f"), 2).as("mv"))
    def collectMv(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[Seq[Double]]] =
      d.select("series_id", "mv").collect()
        .map(r => r.getLong(0) -> r.getSeq[scala.collection.Seq[Double]](1).map(_.toSeq).toSeq)
        .toMap
    assert(collectMv(back) == collectMv(df))
  }

  test("random walks are seed-stable and have expected shape") {
    val a = TSModel.randomWalks(spark, 5, 16, 2, seed = 9).collect()
    val b = TSModel.randomWalks(spark, 5, 16, 2, seed = 9).collect()
    assert(a.length == 5)
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("random walk blobs: same-blob series correlate more than cross-blob") {
    import graft.kernels.Kernels
    val df = TSModel.randomWalkBlobs(spark, nPerBlob = 4, sz = 32, d = 1,
      nBlobs = 2, noise = 0.1, seed = 3)
    val rows = df.orderBy("series_id").collect()
      .map(r => r.getSeq[scala.collection.Seq[Double]](1).map(_.toArray).toArray)
    val intra = Kernels.euclidean(rows(0), rows(1))
    val inter = Kernels.euclidean(rows(0), rows(6))
    assert(intra < inter, s"intra $intra should be < inter $inter")
  }

  test("MLP classifier learns separated blobs") {
    val rng = new scala.util.Random(8)
    val rows = (0 until 40).map { i =>
      val blob = i / 20
      (i.toLong, Array.tabulate(16)(t =>
        (if (blob == 0) 1.0 else -1.0) * (t % 5) + rng.nextGaussian() * 0.1), blob.toString)
    }
    val df = rows.toDF("series_id", "values", "label")
    val model = graft.ml.TimeSeriesMLP.fit(df, hidden = Seq(8), maxIter = 60, seed = 1)
    val pred = model.predict(df)
      .join(df.select(col("series_id"), col("label").as("truth")), "series_id")
    val acc = pred.where(col("label") === col("truth")).count().toDouble / 40
    assert(acc >= 0.95, s"MLP accuracy $acc")
  }

  test("ts_zeros, check_dataset, check_dims (utils.py semantics)") {
    import graft.model.TSModel
    val z = TSModel.zeros(spark, 3, 5).collect()
    assert(z.length == 3 && z.forall(_.getSeq[Double](1).forall(_ == 0.0)))
    val ragged = Seq((0L, Array(1.0, 2.0)), (1L, Array(1.0, 2.0, 3.0)))
      .toDF("series_id", "values")
    TSModel.checkDataset(ragged) // no constraint: fine
    assertThrows[IllegalArgumentException](
      TSModel.checkDataset(ragged, forceEqualLength = true))
    assertThrows[IllegalArgumentException](
      TSModel.checkDataset(ragged, forceSingleTimeSeries = true))
    TSModel.checkDims(ragged.where($"series_id" === 0), fitSz = 2)
    assertThrows[IllegalArgumentException](TSModel.checkDims(ragged, fitSz = 2))
  }

  test("LabelCategorizer one-hot round-trip (utils.py:528-636 doctest shape)") {
    import graft.ml.LabelCategorizer
    val df = Seq((0L, "-1"), (1L, "2"), (2L, "1"), (3L, "1"), (4L, "2"))
      .toDF("series_id", "label")
    val m = new LabelCategorizer().fit(df)
    assert(m.backwardMatch.toSeq == Seq("-1", "1", "2"))
    val oh = m.transform(df).orderBy("series_id")
      .select("y_onehot").as[Array[Double]].collect()
    assert(oh(0).toSeq == Seq(1.0, 0.0, 0.0) && oh(1).toSeq == Seq(0.0, 0.0, 1.0))
    val back = m.inverseTransform(m.transform(df)).orderBy("series_id")
      .select("label_orig").as[String].collect()
    assert(back.toSeq == Seq("-1", "2", "1", "1", "2"))
    // binary + single column
    val dfb = Seq((0L, "-1"), (1L, "2"), (2L, "-1")).toDF("series_id", "label")
    val mb = new LabelCategorizer(singleColumnIfBinary = true).fit(dfb)
    val ohb = mb.transform(dfb).orderBy("series_id")
      .select("y_onehot").as[Array[Double]].collect()
    assert(ohb.map(_.toSeq).toSeq == Seq(Seq(1.0), Seq(0.0), Seq(1.0)))
    val backb = mb.inverseTransform(mb.transform(dfb)).orderBy("series_id")
      .select("label_orig").as[String].collect()
    assert(backb.toSeq == Seq("-1", "2", "-1"))
  }

  test("eventsWithTsUs absorbs generator schema drift (round-8 regression)") {
    // The driver re-generates events.parquet per round and its physical
    // schema has drifted (round 8 went red on every events-derived
    // query). The reader must normalize: any plausible ts physical type
    // and common column-name variants all land on the same µs clock.
    import org.apache.spark.sql.types._
    val canonDir = java.nio.file.Files.createTempDirectory("evdrift").toString
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:15:30.123456"), 7L, "click", 1.5, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-03-02 23:59:59.999999"), 8L, "view", 2.5, "{}"))
    val canon = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    canon.write.mode("overwrite").parquet(s"$canonDir/events.parquet")
    val want = TSModel.eventsWithTsUs(spark, canonDir)
      .select("event_id", "ts_us").orderBy("event_id")
      .as[(Long, Long)].collect().toSeq
    assert(want.map(_._2).forall(us => us > 1700000000000000L && us < 1800000000000000L))

    def check(tag: String, expected: Seq[(Long, Long)] = want)(
        mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val d = java.nio.file.Files.createTempDirectory(s"evdrift_$tag").toString
      mk(canon).write.mode("overwrite").parquet(s"$d/events.parquet")
      val got = TSModel.eventsWithTsUs(spark, d)
        .select("event_id", "ts_us").orderBy("event_id")
        .as[(Long, Long)].collect().toSeq
      assert(got == expected, s"variant $tag drifted: $got != $expected")
    }
    check("i64_us")(df => df.withColumn("ts", unix_micros(col("ts"))))
    // a ms-resolution clock genuinely loses the sub-ms part
    check("i64_ms", want.map { case (id, us) => (id, us / 1000 * 1000) })(
      df => df.withColumn("ts", expr("unix_micros(ts) div 1000")))
    check("dbl_s")(df => df.withColumn("ts", unix_micros(col("ts")) / lit(1e6)))
    // fractional DECIMAL seconds must keep sub-second precision: the
    // scale-up happens in exact decimal arithmetic BEFORE the long cast
    // (a long-cast-first path truncates 1709288130.123456 → .000000)
    check("dec_s")(df => df.withColumn("ts",
      (unix_micros(col("ts")) / lit(1e6)).cast("decimal(20,6)")))
    check("dec_ms")(df => df.withColumn("ts",
      (unix_micros(col("ts")) / lit(1e3)).cast("decimal(20,3)")))
    check("renamed")(df => df.toDF("id", "timestamp", "userid", "type", "val", "payload"))
  }

  test("documents/embeddings readers absorb column-name drift") {
    val d = java.nio.file.Files.createTempDirectory("tabdrift").toString
    Seq((1L, "hello world", "en", "web", 11L))
      .toDF("ID", "content", "language", "domain", "len")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val doc = TSModel.documents(spark, d)
    assert(doc.columns.toSet == Set("doc_id", "text", "lang", "source", "n_chars"))
    assert(doc.select("text").as[String].head == "hello world")
    Seq((7L, Array(1.0f, 2.0f), 3))
      .toDF("vecid", "vector", "y")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val em = TSModel.embeddings(spark, d)
    assert(em.columns.toSet == Set("vec_id", "embedding", "label"))
    assert(em.select("vec_id").as[Long].head == 7L)
    // canonical schemas pass through untouched
    val realDocs = TSModel.documents(spark, "/root/testdata/sf0.001")
    assert(realDocs.columns.contains("doc_id") && realDocs.count() > 0)
  }

  test("portable random walks: bit-identical under any partitioning (§4.3 contract)") {
    def walks(parts: Int): Map[Long, Seq[Double]] =
      TSModel.randomWalksPortable(spark, n = 32, sz = 16, mu = 0.1,
          std = 1.0, seed = 7L)
        .repartition(parts)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val a = walks(1)
    val b = walks(13)
    assert(a.keySet == b.keySet && a.keySet.size == 32)
    a.foreach { case (id, vs) =>
      assert(vs == b(id), s"series $id differs across partitionings")
    }
    // seed changes everything; same seed reproduces bit-exactly
    val c = walks(1)
    a.foreach { case (id, vs) => assert(vs == c(id)) }
    val other = TSModel.randomWalksPortable(spark, 32, 16, 0.1, 1.0, 8L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(other(0L) != a(0L))
  }
}
