package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Datasets
import graft.operators.Cdist

/** Dataset tier (SURVEY §2.1) + the §7.2 milestone: 1-NN DTW on the
  * bundled Trace fixture must reach accuracy 1.00 (the reference's
  * published Trace result). */
class DatasetsSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  test("CachedDatasets lists and loads the bundled Trace fixture") {
    assert(Datasets.CachedDatasets.listDatasets().contains("Trace"))
    val (train, test) = Datasets.CachedDatasets.loadDataset(spark, "Trace")
    assert(train.count() == 100 && test.count() == 100)
    val sz = train.select(size(col("values"))).distinct().as[Int].collect()
    assert(sz.toSeq == Seq(275), "Trace is equal-length sz=275")
    val labels = train.select(col("label")).distinct().as[Long].collect().sorted
    assert(labels.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("MILESTONE: Trace 1-NN DTW accuracy == 1.00 (SURVEY §7.2)") {
    val (train, test) = Datasets.CachedDatasets.loadDataset(spark, "Trace")
    val nn = Cdist.knnDtwPruned(test, train.cache(), k = 1, radius = 30, factor = 8)
    val pred = nn.join(
        train.select(col("series_id").as("neighbor_id"), col("label").as("pred")),
        "neighbor_id")
      .select(col("probe_id").as("series_id"), col("pred"))
    val acc = pred.join(test.select(col("series_id"), col("label")), "series_id")
      .select(avg(when(col("pred") === col("label"), 1.0).otherwise(0.0)))
      .as[Double].head()
    assert(acc == 1.0, s"Trace 1-NN DTW accuracy $acc != 1.0")
  }

  test("UCR TXT loader: label column 0, whitespace floats, row order ids") {
    val dir = java.nio.file.Files.createTempDirectory("ucr").toFile
    val d = new java.io.File(dir, "Tiny"); d.mkdirs()
    val train = new java.io.File(d, "Tiny_TRAIN.txt")
    java.nio.file.Files.writeString(train.toPath,
      "1 0.5 1.5 2.5\n2 3.0 2.0 1.0\n")
    java.nio.file.Files.writeString(new java.io.File(d, "Tiny_TEST.txt").toPath,
      "2 3.1 2.1 1.1\n")
    val Some((tr, te)) = Datasets.UcrUea.loadDataset(spark, dir.getPath, "Tiny")
    val rows = tr.orderBy("series_id").as[(Long, Long, Array[Double])].collect()
    assert(rows(0)._2 == 1L && rows(0)._3.toSeq == Seq(0.5, 1.5, 2.5))
    assert(rows(1)._2 == 2L && rows(1)._3.toSeq == Seq(3.0, 2.0, 1.0))
    assert(te.count() == 1)
    assert(Datasets.UcrUea.loadDataset(spark, dir.getPath, "DoesNotExist").isEmpty)
  }

  test("zip extract into cache layout + baseline accuracy CSV parse") {
    val tmp = java.nio.file.Files.createTempDirectory("zipt")
    // build a local zip with a TXT pair, extract, then load through UcrUea
    val zipPath = tmp.resolve("Z.zip").toString
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("Z_TRAIN.txt"))
    zos.write("1 1.0 2.0\n2 2.0 1.0\n".getBytes)
    zos.putNextEntry(new java.util.zip.ZipEntry("Z_TEST.txt"))
    zos.write("1 1.1 2.1\n".getBytes)
    zos.close()
    val target = tmp.resolve("cache/Z").toString
    assert(Datasets.UcrUea.extractZip(zipPath, target).contains(target))
    val Some((tr, _)) = Datasets.UcrUea.loadDataset(spark, tmp.resolve("cache").toString, "Z")
    assert(tr.count() == 2)
    assert(Datasets.UcrUea.extractZip(tmp.resolve("missing.zip").toString,
      tmp.resolve("nope").toString).isEmpty)

    val csv = tmp.resolve("baselines.csv")
    java.nio.file.Files.writeString(csv,
      ",C45,Euclidean\nAdiac,0.5422,0.6113\nTrace,,1.0\n")
    val acc = Datasets.UcrUea.baselineAccuracy(csv.toString)
    assert(acc("Adiac")("C45") == 0.5422)
    assert(acc("Trace") == Map("Euclidean" -> 1.0), "blank cells skipped")
    val only = Datasets.UcrUea.baselineAccuracy(csv.toString,
      listDatasets = Seq("Adiac"), listMethods = Seq("C45"))
    assert(only == Map("Adiac" -> Map("C45" -> 0.5422)))
  }
}
