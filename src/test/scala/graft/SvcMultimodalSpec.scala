package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.TimeSeriesSVC
import graft.sources.Multimodal

class SvcMultimodalSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  test("SMO solver separates trivially separable kernel") {
    // linear kernel on 1-D points -2,-1,1,2 with labels -,-,+,+
    val x = Array(-2.0, -1.0, 1.0, 2.0)
    val y = Array(-1.0, -1.0, 1.0, 1.0)
    val k = Array.tabulate(4, 4)((i, j) => x(i) * x(j))
    val (alpha, b) = TimeSeriesSVC.smoSolve(k, y, c = 10.0, seed = 1)
    val f = (p: Double) => x.indices.map(i => alpha(i) * y(i) * x(i) * p).sum + b
    assert(f(1.5) > 0 && f(-1.5) < 0)
  }

  test("GAK SVC classifies separated series blobs") {
    val rng = new scala.util.Random(4)
    val rows = (0 until 24).map { i =>
      val blob = i / 12
      val base = if (blob == 0) (t: Int) => math.sin(t / 2.0) else (t: Int) => 3.0 + math.cos(t / 3.0)
      (i.toLong, Array.tabulate(16)(t => base(t) + rng.nextGaussian() * 0.05), blob.toString)
    }
    val df = rows.toDF("series_id", "values", "label").cache()
    val model = TimeSeriesSVC.fit(df, c = 1.0, seed = 2)
    val pred = TimeSeriesSVC.predict(model, df.select("series_id", "values"), df)
      .join(df.select(col("series_id"), col("label").as("truth")), "series_id")
    val acc = pred.where(col("label") === col("truth")).count().toDouble / 24
    assert(acc >= 0.9, s"SVC accuracy $acc")
  }

  test("Nystrom GAK SVC matches full-gram accuracy with landmarks << n") {
    val rng = new scala.util.Random(7)
    val n = 60
    val rows = (0 until n).map { i =>
      val blob = i % 3
      val base = blob match {
        case 0 => (t: Int) => math.sin(t / 2.0)
        case 1 => (t: Int) => 3.0 + math.cos(t / 3.0)
        case _ => (t: Int) => -2.0 + 0.2 * t
      }
      (i.toLong, Array.tabulate(16)(t => base(t) + rng.nextGaussian() * 0.05), blob.toString)
    }
    val df = rows.toDF("series_id", "values", "label").cache()
    val model = TimeSeriesSVC.fitNystrom(df, m = 8, c = 1.0, seed = 3)
    assert(model.landmarks.length == 8) // m << n = 60
    val pred = TimeSeriesSVC.predictNystrom(model, df.select("series_id", "values"))
      .join(df.select(col("series_id"), col("label").as("truth")), "series_id")
    val acc = pred.where(col("label") === col("truth")).count().toDouble / n
    // parity bar: the full-gram SVC test above passes at >= 0.9
    assert(acc >= 0.9, s"Nystrom SVC accuracy $acc")
  }

  test("sigma_gak heuristic returns a positive bandwidth") {
    val df = (0 until 10).map(i =>
      (i.toLong, Array.tabulate(12)(t => math.sin(t + i).toDouble)))
      .toDF("series_id", "values")
    val s = TimeSeriesSVC.sigmaGak(df)
    assert(s > 0 && java.lang.Double.isFinite(s))
  }

  test("multimodal: feature extraction is deterministic and batched") {
    val media = Multimodal.synthetic(spark, 9, seed = 3)
    val f1 = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    assert(f1.length == 9)
    assert(f1.map(_.toString).toSeq == f2.map(_.toString).toSeq)
    val feats = f1.map(_.getSeq[Float](2))
    assert(feats.forall(f => f.length == 3 && f.forall(v => !v.isNaN)))
  }

  test("multimodal: REAL decode of PGM, PPM and 24-bit BMP payloads") {
    // 2x2 PGM (P5): pixels 0, 255, 128, 64
    val pgm = "P5\n2 2\n255\n".getBytes ++ Array[Byte](0, -1, 128.toByte, 64)
    val r1 = Multimodal.decode(pgm).get
    assert(r1.width == 2 && r1.height == 2)
    assert(math.abs(r1.px(0) - 0f) < 1e-6 && math.abs(r1.px(1) - 1f) < 1e-6)
    assert(math.abs(r1.px(2) - 128f / 255f) < 1e-6)

    // 1x1 PPM (P6): pure red -> luminance 0.299
    val ppm = "P6\n# comment\n1 1\n255\n".getBytes ++ Array[Byte](-1, 0, 0)
    val r2 = Multimodal.decode(ppm).get
    assert(math.abs(r2.px(0) - 0.299f) < 1e-3)

    // 2x1 bottom-up 24-bit BMP: left pixel white, right black (BGR rows
    // padded to 4 bytes); header built by hand
    def le(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    val pxRow = Array[Byte](-1, -1, -1, 0, 0, 0) ++ Array[Byte](0, 0) // pad to 8
    val bmp = "BM".getBytes ++ le(54 + pxRow.length) ++ le(0) ++ le(54) ++
      le(40) ++ le(2) ++ le(1) ++ Array[Byte](1, 0, 24, 0) ++ le(0) ++
      le(pxRow.length) ++ le(0) ++ le(0) ++ le(0) ++ le(0) ++ pxRow
    val r3 = Multimodal.decode(bmp).get
    assert(r3.width == 2 && r3.height == 1)
    assert(math.abs(r3.px(0) - 1f) < 1e-3 && math.abs(r3.px(1)) < 1e-6)

    // nearest resize 2x2 -> 4x4 replicates quadrants
    val rz = Multimodal.resizeNearest(r1, 4, 4)
    assert(rz.width == 4 && rz.px(0) == r1.px(0) && rz.px(15) == r1.px(3))

    // junk payloads fall back to None (-> decodeStub path downstream)
    assert(Multimodal.decode(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("multimodal: REAL decode of compressed PNG / JPEG / GIF via javax.imageio") {
    // 3x2 grayscale gradient, PNG round-trip must be lossless
    val img = new java.awt.image.BufferedImage(3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val vals = Array(0, 51, 102, 153, 204, 255)
    for (y <- 0 until 2; x <- 0 until 3) {
      val v = vals(y * 3 + x)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    def encode(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val png = Multimodal.decode(encode("png")).get
    assert(png.width == 3 && png.height == 2)
    png.px.zip(vals).foreach { case (p, v) =>
      assert(math.abs(p - v / 255.0f) < 1e-3, s"png pixel $p vs $v")
    }
    // JPEG is lossy: dimensions exact, pixels close
    val jpg = Multimodal.decode(encode("jpg")).get
    assert(jpg.width == 3 && jpg.height == 2)
    jpg.px.zip(vals).foreach { case (p, v) =>
      assert(math.abs(p - v / 255.0f) < 0.2, s"jpeg pixel $p vs $v")
    }
    // GIF: dimensions always survive (the JDK's GIF *writer* quantizes
    // tiny images unreliably, so pixel assertions stay on PNG)
    val gif = Multimodal.decode(encode("gif")).get
    assert(gif.width == 3 && gif.height == 2)
    // feature extraction on the real compressed payload (no stub): must
    // match features computed by hand from the known pixels
    val media = Seq(
      (0L, "image", encode("png"), (Some(3), Some(2), None: Option[Int], None: Option[Int])))
      .toDF("media_id", "kind", "payload", "meta")
      .withColumn("meta", col("meta").cast(
        "struct<width:int,height:int,sample_rate:int,n_frames:int>"))
    val feat = Multimodal.extractFeatures(media)
      .select("feat").as[Array[Float]].head()
    val px = vals.map(_ / 255.0f)
    val mean = px.sum / px.length
    val std = math.sqrt(px.map(p => (p - mean) * (p - mean)).sum / px.length).toFloat
    val edge = px.sliding(2).map(s => math.abs(s(1) - s(0))).sum / px.length
    assert(math.abs(feat(0) - mean) < 1e-3 && math.abs(feat(1) - std) < 1e-3 &&
      math.abs(feat(2) - edge) < 1e-3, s"${feat.toSeq} vs ($mean, $std, $edge)")
  }

  test("multimodal: REAL decode of WAV PCM audio via javax.sound.sampled") {
    // 16-bit mono 8kHz sine, WAV container written by the JDK
    val n = 64
    val samples = Array.tabulate(n)(i => (math.sin(i * 0.3) * 16384).toShort)
    val raw = new Array[Byte](n * 2)
    for (i <- 0 until n) { // little-endian PCM
      raw(2 * i) = (samples(i) & 0xFF).toByte
      raw(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, n)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val r = Multimodal.decode(bos.toByteArray).get
    assert(r.width == n && r.height == 1)
    for (i <- 0 until n) {
      val expect = (samples(i) / 32768.0f + 1.0f) / 2.0f
      assert(math.abs(r.px(i) - expect) < 1e-4, s"sample $i: ${r.px(i)} vs $expect")
    }
  }

  test("multimodal: resizedFeatures at native dims == extractFeatures") {
    import spark.implicits._
    val mkPgm = (id: Long) => {
      val header = "P5\n4 4\n255\n".getBytes("US-ASCII")
      header ++ Array.tabulate(16)(t => ((id * 37 + t * 11) % 256).toByte)
    }
    val media = (0L until 6L).map(i => (i, "image", mkPgm(i),
      (Some(4), Some(4), None: Option[Int], None: Option[Int])))
      .toDF("media_id", "kind", "payload", "m")
      .select(col("media_id"), col("kind"), col("payload"),
        struct(col("m._1").as("width"), col("m._2").as("height"),
          col("m._3").as("sample_rate"), col("m._4").as("n_frames")).as("meta"))
    val a = Multimodal.extractFeatures(media)
      .select("media_id", "feat").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = Multimodal.resizedFeatures(media, 4, 4)
      .select("media_id", "feat").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(a == b, "resize to native dims must be a no-op before featurization")
    // and an actual downscale changes the pixel count it averages over
    val c = Multimodal.resizedFeatures(media, 2, 2)
      .select("media_id", "feat").collect()
    assert(c.length == 6)
  }

  test("multimodal: frame sampling plan") {
    val media = Multimodal.synthetic(spark, 9, seed = 3)
    val frames = Multimodal.sampleFrames(media, stride = 10).collect()
    // videos have 30 frames -> indices 0,10,20 per video
    assert(frames.nonEmpty)
    assert(frames.groupBy(_.getLong(0)).values.forall(_.length == 3))
  }

  test("multimodal: frame sampling survives a zero-frame video") {
    val media = Multimodal.synthetic(spark, 9, seed = 3)
    val zeroed = media.withColumn("meta",
      when(col("kind") === "video",
        col("meta").withField("n_frames", lit(0))).otherwise(col("meta")))
    val frames = Multimodal.sampleFrames(zeroed, stride = 10).collect()
    // 0 frames clamps to a single frame-0 sample instead of throwing
    assert(frames.groupBy(_.getLong(0)).values.forall(_.length == 1))
    assert(frames.forall(_.getInt(1) == 0))
  }

  test("sliding windows: series shorter than m yields no windows") {
    val df = Seq(
      (0L, Array(1.0, 2.0, 3.0, 4.0)),
      (1L, Array(1.0, 2.0))
    ).toDF("series_id", "values")
    val r = df.select(col("series_id"),
        size(graft.functions.TsFunctions.tsSlidingWindows(col("values"), 3)).as("nw"))
      .as[(Long, Int)].collect().toMap
    assert(r(0L) == 2) // windows [1,2,3],[2,3,4]
    assert(r(1L) == 0) // too short: empty, not an exception
  }

  test("dHash: scale-invariant under 2x upscale; near-dup pairs found, unrelated not") {
    import graft.sources.Multimodal
    def pgm(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] =
      s"P5\n$w $h\n255\n".getBytes("US-ASCII") ++
        Array.tabulate(h * w)(i => f(i / w, i % w).toByte)
    def base(r: Int, c: Int) = { val v = (r * 19 + c * 7) % 251; v * v % 251 }
    def media(rows: Seq[(Long, Array[Byte], Int, Int)]) = rows
      .toDF("media_id", "payload", "w", "h")
      .select(col("media_id"), lit("image").as("kind"), col("payload"),
        struct(col("w").as("width"), col("h").as("height"),
          lit(null).cast("int").as("sample_rate"),
          lit(null).cast("int").as("n_frames")).as("meta"))
    // 2x nearest-neighbor upscale samples exactly the original pixels
    val up = pgm(32, 32, (r, c) => base(r / 2, c / 2))
    val hashes = Multimodal.dHash(media(Seq(
        (0L, pgm(16, 16, base), 16, 16), (1L, up, 32, 32))))
      .as[(Long, Long)].collect().toMap
    assert(hashes(0L) == hashes(1L),
      s"dHash not scale-invariant: ${hashes(0L)} vs ${hashes(1L)}")
    // near-dup (one perturbed pixel at a sampled location) pairs;
    // an unrelated texture does not
    val pairs = Multimodal.dhashPairs(media(Seq(
        (0L, pgm(16, 16, base), 16, 16),
        (1L, pgm(16, 16, (r, c) =>
          if (r == 2 && c == 3) (base(r, c) + 1) % 251 else base(r, c)), 16, 16),
        (2L, pgm(16, 16, (r, c) => { val v = (r * 23 + c * 11 + 5) % 251; v * v % 251 }), 16, 16))))
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((0L, 1L)), s"pairs $pairs")
    assert(pairs.head._3 <= 2, s"hamming ${pairs.head._3}")
  }

  test("spectrogram: pure tone concentrates in its bin; FFT matches naive DFT") {
    import graft.sources.Multimodal
    val n = 64
    // quantized 2-cycles-per-window sinusoid in a real RIFF payload
    val data = Array.tabulate(n)(t =>
      (128 + math.round(100 * math.sin(2 * math.Pi * 2 * t / 16)).toInt).toByte)
    val bb = java.nio.ByteBuffer.allocate(44 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(8000).putShort(1).putShort(8)
      .put("data".getBytes("US-ASCII")).putInt(n).put(data)
    val media = Seq((7L, "audio", bb.array(),
        (Option.empty[Int], Option.empty[Int], Option(8000), Option.empty[Int])))
      .toDF("media_id", "kind", "payload", "m")
      .select(col("media_id"), col("kind"), col("payload"),
        struct(col("m._1").as("width"), col("m._2").as("height"),
          col("m._3").as("sample_rate"), col("m._4").as("n_frames")).as("meta"))
    val rows = Multimodal.spectrogram(media, win = 16, hop = 8)
      .as[(Long, Int, Int, Double)].collect()
    assert(rows.length == 7 * 9)
    val frame0 = rows.filter(_._2 == 0).map(r => r._3 -> r._4).toMap
    // energy sits in DC (mean 0.5 → |X_0| ≈ 8) and bin 2 (≈ 100/256·8)
    assert(frame0(2) > 2.5 && frame0(2) < 3.5, s"bin2 ${frame0(2)}")
    (1 to 8).filter(_ != 2).foreach(b =>
      assert(frame0(b) < 0.2, s"leakage in bin $b: ${frame0(b)}"))
    // FFT magnitudes equal the naive DFT of the decoded samples
    val px = Array.tabulate(16)(t => (data(t) & 0xFF) / 256.0)
    (0 to 8).foreach { b =>
      val re = (0 until 16).map(t => px(t) * math.cos(2 * math.Pi * b * t / 16)).sum
      val im = (0 until 16).map(t => px(t) * math.sin(2 * math.Pi * b * t / 16)).sum
      assert(math.abs(frame0(b) - math.sqrt(re * re + im * im)) < 1e-12,
        s"bin $b: fft ${frame0(b)} vs dft ${math.sqrt(re * re + im * im)}")
    }
  }

  test("kmeans model persistence round-trips centroids") {
    val df = (0 until 12).map(i =>
      (i.toLong, Array.tabulate(8)(t => (i / 6) * 10.0 + t)))
      .toDF("series_id", "values")
    val km = new graft.ml.TimeSeriesKMeans(k = 2, metric = "euclidean", maxIter = 5, seed = 1)
    val model = km.fit(df)
    val dir = java.nio.file.Files.createTempDirectory("kmeans_model").toString
    graft.ml.Persistence.saveKMeans(spark, model, Map("k" -> "2", "metric" -> "euclidean"), dir)
    val loaded = graft.ml.Persistence.loadKMeansCentroids(spark, dir)
    assert(loaded.length == 2)
    assert(loaded.map(_.toSeq).toSet == model.centroids.map(_.toSeq).toSet)
    assert(graft.ml.Persistence.loadMetadata(dir).contains("\"metric\": \"euclidean\""))
  }
}
