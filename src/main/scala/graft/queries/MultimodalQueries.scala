package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import graft.model.TSModel
import QueryPrep._

/** Multimodal decoders, loader round trips and the bundled dataset
  * tier (SURVEY §2.1). */
object MultimodalQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The first oracle-backed multimodal row: deterministic binary
    // PGM(P5)/PPM(P6) payloads (pixel v = (id·7919 + t·104729) mod 256,
    // P6 rows carry r=g=b=v) built per doc_id, pushed through the REAL
    // byte decoder (Multimodal.decodePnm — header parse included) and
    // extractFeatures' mapPartitions batching. Output is integer-exact:
    // pixel_sum = round(mean·w·h·maxv) and edge_sum recover the integer
    // pixel sums despite float feature math (error ≪ 0.5), so DuckDB
    // reproduces them from the generative formula without a decoder —
    // any header/stride/luminance bug in the decode path breaks the sums.
    "img_pixel_stats" -> ((s, dir) => {
      val w = 8; val h = 8
      val mkPnm = udf((id: Long) => {
        val color = id % 2 == 1
        val header = (if (color) s"P6\n$w $h\n255\n" else s"P5\n$w $h\n255\n")
          .getBytes("US-ASCII")
        val nCh = if (color) 3 else 1
        val px = new Array[Byte](w * h * nCh)
        var t = 0
        while (t < w * h) {
          val v = ((id * 7919 + t * 104729) % 256).toByte
          var c = 0
          while (c < nCh) { px(t * nCh + c) = v; c += 1 }
          t += 1
        }
        header ++ px
      })
      val media = imageMedia(s, dir, mkPnm, w, h)
      graft.sources.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          round(col("feat")(0) * lit(w * h * 255)).cast("long").as("pixel_sum"),
          round(col("feat")(2) * lit(w * h * 255)).cast("long").as("edge_sum"))
    }),

    // Compressed-codec twin of img_pixel_stats: the formula raster
    // round-trips through a REAL PNG — written in-query by ImageIO
    // (TYPE_INT_RGB, r=g=b=v so no colorspace conversion on read) and
    // decoded back through Multimodal's ImageIO branch. The oracle is
    // the same formula replay with no decoder: a deflate/filter/stride
    // bug on either side of the codec breaks the integer sums.
    "img_png_stats" -> ((s, dir) => {
      val w = 8; val h = 8
      val mkPng = udf((id: Long) => {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var t = 0
        while (t < w * h) {
          val v = ((id * 4421 + t * 7573) % 256).toInt
          img.setRGB(t % w, t / w, (v << 16) | (v << 8) | v)
          t += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      })
      val media = imageMedia(s, dir, mkPng, w, h)
      graft.sources.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          round(col("feat")(0) * lit(w * h * 255)).cast("long").as("pixel_sum"),
          round(col("feat")(2) * lit(w * h * 255)).cast("long").as("edge_sum"))
    }),

    // Audio twin of img_pixel_stats: deterministic 8-bit PCM WAV
    // payloads (44-byte RIFF header + formula samples) decoded through
    // the REAL javax.sound path (Multimodal.decodeAudio). 8-bit WAV is
    // unsigned PCM, so px = raw/256 — EXACT in float (dyadic divisors
    // throughout), making sample_sum/edge_sum integer-exact and the
    // oracle a pure formula replay with no decoder. Any header-parse,
    // signedness, or normalization bug in the audio path breaks the sums.
    "wav_audio_stats" -> ((s, dir) => {
      val n = 64
      val media = audioMedia(s, dir, wav8Udf(n))
      graft.sources.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          round(col("feat")(0) * lit(n * 256)).cast("long").as("sample_sum"),
          round(col("feat")(2) * lit(n * 256)).cast("long").as("edge_sum"))
    }),

    // Image near-dup by perceptual hash (Multimodal.dHash /
    // dhashPairs): formula 16×16 PGM images through the REAL P5 byte
    // parser, nearest-neighbor resize to 9×8, 64-bit difference hash,
    // 4×16-bit pigeonhole bands (hamming ≤ 3 ⇒ a band matches) and
    // exact bit_count(xor) on candidates. Images come in pairs
    // (2k, 2k+1) differing in ONE pixel at a resize-sampled location,
    // so each pair survives as a ≤2-bit near-dup; the scattered
    // (v² mod 251) texture keeps unrelated hashes far apart. The
    // oracle replays pixels, resize arithmetic, bit packing (top bit
    // via the min-long literal — BIGINT can't shift 1<<63), bands and
    // hamming.
    "img_dhash_pairs" -> ((s, dir) => {
      val mkPgm = udf((id: Long) => {
        val base = id / 2
        val header = "P5\n16 16\n255\n".getBytes("US-ASCII")
        val data = new Array[Byte](256)
        var r = 0
        while (r < 16) {
          var c = 0
          while (c < 16) {
            val v = (base * 37 + r * 19 + c * 7) % 251
            var p = (v * v) % 251
            if (id % 2 == 1 && r == 2 && c == 3) p = (p + 1) % 251
            data(r * 16 + c) = p.toByte
            c += 1
          }
          r += 1
        }
        header ++ data
      })
      val media = imageMedia(s, dir, mkPgm, 16, 16)
      graft.sources.Multimodal.dhashPairs(media, maxHamming = 3)
    }),

    // Audio spectrogram (Multimodal.spectrogram): the same formula WAV
    // through the REAL RIFF decode, then framed radix-2 FFT magnitudes
    // (win=16, hop=8, 9 non-redundant bins). The oracle replays the
    // unsigned-8-bit normalization (v/256, exact dyadic) and the DFT
    // as direct cos/sin sums — FFT vs naive DFT agree to ~1e-14,
    // rounded at 1e-6.
    "wav_spectrogram" -> ((s, dir) => {
      val media = audioMedia(s, dir, wav8Udf(64))
      graft.sources.Multimodal.spectrogram(media, win = 16, hop = 8)
        .select(col("media_id"), col("frame"), col("bin"),
          (round(col("mag"), 6) + lit(0.0)).as("mag"))
    }),

    // AIFF branch of the audio decoder (decodeAudio reads 8-bit AIFF as
    // SIGNED PCM — the WAV row exercises the unsigned branch): formula
    // samples encoded through the REAL javax.sound AIFF writer
    // in-query, decoded back through extractFeatures; signed byte v
    // maps to px = (v+128)/256 with v+128 = (u+128) mod 256 for the
    // formula's unsigned u — integer-exact against the mod replay.
    "aiff_audio_stats" -> ((s, dir) => {
      val n = 64
      val mkAiff = udf((id: Long) => {
        val data = Array.tabulate(n)(t => ((id * 6151 + t * 769) % 256).toByte)
        val fmt = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          8000f, 8, 1, 1, 8000f, true)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, n.toLong)
        val out = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.AIFF, out)
        out.toByteArray
      })
      val media = audioMedia(s, dir, mkAiff)
      graft.sources.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          round(col("feat")(0) * lit(n * 256)).cast("long").as("sample_sum"),
          round(col("feat")(2) * lit(n * 256)).cast("long").as("edge_sum"))
    }),

    // 16-bit branch of the audio decoder (bytesPerSample == 2, signed
    // little-endian): px = (s/32768 + 1)/2 = (s + 32768)/65536 —
    // dyadic, so 64-sample float sums stay exact and the integer
    // formula replays. Covers the (hi << 8) | lo assembly the 8-bit
    // rows never touch.
    "wav16_audio_stats" -> ((s, dir) => {
      val n = 64
      val mkWav16 = udf((id: Long) => {
        val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
          .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
          .putInt(16).putShort(1).putShort(1) // PCM, mono
          .putInt(8000).putInt(16000).putShort(2).putShort(16) // 16-bit
          .put("data".getBytes("US-ASCII")).putInt(2 * n)
        var t = 0
        while (t < n) {
          val u = ((id * 48871 + t * 6151) % 65536).toInt
          bb.putShort((u - 32768).toShort)
          t += 1
        }
        bb.array()
      })
      val media = audioMedia(s, dir, mkWav16)
      graft.sources.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          round(col("feat")(0) * lit(n.toLong * 65536L)).cast("long").as("sample_sum"),
          round(col("feat")(2) * lit(n.toLong * 65536L)).cast("long").as("edge_sum"))
    }),

    // 24-bit BMP byte parser (decodeBmp24: header fields, BGR order,
    // bottom-up rows — the one image branch with no driver row): 8×8
    // formula raster, equal BGR so the float luminance is v ± 1e-5 and
    // the rounded integer sums replay exactly. Width 8 ⇒ rowBytes 24 is
    // already 4-byte aligned, isolating the bottom-up row logic.
    "img_bmp_stats" -> ((s, dir) => {
      val w = 8
      val h = 8
      val n = w * h
      val mkBmp = udf((id: Long) => {
        val rowBytes = w * 3
        val bb = java.nio.ByteBuffer.allocate(54 + rowBytes * h)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put('B'.toByte).put('M'.toByte).putInt(54 + rowBytes * h)
          .putInt(0).putInt(54)
          .putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
          .putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835)
          .putInt(0).putInt(0)
        var r = 0
        while (r < h) {
          var x = 0
          while (x < w) {
            val v = ((id * 31 + (r * w + x) * 7) % 256).toByte
            bb.put(v).put(v).put(v)
            x += 1
          }
          r += 1
        }
        bb.array()
      })
      val media = imageMedia(s, dir, mkBmp, w, h)
      graft.sources.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          round(col("feat")(0) * lit(n * 255)).cast("long").as("sample_sum"),
          round(col("feat")(2) * lit(n * 255)).cast("long").as("edge_sum"))
    }),

    // Nearest-neighbor resize between decode and featurization
    // (Multimodal.resizedFeatures — the fixed-raster normalization
    // step): 8×8 PGM formula raster → 5×5, so the oracle replays the
    // kernel's source-index mapping least(7, y·8/5) per output cell.
    "img_resize_stats" -> ((s, dir) => {
      val w = 8
      val h = 8
      val mkPgm = udf((id: Long) => {
        val header = s"P5\n$w $h\n255\n".getBytes("US-ASCII")
        val px = Array.tabulate(w * h)(t => ((id * 7919 + t * 104729) % 256).toByte)
        header ++ px
      })
      val media = imageMedia(s, dir, mkPgm, w, h)
      graft.sources.Multimodal.resizedFeatures(media, outW = 5, outH = 5)
        .select(col("media_id"),
          round(col("feat")(0) * lit(25 * 255)).cast("long").as("pixel_sum"),
          round(col("feat")(2) * lit(25 * 255)).cast("long").as("edge_sum"))
    }),

    // Video frame-sampling plan (Multimodal.sampleFrames — every
    // stride-th frame index, n_frames=0 guard): the video modality's
    // Spark-side plumbing (the decode itself is stubbed, container
    // codecs have no JDK reader). n_frames = 1 + id mod 50, stride 7.
    "vid_frame_plan" -> ((s, dir) => {
      val media = docs(s, dir).select(col("doc_id").cast("long"))
        .where(col("doc_id") < 64)
        .select(col("doc_id").as("media_id"), lit("video").as("kind"),
          lit(Array[Byte]()).as("payload"),
          struct(lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height"),
            lit(null).cast("int").as("sample_rate"),
            (lit(1) + pmod(col("doc_id"), lit(50))).cast("int").as("n_frames")).as("meta"))
      graft.sources.Multimodal.sampleFrames(media, stride = 7)
        .select(col("media_id"), col("frame_idx"))
    }),

    // JSONL corpus round trip through the REAL sink + source (the
    // interchange format LLM corpora actually ship in): write the
    // documents table as JSON lines with df.write.json, read it back
    // with an explicit schema via spark.read.json, emit the re-read
    // rows (text as md5 to stay narrow) — any escaping / codec / type
    // drift in either direction breaks the oracle, which reads the
    // ORIGINAL parquet.
    "doc_jsonl_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("jsonl_rt").toString
      docs(s, dir).select(col("doc_id"), col("text"), col("lang"), col("source"))
        .write.mode("overwrite").json(tmp)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING")
      // localCheckpoint materializes the re-read rows so the corpus-sized
      // temp copy can be deleted NOW instead of accumulating per run.
      val out = s.read.schema(schema).json(tmp)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
          col("lang"), col("source"))
        .localCheckpoint()
      deleteRecursively(tmp)
      out
    }),

    // Same contract for CSV (the other interchange format): write with
    // header + full quoting, read back with explicit schema,
    // multiLine + escaped quotes on both sides.
    "doc_csv_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("csv_rt").toString
      docs(s, dir).select(col("doc_id"), col("text"), col("lang"), col("source"))
        .write.mode("overwrite").option("header", "true")
        .option("escape", "\"").csv(tmp)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING")
      val out = s.read.schema(schema).option("header", "true")
        .option("escape", "\"").option("multiLine", "true").csv(tmp)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
          col("lang"), col("source"))
        .localCheckpoint()
      deleteRecursively(tmp)
      out
    }),

    // Same contract for ORC (the columnar interchange format big
    // warehouses still speak): write → re-read through Spark's native
    // vectorized ORC reader. Unlike JSONL/CSV the schema rides in the
    // file, so the re-read asserts the WRITTEN footer schema survived
    // the trip rather than trusting an explicit one.
    "doc_orc_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("orc_rt").toString
      docs(s, dir).select(col("doc_id"), col("text"), col("lang"), col("source"))
        .write.mode("overwrite").orc(tmp)
      val out = s.read.orc(tmp)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
          col("lang"), col("source"))
        .localCheckpoint()
      deleteRecursively(tmp)
      out
    }),

    // The img_png_stats pattern applied to the text loaders: write a
    // FORMULA-generated document in-query, parse it through the REAL
    // loader pipeline (header filter, tokenizer, casts, id assignment),
    // and emit the parsed cells against the formula recomputed in SQL —
    // a parser regression breaks the row. v(s,t) = ((7s+3t) mod 11) −
    // 4.5 (exactly representable halves), label = s mod 3.
    "arff_roundtrip" -> ((s, _) => {
      val nS = 16
      val sz = 12
      val sb = new StringBuilder("@relation synth\n")
      (1 to sz).foreach(t => sb ++= s"@attribute t$t numeric\n")
      sb ++= "@attribute target {0,1,2}\n@data\n"
      for (i <- 0 until nS) {
        val vals = (0 until sz).map(t => ((i * 7 + t * 3) % 11) - 4.5)
        sb ++= vals.mkString(",") + "," + (i % 3) + "\n"
      }
      val f = java.nio.file.Files.createTempFile("graft_arff", ".arff")
      f.toFile.deleteOnExit()
      java.nio.file.Files.writeString(f, sb.toString)
      graft.sources.Arff.load(s, f.toString)
        .select(col("series_id"), col("label"),
          posexplode(expr("transform(ts, x -> x[0])")).as(Seq("t", "v")))
        .select(col("series_id"), col("t"), col("v"), col("label"))
    }),

    "ucr_txt_roundtrip" -> ((s, _) => {
      val nS = 16
      val sz = 12
      val sb = new StringBuilder
      for (i <- 0 until nS) {
        val vals = (0 until sz).map(t => ((i * 7 + t * 3) % 11) - 4.5)
        sb ++= (i % 3).toString + " " + vals.mkString(" ") + "\n"
      }
      val f = java.nio.file.Files.createTempFile("graft_ucr", ".txt")
      f.toFile.deleteOnExit()
      java.nio.file.Files.writeString(f, sb.toString)
      graft.sources.Datasets.UcrUea.loadTxt(s, f.toString)
        .select(col("series_id"), col("label"),
          posexplode(col("values")).as(Seq("t", "v")))
        .select(col("series_id"), col("t"), col("v"), col("label"))
    }),

    // The tslearn dim-major text codec ("v v v|w w w",
    // utils.py:219-291) through the REAL loadTimeSeriesTxt path
    // (spark.read.text → parseSeriesLine → time-major transpose) on a
    // d=2 formula document.
    "ts_txt_roundtrip" -> ((s, _) => {
      val nS = 12
      val sz = 10
      val sb = new StringBuilder
      for (i <- 0 until nS) {
        def v(dIdx: Int, t: Int) = ((i * 5 + t * 3 + dIdx * 7) % 13) - 6.5
        sb ++= (0 until sz).map(v(0, _)).mkString(" ") + "|" +
          (0 until sz).map(v(1, _)).mkString(" ") + "\n"
      }
      val f = java.nio.file.Files.createTempFile("graft_ts", ".txt")
      f.toFile.deleteOnExit()
      java.nio.file.Files.writeString(f, sb.toString)
      TSModel.loadTimeSeriesTxt(s, f.toString)
        .select(col("series_id"), posexplode(col("ts")).as(Seq("t", "vs")))
        .select(col("series_id"), col("t"),
          element_at(col("vs"), 1).as("d0"), element_at(col("vs"), 2).as("d1"))
    }),

    // 1-NN euclidean classify on the bundled Trace fixture — exercises
    // CachedDatasets.loadDataset with a full DuckDB oracle (absolute
    // fixture path, independent of sfDir). Label-only output: integer
    // compare, no float-hash fragility.
    "ucr_trace_1nn" -> ((s, _) => {
      val (train, test) = graft.sources.Datasets.CachedDatasets
        .loadDataset(s, "Trace", "/root/repo/data/cached")
      val scored = test.select(col("series_id"), col("values").as("qv"))
        .crossJoin(broadcast(train.select(col("series_id").as("train_id"),
          col("label").as("pred"), col("values").as("tv"))))
        .select(col("series_id"), col("train_id"), col("pred"),
          graft.functions.NativeExpressions.euclideanNative(col("qv"), col("tv")).as("d"))
      // argmin by (d, train_id) via min(struct(...)) — partial-agg, no
      // window exchange, and the UDF distance is never a sort key
      // (Catalyst re-evaluates UDF sort keys; measured 12x slower)
      scored.groupBy("series_id")
        .agg(min(struct(col("d"), col("train_id"), col("pred")))
          .getField("pred").as("pred"))
    }),

    // random_walks (`generators/generators.py:7-54`) through the
    // PORTABLE generator: every Gaussian step a closed-form md5-keyed
    // Box-Muller draw of (seed, series_id, t) — the §4.3 determinism
    // contract as driver signal (the oracle replays the exact per-step
    // draws and the running sum relationally; no RNG state anywhere).
    "ts_random_walks" -> ((s, _) =>
      TSModel.randomWalksPortable(s, n = 8, sz = 16, mu = 0.1, std = 1.0,
        seed = 42L)
        .select(col("series_id"), posexplode(col("values")).as(Seq("t", "v")))
        .select(col("series_id"), col("t"),
          (round(col("v"), 4) + lit(0.0)).as("v"))),

    // baseline_accuracy (`ucr_uea.py:85-133`) through the REAL CSV
    // parser + the in-file typo-fix path (`datasets.py:56-76`): a
    // formula-generated singleTrainTest.csv (blank cells where
    // (i+j)%7=0, one deliberately typo'd dataset name repaired by
    // inFileStringReplace, exactly the reference's baselines-fix
    // chain) written to disk, parsed back by UcrUea.baselineAccuracy,
    // and compared cell-by-cell against the formula in SQL.
    "ucr_baseline_acc" -> ((s, _) => {
      import s.implicits._
      val header = "," + (0 to 3).map(j => s"m_$j").mkString(",")
      val body = (0 to 4).map { i =>
        val name = if (i == 2) "DataSet_TYPO" else s"Dataset_$i"
        name + "," + (0 to 3).map { j =>
          if ((i + j) % 7 == 0) "" else (((i * 7 + j * 13) % 100) / 100.0).toString
        }.mkString(",")
      }
      val tmp = java.nio.file.Files.createTempFile("baselines", ".csv")
      java.nio.file.Files.writeString(tmp, (header +: body).mkString("\n"))
      graft.sources.Datasets.UcrUea.inFileStringReplace(
        tmp.toString, "DataSet_TYPO", "Dataset_2")
      val acc = graft.sources.Datasets.UcrUea.baselineAccuracy(tmp.toString)
      java.nio.file.Files.deleteIfExists(tmp)
      acc.toSeq.flatMap { case (ds, ms) =>
        ms.toSeq.map { case (m, a) => (ds, m, a) }
      }.toDF("dataset", "method", "acc")
        .select(col("dataset"), col("method"),
          (round(col("acc"), 2) + lit(0.0)).as("acc"))
    })
  )

  /** The formula 8-bit mono 8 kHz PCM WAV of n samples,
    * v_t = (id·6151 + t·769) mod 256, as a UDF of the doc id. */
  private def wav8Udf(n: Int): UserDefinedFunction = udf((id: Long) => {
    val data = Array.tabulate(n)(t => ((id * 6151 + t * 769) % 256).toByte)
    val bb = java.nio.ByteBuffer.allocate(44 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putShort(1) // PCM, mono
      .putInt(8000).putInt(8000).putShort(1).putShort(8) // 8 kHz, 8-bit
      .put("data".getBytes("US-ASCII")).putInt(n).put(data)
    bb.array()
  })

  /** Documents 0..63 as media rows (media_id, kind, payload, meta) whose
    * payload is `mk(doc_id)`. */
  private def mediaRows(s: SparkSession, dir: String, kind: String, mk: UserDefinedFunction,
                        width: Column, height: Column, sampleRate: Column): DataFrame =
    docs(s, dir).select(col("doc_id").cast("long"))
      .where(col("doc_id") < 64)
      .select(col("doc_id").as("media_id"), lit(kind).as("kind"),
        mk(col("doc_id")).as("payload"),
        struct(width.as("width"), height.as("height"),
          sampleRate.as("sample_rate"),
          lit(null).cast("int").as("n_frames")).as("meta"))

  /** [[mediaRows]] of w×h images. */
  private def imageMedia(s: SparkSession, dir: String, mk: UserDefinedFunction,
                         w: Int, h: Int): DataFrame =
    mediaRows(s, dir, "image", mk, lit(w), lit(h), lit(null).cast("int"))

  /** [[mediaRows]] of 8 kHz audio. */
  private def audioMedia(s: SparkSession, dir: String, mk: UserDefinedFunction): DataFrame =
    mediaRows(s, dir, "audio", mk, lit(null).cast("int"), lit(null).cast("int"), lit(8000))

  /** Per media id (documents < 64, `ids`), the integer sum and the edge
    * sum Σ|Δ| in `k` order of the formula samples `x` that `samples`
    * selects into `rel(doc_id, k, x)`. */
  private def formulaStatsSql(rel: String, k: String, x: String, sumName: String,
                              samples: String): String =
    s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
       |$rel AS (
       |$samples
       |), e AS (
       |  SELECT doc_id, $k, $x, lag($x) OVER (PARTITION BY doc_id ORDER BY $k) AS p$x
       |  FROM $rel
       |)
       |SELECT doc_id AS media_id, CAST(sum($x) AS BIGINT) AS $sumName,
       |  CAST(sum(CASE WHEN p$x IS NULL THEN 0 ELSE abs($x - p$x) END) AS BIGINT)
       |    AS edge_sum
       |FROM e GROUP BY 1""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // img_pixel_stats: ground truth from the generative pixel formula —
    // no decoder on the oracle side; the engine's value only matches if
    // header parse + sample stride + luminance are right.
    "img_pixel_stats" ->
      formulaStatsSql("px", "t", "v", "pixel_sum",
        """  SELECT doc_id, g.t, (doc_id * 7919 + g.t * 104729) % 256 AS v
          |  FROM ids, (SELECT unnest(generate_series(0, 63)) AS t) g""".stripMargin),

    // img_png_stats: same formula-replay shape, different constants —
    // the engine value survives a PNG encode/decode round trip.
    "img_png_stats" ->
      formulaStatsSql("px", "t", "v", "pixel_sum",
        """  SELECT doc_id, g.t, (doc_id * 4421 + g.t * 7573) % 256 AS v
          |  FROM ids, (SELECT unnest(generate_series(0, 63)) AS t) g""".stripMargin),

    // wav_audio_stats: formula replay, no decoder — mirrors
    // img_pixel_stats (unsigned 8-bit PCM ⇒ exact integer recovery).
    // img_dhash_pairs: pixels, NN-resize index arithmetic, dHash bit
    // packing, bands and hamming all replayed. The engine packs bit 63
    // into a Long sign bit; BIGINT can't 1<<63, so the oracle adds the
    // min-long literal instead.
    "img_dhash_pairs" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
        |px AS (
        |  SELECT i.doc_id, g.r, g.c,
        |    (((i.doc_id // 2) * 37 + g.r * 19 + g.c * 7) % 251
        |      * (((i.doc_id // 2) * 37 + g.r * 19 + g.c * 7) % 251) % 251
        |      + CASE WHEN i.doc_id % 2 = 1 AND g.r = 2 AND g.c = 3
        |             THEN 1 ELSE 0 END) % 251 AS p
        |  FROM ids i,
        |    (SELECT r.r, c.c
        |     FROM (SELECT unnest(generate_series(0, 15)) AS r) r,
        |          (SELECT unnest(generate_series(0, 15)) AS c) c) g
        |), rs AS (
        |  SELECT px.doc_id, yx.y, yx.x, px.p
        |  FROM (SELECT y.y, x.x
        |        FROM (SELECT unnest(generate_series(0, 7)) AS y) y,
        |             (SELECT unnest(generate_series(0, 8)) AS x) x) yx
        |  JOIN px ON px.r = yx.y * 2 AND px.c = LEAST(15, yx.x * 16 // 9)
        |), bits AS (
        |  SELECT a.doc_id, a.y * 8 + a.x AS idx,
        |    CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
        |  FROM rs a JOIN rs b ON b.doc_id = a.doc_id AND b.y = a.y
        |    AND b.x = a.x + 1
        |  WHERE a.x < 8
        |), hashes AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN bit = 1 AND idx < 63
        |                  THEN CAST(1 AS BIGINT) << CAST(idx AS INT)
        |                  ELSE 0 END) AS BIGINT)
        |    + CASE WHEN max(CASE WHEN idx = 63 THEN bit ELSE 0 END) = 1
        |           THEN -9223372036854775808 ELSE 0 END AS dhash
        |  FROM bits GROUP BY 1
        |), banded AS (
        |  SELECT doc_id, dhash, b.band,
        |    (dhash >> (b.band * 16)) & 65535 AS key
        |  FROM hashes, (SELECT unnest(generate_series(0, 3)) AS band) b
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b,
        |    a.dhash AS ha, b.dhash AS hb
        |  FROM banded a
        |  JOIN banded b ON b.band = a.band AND b.key = a.key
        |    AND b.doc_id > a.doc_id
        |)
        |SELECT media_a, media_b,
        |  CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin,

    // wav_spectrogram: same formula samples, unsigned-8-bit
    // normalization v/256 (exact), then the DFT as direct cos/sin
    // sums per (frame, bin) — the naive form of the engine's FFT.
    "wav_spectrogram" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
        |x AS (
        |  SELECT doc_id, g.t, ((doc_id * 6151 + g.t * 769) % 256) / 256.0 AS v
        |  FROM ids, (SELECT unnest(generate_series(0, 63)) AS t) g
        |), dft AS (
        |  SELECT x.doc_id, fr.f, bn.b,
        |    sum(x.v * cos(2 * pi() * bn.b * (x.t - fr.f * 8) / 16.0)) AS re,
        |    sum(x.v * sin(2 * pi() * bn.b * (x.t - fr.f * 8) / 16.0)) AS im
        |  FROM x,
        |    (SELECT unnest(generate_series(0, 6)) AS f) fr,
        |    (SELECT unnest(generate_series(0, 8)) AS b) bn
        |  WHERE x.t >= fr.f * 8 AND x.t < fr.f * 8 + 16
        |  GROUP BY 1, 2, 3
        |)
        |SELECT doc_id AS media_id, CAST(f AS INT) AS frame,
        |  CAST(b AS INT) AS bin,
        |  round(sqrt(re * re + im * im), 6) + 0.0 AS mag
        |FROM dft""".stripMargin,

    "wav_audio_stats" ->
      formulaStatsSql("sm", "t", "v", "sample_sum",
        """  SELECT doc_id, g.t, (doc_id * 6151 + g.t * 769) % 256 AS v
          |  FROM ids, (SELECT unnest(generate_series(0, 63)) AS t) g""".stripMargin),

    // signed-byte shift: m = (u + 128) mod 256; edges invariant to the
    // constant shift so |Δm| = |Δv|
    "aiff_audio_stats" ->
      formulaStatsSql("sm", "t", "m", "sample_sum",
        """  SELECT doc_id, g.t,
          |    (((doc_id * 6151 + g.t * 769) % 256) + 128) % 256 AS m
          |  FROM ids, (SELECT unnest(generate_series(0, 63)) AS t) g""".stripMargin),

    // output cell (x, y) reads source pixel (least(7, x·8/5),
    // least(7, y·8/5)); edges run row-major over the 5×5 result
    "img_resize_stats" ->
      formulaStatsSql("px", "k", "m", "pixel_sum",
        """  SELECT doc_id, y.y * 5 + x.x AS k,
          |    (doc_id * 7919 +
          |     (LEAST(7, (y.y * 8) // 5) * 8 + LEAST(7, (x.x * 8) // 5)) * 104729)
          |      % 256 AS m
          |  FROM ids,
          |       (SELECT unnest(generate_series(0, 4)) AS y) y,
          |       (SELECT unnest(generate_series(0, 4)) AS x) x""".stripMargin),

    "vid_frame_plan" ->
      """SELECT doc_id AS media_id, CAST(f.f AS INT) AS frame_idx
        |FROM documents, LATERAL (
        |  SELECT unnest(generate_series(0, CAST(1 + doc_id % 50 AS INT) - 1, 7)) AS f
        |) f
        |WHERE doc_id < 64""".stripMargin,

    // bottom-up rows: the decoded row-major pixel k maps to file cell
    // (7 − k/8)·8 + (k mod 8); sums replay the formula over that order
    "img_bmp_stats" ->
      formulaStatsSql("px", "k", "m", "sample_sum",
        """  SELECT doc_id, k.k,
          |    (doc_id * 31 + ((7 - k.k // 8) * 8 + (k.k % 8)) * 7) % 256 AS m
          |  FROM ids, (SELECT unnest(generate_series(0, 63)) AS k) k""".stripMargin),

    // m = u (the engine writes s = u − 32768; decode maps back to
    // (s + 32768) = u); edges shift-invariant
    "wav16_audio_stats" ->
      formulaStatsSql("sm", "t", "m", "sample_sum",
        """  SELECT doc_id, g.t, (doc_id * 48871 + g.t * 6151) % 65536 AS m
          |  FROM ids, (SELECT unnest(generate_series(0, 63)) AS t) g""".stripMargin),

    // ts_random_walks: the portable generator replayed exactly — same
    // md5-keyed 60-bit uniforms (the minhash-oracle hex trick), same
    // Box-Muller, same t-ordered running sum. No input tables at all.
    "ts_random_walks" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 7)) AS series_id),
        |steps AS (SELECT unnest(generate_series(0, 15)) AS t),
        |d AS (
        |  SELECT series_id, t,
        |    CAST(CONCAT('0x', substring(md5('42:' || series_id || ':' || t || ':a'), 1, 15)) AS BIGINT) AS h1,
        |    CAST(CONCAT('0x', substring(md5('42:' || series_id || ':' || t || ':b'), 1, 15)) AS BIGINT) AS h2
        |  FROM ids, steps
        |), g AS (
        |  SELECT series_id, t,
        |    0.1 + 1.0 * sqrt(-2.0 * ln((h1 + 1) / 1152921504606846976.0))
        |      * cos(2 * pi() * h2 / 1152921504606846976.0) AS gv
        |  FROM d
        |)
        |SELECT series_id, CAST(t AS INT) AS t,
        |  round(sum(gv) OVER (PARTITION BY series_id ORDER BY t), 4) + 0.0 AS v
        |FROM g""".stripMargin,

    // ucr_baseline_acc: the CSV-fixture formula replayed directly —
    // the Spark side must round-trip it through the real writer +
    // typo-fix + parser without changing a cell.
    "ucr_baseline_acc" ->
      """WITH i AS (SELECT unnest(generate_series(0, 4)) AS i),
        |j AS (SELECT unnest(generate_series(0, 3)) AS j)
        |SELECT 'Dataset_' || i AS dataset, 'm_' || j AS method,
        |  round(((i * 7 + j * 13) % 100) / 100.0, 2) + 0.0 AS acc
        |FROM i, j WHERE (i + j) % 7 <> 0""".stripMargin,

    "arff_roundtrip" ->
      """SELECT s.s AS series_id, CAST(t.t AS INT) AS t,
        |  CAST(((s.s * 7 + t.t * 3) % 11) - 4.5 AS DOUBLE) AS v,
        |  CAST(s.s % 3 AS VARCHAR) AS label
        |FROM (SELECT unnest(generate_series(0, 15)) AS s) s,
        |     (SELECT unnest(generate_series(0, 11)) AS t) t""".stripMargin,

    "ucr_txt_roundtrip" ->
      """SELECT s.s AS series_id, CAST(t.t AS INT) AS t,
        |  CAST(((s.s * 7 + t.t * 3) % 11) - 4.5 AS DOUBLE) AS v,
        |  CAST(s.s % 3 AS BIGINT) AS label
        |FROM (SELECT unnest(generate_series(0, 15)) AS s) s,
        |     (SELECT unnest(generate_series(0, 11)) AS t) t""".stripMargin,

    "ts_txt_roundtrip" ->
      """SELECT s.s AS series_id, CAST(t.t AS INT) AS t,
        |  CAST(((s.s * 5 + t.t * 3) % 13) - 6.5 AS DOUBLE) AS d0,
        |  CAST(((s.s * 5 + t.t * 3 + 7) % 13) - 6.5 AS DOUBLE) AS d1
        |FROM (SELECT unnest(generate_series(0, 11)) AS s) s,
        |     (SELECT unnest(generate_series(0, 9)) AS t) t""".stripMargin,

    "doc_jsonl_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source FROM documents""",

    "doc_csv_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source FROM documents""",

    "doc_orc_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source FROM documents""",

    "ucr_trace_1nn" ->
      """WITH tr AS (SELECT series_id AS train_id, label AS pred, values
        |           FROM read_parquet('/root/repo/data/cached/Trace/train.parquet')),
        |te AS (SELECT series_id, values
        |       FROM read_parquet('/root/repo/data/cached/Trace/test.parquet')),
        |scored AS (
        |  SELECT te.series_id, tr.pred,
        |    row_number() OVER (PARTITION BY te.series_id
        |      ORDER BY list_distance(te.values, tr.values), tr.train_id) AS rn
        |  FROM te, tr)
        |SELECT series_id, pred FROM scored WHERE rn = 1""".stripMargin
  )
}
