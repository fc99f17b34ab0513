package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines.
  *
  * Media (image/audio/video) live as opaque `BINARY` columns plus typed
  * metadata; decode / feature-extract / resize / frame-sample run as
  * `mapPartitions` batch transforms so one task amortizes codec setup over
  * its whole partition (the Scala analogue of `mapInPandas` batching).
  *
  * Decoding is REAL for every format the JDK can read without external
  * dependencies: binary PPM/PGM and uncompressed 24-bit BMP by pure byte
  * parsing, compressed images (PNG/JPEG/GIF/TIFF and other BMP variants)
  * through `javax.imageio`, and PCM audio containers (WAV/AIFF/AU)
  * through `javax.sound.sampled` — all JDK-public APIs, zero new
  * libraryDependencies. [[decodeStub]] remains only for payloads with no
  * JDK reader (compressed audio, video codecs). Resize
  * ([[resizeNearest]]) and grayscale feature extraction operate on the
  * decoded samples either way.
  */
object Multimodal {

  /** Grayscale pixels in [0,1] + (width, height). */
  final case class Raster(px: Array[Float], width: Int, height: Int)

  /** REAL decoder: binary PPM (P6) / PGM (P5) and uncompressed 24-bit BMP
    * by plain byte parsing; PNG/JPEG/GIF/TIFF (and BMP variants the fast
    * parser rejects) via `javax.imageio`; WAV/AIFF/AU PCM audio via
    * `javax.sound.sampled` (samples as a 1×n raster). Returns None only
    * for payloads with no JDK reader (callers fall back to
    * [[decodeStub]]). */
  def decode(payload: Array[Byte]): Option[Raster] = {
    if (payload.length >= 2 && payload(0) == 'P' && (payload(1) == '5' || payload(1) == '6'))
      decodePnm(payload)
    else if (payload.length >= 2 && payload(0) == 'B' && payload(1) == 'M')
      decodeBmp24(payload).orElse(decodeImageIO(payload))
    else decodeImageIO(payload).orElse(decodeAudio(payload))
  }

  /** Compressed-image decode through the JDK's ImageIO registry (PNG,
    * JPEG, GIF, TIFF, BMP in a stock JRE). Luminance in [0,1], one
    * bulk getRGB per image. None when no registered reader matches. */
  private def decodeImageIO(b: Array[Byte]): Option[Raster] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val rgb = img.getRGB(0, 0, w, h, null, 0, w)
        val px = new Array[Float](w * h)
        var i = 0
        while (i < px.length) {
          val v = rgb(i)
          px(i) = (0.299f * ((v >> 16) & 0xFF) + 0.587f * ((v >> 8) & 0xFF) +
            0.114f * (v & 0xFF)) / 255.0f
          i += 1
        }
        Some(Raster(px, w, h))
      }
    } catch { case _: Exception => None }

  /** PCM audio decode (WAV/AIFF/AU) through `javax.sound.sampled`:
    * samples normalized to [0,1] (0.5 = silence) as a height-1 raster, so
    * the same feature extraction (mean/std/edge-energy) applies to audio
    * rows. First channel only; 8/16-bit PCM. */
  private def decodeAudio(b: Array[Byte]): Option[Raster] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(b)))
      val fmt = in.getFormat
      // Gate on the actual encoding: μ-law/a-law AU payloads (and any
      // other non-linear encoding javax.sound can frame but this code
      // does not convert) must fall through to the stub rather than be
      // read as if linear PCM. 8-bit is decoded per its declared
      // signedness (WAV convention unsigned, AIFF signed); 16-bit is
      // only defined here for signed PCM.
      val enc = fmt.getEncoding
      import javax.sound.sampled.AudioFormat.Encoding
      val bytesPerSample = fmt.getSampleSizeInBits / 8
      if (bytesPerSample < 1 || bytesPerSample > 2) return None
      val signed = enc == Encoding.PCM_SIGNED
      if (!signed && enc != Encoding.PCM_UNSIGNED) return None
      if (bytesPerSample == 2 && !signed) return None
      val raw = in.readAllBytes()
      val frameBytes = bytesPerSample * fmt.getChannels
      val n = raw.length / frameBytes
      if (n <= 0) return None
      val px = new Array[Float](n)
      var i = 0
      while (i < n) {
        val o = i * frameBytes
        val s =
          if (bytesPerSample == 1)
            (if (signed) raw(o).toInt else (raw(o) & 0xFF) - 128) / 128.0f
          else {
            val lo = raw(if (fmt.isBigEndian) o + 1 else o) & 0xFF
            val hi = raw(if (fmt.isBigEndian) o else o + 1)
            ((hi << 8) | lo) / 32768.0f
          }
        px(i) = (s + 1.0f) / 2.0f
        i += 1
      }
      Some(Raster(px, n, 1))
    } catch { case _: Exception => None }

  private def decodePnm(b: Array[Byte]): Option[Raster] = {
    // header: magic, whitespace-separated width height maxval (with
    // #-comments), single whitespace, then raw samples
    val color = b(1) == '6'
    var i = 2
    val fields = new Array[Int](3)
    var f = 0
    while (f < 3) {
      while (i < b.length && (b(i).toChar.isWhitespace || b(i) == '#')) {
        if (b(i) == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else i += 1
      }
      if (i >= b.length) return None
      var v = 0
      while (i < b.length && b(i).toChar.isDigit) { v = v * 10 + (b(i) - '0'); i += 1 }
      fields(f) = v
      f += 1
    }
    i += 1 // the single whitespace after maxval
    val (w, h, maxv) = (fields(0), fields(1), fields(2))
    if (w <= 0 || h <= 0 || maxv <= 0 || maxv > 255) return None
    val nCh = if (color) 3 else 1
    if (i + w * h * nCh > b.length) return None
    val px = new Array[Float](w * h)
    var p = 0
    while (p < w * h) {
      val base = i + p * nCh
      val lum =
        if (color)
          0.299f * (b(base) & 0xFF) + 0.587f * (b(base + 1) & 0xFF) +
            0.114f * (b(base + 2) & 0xFF)
        else (b(base) & 0xFF).toFloat
      px(p) = lum / maxv
      p += 1
    }
    Some(Raster(px, w, h))
  }

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

  private def decodeBmp24(b: Array[Byte]): Option[Raster] = {
    if (b.length < 54) return None
    val dataOff = le32(b, 10)
    val w = le32(b, 18)
    val h = le32(b, 22)
    val bpp = (b(28) & 0xFF) | ((b(29) & 0xFF) << 8)
    val compression = le32(b, 30)
    if (w <= 0 || h == 0 || bpp != 24 || compression != 0) return None
    val hAbs = math.abs(h)
    val rowBytes = ((w * 3 + 3) / 4) * 4 // rows padded to 4-byte boundary
    if (dataOff + rowBytes.toLong * hAbs > b.length) return None
    val px = new Array[Float](w * hAbs)
    var y = 0
    while (y < hAbs) {
      // positive height = bottom-up row order
      val srcRow = if (h > 0) hAbs - 1 - y else y
      var x = 0
      while (x < w) {
        val o = dataOff + srcRow * rowBytes + x * 3 // BGR
        val lum = 0.299f * (b(o + 2) & 0xFF) + 0.587f * (b(o + 1) & 0xFF) +
          0.114f * (b(o) & 0xFF)
        px(y * w + x) = lum / 255.0f
        x += 1
      }
      y += 1
    }
    Some(Raster(px, w, hAbs))
  }

  /** Nearest-neighbor resize on decoded pixels. */
  def resizeNearest(r: Raster, outW: Int, outH: Int): Raster = {
    val out = new Array[Float](outW * outH)
    var y = 0
    while (y < outH) {
      val sy = math.min(r.height - 1, y * r.height / outH)
      var x = 0
      while (x < outW) {
        val sx = math.min(r.width - 1, x * r.width / outW)
        out(y * outW + x) = r.px(sy * r.width + sx)
        x += 1
      }
      y += 1
    }
    Raster(out, outW, outH)
  }

  /** STUB fallback for payloads with NO JDK reader (compressed audio,
    * video codecs — ffmpeg-class dependencies this container doesn't
    * ship). Deterministic in (payload bytes, meta) so tests and
    * downstream feature logic are exercised honestly; every image format
    * and PCM audio container decodes for real and never reaches it (see
    * [[decode]]). */
  def decodeStub(payload: Array[Byte], width: Int, height: Int): Array[Float] = {
    val out = new Array[Float](math.max(1, width * height))
    var i = 0
    while (i < out.length) {
      out(i) = ((payload(i % payload.length) & 0xFF) / 255.0f)
      i += 1
    }
    out
  }

  /** Decode + mean/std/edge-energy features per media row, batched per
    * partition. Output: (media_id, kind, feat ARRAY<FLOAT>). */
  def extractFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col("media_id").cast("long"), col("kind"),
      col("payload"), col("meta.width"), col("meta.height"))
    rows.as[(Long, String, Array[Byte], Option[Int], Option[Int])]
      .mapPartitions { it =>
        // per-partition codec setup happens once here
        it.map { case (id, kind, payload, w, h) =>
          // real byte-parsing decode for PPM/PGM/BMP; stub for the rest
          val px = decode(payload).map(_.px)
            .getOrElse(decodeStub(payload, w.getOrElse(8), h.getOrElse(8)))
          val mean = px.sum / px.length
          var varAcc = 0.0f; var edge = 0.0f
          var i = 0
          while (i < px.length) {
            varAcc += (px(i) - mean) * (px(i) - mean)
            if (i > 0) edge += math.abs(px(i) - px(i - 1))
            i += 1
          }
          (id, kind, Array(mean, math.sqrt((varAcc / px.length).toDouble).toFloat, edge / px.length))
        }
      }.toDF("media_id", "kind", "feat")
  }

  /** 64-bit difference hash (dHash) per image — the standard
    * perceptual near-dup signature: decode → nearest-neighbor resize
    * to 9×8 → bit (y·8+x) set iff px(y, x+1) > px(y, x) (strict, so
    * flat regions hash to 0s deterministically). One Long per image:
    * robust to rescaling/re-encoding, and the 100 TB dedup input is a
    * (media_id, BIGINT) relation — raw pixels never leave the decode
    * task. */
  def dHash(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col("media_id").cast("long"), col("kind"),
      col("payload"), col("meta.width"), col("meta.height"))
    rows.as[(Long, String, Array[Byte], Option[Int], Option[Int])]
      .mapPartitions { it =>
        it.map { case (id, _, payload, w, h) =>
          val r = decode(payload).getOrElse {
            val w0 = w.getOrElse(8); val h0 = h.getOrElse(8)
            Raster(decodeStub(payload, w0, h0), w0, h0)
          }
          val g = resizeNearest(r, 9, 8)
          var hash = 0L
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              if (g.px(y * 9 + x + 1) > g.px(y * 9 + x))
                hash |= 1L << (y * 8 + x)
              x += 1
            }
            y += 1
          }
          (id, hash)
        }
      }.toDF("media_id", "dhash")
  }

  /** Image near-dup pairs by pigeonhole banding of the dHash — the
    * simhashPairs design on the image signature: 4 × 16-bit bands
    * (hamming ≤ 3 ⇒ at least one band equal, so candidates are an
    * equi-join on (band, key), never an all-pairs scan), exact hamming
    * by bit_count(xor) on the survivors. */
  def dhashPairs(df: DataFrame, maxHamming: Int = 3): DataFrame = {
    val hashed = dHash(df).localCheckpoint()
    val banded = hashed.select(col("media_id"), col("dhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("dhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "key")))
    banded.alias("a")
      .join(banded.select(col("band"), col("key"),
        col("media_id").as("media_b"), col("dhash").as("dhash_b")).alias("b"),
        Seq("band", "key"))
      .where(col("media_id") < col("media_b"))
      .select(col("media_id").as("media_a"), col("media_b"),
        col("dhash"), col("dhash_b"))
      .distinct()
      .select(col("media_a"), col("media_b"),
        bit_count(col("dhash").bitwiseXOR(col("dhash_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Framed magnitude spectrogram over decoded PCM — the audio
    * feature-extraction step of a multimodal pipeline (what a
    * speech-data curation job computes before VAD / language-ID /
    * quality gates). Frames of `win` samples every `hop` (tail
    * dropped), DFT via the shared radix-2 FFT
    * ([[graft.kernels.Ncc.fft]]), magnitudes of the win/2+1
    * non-redundant bins. Same mapPartitions batching as
    * [[extractFeatures]]; output rows (media_id, frame, bin, mag) —
    * per-payload bounded, so a 100 TB audio corpus shuffles only its
    * frame×bin mass, never raw PCM. */
  def spectrogram(df: DataFrame, win: Int = 16, hop: Int = 8): DataFrame = {
    require((win & (win - 1)) == 0, "win must be a power of two")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col("media_id").cast("long"), col("kind"),
      col("payload"), col("meta.width"), col("meta.height"))
    rows.as[(Long, String, Array[Byte], Option[Int], Option[Int])]
      .mapPartitions { it =>
        it.flatMap { case (id, _, payload, w, h) =>
          val px = decode(payload).map(_.px)
            .getOrElse(decodeStub(payload, w.getOrElse(8), h.getOrElse(8)))
          val nf = if (px.length >= win) (px.length - win) / hop + 1 else 0
          (0 until nf).iterator.flatMap { f =>
            val re = new Array[Double](win)
            val im = new Array[Double](win)
            var t = 0
            while (t < win) { re(t) = px(f * hop + t).toDouble; t += 1 }
            graft.kernels.Ncc.fft(re, im, invert = false)
            (0 to win / 2).iterator.map(b =>
              (id, f, b, math.sqrt(re(b) * re(b) + im(b) * im(b))))
          }
        }
      }.toDF("media_id", "frame", "bin", "mag")
  }

  /** [[extractFeatures]] with a nearest-neighbor resize between decode
    * and the grayscale stats — the fixed-raster normalization step of a
    * multimodal training pipeline (every input resized to (outW, outH)
    * before featurization). Same mapPartitions batching; stub payloads
    * resize from their meta dimensions like any other raster. */
  def resizedFeatures(df: DataFrame, outW: Int, outH: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col("media_id").cast("long"), col("kind"),
      col("payload"), col("meta.width"), col("meta.height"))
    rows.as[(Long, String, Array[Byte], Option[Int], Option[Int])]
      .mapPartitions { it =>
        it.map { case (id, kind, payload, w, h) =>
          val r = decode(payload).getOrElse {
            val w0 = w.getOrElse(8)
            val h0 = h.getOrElse(8)
            Raster(decodeStub(payload, w0, h0), w0, h0)
          }
          val px = resizeNearest(r, outW, outH).px
          val mean = px.sum / px.length
          var varAcc = 0.0f
          var edge = 0.0f
          var i = 0
          while (i < px.length) {
            varAcc += (px(i) - mean) * (px(i) - mean)
            if (i > 0) edge += math.abs(px(i) - px(i - 1))
            i += 1
          }
          (id, kind,
            Array(mean, math.sqrt((varAcc / px.length).toDouble).toFloat, edge / px.length))
        }
      }.toDF("media_id", "kind", "feat")
  }

  /** Frame-sampling plan for video rows: every `stride`-th frame index up
    * to n_frames — pure column math, no decode. */
  def sampleFrames(df: DataFrame, stride: Int): DataFrame =
    df.where(col("kind") === "video")
      .select(col("media_id"),
        // greatest(…,1): n_frames = 0 would make sequence(0, -1, stride)
        // throw (explicit positive step with start > stop is illegal)
        explode(sequence(lit(0),
          greatest(coalesce(col("meta.n_frames"), lit(1)), lit(1)) - 1,
          lit(stride))).as("frame_idx"))

  /** Deterministic synthetic media table for tests/demos. */
  def synthetic(spark: SparkSession, n: Int, seed: Long = 0L): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val rng = new scala.util.Random(seed + i)
      val kind = Seq("image", "audio", "video")(i % 3)
      val payload = Array.fill[Byte](64)(rng.nextInt(256).toByte)
      (i.toLong, kind, payload,
        (if (kind == "image") Some(8) else None, if (kind == "image") Some(8) else None,
          if (kind == "audio") Some(16000) else None, if (kind == "video") Some(30) else None))
    }
    rows.toDF("media_id", "kind", "payload", "meta")
      .withColumn("meta", col("meta").cast(
        "struct<width:int,height:int,sample_rate:int,n_frames:int>"))
  }
}
