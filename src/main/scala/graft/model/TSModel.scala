package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical time-series data model (SURVEY.md §1.3).
  *
  * One row = one series: `(series_id LONG, ts ARRAY<ARRAY<DOUBLE>>, label
  * STRING)` with `ts(t)(dim)`. Ragged lengths are native — no NaN padding
  * (this deletes the reference's `ts_size`/`remove_nans` machinery,
  * `/root/reference/tslearn/utils/utils.py:386-424`). The exploded long
  * form `(series_id, t, value)` is the second first-class representation:
  * it's what Window functions and group-bys operate on, and it's the form
  * that shuffles/scales — conversions below keep both cheap.
  */
case class TSRecord(series_id: Long, ts: Array[Array[Double]], label: Option[String])

object TSModel {

  /** events.parquet → univariate nested series per user: values ordered by
    * event time. Scale note: one shuffle (groupBy user_id); at 100TB the
    * sort happens inside each group via array_sort on struct(ts_idx, v),
    * not a global orderBy.
    */
  def eventsToSeries(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = eventsWithTsUs(spark, sfDir)
    ev.groupBy(col("user_id").as("series_id"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("ts_us"),
            col("event_id"), col("value")))),
          x => x.getField("value")
        ).as("values"))
  }

  /** events.parquet with a canonical µs-since-epoch `ts_us` column,
    * robust to either physical schema the generator has produced:
    * TIMESTAMP(NANOS) (read ns-as-long, integer-div to µs) or a plain
    * TIMESTAMP (µs precision, `unix_micros`). Both match the DuckDB
    * oracle's `epoch_ns(ts) // 1000` clock. */
  /** Case-insensitive column normalizer with synonyms — the generic
    * drift guard behind the events/documents/embeddings readers (the
    * driver re-generates testdata per round and its schemas have
    * drifted; round 8 went red on a variant). First match per
    * canonical name wins; already-canonical frames pass through
    * untouched. */
  def normalizeColumns(df: DataFrame, spec: Seq[(String, Seq[String])]): DataFrame = {
    val lower = df.schema.fieldNames.map(n => n.toLowerCase -> n).toMap
    spec.foldLeft(df) { case (d, (canon, syns)) =>
      (canon +: syns).iterator.flatMap(s => lower.get(s.toLowerCase))
        .nextOption().filter(_ != canon)
        .fold(d)(actual => d.withColumnRenamed(actual, canon))
    }
  }

  /** documents.parquet with canonical (doc_id, text, lang, source,
    * n_chars) column names regardless of generator drift. */
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    normalizeColumns(spark.read.parquet(s"$sfDir/documents.parquet"), Seq(
      "doc_id" -> Seq("id", "docid", "document_id"),
      "text" -> Seq("content", "body", "document"),
      "lang" -> Seq("language"),
      "source" -> Seq("domain", "src", "origin"),
      "n_chars" -> Seq("nchars", "len", "length")))

  /** embeddings.parquet with canonical (vec_id, embedding, label)
    * column names regardless of generator drift. */
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    normalizeColumns(spark.read.parquet(s"$sfDir/embeddings.parquet"), Seq(
      "vec_id" -> Seq("id", "vecid", "embedding_id"),
      "embedding" -> Seq("vec", "vector", "emb"),
      "label" -> Seq("y", "cls", "class")))

  def eventsWithTsUs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    // The generator has re-written this table with drifting schemas
    // across rounds (TIMESTAMP(NANOS) → ns-as-long, TIMESTAMP(US) →
    // TIMESTAMP_NTZ, …); round 8 went red on a variant this reader
    // didn't absorb. Normalize DEFENSIVELY: resolve every expected
    // column case-insensitively (with synonyms), and convert any
    // plausible physical `ts` type to the canonical µs clock.
    val ev = normalizeColumns(raw, Seq(
      "ts" -> Seq("timestamp", "event_ts", "event_time", "time"),
      "event_id" -> Seq("id", "eventid"),
      "user_id" -> Seq("userid", "uid", "user"),
      "event_type" -> Seq("type", "eventtype"),
      "value" -> Seq("val", "v", "amount"),
      "props" -> Seq("properties", "payload")))
    if (!ev.schema.fieldNames.contains("ts"))
      throw new IllegalArgumentException(
        s"events.parquet has no recognizable timestamp column; schema = ${raw.schema.simpleString}")
    // TIMESTAMP_NTZ (what parquet timestamp[us] reads as) needs a cast
    // before unix_micros; session TZ is UTC so the cast is instant-exact.
    // Integer/float clocks get their unit detected by magnitude — epoch
    // 2020s is ~1.7e18 ns / 1.7e15 µs / 1.7e12 ms / 1.7e9 s, four
    // decades apart, so a per-row CASE (codegen'd, no extra job) is
    // unambiguous.
    // Integer clocks: branch by magnitude but COMPUTE integrally — a
    // 1.7e18 ns value cast to double has a 256 ns ulp, which would break
    // the integer-exact oracle clock (DuckDB epoch_ns // 1000).
    def byMagnitudeIntegral(c: org.apache.spark.sql.Column) = {
      val l = c.cast(LongType)
      // SQL `div` = exact integer division (truncating; == floor for the
      // positive epoch clocks this absorbs) — built from the PASSED column,
      // not a hard-coded name, so the helper is reusable.
      val nsToUs = call_function("div", l, lit(1000L))
      when(abs(l) >= 100000000000000000L, nsToUs)
        .when(abs(l) >= 100000000000000L, l)
        .when(abs(l) >= 100000000000L, l * 1000L)
        .otherwise(l * 1000000L)
    }
    // Fractional clocks (seconds-as-double etc.): precision was already
    // bounded by the writer; double math is as good as it gets. Floor —
    // not round — to match the canonical truncating clock (DuckDB
    // epoch_ns // 1000 and the integral branch's div).
    def byMagnitudeFractional(c: org.apache.spark.sql.Column) = {
      val d = c.cast(DoubleType)
      def toUs(x: org.apache.spark.sql.Column) = floor(x).cast(LongType)
      when(abs(d) >= 1e17, toUs(d / 1e3))
        .when(abs(d) >= 1e14, toUs(d))
        .when(abs(d) >= 1e11, toUs(d * 1e3))
        .otherwise(toUs(d * 1e6))
    }
    // Decimal clocks: scale in DECIMAL arithmetic (exact multiply) BEFORE
    // truncating to long — casting to long first would drop the fraction
    // of e.g. a DECIMAL(20,6) seconds clock (1700000000.123456 → whole
    // seconds) and lose all sub-second precision. Only the branch
    // dispatch uses the truncated magnitude; the ns/µs branches may cast
    // directly (their fraction is sub-µs and truncates away regardless).
    def byMagnitudeDecimal(c: org.apache.spark.sql.Column) = {
      val l = c.cast(LongType)
      val nsToUs = call_function("div", l, lit(1000L))
      when(abs(l) >= 100000000000000000L, nsToUs)
        .when(abs(l) >= 100000000000000L, l)
        .when(abs(l) >= 100000000000L, (c * lit(1000L)).cast(LongType))
        .otherwise((c * lit(1000000L)).cast(LongType))
    }
    val tsUs = ev.schema("ts").dataType match {
      // ns-as-long (nanosAsLong=true) is the historical drift case; the
      // magnitude branch also absorbs a genuine µs/ms/s int64 column.
      case LongType | IntegerType => byMagnitudeIntegral(col("ts"))
      case DoubleType | FloatType => byMagnitudeFractional(col("ts"))
      case _: DecimalType => byMagnitudeDecimal(col("ts"))
      case StringType => unix_micros(col("ts").cast(TimestampType))
      case DateType => unix_micros(col("ts").cast(TimestampType))
      case _ => unix_micros(col("ts").cast(TimestampType))
    }
    ev.withColumn("ts_us", tsUs)
  }

  /** Nested univariate ARRAY<DOUBLE> → ARRAY<ARRAY<DOUBLE>> (d=1). */
  /** All-zero dataset constructor — `ts_zeros` (`utils.py`): n series of
    * sz zeros (univariate). */
  def zeros(spark: SparkSession, n: Int, sz: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(n).select(col("id").as("series_id"),
      array_repeat(lit(0.0), sz).as("values"))
  }

  /** Dataset validity checks — `check_dataset` (`utils.py:454-525`)
    * semantics over the nested schema: throws IllegalArgumentException
    * (the reference's ValueError) when a constraint fails; returns the
    * input unchanged otherwise. The univariate nested form IS d=1, so
    * forceUnivariate passes by construction for ARRAY<DOUBLE> and fails
    * for ARRAY<ARRAY<DOUBLE>> columns with inner size > 1. */
  def checkDataset(df: DataFrame, seriesCol: String = "values",
                   forceEqualLength: Boolean = false,
                   forceSingleTimeSeries: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    if (forceEqualLength) {
      val nLens = df.select(size(col(seriesCol))).distinct().count()
      require(nLens <= 1,
        "All the time series in the array should be of equal lengths")
    }
    if (forceSingleTimeSeries) {
      val n = df.count()
      require(n == 1, s"Array should be made of a single time series ($n here)")
    }
    df
  }

  /** Per-estimator dimension guard — `check_dims` (`utils.py:24-115`):
    * transform-time series length must match fit-time length. */
  def checkDims(df: DataFrame, fitSz: Int, seriesCol: String = "values"): DataFrame = {
    import org.apache.spark.sql.functions._
    val bad = df.where(size(col(seriesCol)) =!= fitSz).limit(1).count()
    require(bad == 0, s"Dimensions (of first array) provided during fit ($fitSz) " +
      "and transform do not match")
    df
  }

  /** sklearn-style flat matrix view of a multivariate series column:
    * (sz, d) → one ARRAY<DOUBLE> of length sz·d, time-major —
    * `to_sklearn_dataset` (`/root/reference/tslearn/utils/cast.py:15-56`).
    * Univariate ARRAY<DOUBLE> columns are already flat (identity). */
  def toSklearnFlat(mv: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    flatten(mv)

  /** Inverse of [[toSklearnFlat]] for a known channel count d: sz·d flat
    * values back to (sz, d) nested rows. */
  def fromSklearnFlat(flat: org.apache.spark.sql.Column, d: Int): org.apache.spark.sql.Column =
    transform(sequence(lit(0), (size(flat) / d).cast("int") - 1),
      t => slice(flat, t * d + 1, lit(d)))

  /** tslearn text codec: dims joined by `|`, values by space —
    * `/root/reference/tslearn/utils/utils.py:219-291`. One series per line. */
  def parseSeriesLine(line: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(split(line, "\\|"), dim =>
      transform(split(trim(dim), " +"), v => v.cast("double")))

  def formatSeriesLine(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_join(transform(ts, dim => array_join(transform(dim, v => v.cast("string")), " ")), "|")

  /** Load tslearn-format text file (one series per line) as nested rows.
    * The file is dim-major (`"v v v|w w w"`, `|` separates dimensions);
    * transpose to the engine's time-major `ts(t)(dim)`. */
  def loadTimeSeriesTxt(spark: SparkSession, path: String): DataFrame = {
    spark.read.text(path)
      .withColumn("series_id", monotonically_increasing_id())
      .select(col("series_id"), parseSeriesLine(col("value")).as("dims"))
      .select(col("series_id"),
        expr("transform(sequence(0, size(dims[0]) - 1), t -> transform(dims, d -> d[t]))").as("ts"))
  }

  /** Labeled random-walk blobs: n blobs of noisy copies of a shared base
    * walk — `/root/reference/tslearn/generators/generators.py:57-112`. */
  def randomWalkBlobs(spark: SparkSession, nPerBlob: Int, sz: Int, d: Int,
                      nBlobs: Int, noise: Double = 1.0, seed: Long = 0L): DataFrame = {
    import spark.implicits._
    spark.range(nPerBlob.toLong * nBlobs).map { i =>
      val blob = (i / nPerBlob).toInt
      val baseRng = new java.util.Random(seed * 7919L + blob)
      val rng = new java.util.Random(seed * 104729L + i)
      val ts = Array.ofDim[Double](sz, d)
      var k = 0
      while (k < d) {
        var acc = 0.0
        var t = 0
        while (t < sz) {
          acc += baseRng.nextGaussian()
          ts(t)(k) = acc + rng.nextGaussian() * noise
          t += 1
        }
        k += 1
      }
      (i, ts, blob.toString)
    }.toDF("series_id", "ts", "label")
  }

  /** Portable random-walk generator — the SURVEY §4.3 determinism
    * contract in its strongest form: every Gaussian step is a CLOSED-FORM
    * function of (seed, series_id, t), not of sequential RNG state, so
    * the result is bit-reproducible under ANY partitioning, retry, or
    * re-ordering, and an external SQL engine can replay it exactly
    * (ts_random_walks). Draws: two 60-bit md5-keyed uniforms → Box-Muller
    * z = √(−2·ln u₁)·cos(2π·u₂); walk = running sum of mu + std·z, built
    * per row with an `aggregate` HOF — pure built-in expressions, no UDF,
    * no shuffle, no per-partition state. Same API surface as
    * [[randomWalks]] (`generators/generators.py:7-54`), univariate. */
  def randomWalksPortable(spark: SparkSession, n: Int, sz: Int,
                          mu: Double = 0.0, std: Double = 1.0,
                          seed: Long = 0L): DataFrame = {
    val two60 = 1152921504606846976.0 // 2^60
    def h(t: org.apache.spark.sql.Column, tag: String): org.apache.spark.sql.Column =
      conv(substring(md5(concat_ws(":", lit(seed), col("series_id"),
        t.cast("string"), lit(tag))), 1, 15), 16, 10).cast("long")
    def gauss(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val u1 = (h(t, "a").cast("double") + 1.0) / two60 // (0, 1], ln-safe
      val u2 = h(t, "b").cast("double") / two60
      lit(mu) + lit(std) * sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
    }
    spark.range(n).select(col("id").as("series_id"))
      .select(col("series_id"), aggregate(
        sequence(lit(0), lit(sz - 1)),
        struct(array().cast("array<double>").as("arr"), lit(0.0).as("acc")),
        (st, t) => {
          val nxt = st.getField("acc") + gauss(t)
          struct(array_append(st.getField("arr"), nxt).as("arr"), nxt.as("acc"))
        },
        st => st.getField("arr")).as("values"))
  }

  /** Seed-stable random-walk generator —
    * `/root/reference/tslearn/generators/generators.py:7-54`. Distributed:
    * spark.range + per-row deterministic RNG seeded by (seed, id) so
    * results are reproducible under any partitioning (SURVEY §4.3). */
  def randomWalks(spark: SparkSession, n: Int, sz: Int, d: Int,
                  mu: Double = 0.0, std: Double = 1.0, seed: Long = 0L): DataFrame = {
    import spark.implicits._
    spark.range(n).map { i =>
      val rng = new java.util.Random(seed * 1000003L + i)
      val ts = Array.ofDim[Double](sz, d)
      var k = 0
      while (k < d) {
        var acc = 0.0
        var t = 0
        while (t < sz) {
          acc += rng.nextGaussian() * std + mu
          ts(t)(k) = acc
          t += 1
        }
        k += 1
      }
      (i, ts)
    }.toDF("series_id", "ts")
  }
}
