package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What one operation returns: items completed, and a check of its output
  * that runs after the operation's wall has been taken. */
final case class OpResult(items: Int, check: () => Seq[String])

/** A workload owns its seeded inputs and runs operation i of a fixed cycle
  * of operation kinds. */
trait Workload {
  def name: String
  /** Operation kinds in cycle order; operation i is cycle(i % cycle.size). */
  def cycle: Seq[String]
  /** Operations per run for a run of `seconds` seconds: a fixed function
    * of the run length, never of the speed of the code under test. */
  def opsFor(seconds: Int): Int
  /** Generates the inputs and registers them with `spark`; returns their
    * digest. */
  def setup(spark: SparkSession, work: File): String
  def run(i: Int, tr: Tracer): OpResult
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "search" => new SearchWorkload(seed)
    case "fit" => new FitWorkload(seed)
    case "dedup" => new DedupWorkload(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def cached(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_ONLY)
    c.count()
    c
  }

  /** Persists `df` and collects it: one job both fills the cache and
    * hands the rows to the output check. */
  def materialize(df: DataFrame): (DataFrame, Array[Row]) = {
    val c = df.persist(StorageLevel.MEMORY_ONLY)
    (c, c.collect())
  }

  /** Which of `n` inputs operation i uses: each input serves two
    * consecutive cycles, so a traced run (which traces every other cycle)
    * meets every input both traced and untraced. */
  def input(i: Int, cycleLen: Int, n: Int): Int = (i / cycleLen / 2) % n

  /** Rounds `seconds * perSecond` to whole cycles. */
  def wholeCycles(seconds: Int, perSecond: Double, cycleLen: Int): Int =
    math.max(2, math.round(seconds * perSecond / cycleLen).toInt) * cycleLen
}

/** DTW top-k search: LB_Keogh-pruned probes against an equal-length index,
  * and unpruned probes against a ragged index. */
final class SearchWorkload(seed: Long) extends Workload {
  val name = "search"
  val k = 5
  val radius = 12
  val factor = 4
  val sz = 128
  val nIndex = 1000
  val nRagged = 1000
  val prunedProbes = 16
  val raggedProbes = 16
  val batches = 2
  val sampledProbes = 2
  val cycle = Seq("pruned", "pruned", "ragged")
  def opsFor(seconds: Int): Int = Workload.wholeCycles(seconds, 1.2, cycle.size)

  var index: Array[Series] = _
  var ragged: Array[Series] = _
  var prunedBatches: Array[Array[Series]] = _
  var raggedBatches: Array[Array[Series]] = _
  private var spark: SparkSession = _
  private var dfs: Map[String, DataFrame] = Map.empty
  private val firstOutput = mutable.HashMap.empty[(String, Int), Map[Long, Seq[(Long, Double)]]]
  private val reference = mutable.HashMap.empty[(String, Long), Seq[(Long, Double)]]

  /** Generates the series only (the kernel timings reuse them). */
  def generate(): String = {
    val rng = Rng(seed, "search")
    val bases = Gen.bases(rng, 32, sz)
    index = Gen.blobs(rng, bases, nIndex, 0L, sz, sz, 1.0)
    prunedBatches = Array.tabulate(batches)(b =>
      Gen.probes(rng, bases, prunedProbes, 1000000L + b * 1000L, sz, sz, 1.0))
    val rBases = Gen.bases(rng, 32, 191)
    ragged = Gen.blobs(rng, rBases, nRagged, 0L, 64, 191, 1.0)
    raggedBatches = Array.tabulate(batches)(b =>
      Gen.probes(rng, rBases, raggedProbes, 2000000L + b * 1000L, 64, 191, 1.0))
    val d = new Gen.Digest().series(index).series(ragged)
    (prunedBatches ++ raggedBatches).foreach(d.series(_))
    d.hex
  }

  private def frame(xs: Array[Series]): DataFrame = {
    val s = spark
    import s.implicits._
    Workload.cached(spark.sparkContext
      .parallelize(xs.toSeq.map(x => (x.id, x.values)), spark.sparkContext.defaultParallelism)
      .toDF("series_id", "values"))
  }

  def setup(spark: SparkSession, work: File): String = {
    this.spark = spark
    val digest = generate()
    dfs = Map("index" -> frame(index), "ragged" -> frame(ragged)) ++
      prunedBatches.indices.map(b => s"pruned$b" -> frame(prunedBatches(b))) ++
      raggedBatches.indices.map(b => s"ragged$b" -> frame(raggedBatches(b)))
    digest
  }

  def run(i: Int, tr: Tracer): OpResult = {
    val kind = cycle(i % cycle.size)
    val b = Workload.input(i, cycle.size, batches)
    val rows: Array[Row] = kind match {
      case "pruned" => tr.span("operators.knn_pruned") {
        graft.operators.Cdist.knnDtwPruned(dfs(s"pruned$b"), dfs("index"), k, radius, factor)
          .collect()
      }
      case _ => tr.span("operators.knn_ragged") {
        graft.operators.Cdist.knnDtwRagged(dfs(s"ragged$b"), dfs("ragged"), k).collect()
      }
    }
    val probes = if (kind == "pruned") prunedBatches(b) else raggedBatches(b)
    OpResult(probes.length, () => check(kind, b, probes, rows))
  }

  private def check(kind: String, b: Int, probes: Array[Series], rows: Array[Row]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val got: Map[Long, Seq[(Long, Double)]] = rows.toSeq
      .map(r => (r.getAs[Number]("probe_id").longValue, r.getAs[Number]("rank").intValue,
        r.getAs[Number]("neighbor_id").longValue, r.getAs[Number]("dist").doubleValue))
      .groupBy(_._1).map { case (p, hs) => p -> hs.sortBy(_._2).map(h => (h._3, h._4)) }
    probes.foreach { p =>
      got.get(p.id) match {
        case None => errs += s"$kind probe ${p.id}: no answer"
        case Some(hs) =>
          if (hs.size != k) errs += s"$kind probe ${p.id}: ${hs.size} neighbours, want $k"
          if (hs.exists(h => h._2.isNaN || h._2.isInfinite)) errs += s"$kind probe ${p.id}: non-finite distance"
          if (hs.zip(hs.drop(1)).exists { case (a, c) => a._2 > c._2 || (a._2 == c._2 && a._1 > c._1) })
            errs += s"$kind probe ${p.id}: neighbours not ordered by (dist, id)"
      }
    }
    if (got.size != probes.length) errs += s"$kind batch $b: ${got.size} probes answered, want ${probes.length}"
    firstOutput.get((kind, b)) match {
      case Some(prev) if prev != got => errs += s"$kind batch $b: output differs from an earlier run"
      case Some(_) =>
      case None => firstOutput((kind, b)) = got
    }
    probes.take(sampledProbes).foreach { p =>
      val want = reference.getOrElseUpdate((kind, p.id),
        if (kind == "pruned") Ref.knnPruned(p.values, index.toSeq, k, radius, factor)
        else Ref.topK(p.values, ragged.toSeq, k, -1))
      val have = got.getOrElse(p.id, Nil)
      if (have.map(_._1) != want.map(_._1))
        errs += s"$kind probe ${p.id}: ids ${have.map(_._1)} != reference ${want.map(_._1)}"
      else if (!have.zip(want).forall { case (h, w) => Ref.relClose(h._2, w._2) })
        errs += s"$kind probe ${p.id}: distances ${have.map(_._2)} != reference ${want.map(_._2)}"
    }
    errs.toSeq
  }
}

/** Iterative fits: events -> series -> resample and z-normalise -> one of
  * three fits (cycled) -> predict. */
final class FitWorkload(seed: Long) extends Workload {
  val name = "fit"
  val sz = 32
  val cycle = Seq("kmeans", "kshape", "kernel_kmeans")
  def opsFor(seconds: Int): Int = Workload.wholeCycles(seconds, 0.4, cycle.size)
  // (users, clusters, iterations) per fit kind
  val shape: Map[String, (Int, Int, Int)] = Map(
    "kmeans" -> (400, 4, 2), "kshape" -> (150, 3, 2), "kernel_kmeans" -> (16, 3, 2))

  var events: Map[String, Array[Event]] = Map.empty
  private var spark: SparkSession = _
  private var dirs: Map[String, String] = Map.empty
  private val refRaw = mutable.HashMap.empty[String, Map[Long, Array[Double]]]
  private val refZ = mutable.HashMap.empty[String, Map[Long, Array[Double]]]
  private val refLloyd = mutable.HashMap.empty[String, Option[Array[Array[Double]]]]

  def generate(): String = {
    val d = new Gen.Digest()
    events = cycle.zipWithIndex.map { case (kind, j) =>
      val (n, kk, _) = shape(kind)
      val es = Gen.events(Rng(seed, s"fit/$kind"), n, kk, 40, 80, 100000L * (j + 1))
      es.foreach(e => d.long(e.userId).long(e.eventId).long(e.tsUs).double(e.value))
      kind -> es
    }.toMap
    d.hex
  }

  /** The reference series of a fit kind: events ordered by time, resampled
    * to sz points and z-normalised. */
  def referenceSeries(kind: String): Map[Long, Array[Double]] =
    refZ.getOrElseUpdate(kind,
      rawSeries(kind).map { case (u, v) => u -> Ref.znorm(Ref.resample(v, sz)) })

  private def rawSeries(kind: String): Map[Long, Array[Double]] =
    refRaw.getOrElseUpdate(kind, Ref.seriesOf(events(kind).toSeq))

  def setup(spark: SparkSession, work: File): String = {
    this.spark = spark
    val digest = generate()
    val s = spark
    import s.implicits._
    dirs = cycle.map { kind =>
      val dir = new File(work, s"fit/$kind").getPath
      events(kind).toSeq.map(e => (e.userId, e.eventId, e.tsUs, e.value))
        .toDF("user_id", "event_id", "ts", "value")
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      kind -> dir
    }.toMap
    digest
  }

  def run(i: Int, tr: Tracer): OpResult = {
    val kind = cycle(i % cycle.size)
    val (_, kk, iters) = shape(kind)
    val (series, seriesRows) = tr.span("model.events_to_series") {
      Workload.materialize(graft.model.TSModel.eventsToSeries(spark, dirs(kind)))
    }
    val (z, zRows) = tr.span("functions.resample_znorm") {
      Workload.materialize(series.select(col("series_id"),
        graft.functions.TsFunctions.resampleZnormUdf(col("values"), lit(sz)).as("values")))
    }
    val noTol = Double.NegativeInfinity
    val (pred, inertia, centroids) = kind match {
      case "kmeans" =>
        val m = tr.span("ml.kmeans_fit") {
          new graft.ml.TimeSeriesKMeans(kk, "euclidean", maxIter = iters, tol = noTol,
            init = "first").fit(z)
        }
        (tr.span("ml.predict")(m.predict(z).collect()), m.inertia, Some(m.centroids))
      case "kshape" =>
        val m = tr.span("ml.kshape_fit") {
          new graft.ml.KShape(kk, maxIter = iters, tol = noTol).fit(z)
        }
        (tr.span("ml.predict")(m.predict(z).collect()), m.inertia, None)
      case _ =>
        val m = tr.span("ml.kernel_kmeans_fit") {
          new graft.ml.KernelKMeans(kk, maxIter = iters, tol = noTol).fitModel(z)
        }
        (tr.span("ml.predict")(m.predict(z).collect()), m.inertia, None)
    }
    z.unpersist(true)
    series.unpersist(true)
    OpResult(1, () => check(kind, kk, iters, seriesRows, zRows, pred, inertia, centroids))
  }

  private def check(kind: String, kk: Int, iters: Int, seriesRows: Array[Row],
                    zRows: Array[Row], pred: Array[Row], inertia: Double,
                    centroids: Option[Array[Array[Double]]]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    def values(r: Row) = r.getAs[scala.collection.Seq[Double]]("values").toArray
    val raw = rawSeries(kind)
    val ref = referenceSeries(kind)
    if (seriesRows.length != raw.size) errs += s"$kind: ${seriesRows.length} series, want ${raw.size}"
    seriesRows.foreach { r =>
      val id = r.getAs[Number]("series_id").longValue
      if (!raw.get(id).exists(_.sameElements(values(r)))) errs += s"$kind: series $id not in time order"
    }
    if (zRows.length != ref.size) errs += s"$kind: ${zRows.length} resampled series, want ${ref.size}"
    zRows.foreach { r =>
      val id = r.getAs[Number]("series_id").longValue
      val v = values(r)
      if (!ref.get(id).exists(w => w.length == v.length && w.indices.forall(t => Ref.relClose(w(t), v(t)))))
        errs += s"$kind: resampled series $id differs from the reference"
    }
    if (inertia.isNaN || inertia.isInfinite) errs += s"$kind: non-finite inertia $inertia"
    val clusters = pred.map(r => r.getAs[Number]("series_id").longValue -> r.getAs[Number]("cluster").intValue).toMap
    if (pred.length != ref.size || clusters.keySet != ref.keySet)
      errs += s"$kind: predict returned ${pred.length} rows for ${ref.size} series"
    if (clusters.values.exists(c => c < 0 || c >= kk)) errs += s"$kind: cluster outside [0, $kk)"
    centroids.foreach { cs =>
      val data = ref.toSeq.map { case (id, v) => Series(id, v) }
      refLloyd.getOrElseUpdate(kind, Ref.lloyd(data, kk, iters)) match {
        case None => errs += s"$kind: a cluster emptied, the Lloyd replay does not apply"
        case Some(want) =>
          val close = cs.length == want.length && cs.indices.forall(c =>
            cs(c).length == want(c).length && cs(c).indices.forall(t => Ref.relClose(cs(c)(t), want(c)(t))))
          if (!close) errs += s"$kind: centroids differ from the Lloyd replay"
          else if (data.exists(s => clusters.get(s.id).exists(_ != Ref.nearest(s.values, want))))
            errs += s"$kind: predicted clusters differ from the Lloyd replay"
      }
    }
    errs.toSeq
  }
}

/** Near-duplicate detection: MinHash LSH then connected components over
  * one shard of generated documents per operation. */
final class DedupWorkload(seed: Long) extends Workload {
  val name = "dedup"
  val docsPerShard = 6000
  val shards = 2
  val numHashes = 64
  val threshold = 0.5
  /** Planted pairs at or above this exact Jaccard must share a cluster. */
  val mustJoin = 0.9
  val sampledPairs = 32
  val cycle = Seq("dedup")
  def opsFor(seconds: Int): Int = Workload.wholeCycles(seconds, 0.4, cycle.size)

  var data: Array[Shard] = _
  private var spark: SparkSession = _
  private var dfs: Array[DataFrame] = Array.empty
  private val shingleCache = mutable.HashMap.empty[Long, Set[String]]
  private lazy val texts: Map[Long, String] = data.iterator.flatMap(_.docs).toMap
  private val firstOutput = mutable.HashMap.empty[Int, Set[(Long, Long)]]

  def generate(): String = {
    val rng = Rng(seed, "dedup")
    val vocab = Gen.vocabulary(rng, 5000)
    val cdf = Gen.zipfCdf(vocab.length, 1.1)
    data = Array.tabulate(shards)(s =>
      Gen.shard(rng, vocab, cdf, docsPerShard, 0.2, s * 1000000L, 200, 400))
    val d = new Gen.Digest()
    data.foreach { sh => sh.docs.foreach { case (id, t) => d.long(id).string(t) } }
    d.hex
  }

  def setup(spark: SparkSession, work: File): String = {
    this.spark = spark
    val digest = generate()
    val s = spark
    import s.implicits._
    dfs = data.map(sh => Workload.cached(spark.sparkContext
      .parallelize(sh.docs.toSeq, spark.sparkContext.defaultParallelism).toDF("doc_id", "text")))
    digest
  }

  def run(i: Int, tr: Tracer): OpResult = {
    val s = Workload.input(i, cycle.size, shards)
    val (pairs, pairRows) = tr.span("operators.minhash_lsh") {
      Workload.materialize(graft.operators.Dedup.minhashLsh(dfs(s), threshold = threshold,
        numHashes = numHashes, portable = true))
    }
    val cc = tr.span("operators.connected_components") {
      graft.operators.Dedup.connectedComponents(pairs).collect()
    }
    pairs.unpersist(true)
    OpResult(docsPerShard, () => check(s, pairRows, cc))
  }

  private def sh(id: Long): Set[String] = shingleCache.getOrElseUpdate(id, Ref.shingles(texts(id)))

  private def check(s: Int, pairRows: Array[Row], cc: Array[Row]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val cluster = cc.map(r => r.getAs[Number]("doc_id").longValue -> r.getAs[Number]("cluster").longValue).toMap
    data(s).planted.foreach { case (a, b) =>
      if (Ref.jaccard(sh(a), sh(b)) >= mustJoin && (cluster.get(a).isEmpty || cluster.get(a) != cluster.get(b)))
        errs += s"shard $s: planted pair ($a, $b) not in one cluster"
    }
    val pairs = pairRows.map(r => (r.getAs[Number]("doc_a").longValue, r.getAs[Number]("doc_b").longValue,
      r.getAs[Number]("est_jaccard").doubleValue)).sortBy(p => (p._1, p._2))
    if (pairs.exists(p => p._1 >= p._2 || p._3 < threshold)) errs += s"shard $s: malformed pair"
    val step = math.max(1, pairs.length / sampledPairs)
    pairs.indices.by(step).take(sampledPairs).map(pairs(_)).foreach { case (a, b, est) =>
      val j = Ref.jaccard(sh(a), sh(b))
      if (math.abs(est - j) > Ref.minhashTolerance(j, numHashes))
        errs += s"shard $s: pair ($a, $b) estimate $est vs exact Jaccard $j"
    }
    val keys = pairs.map(p => (p._1, p._2)).toSet
    firstOutput.get(s) match {
      case Some(prev) if prev != keys => errs += s"shard $s: pairs differ from an earlier run"
      case Some(_) =>
      case None => firstOutput(s) = keys
    }
    errs.toSeq
  }
}
