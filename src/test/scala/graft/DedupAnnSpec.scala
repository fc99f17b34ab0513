package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Ann, Dedup}

class DedupAnnSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("minhash LSH recovers high-jaccard pairs found by exact shingle join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // exact jaccard pairs >= 0.6 via shingle inverted index
    val sh = Dedup.shingles(docs).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sh.select(col("doc_id").as("doc_a"), col("sh"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), "sh")
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    val exact = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sb")), "doc_b")
      .withColumn("jac", col("i") / (col("sa") + col("sb") - col("i")))
      .where(col("jac") >= 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(docs, threshold = 0.45)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain near-dup docs")
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} true pairs")
  }

  test("simhash: identical docs collide, near-dups within small hamming") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox leaps over the lazy dog again and again"),
      (3L, "completely different content about database query engines")
    ).toDF("doc_id", "text")
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    assert(sh(0L) == sh(1L))
    assert(java.lang.Long.bitCount(sh(0L) ^ sh(2L)) <= 12)
    assert(java.lang.Long.bitCount(sh(0L) ^ sh(3L)) > 12)
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("band-bucket cap bounds degenerate buckets without touching normal corpora") {
    // 60 identical docs: every band bucket is 60 wide. With maxBucket=10
    // the candidate join must see none of them (bounded, not quadratic);
    // uncapped it would yield 60·59/2 pairs per band.
    val hotDocs = (0L until 60L).map(i =>
      (i, "the same boilerplate sentence repeated in every document here"))
      .toDF("doc_id", "text")
    val capped = Dedup.simhashPairs(hotDocs, maxBucket = 10)
    assert(capped.count() == 0, "oversized buckets must be dropped, not joined")
    val cappedLsh = Dedup.minhashLsh(hotDocs, maxBucket = 10)
    assert(cappedLsh.count() == 0)
    // the real corpus has no bucket near the default cap: results with
    // and without the cap are identical (the oracle-compatibility claim)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val a = Dedup.simhashPairs(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val b = Dedup.simhashPairs(docs, maxBucket = Int.MaxValue)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(a == b, "default cap must not fire on the test corpus")
  }

  test("exact dedup groups identical texts") {
    val docs = Seq((0L, "aaa bbb"), (1L, "aaa bbb"), (2L, "ccc")).toDF("doc_id", "text")
    val d = Dedup.exact(docs).select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(d == Set((0L, 2L), (2L, 1L)))
  }

  test("connected components: min-label propagation finds dedup clusters") {
    // chain 1-2-3 (diameter 2, needs >1 round), pair 5-6, singleton-free
    val pairs = Seq((2L, 1L), (2L, 3L), (6L, 5L)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    assert(comps == Set((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)))
  }

  test("connected components: empty and single-edge inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty).count() == 0)
    val one = Seq((9L, 3L)).toDF("doc_a", "doc_b")
    val r = Dedup.connectedComponents(one).as[(Long, Long)].collect().toSet
    assert(r == Set((3L, 3L), (9L, 3L)))
  }

  test("connected components: local union-find == distributed pointer doubling") {
    // deterministic random graph: 120 nodes, 150 edges — long chains,
    // merged components, self-contained min-label ground truth via the
    // distributed fixpoint itself
    val rng = new scala.util.Random(7)
    val edges = Seq.fill(150)((rng.nextInt(120).toLong, rng.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val pairs = edges.toDF("doc_a", "doc_b")
    val local = Dedup.connectedComponents(pairs) // under the cap -> union-find
      .as[(Long, Long)].collect().toSet
    val dist = Dedup.connectedComponents(pairs, localEdgeCap = -1L) // force the loop
      .as[(Long, Long)].collect().toSet
    assert(local == dist)
  }

  test("contamination flags corpus docs sharing eval 3-grams") {
    val evalSet = Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "alpha beta gamma epsilon"), // shares "alpha beta gamma"
      (11L, "unrelated words entirely here")).toDF("doc_id", "text")
    val hits = graft.operators.TextAnalysis.contamination(corpus, evalSet)
      .as[(Long, Long)].collect().toSet
    assert(hits == Set((10L, 1L)))
  }

  test("IVF ANN achieves >=80% recall@5 vs brute force") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = e.where(col("vec_id") < 10)
    val cands = e.where(col("vec_id") >= 10).cache()
    val brute = Ann.bruteTopK(cands, queries, 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    // uniform random embeddings are IVF's worst case (no cluster
    // structure); probe over half the cells and expect high-but-not-full
    // recall, plus the exactness sanity: nprobe == nlist must equal brute
    val centroids = Ann.trainCoarse(cands, nlist = 8, seed = 3)
    // the parallel chunked Lloyd scan merges its partials in chunk
    // order, so a second run must give array-identical centroids
    val again = Ann.trainCoarse(cands, nlist = 8, seed = 3)
    assert(centroids.length == again.length &&
      centroids.indices.forall(i => centroids(i).sameElements(again(i))),
      "trainCoarse must be bit-deterministic across runs")
    val ivf = Ann.ivfTopK(cands, queries, 5, centroids, nprobe = 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF recall $recall")
    val full = Ann.ivfTopK(cands, queries, 5, centroids, nprobe = 8)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(full == brute, "nprobe=nlist IVF must equal brute force")
  }

  test("hyperplane-LSH ANN: recall@5 vs brute, and 1-band degenerate case") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = e.where(col("vec_id") < 10)
    val cands = e.where(col("vec_id") >= 10).cache()
    val brute = Ann.bruteTopK(cands, queries, 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    // uniform random embeddings are also LSH's worst case (cosines
    // cluster near 0, where sign bits are noisiest) — 4 bands of 4 bits
    // keeps the candidate set wide enough for decent recall here
    val lsh = Ann.lshTopK(cands, queries, 5, dim = 64, nBits = 16, nBands = 4)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    // measured 0.46 on this fixture: near-orthogonal vectors sit right at
    // the sign-bit decision boundary, the documented floor for 4×4 bands
    assert(recall >= 0.4, s"LSH recall $recall over ${brute.size} true pairs")
    // AUTO defaults (scale-aware banding, VERDICT r12 #1): at this corpus
    // size autoLshParams resolves to 4-bit bands × MORE bands than 16/4;
    // the formula planes make auto's first 4 bands literally the 16/4
    // bucket set, so auto's candidate set is a superset — recall is
    // deterministically >= the pinned run's, never the 0.117 the 1 M
    // probe measured at frozen toy settings
    val (abBits, abBands) = Ann.autoLshParams(cands.count())
    assert(abBits / abBands == 4 && abBands > 4,
      s"auto params at ${cands.count()} rows: $abBits/$abBands")
    val auto = Ann.lshTopK(cands, queries, 5, dim = 64)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recallAuto = brute.intersect(auto).size.toDouble / brute.size
    assert(recallAuto >= recall,
      s"auto-banded LSH recall $recallAuto < pinned 16/4 recall $recall")
    // the scale law itself, re-fit from MEASUREMENT (SCALEPROBE r14):
    // the p=0.77 derivation (144/18) measured recall 0.579 at 1 M, not
    // the >=0.9 it was solved for; inverting the law at (r=8, b=18)
    // gives p=0.682. At p=0.68 the occupancy r=8 would need 49 bands,
    // so the solver walks r down to 6 -> 23 bands (projected 0.909) —
    // the pre-fix derivation must be replayable via explicit pNear
    assert(Ann.autoLshParams(1000000L) == (138, 23))
    assert(Ann.autoLshParams(1000000L, pNear = 0.77) == (144, 18))
    // projected recall at the shipped 1 M banding clears the target
    val proj1m = 1.0 - math.pow(1.0 - math.pow(0.68, 6), 23)
    assert(proj1m >= 0.9, s"projected recall $proj1m at (138, 23)")
    // past ~4 M the bucket-width floor (expected bucket must stay under
    // lshTopK's 50 k hot-bucket cap — a wider relaxation would cap EVERY
    // bucket and return empty) pinches against the band cap: no sign-LSH
    // banding reaches 0.9 and the solver pins r at the floor, b at the
    // cap, and warns TARGET UNREACHABLE instead of going zero-recall
    assert(Ann.autoLshParams(10000000L) == (192, 24))
    assert(Ann.autoLshParams(1000L)._1 / Ann.autoLshParams(1000L)._2 == 4)
    // 16 bands of 1 bit ⇒ a pair collides unless ALL 16 signs differ:
    // near-total recall, the banding-trick sanity direction
    val wide = Ann.lshTopK(cands, queries, 5, dim = 64, nBits = 16, nBands = 16)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recallWide = brute.intersect(wide).size.toDouble / brute.size
    assert(recallWide >= recall, s"1-bit bands must not lose recall ($recallWide < $recall)")
    assert(recallWide >= 0.9, s"1-bit-band LSH recall $recallWide")
  }

  test("lshTopK contract: lone explicit banding param fails loudly; capped buckets observable") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = e.where(col("vec_id") < 5)
    val cands = e.where(col("vec_id") >= 5)
    // ADVICE r13: under the old guard `nBits > 0 && nBands > 0` a caller
    // passing only nBits silently fell through to auto, discarding the
    // explicit value — now a loud contract error in both directions
    intercept[IllegalArgumentException] {
      Ann.lshTopK(cands, queries, 5, dim = 64, nBits = 16)
    }
    intercept[IllegalArgumentException] {
      Ann.lshTopK(cands, queries, 5, dim = 64, nBands = 4)
    }
    // ADVICE r13: the job-free hot-bucket cap must not drop over-wide
    // buckets invisibly — the observe() on the pre-filter scan publishes
    // dropped row / bucket counts without adding a job. Skewed corpus:
    // 40 exact copies of one vector share every sign bit, so each of
    // their 4 band buckets holds ≥ 40 rows and gets capped at
    // maxBucket=30, while the distinct vectors' buckets survive (some
    // candidates flow, so AQE can't empty-propagate the join away —
    // with ALL buckets capped the zero-row stage is replaced by an
    // empty LocalRelation and the CollectMetrics node is elided with
    // it; the all-capped pathology is already loud as an empty result).
    val hot = cands.where(col("vec_id") === 20).select(col("v")).crossJoin(
      spark.range(40).select((col("id") + 1000).as("vec_id"))).select("vec_id", "v")
    val skewed = cands.unionByName(hot)
    @volatile var droppedRows = -1L
    @volatile var cappedBuckets = -1.0
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("lsh_hot_bucket_cap").foreach { row =>
          droppedRows = row.getAs[Long]("dropped_sig_rows")
          cappedBuckets = row.getAs[Double]("capped_buckets")
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val got = Ann.lshTopK(skewed, queries, 5, dim = 64,
        nBits = 16, nBands = 4, maxBucket = 30).count()
      assert(got > 0, "uncapped buckets must still produce candidates")
      val deadline = System.nanoTime() + 10000000000L // listener bus is async
      while (droppedRows < 0 && System.nanoTime() < deadline) Thread.sleep(50)
      // 40 hot rows × 4 bands = 160 capped signature rows minimum
      assert(droppedRows >= 160, s"expected >=160 capped signature rows, got $droppedRows")
      assert(cappedBuckets >= 4.0 - 1e-6,
        s"expected >=4 capped buckets observed, got $cappedBuckets")
    } finally spark.listenerManager.unregister(listener)
  }

  test("lshTopK per-query candidate cap: bounded, deterministic, observable") {
    // VERDICT r15 next-round #3: the hot-bucket cap bounds any single
    // bucket, but a query probing `bands` warm buckets still accumulates
    // up to bands·maxBucket candidates (the zipf probe's nq=1000 run
    // spilled ~80 GB with ZERO buckets over the hot cap). The per-query
    // cap retains ≤ max(k, maxCandPerQuery/bands) rows per bucket in
    // xxhash64(cand_id) order — deterministic, query-independent — so
    // candidate mass is bounded BY CONSTRUCTION.
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = e.where(col("vec_id") < 5)
    val cands = e.where(col("vec_id") >= 5)
    // 40 exact copies of one vector: one warm bucket per band (≥ 41
    // rows), all well under the 50 k hot-bucket cap — only the NEW
    // per-query cap can bound them
    val hot = cands.where(col("vec_id") === 20).select(col("v")).crossJoin(
      spark.range(40).select((col("id") + 1000).as("vec_id"))).select("vec_id", "v")
    val skewed = cands.unionByName(hot)
    @volatile var dropped = -1L
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("lsh_query_cand_cap").foreach { row =>
          dropped = row.getAs[Long]("dropped_cand_rows")
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      def run() = Ann.lshTopK(skewed, queries, 5, dim = 64,
          nBits = 16, nBands = 4, maxCandPerQuery = 24) // mPerBand = 6
        .select("query_id", "cand_id").as[(Long, Long)].collect().sortBy(identity)
      val r1 = run()
      assert(r1.nonEmpty, "capped run must still produce top-k rows")
      assert(r1.groupBy(_._1).values.forall(_.length <= 5))
      val deadline = System.nanoTime() + 10000000000L
      while (dropped < 0 && System.nanoTime() < deadline) Thread.sleep(50)
      // the warm bucket alone drops ≥ (41−6) rows in each of 4 bands
      assert(dropped >= 140, s"expected >=140 dropped candidate rows, got $dropped")
      val r2 = run()
      assert(r1.toSeq == r2.toSeq, "hash-ordered retention must be deterministic")
      // a cap that nothing reaches is a no-op: identical to cap disabled
      val off = Ann.lshTopK(skewed, queries, 5, dim = 64, nBits = 16, nBands = 4,
          maxCandPerQuery = -1)
        .select("query_id", "cand_id").as[(Long, Long)].collect().sortBy(identity)
      val huge = Ann.lshTopK(skewed, queries, 5, dim = 64, nBits = 16, nBands = 4,
          maxCandPerQuery = Int.MaxValue)
        .select("query_id", "cand_id").as[(Long, Long)].collect().sortBy(identity)
      assert(off.toSeq == huge.toSeq, "unreached cap must be a no-op")
    } finally spark.listenerManager.unregister(listener)
  }

  test("lshTopK withCapStats: exact per-query capped_fraction (VERDICT r16 #3)") {
    // The caps bound candidate MASS; capped_fraction says WHICH queries
    // were degraded, so a fleet operator can route them to IVF. Exactness
    // fixture: 50 identical candidate vectors share one bucket per band
    // (width 50). A query equal to that vector probes exactly those 4
    // buckets; with maxCandPerQuery=24 (mPerBand=6) each drops 50−6=44 of
    // 50 rows → fraction = 44/50 = 0.88 exactly. A query with the
    // NEGATED vector has every sign bit flipped, probes 4 empty buckets,
    // and must report fraction 0 (not null, not NaN).
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .where(col("vec_id") === 20).select(col("v")).head().getSeq[Double](0)
    import spark.implicits._
    val cands = spark.range(50).select(col("id").as("vec_id"),
      typedlit(base).as("v"))
    val queries = Seq((100L, base), (101L, base.map(-_)))
      .toDF("vec_id", "v")
    val got = Ann.lshTopK(cands, queries, 5, dim = 64, nBits = 16, nBands = 4,
        maxCandPerQuery = 24, withCapStats = true)
    assert(got.columns.contains("capped_fraction"))
    val byQ = got.select(col("query_id"), col("capped_fraction"))
      .distinct().as[(Long, Double)].collect().toMap
    assert(math.abs(byQ(100L) - 0.88) < 1e-9,
      s"hot query expected exact fraction 0.88, got ${byQ.get(100L)}")
    // query 101 probes no occupied bucket: no candidates, so it has no
    // top-k rows — its absence (rather than a null fraction on a row) is
    // the contract; the fraction surface covers queries that RETURN rows
    assert(!byQ.contains(101L) || byQ(101L) == 0.0)
    // per-query rows still ≤ k, one fraction per query (join added no dups)
    val cnt = got.groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(cnt(100L) <= 5)
    // default path: schema unchanged
    val plain = Ann.lshTopK(cands, queries, 5, dim = 64, nBits = 16, nBands = 4,
      maxCandPerQuery = 24)
    assert(!plain.columns.contains("capped_fraction"))
    // nothing capped -> fraction exactly 0 on every returned row
    val loose = Ann.lshTopK(cands, queries, 5, dim = 64, nBits = 16, nBands = 4,
        maxCandPerQuery = -1, withCapStats = true)
      .select(col("capped_fraction")).as[Double].collect()
    assert(loose.nonEmpty && loose.forall(_ == 0.0),
      s"uncapped run must report 0.0 fractions, got ${loose.take(5).mkString(",")}")
  }

  test("IVF cosine dedup has high recall and emits only exact pairs") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()
    val brute = Dedup.embeddingCosine(emb, threshold = 0.4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture should contain cosine near-dups")
    val ivf = Dedup.embeddingCosineIvf(emb, threshold = 0.4, nlist = 8, nprobe = 4, seed = 3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(ivf.subsetOf(brute), "IVF candidates pass the same exact filter")
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF cosine dedup recall $recall over ${brute.size} pairs")
  }

  test("embeddingCosineAuto routes exact under the limit, IVF past it") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()
    val brute = Dedup.embeddingCosine(emb, threshold = 0.4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // under the limit: the auto route must be the exact triangle,
    // bit-identical pairs
    val exactRoute = Dedup.embeddingCosineAuto(emb, threshold = 0.4)
    assert(exactRoute.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"),
      "under exactLimit the auto route must be the broadcast triangle")
    assert(exactRoute.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet == brute)
    // past the limit (forced with a tiny cap): the plan switches to the
    // IVF candidate join and the recall contract holds — a subset of
    // brute (emitted pairs stay exact-verified), recall high
    val ivfRoute = Dedup.embeddingCosineAuto(emb, threshold = 0.4,
      exactLimit = 10, nlist = 8, nprobe = 4, seed = 3)
    val ivfPlan = ivfRoute.queryExecution.executedPlan.toString
    assert(!ivfPlan.contains("BroadcastNestedLoopJoin"),
      "past exactLimit the auto route must not be the n^2 broadcast triangle")
    val ivf = ivfRoute.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(ivf.subsetOf(brute), "auto-IVF pairs must pass the same exact filter")
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"auto-IVF recall $recall over ${brute.size} pairs")
    // and the switch is transparent: identical to calling the IVF
    // operator directly with the same parameters
    val direct = Dedup.embeddingCosineIvf(emb, threshold = 0.4,
      nlist = 8, nprobe = 4, seed = 3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(ivf == direct)
  }

  test("containment: a quoted subset scores 1 directionally where jaccard is low") {
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = (10 to 20).map(i => s"w$i").mkString(" ") // verbatim slice of long
    val docsDf = Seq((1L, long), (2L, quote),
      (3L, "completely different words here entirely")).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docsDf, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // all 9 of the quote's shingles sit inside the long doc: C(2→1) = 1
    assert(pairs.exists { case (a, b, c) => a == 2 && b == 1 && c >= 0.999 },
      s"missing quote→source direction in ${pairs.toSeq}")
    // the reverse direction is 9/58 ≈ 0.16 — below threshold, as is
    // the symmetric Jaccard 9/(58 + 9 − 9) ≈ 0.16 that misses this pair
    assert(!pairs.exists { case (a, b, _) => a == 1 && b == 2 })
  }

  test("PQ: codebook rows self-code; ADC is exact on codebook candidates") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val rows = e.where(col("vec_id") >= 10 && col("vec_id") < 18)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val codebooks = Array.tabulate(8)(s => rows.map(_._2.slice(s * 8, s * 8 + 8)))
    // a codebook row's nearest entry in every subspace is itself
    val codes = Ann.pqEncode(e.where(col("vec_id") >= 10 && col("vec_id") < 18), codebooks)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    codes.foreach { case (id, cs) =>
      val j = (id - 10).toInt
      assert(cs.forall(_ == j), s"row $id codes $cs != all-$j")
    }
    // ADC against candidates that ARE codebook rows = true sq-euclidean
    val queries = e.where(col("vec_id") < 4)
    val pq = Ann.pqTopK(e.where(col("vec_id") >= 10 && col("vec_id") < 18),
        queries, k = 8, codebooks)
      .select("query_id", "cand_id", "d2").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val qRows = queries.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    for ((qid, qv) <- qRows; (cid, cv) <- rows) {
      val truth = qv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(pq((qid, cid)) - truth) < 1e-9,
        s"ADC($qid,$cid) drifted from exact sq-euclidean")
    }
  }

  test("IVF-PQ rerank: shortlist covering all probed candidates == IVF exact ranking") {
    // rerank ≥ every probed candidate ⇒ the second stage ranks the SAME
    // candidate set ivfTopK ranks, by the SAME exact cosine — so the two
    // routes must agree bit-for-bit. Locks the rerank join + re-ranking
    // semantics (the production recall recovery of SCALEPROBE round 12).
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val queries = e.where(col("vec_id") < 6)
    val cands = e.where(col("vec_id") >= 10)
    val centroids = e.where(col("vec_id") >= 10 && col("vec_id") < 26)
      .orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
    val rows = centroids.take(8)
    val codebooks = Array.tabulate(8)(s => rows.map(_.slice(s * 8, s * 8 + 8)))
    val want = Ann.ivfTopK(cands, queries, k = 5, centroids, nprobe = 4)
      .select("query_id", "rank", "cand_id").as[(Long, Int, Long)]
      .collect().sorted.toSeq
    val got = Ann.ivfPqTopK(cands, queries, k = 5, centroids, nprobe = 4,
        codebooks, rerank = 1000000)
      .select("query_id", "rank", "cand_id").as[(Long, Int, Long)]
      .collect().sorted.toSeq
    assert(got == want, s"rerank-covering IVF-PQ diverged from IVF:\n$got\nvs\n$want")
  }

  test("source cap: salted two-phase == naive single window on a skewed corpus") {
    import org.apache.spark.sql.expressions.Window
    // one hot source (200 docs) + many small ones — the shape the salted
    // local pass exists for
    val rows = (0 until 200).map(i => (i.toLong, "hot")) ++
      (200 until 260).map(i => (i.toLong, s"cold${i % 7}"))
    val docsDf = rows.toDF("doc_id", "source")
    val capped = graft.operators.TextAnalysis.sourceCap(docsDf, cap = 5, salts = 4)
      .select("doc_id", "source", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val naive = docsDf
      .select(col("doc_id"), col("source"), md5(col("doc_id").cast("string")).as("rk"))
      .withColumn("rank",
        row_number().over(Window.partitionBy("source").orderBy("rk", "doc_id")))
      .where(col("rank") <= 5)
      .select("doc_id", "source", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(capped == naive, "salted two-phase cap diverged from exact top-cap")
    assert(capped.count(_._2 == "hot") == 5)
    // every cold source keeps all its docs (below cap) or exactly cap
    val perSource = capped.groupBy(_._2).view.mapValues(_.size).toMap
    assert(perSource.forall { case (_, n) => n <= 5 })
  }

  test("length buckets: counts and token mass partition the corpus") {
    val docsDf = Seq(
      (1L, "a b c"), (2L, "a b c d e f g h i j k l m n o p q r"), (3L, "x")
    ).toDF("doc_id", "text")
    val b = graft.operators.TextAnalysis.lengthBuckets(docsDf, bucketSz = 16)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    // tokens: 3, 18, 1 → buckets 0 (3+1 docs, 4 tokens) and 1 (1 doc, 18)
    assert(b == Set((0, 2L, 4L), (1, 1L, 18L)))
  }

  test("native shingle-hash pass == md5 of the HOF-built shingles") {
    import graft.functions.NativeExpressions
    // edge cases: short doc (truncated window), consecutive spaces
    // (empty words), unicode, empty string, exact-k doc
    val docsDf = Seq(
      (1L, "The quick Brown fox jumps over"),
      (2L, "ab"), (3L, ""), (4L, "x  y z"), (5L, "a b c"),
      (6L, "naïve café über straße one two three")
    ).toDF("doc_id", "text")
    for (lc <- Seq(true, false)) {
      val base = if (lc) lower(col("text")) else col("text")
      val viaStrings = docsDf.select(col("doc_id"),
          split(base, " ").as("w"))
        .select(col("doc_id"), array_distinct(
          transform(sequence(lit(0), greatest(size(col("w")) - 3, lit(0))),
            i => array_join(slice(col("w"), i + 1, lit(3)), " "))).as("shs"))
        .select(col("doc_id"), explode(col("shs")).as("s"))
        .select(col("doc_id"), NativeExpressions.md5Hash60Native(col("s")).as("h"))
        .as[(Long, Long)].collect().groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      val native = docsDf.select(col("doc_id"),
          explode(NativeExpressions.shingleHash60Native(
            col("text"), 3, lowercase = lc, distinct = true)).as("h"))
        .as[(Long, Long)].collect().groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      assert(native == viaStrings, s"lowercase=$lc drifted")
    }
  }

  test("60-bit md5 hash == the first 15 hex chars of a JDK MessageDigest md5") {
    import graft.functions.NativeExpressions
    // independent reference: hex-encode the full digest, then read the
    // first 15 hex chars base 16 — what the DuckDB oracles replay
    def ref(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val texts = Seq("", "abc", "naïve café über straße 東京")
    val got = texts.toDF("s")
      .select(NativeExpressions.md5Hash60Native(col("s"))).as[Long].collect().toSeq
    assert(got == texts.map(ref))
    // one 3-word shingle: the whole (lowercased) text is the only window
    val sh = Seq("The Quick fox").toDF("text")
      .select(NativeExpressions.shingleHash60Native(col("text"), 3,
        lowercase = true, distinct = true)).as[Seq[Long]].head()
    assert(sh == Seq(ref("the quick fox")))
  }

  test("minhashLsh rejects the removed xxhash64 mode") {
    val docs = Seq((0L, "a b c d")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](Dedup.minhashLsh(docs, portable = false))
    assert(e.getMessage.contains("xxhash64"))
  }

  test("learned quality filter: gradient step reduces loss, fit separates") {
    import graft.operators.TextAnalysis
    // separable toy corpus: "good" vocab vs "spam" vocab
    val docsDf = (0 until 40).map { i =>
      val good = i % 2 == 0
      val words = if (good) Seq("insight", "method", "result", "analysis")
                  else Seq("buy", "click", "free", "winner")
      (i.toLong, (0 until 12).map(j => words((i + j) % 4)).mkString(" "),
        if (good) "en" else "xx")
    }.toDF("doc_id", "text", "lang")
    val label = (col("lang") === "en").cast("double")
    def logLoss(w: Array[Double], b: Double): Double = {
      val p = TextAnalysis.qualityLogisticPredict(docsDf, w, b)
        .join(docsDf.select(col("doc_id"), label.as("y")), "doc_id")
        .select(col("p_quality"), col("y")).as[(Double, Double)].collect()
      -p.map { case (pi, y) => y * math.log(pi) + (1 - y) * math.log(1 - pi) }.sum / p.length
    }
    val d = 16
    val w0 = Array.fill(d)(0.0)
    val stepped = TextAnalysis.qualityLogisticStep(docsDf, label, w0, 0.0, 0.5, d)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val w1 = Array.tabulate(d)(stepped(_))
    assert(logLoss(w1, stepped(-1)) < logLoss(w0, 0.0), "one GD step must reduce log-loss")
    val (wf, bf) = TextAnalysis.qualityLogisticFit(docsDf, label, d, eta = 0.5, iters = 30)
    val preds = TextAnalysis.qualityLogisticPredict(docsDf, wf, bf)
      .join(docsDf.select(col("doc_id"), label.as("y")), "doc_id")
      .select(col("p_quality"), col("y")).as[(Double, Double)].collect()
    val acc = preds.count { case (p, y) => (p >= 0.5) == (y == 1.0) }.toDouble / preds.length
    assert(acc == 1.0, s"separable corpus must classify perfectly, got $acc")
  }

  test("bigram LM score: hand-computed smoothed log-probs") {
    import graft.operators.TextAnalysis
    val docsDf = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(docsDf, k = 0.5)
      .select("doc_id", "n_bigrams", "lm_score")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // C(a)=3 C(b)=3 C(c)=1, V=3; C(a,b)=3 C(b,a)=1 C(b,c)=1
    val pAB = math.log(3.5 / 4.5); val pBA = math.log(1.5 / 4.5)
    val pBC = math.log(1.5 / 4.5)
    assert(got(0)._2 == 3L && math.abs(got(0)._3 - (pAB + pBA + pAB) / 3) < 1e-12)
    assert(got(1)._2 == 2L && math.abs(got(1)._3 - (pAB + pBC) / 2) < 1e-12)
    // a one-word doc has no bigram events and is excluded
    val one = TextAnalysis.lmScore(Seq((9L, "solo")).toDF("doc_id", "text"))
    assert(one.count() == 0)
  }

  test("span dedup: cross-doc spans survive only in keeper, reassembly exact") {
    import graft.operators.TextAnalysis
    // spans of 2 tokens; "x y" appears in docs 1 and 2 -> doc 2 loses it
    val docsDf = Seq(
      (1L, "x y a b"),          // spans: "x y", "a b"
      (2L, "x y c d"),          // spans: "x y"(dup, removed), "c d"
      (3L, "e f g")             // spans: "e f", "g" (trailing partial)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.spanDedup(docsDf, spanTokens = 2)
      .select("doc_id", "n_spans", "n_removed", "text_md5")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    def m(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(got(0) == ((1L, 2L, 0L, m("x y a b"))))
    assert(got(1) == ((2L, 2L, 1L, m("c d"))))
    assert(got(2) == ((3L, 2L, 0L, m("e f g"))))
    // real corpus: spans conserved (kept + removed = total), some removal
    val real = TextAnalysis.spanDedup(
      spark.read.parquet(s"$sf/documents.parquet"), spanTokens = 10)
    val agg = real.agg(sum("n_spans"), sum("n_removed")).as[(Long, Long)].head
    assert(agg._1 > 0 && agg._2 >= 0 && agg._2 < agg._1)
  }

  test("substring dedup: sliding grams, overlap merge, global keeper") {
    import graft.operators.TextAnalysis
    def m(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    // k=3 grams. Doc 1 holds the first occurrence of everything it
    // contains. Doc 2 repeats "a b c d" (grams "a b c" and "b c d", both
    // rank>1) -> positions 1..4 covered by the MERGED [1,3]∪[2,4] span;
    // its tail "z w" survives. Doc 3 is shorter than k -> untouched even
    // though "a b" also appears elsewhere. Doc 4 duplicates doc 1's tail
    // "c d e" at a DIFFERENT alignment (positions 2..4) -> caught (the
    // tumbling spanDedup would miss this).
    val docsDf = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d z w"),
      (3L, "a b"),
      (4L, "q c d e")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.substringDedup(docsDf, k = 3)
      .select("doc_id", "n_tokens", "n_removed", "text_md5")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 5L, 0L, m("a b c d e"))))
    assert(got(1) == ((2L, 6L, 4L, m("z w"))))
    assert(got(2) == ((3L, 2L, 0L, m("a b"))))
    assert(got(3) == ((4L, 4L, 3L, m("q"))))
    // real corpus: tokens conserved, some removal, never more than total
    val real = TextAnalysis.substringDedup(
      spark.read.parquet(s"$sf/documents.parquet"), k = 8)
    val agg = real.agg(sum("n_tokens"), sum("n_removed")).as[(Long, Long)].head
    assert(agg._1 > 0 && agg._2 >= 0 && agg._2 < agg._1)
  }

  test("tf-idf cosine retrieval: hand-computed ranking on a 3-doc corpus") {
    import graft.operators.TextAnalysis
    // df(apple)=df(banana)=df(cherry)=2, so idf=ln(3/2) for all terms and
    // it cancels in the cosine: score(d) = dot/(|d||q|) with unit-idf
    // vectors. d1=(2,1,0): 2/sqrt(5); d2=(1,0,1): 1/sqrt(2); d3 lacks
    // 'apple' entirely.
    val docsDf = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana cherry cherry")
    ).toDF("doc_id", "text")
    val q = Seq((0L, Seq("apple"))).toDF("query_id", "terms")
    val got = TextAnalysis.tfIdfTopK(docsDf, q, k = 5)
      .select("query_id", "rank", "doc_id", "score")
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    assert(got.map(r => (r._2, r._3)).toSeq == Seq((1, 1L), (2, 2L)))
    // engine emits the 4-decimal-rounded score (the rank key — rounding
    // before ranking is the cross-engine tie fix for duplicate docs)
    assert(math.abs(got(0)._4 - 2.0 / math.sqrt(5)) < 5e-5)
    assert(math.abs(got(1)._4 - 1.0 / math.sqrt(2)) < 5e-5)
  }

  test("dedup keep-best: one keeper per cluster, keeper is max-quality") {
    val res = SparkEntry.queries("doc_dedup_keep_best")(spark, sf)
      .select("doc_id", "cluster", "quality", "keep")
      .as[(Long, Long, Double, Int)].collect()
    val byCluster = res.groupBy(_._2)
    assert(byCluster.values.forall(_.count(_._4 == 1) == 1),
      "exactly one keeper per cluster")
    byCluster.values.foreach { members =>
      val keeper = members.find(_._4 == 1).get
      val best = members.map(_._3).max
      assert(keeper._3 == best, "keeper has the cluster's max quality")
      // ties break toward the smallest doc_id among max-quality members
      assert(keeper._1 == members.filter(_._3 == best).map(_._1).min)
    }
    // every doc appears exactly once
    assert(res.map(_._1).distinct.length == res.length)
  }

  test("sequence packing: greedy fill, oversize isolation, partition independence") {
    import graft.operators.TextAnalysis
    def doc(id: Long, src: String, tk: Int) = (id, src, Seq.fill(tk)("w").mkString(" "))
    val docsDf = Seq(
      doc(1, "s", 100), doc(2, "s", 100), doc(3, "s", 100),
      doc(4, "s", 300), doc(5, "s", 10),
      doc(6, "t", 256), doc(7, "t", 1)
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.packSequences(docsDf, ctxLen = 256)
      .select("doc_id", "pack_seq", "token_offset")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // s: [1,2] fill 200 | [3] | [4 oversize alone] | [5]; t: [6 exactly full] | [7]
    assert(got == Seq((1L, 0L, 0L), (2L, 0L, 100L), (3L, 1L, 0L),
      (4L, 2L, 0L), (5L, 3L, 0L), (6L, 0L, 0L), (7L, 1L, 0L)))
    // invariants on real data: within a pack, offsets are the running
    // token sum and the fill only exceeds ctxLen for a lone oversized doc
    val real = TextAnalysis.packSequences(
      spark.read.parquet(s"$sf/documents.parquet"), ctxLen = 256)
    val packs = real.groupBy("source", "pack_seq")
      .agg(sum("tk").as("fill"), count(lit(1)).as("n"),
        min("token_offset").as("off0"),
        max(col("token_offset") + col("tk")).as("endMax"))
      .collect()
    packs.foreach { r =>
      assert(r.getAs[Long]("off0") == 0L)
      assert(r.getAs[Long]("fill") == r.getAs[Long]("endMax"))
      assert(r.getAs[Long]("fill") <= 256 || r.getAs[Long]("n") == 1L)
    }
    // output is independent of the cluster's partitioning
    val p2 = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val again = TextAnalysis.packSequences(
      spark.read.parquet(s"$sf/documents.parquet"), ctxLen = 256)
      .select("doc_id", "pack_seq", "token_offset")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    spark.conf.set("spark.sql.shuffle.partitions", p2)
    assert(again == real.select("doc_id", "pack_seq", "token_offset")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq)
  }

  test("SQ8: codes bounded, reconstruction within one grid step, top-1 == brute") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val enc = Ann.sqEncode(e)
    val rows = enc.select("vec_id", "vmin", "vmax", "codes")
      .as[(Long, Double, Double, Seq[Int])].collect()
    val orig = e.as[(Long, Seq[Double])].collect().toMap
    rows.foreach { case (id, vmin, vmax, codes) =>
      assert(codes.forall(c => c >= 0 && c <= 255))
      val step = (vmax - vmin) / 255.0
      codes.zip(orig(id)).foreach { case (c, x) =>
        assert(math.abs(x - (vmin + c * step)) <= step + 1e-12)
      }
    }
    // constant-vector guard
    val const = Seq((99L, Seq.fill(4)(2.5))).toDF("vec_id", "v")
    assert(Ann.sqEncode(const).select("codes").as[Seq[Int]].head == Seq(0, 0, 0, 0))
    // quantized top-1 matches exact brute-force top-1 (64-dim grid error
    // is far below the data's inter-point spacing)
    val queries = e.where(col("vec_id") < 5)
    val cands = e.where(col("vec_id") >= 5)
    val sq1 = Ann.sqTopK(cands, queries, k = 1)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toMap
    val brute = cands.crossJoin(broadcast(
        queries.select(col("vec_id").as("query_id"), col("v").as("qv"))))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        aggregate(zip_with(col("qv"), col("v"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("d2"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("d2").asc, col("cand_id").asc)))
      .where(col("rank") === 1)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toMap
    assert(sq1 == brute)
  }

  test("stratified sample: quota semantics, determinism, default stratum") {
    import graft.operators.TextAnalysis
    val docs = (0L until 400L).map(i =>
      (i, s"text $i", Seq("en", "de", "xx")(i.toInt % 3))).toDF("doc_id", "text", "lang")
    val quotas = Map("en" -> 10, "de" -> 50)
    val kept = TextAnalysis.stratifiedSample(docs, quotas, defaultQuota = 100)
      .select("doc_id", "lang", "bucket").as[(Long, String, Long)].collect()
    // every survivor honors its stratum quota; unknown stratum -> default
    kept.foreach { case (_, lang, b) =>
      assert(b < quotas.getOrElse(lang, 100), s"$lang bucket $b") }
    // default quota 100 keeps the whole unknown stratum
    assert(kept.count(_._2 == "xx") == docs.where(col("lang") === "xx").count())
    // en is sampled strictly below de (10% vs 50% quota)
    assert(kept.count(_._2 == "en") < kept.count(_._2 == "de"))
    // hash-deterministic: a second run keeps the identical set
    val again = TextAnalysis.stratifiedSample(docs, quotas, defaultQuota = 100)
      .select("doc_id", "lang", "bucket").as[(Long, String, Long)].collect()
    assert(kept.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("text analysis helpers: lang id, quality, bpe-ish tokens") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (0L, "the cat and the dog is of note"),
      (1L, "der hund und die katze ist da"),
      (2L, "xyz qqq zzz")
    ).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.bpeishTokenCount(col("text")).as("nb")).collect()
    val m = out.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(0L) == "en" && m(1L) == "de" && m(2L) == "und")
  }

  test("repetition signals: dup-word / top-bigram / dup-trigram fractions") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      // "a b a b a": words 5, distinct 2 -> dup_word 0.6
      // bigrams: ab, ba, ab, ba -> top 2/4 = 0.5
      // trigrams: aba, bab, aba -> dup instances 2/3 = 0.6667
      (0L, "a b a b a"),
      // all-distinct doc: every signal 0 (top bigram 1/3 though)
      (1L, "w x y z"),
      // 2-word doc: no trigrams at all -> left-join coalesce 0.0 path
      (2L, "p q")
    ).toDF("doc_id", "text")
    val r0 = TextAnalysis.repetitionSignals(docs).where(col("doc_id") === 0)
      .select("dup_word_frac", "top_bigram_frac", "dup_trigram_frac")
      .as[(Double, Double, Double)].head()
    assert(r0 == ((0.6, 0.5, 0.6667)))
    val r1 = TextAnalysis.repetitionSignals(docs).where(col("doc_id") === 1)
      .select("dup_word_frac", "top_bigram_frac", "dup_trigram_frac")
      .as[(Double, Double, Double)].head()
    assert(r1 == ((0.0, 0.3333, 0.0)))
    val r2 = TextAnalysis.repetitionSignals(docs).where(col("doc_id") === 2)
      .select("dup_word_frac", "top_bigram_frac", "dup_trigram_frac")
      .as[(Double, Double, Double)].head()
    assert(r2 == ((0.0, 1.0, 0.0))) // one bigram "p q"; no trigrams -> 0.0
  }

  test("word entropy: uniform = log2(n distinct), constant doc = 0") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (0L, "a b c d"),   // uniform over 4 -> 2 bits
      (1L, "x x x x"),   // constant -> 0 (and -0.0 normalized)
      (2L, "a a b b b b b b")  // p=(1/4,3/4) -> 0.25*2 + 0.75*log2(4/3)
    ).toDF("doc_id", "text")
    val m = TextAnalysis.wordEntropy(docs)
      .as[(Long, Double)].collect().toMap
    assert(m(0L) == 2.0)
    assert(m(1L) == 0.0 && (1.0 / m(1L)) > 0) // +0.0, not -0.0
    val expected2 = BigDecimal(0.25 * 2 + 0.75 * (math.log(4.0 / 3) / math.log(2)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(m(2L) == expected2)
  }

  test("BM25: hand-computed score, idf ordering, rarity beats frequency") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (0L, "apple banana apple cherry"),
      (1L, "apple apple apple apple"),
      (2L, "banana cherry durian fig"),
      (3L, "fig fig grape grape")).toDF("doc_id", "text")
    val queries = Seq((0L, Seq("apple", "durian"))).toDF("query_id", "terms")
    val got = TextAnalysis.bm25TopK(docs, queries, k = 4)
      .as[(Long, Int, Long, Double)].collect().map(r => r._3 -> ((r._2, r._4))).toMap
    // hand BM25: N=4, avgdl=4, dl=4 -> length norm term = 1
    def idf(df: Int) = math.log((4.0 - df + 0.5) / (df + 0.5) + 1.0)
    def w(tf: Int) = tf * 2.2 / (tf + 1.2)
    val s0 = idf(2) * w(2)            // doc 0: apple tf=2
    val s1 = idf(2) * w(4)            // doc 1: apple tf=4
    val s2 = idf(1) * w(1)            // doc 2: durian tf=1 (rare term)
    assert(math.abs(got(0L)._2 - s0) < 1e-9)
    assert(math.abs(got(1L)._2 - s1) < 1e-9)
    assert(math.abs(got(2L)._2 - s2) < 1e-9)
    // the single rare-term doc outranks both frequent-term docs
    assert(got(2L)._1 == 1, s"rare term should rank first: $got")
    assert(!got.contains(3L), "doc with no query term must not appear")
  }

  test("CMS: estimates >= true counts; exact when no cell collides") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (0L, "a a a b b c"),
      (1L, "a b c d d d d")).toDF("doc_id", "text")
    val sketch = TextAnalysis.cmsSketch(docs)
    val terms = Seq("a", "b", "c", "d").toDF("term")
    val est = TextAnalysis.cmsEstimate(sketch, terms)
      .as[(String, Long)].collect().toMap
    val truth = Map("a" -> 4L, "b" -> 3L, "c" -> 2L, "d" -> 4L)
    truth.foreach { case (t, c) =>
      assert(est(t) >= c, s"CMS underestimated $t: ${est(t)} < $c")
    }
    // 4 distinct terms in a 4x64 grid: w.h.p. some row has no collision
    // for each term, so the min-over-rows estimate is exact
    truth.foreach { case (t, c) => assert(est(t) == c, s"$t: ${est(t)} != $c") }
    // the sketch relation is d*w-bounded regardless of corpus size
    assert(sketch.count() <= 4L * 64)
  }

  test("mix allocation: sums to budget, respects caps, saturates small sources") {
    import graft.operators.TextAnalysis
    // caps 100/50/10, weights 1/1/1, budget 110:
    // ratio order: c(10) < b(50) < a(100); c saturates (10), remaining
    // 100 over w=2 -> lambda=50 -> b saturates exactly (50), a gets 50.
    val per = Seq(("a", 100L, 1.0), ("b", 50L, 1.0), ("c", 10L, 1.0))
      .toDF("source", "cap", "w")
    val got = TextAnalysis.mixAllocate(per, 110L)
      .as[(String, Long, Double)].collect().map(t => t._1 -> t._3).toMap
    assert(got == Map("a" -> 50.0, "b" -> 50.0, "c" -> 10.0), s"got $got")
    // weighted case: caps 100/100, weights 3/1, budget 80 -> no caps hit,
    // lambda=20 -> 60/20
    val per2 = Seq(("x", 100L, 3.0), ("y", 100L, 1.0)).toDF("source", "cap", "w")
    val got2 = TextAnalysis.mixAllocate(per2, 80L)
      .as[(String, Long, Double)].collect().map(t => t._1 -> t._3).toMap
    assert(got2 == Map("x" -> 60.0, "y" -> 20.0), s"got $got2")
    // invariant on real data: allocations sum to the budget
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val per3 = docsDf.groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("cap"),
        count(lit(1)).cast("double").as("w"))
    val budget = math.floor(0.6 * per3.agg(sum("cap")).head().getLong(0)).toLong
    val total = TextAnalysis.mixAllocate(per3, budget)
      .agg(sum("alloc")).head().getDouble(0)
    assert(math.abs(total - budget) < 1e-6, s"sum $total != budget $budget")
  }

  test("Bloom contamination: superset of exact — a true leak is never missed") {
    import graft.operators.TextAnalysis
    val evalDocs = Seq(
      (100L, "the quick brown fox jumps high"),
      (101L, "lorem ipsum dolor sit amet")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "a sentence with the quick brown fox inside it"),
      (1L, "nothing in common here at all"),
      (2L, "lorem ipsum dolor sit amet copied verbatim"),
      (3L, "short one")).toDF("doc_id", "text")
    val exact = TextAnalysis.contamination(corpus, evalDocs, k = 3)
      .as[(Long, Long)].collect().toMap
    val bloom = TextAnalysis.bloomContamination(corpus,
        TextAnalysis.bloomBits(evalDocs, m = 65536), m = 65536)
      .as[(Long, Long)].collect().toMap
    // membership sketch: false positives only — every exact leak appears
    // with at least its exact shared count
    exact.foreach { case (id, n) =>
      assert(bloom.contains(id), s"bloom missed leaked doc $id")
      assert(bloom(id) >= n, s"doc $id: bloom ${bloom(id)} < exact $n")
    }
    assert(!bloom.contains(1L) && !bloom.contains(3L),
      s"clean docs false-flagged at m=65536 on a 10-shingle eval set: $bloom")
  }

  test("SemDeDup: lower-id keeper rule, cross-cluster pairs never compared") {
    import graft.operators.Dedup
    // cluster A near (1,0): ids 0 (seed), 2, 3 are near-identical ->
    // 2 and 3 dup against 0. cluster B near (0,1): ids 1 (seed), 4
    // identical -> 4 dups against 1. id 5 near A but orthogonal-ish
    // direction: same cell, low cosine -> kept.
    val vs = Seq(
      (0L, Array(1.0, 0.02)), (1L, Array(0.02, 1.0)),
      (2L, Array(0.99, 0.03)), (3L, Array(0.98, 0.01)),
      (4L, Array(0.02, 1.0)), (5L, Array(0.6, -0.75)))
    val df = vs.toDF("vec_id", "embedding")
    val seeds = Array(vs(0)._2, vs(1)._2)
    val got = Dedup.semDedup(df, seeds, threshold = 0.9)
      .as[(Long, Int, Boolean)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got(0L)._2 == false && got(1L)._2 == false, s"seeds are keepers: $got")
    assert(got(2L) == ((0, true)) && got(3L) == ((0, true)), s"A dups: $got")
    assert(got(4L) == ((1, true)), s"B dup: $got")
    assert(got(5L)._2 == false, s"low-cosine cluster-mate kept: $got")
  }

  test("DSIR importance weights: target-like docs score higher than off-target") {
    import graft.operators.TextAnalysis
    // target vocabulary {alpha..delta} vs off-target {uno..quatro}:
    // docs made of target words must get positive logw, off-target
    // negative, and a mixed doc must land between them.
    val docs = Seq(
      (0L, "alpha beta gamma delta alpha beta", true),
      (1L, "alpha delta beta gamma gamma", true),
      (2L, "uno dos tres quatro uno dos", false),
      (3L, "alpha uno beta dos", false)).toDF("doc_id", "text", "is_t")
    val w = TextAnalysis.importanceWeights(docs, col("is_t"), d = 32)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(w(0L) > 0 && w(1L) > 0, s"target docs should score positive: $w")
    assert(w(2L) < 0, s"off-target doc should score negative: $w")
    assert(w(3L) > w(2L) && w(3L) < w(0L), s"mixed doc should sit between: $w")
  }

  test("HLL: estimate within the m=64 error bound across cardinalities") {
    import graft.operators.TextAnalysis
    // standard error for m=64 is 1.04/sqrt(64) = 13%; allow 3 sigma
    Seq(50, 500, 5000).foreach { n =>
      val items = spark.range(n).selectExpr("concat('item_', id) AS term")
      val est = TextAnalysis.hllEstimate(TextAnalysis.hllSketch(items))
        .head().getDouble(0)
      assert(math.abs(est - n) / n < 3 * 1.04 / 8,
        s"n=$n est=$est off by ${math.abs(est - n) / n}")
      // duplicates must not move the estimate (registers are maxes)
      val dup = items.union(items).union(items)
      val est2 = TextAnalysis.hllEstimate(TextAnalysis.hllSketch(dup))
        .head().getDouble(0)
      assert(est2 == est, s"duplicates moved the HLL estimate: $est -> $est2")
    }
    // the register relation is 2^p-bounded at any cardinality
    assert(TextAnalysis.hllSketch(
      spark.range(100000).selectExpr("concat('x', id) AS term")).count() <= 64)
  }

  test("BPE merges: overlapping pair counts, greedy non-overlap apply, cascade") {
    import graft.operators.TextAnalysis
    // "aaab" x3 + "ab": pair stats step 1 (overlapping counted):
    //   (a,a) = 2*3 = 6; (a,b) = 3 + 1 = 4  -> merge (a,a)
    // apply greedy: "aaab" -> [aa, a, b] (NOT [aa, aa..]); "ab" -> [a, b]
    // step 2 stats: (aa,a)=3, (a,b)=3+1=4... wait: [aa,a,b] has (aa,a)
    //   and (a,b) -> (a,b) = 3 + 1 = 4 -> merge (a,b)
    // step 3: [aa, ab] x3 + [ab]: (aa,ab) = 3 -> merge (aa,ab)
    val docs = Seq(
      (0L, "aaab aaab"),
      (1L, "aaab ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, steps = 3)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1, "a", "a", 6L), (2, "a", "b", 4L), (3, "aa", "ab", 3L)),
      s"got $got")
  }

  test("BPE encode: final segmentation reflects the full merge cascade") {
    import graft.operators.TextAnalysis
    // same fixture as the merges test: merges (a,a), (a,b), (aa,ab);
    // "aaab" -> [aa,a,b] -> [aa,ab] -> [aaab]; "ab" -> [a,b] -> [ab]
    val docs = Seq(
      (0L, "aaab aaab"),
      (1L, "aaab ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(docs, steps = 3)
      .as[(String, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("aaab", "aaab", 1L, 3L), ("ab", "ab", 1L, 1L)), s"got $got")
    // one merge fewer leaves the step-2 layer visible
    val got2 = TextAnalysis.bpeEncode(docs, steps = 2)
      .as[(String, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got2 == Seq(("aaab", "aa ab", 2L, 3L), ("ab", "ab", 1L, 1L)), s"got $got2")
  }

  test("temperature sampling: α flattens the mixture, selection is the md5 rank") {
    import graft.operators.TextAnalysis
    // skewed corpus: 160 docs from "big", 40 from "mid", 10 from "tiny"
    val docs = ((0 until 160).map(i => (i.toLong, "big")) ++
      (160 until 200).map(i => (i.toLong, "mid")) ++
      (200 until 210).map(i => (i.toLong, "tiny")))
      .toDF("doc_id", "source")
    def shares(alpha: Double, budget: Long): Map[String, Long] =
      TextAnalysis.temperatureSample(docs, alpha, budget)
        .groupBy("source").agg(count(lit(1)).as("c"))
        .as[(String, Long)].collect().toMap
    // α=1: proportional — 100·(160,40,10)/210 floors to (76,19,4)
    assert(shares(1.0, 100) == Map("big" -> 76L, "mid" -> 19L, "tiny" -> 4L))
    // α=0.5: flattened — tiny's target rises from ~4.8% to ~14.3%,
    // then the availability cap holds it at its 10 existing docs
    val s05 = shares(0.5, 100)
    assert(s05 == Map("big" -> 57L, "mid" -> 28L, "tiny" -> 10L),
      s"alpha=0.5 did not flatten: $s05")
    // α=0: uniform over sources (capped by availability)
    val s0 = shares(0.0, 90)
    assert(s0 == Map("big" -> 30L, "mid" -> 30L, "tiny" -> 10L), s"got $s0")
    // selection = deterministic global md5 rank: the salted two-window
    // path must equal a naive single-window top-t per source
    import org.apache.spark.sql.expressions.Window
    val t = 20
    val naive = docs.withColumn("rk", md5(col("doc_id").cast("string")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy("rk", "doc_id")))
      .where(col("rank") <= t && col("source") === "big")
      .select("doc_id").as[Long].collect().toSet
    val got = TextAnalysis.temperatureSample(docs, 1.0, 26) // big gets t=19
      .where(col("source") === "big")
      .select("doc_id").as[Long].collect().toSet
    assert(got.subsetOf(naive), s"salted selection diverged from md5 rank")
  }

  test("BPE tokenize: per-doc token budget under the learned merges") {
    import graft.operators.TextAnalysis
    // steps=2 leaves "aaab" at [aa, ab] (2 tokens), "ab" at [ab] (1)
    val docs = Seq(
      (0L, "aaab aaab"),
      (1L, "aaab ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTokenize(docs, steps = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, 4L, 2L), (1L, 3L, 2L)), s"got $got")
  }

  test("PII redact: chain order, counts, and placeholder output") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (0L, "mail bob@x.com or bob.smith+tag@sub.example.org ok"),
      // dotted digits inside an email domain must be consumed by the
      // EMAIL pass, never double-counted as an IP
      (1L, "ping a@1.2.3.4x.com then 10.0.0.1 and call +12345678901"),
      (2L, "no pii here at all"),
      (3L, "+123 is too short but +1234567890123 is real")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiRedact(docs)
      .select("doc_id", "n_email", "n_ip", "n_phone", "red")
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1).toSeq
    assert(got(0) == ((0L, 2, 0, 0, "mail <EMAIL> or <EMAIL> ok")), s"got ${got(0)}")
    assert(got(1) == ((1L, 1, 1, 1, "ping <EMAIL> then <IP> and call <PHONE>")),
      s"got ${got(1)}")
    assert(got(2) == ((2L, 0, 0, 0, "no pii here at all")), s"got ${got(2)}")
    assert(got(3) == ((3L, 0, 0, 1, "+123 is too short but <PHONE> is real")),
      s"got ${got(3)}")
  }

  test("weighted sample: A-Res top-k matches brute force and is partition-independent") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def sample(df: org.apache.spark.sql.DataFrame): Seq[Long] = df
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("double").as("w"),
        Dedup.md5Hash60(concat(lit("ws:"), col("doc_id").cast("string"))).as("h60"))
      .withColumn("key",
        log((col("h60").cast("double") + 1.0d) / math.pow(2.0, 60)) / col("w"))
      .orderBy(col("key").desc, col("doc_id")).limit(20)
      .select("doc_id").as[Long].collect().toSeq
    val a = sample(docs)
    val b = sample(docs.repartition(13, col("source")))
    assert(a == b, "weighted sample changed under repartitioning")
    // brute force on the driver from the same uniforms
    val brute = docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("double").as("w"),
        Dedup.md5Hash60(concat(lit("ws:"), col("doc_id").cast("string"))).as("h60"))
      .as[(Long, Double, Long)].collect()
      .map { case (id, w, h) => (id, math.log((h.toDouble + 1.0) / math.pow(2.0, 60)) / w) }
      .sortBy { case (id, k) => (-k, id) }.take(20).map(_._1).toSeq
    assert(a == brute, s"top-k diverged from brute force: $a vs $brute")
    // longer docs must be overrepresented. The corpus's length spread
    // is too narrow for a k=20 sample to beat noise, so build a corpus
    // with a 200x weight gap: 100 one-token docs vs 10 200-token docs.
    // A 200-token doc's key ln(u)/200 is ~200x closer to 0 than a
    // one-token doc's, so the weighted top-10 is dominated by long docs
    // and its mean weight towers over the corpus mean (~19).
    val skewed = spark.range(110).select(col("id").as("doc_id"),
      when(col("id") < 100, lit("x"))
        .otherwise(concat_ws(" ", array_repeat(lit("y"), 200))).as("text"))
    val longIds = sample(skewed).count(_ >= 100)
    assert(longIds >= 7,
      s"weighted top-20 took only $longIds of the 10 heavy docs (w=200 vs w=1)")
  }

  test("sketched containment: emitted pairs are exact, recall holds vs the exact join") {
    // The sketch prunes CANDIDATES only; phase 2 recounts every
    // surviving pair from the full capped shingle arrays, so any pair
    // the sketched path emits must carry the SAME containment value the
    // exact inverted-index join computes — the sketch can lose pairs
    // (sampling variance on short docs), never corrupt or invent them.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def toMap(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = toMap(Dedup.containmentPairs(docs, threshold = 0.6))
    val sk = toMap(Dedup.containmentPairsSketched(docs, threshold = 0.6))
    assert(exact.nonEmpty, "fixture should contain containment pairs")
    sk.foreach { case (pair, c) =>
      assert(exact.contains(pair), s"sketched emitted non-exact pair $pair")
      assert(math.abs(exact(pair) - c) < 1e-12, s"value drift on $pair")
    }
    // default sampleMod = 2 is the measured ≥95 %-recall point of the
    // round-12 frontier (SCALEPROBE); lock that floor at the default
    val recall = sk.size.toDouble / exact.size
    assert(recall >= 0.95, s"sketched recall $recall over ${exact.size} true pairs")
    info(f"sketched containment recall $recall%.3f over ${exact.size} exact pairs")
  }
}
