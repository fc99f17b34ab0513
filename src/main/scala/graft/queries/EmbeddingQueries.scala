package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TsFunctions
import QueryPrep._
import OracleSqlGen._

/** Embedding search: exact kNN, ANN indexes, dedup, PCA and the
  * embedding classifiers. */
object EmbeddingQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_knn_cosine" -> ((s, dir) => {
      val e = embVectors(s, dir)
      val queries = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val cands = e.where(col("vec_id") >= 10)
        .select(col("vec_id").as("cand_id"), col("v").as("cv"))
      val scored = cands.crossJoin(broadcast(queries))
        .select(col("query_id"), col("cand_id"),
          TsFunctions.cosineSim(col("qv"), col("cv")).as("cos"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
      scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("cand_id"), round(col("cos"), 4).as("cos"))
    }),

    "emb_label_centroids" -> ((s, dir) => {
      emb(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(round(avg(col("x").cast("double")), 6).as("c"))
    }),

    // Through the size-routed front door: at test SF the count guard
    // routes to the exact triangle (oracle-matchable); past exactLimit
    // the same call becomes IVF — the switch itself is spec-locked in
    // DedupAnnSpec.
    "emb_dedup_cosine" -> ((s, dir) => {
      graft.operators.Dedup.embeddingCosineAuto(emb(s, dir), threshold = 0.4)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
    }),

    "emb_kmeans_assign" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("values"))
      val seeds = e.where(col("vec_id") < 8).orderBy("vec_id")
        .collect().map(_.getSeq[Double](1).toArray)
      graft.ml.TimeSeriesKMeans.assign(
        e.select(col("vec_id").as("series_id"), col("values")), seeds, "euclidean", 0.0)
        .select(col("series_id").as("vec_id"), col("cluster").as("cell"),
          round(col("dist"), 4).as("dist"))
    }),

    "emb_knn_classify" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("series_id"),
        transform(col("embedding"), x => x.cast("double")).as("values"), col("label"))
      val train = e.where(col("series_id") >= 50)
      val probes = e.where(col("series_id") < 50)
      graft.ml.KNeighbors.classify(probes, train, k = 5,
        (a, b) => -TsFunctions.cosineSim(a, b))
        .select(col("probe_id").as("query_id"), col("label"))
    }),

    // The classifier's weights="distance" vote (neighbors.py:362-372:
    // 1/d per neighbor, d = 1 − cosine so weights are positive) — the
    // regressor's distance vote is green (ts_knn_regress); this closes
    // the classifier side. Label-only output: the vote argmax is robust
    // to last-ulp weight differences.
    "emb_knn_classify_w" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("series_id"),
        transform(col("embedding"), x => x.cast("double")).as("values"), col("label"))
      val train = e.where(col("series_id") >= 50)
      val probes = e.where(col("series_id") < 50)
      graft.ml.KNeighbors.classify(probes, train, k = 5,
        (a, b) => lit(1.0) - TsFunctions.cosineSim(a, b), weights = "distance")
        .select(col("probe_id").as("query_id"), col("label"))
    }),

    // silhouette of the label clustering over the first 200 embeddings —
    // the silhouette operator (clustering/utils.py:66-197) with a full
    // relational oracle (pairwise dists → per-cluster means → (b−a)/max)
    "emb_silhouette" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir).where(col("vec_id") < 200)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"),
          col("label").cast("string").as("label"))
      val pairs = e.select(col("vec_id").as("left_id"), col("v").as("lv"))
        .join(broadcast(e.select(col("vec_id").as("right_id"), col("v").as("rv"))),
          col("left_id") =!= col("right_id"))
        .select(col("left_id"), col("right_id"),
          graft.functions.NativeExpressions.euclideanNative(col("lv"), col("rv")).as("dist"))
      val assign = e.select(col("vec_id").as("series_id"), col("label").as("cluster"))
      val score = graft.ml.TimeSeriesKMeans.silhouette(pairs, assign)
      Seq(math.rint(score * 1e4) / 1e4).toDF("silhouette")
    }),

    "emb_ann_ivf" -> ((s, dir) => {
      val e = embVectors(s, dir)
      val queries = e.where(col("vec_id") < 10)
      val cands = e.where(col("vec_id") >= 10)
      // fixed data-row quantizer (vec_id 10..25) instead of the sampled
      // k-means of Ann.trainCoarse, so the DuckDB oracle reproduces cell
      // assignment + probing exactly (trainCoarse stays the ml-path
      // default, recall-tested in DedupAnnSpec)
      val centroids = e.where(col("vec_id") >= 10 && col("vec_id") < 26)
        .orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
      graft.operators.Ann.ivfTopK(cands, queries, k = 5, centroids, nprobe = 4)
        .select(col("query_id"), col("rank"), col("cand_id"), round(col("cos"), 4).as("cos"))
    }),

    // Hyperplane (sign-random-projection) LSH ANN — the third scale
    // path next to brute (emb_knn_cosine) and IVF (emb_ann_ivf):
    // 16 formula hyperplanes → 4 bands of 4 sign bits, candidate iff
    // any band code matches, exact cosine on survivors only. The
    // signature pass is codegen'd HOFs (no UDF), candidates come from
    // an equi-join on (band, code). Deterministic planes ⇒ the oracle
    // replays buckets exactly (recall-vs-brute is spec'd, DedupAnnSpec).
    "emb_ann_lsh" -> ((s, dir) => {
      val e = embVectors(s, dir)
      val queries = e.where(col("vec_id") < 10)
      val cands = e.where(col("vec_id") >= 10)
      // 16/4 pinned explicitly: the oracle replays exactly these 16
      // planes; the operator DEFAULT is the scale-aware auto derivation
      // (Ann.autoLshParams), which at this fixture size resolves to a
      // different banding
      graft.operators.Ann.lshTopK(cands, queries, k = 5, dim = 64,
          nBits = 16, nBands = 4)
        .select(col("query_id"), col("rank"), col("cand_id"), round(col("cos"), 4).as("cos"))
    }),

    // Product-quantization ANN (Jégou et al. TPAMI 2011) — the fourth
    // ANN path next to brute / IVF / LSH: 64 dims split into 8
    // subspaces, per-subspace codebook = the matching subvectors of
    // data rows 10..17 (the emb_ann_ivf fixed-quantizer pattern, so
    // the oracle replays encode + ADC exactly), candidates scored from
    // their 8 codes alone (asymmetric distance).
    "emb_ann_pq" -> ((s, dir) => {
      val e = embVectors(s, dir)
      val queries = e.where(col("vec_id") < 10)
      val cands = e.where(col("vec_id") >= 10)
      val rows = e.where(col("vec_id") >= 10 && col("vec_id") < 18)
        .orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
      val dsub = 8
      val codebooks = Array.tabulate(8)(sIdx =>
        rows.map(r => r.slice(sIdx * dsub, sIdx * dsub + dsub)))
      graft.operators.Ann.pqTopK(cands, queries, k = 5, codebooks)
        .select(col("query_id"), col("rank"), col("cand_id"),
          (round(col("d2"), 4) + lit(0.0)).as("d2"))
    }),

    // IVF-PQ (the FAISS-style industrial composition): 16 fixed
    // data-row cells pruned to nprobe=4 per query, candidates scored
    // from their 8 PQ codes alone — the scored relation carries only
    // (id, cell, codes). Same pinned quantizer/codebooks as
    // emb_ann_ivf / emb_ann_pq, so the whole pipeline replays in SQL.
    "emb_ann_ivfpq" -> ((s, dir) => {
      ivfPqTopK(s, dir, rerank = 0)
        .select(col("query_id"), col("rank"), col("cand_id"),
          (round(col("d2"), 4) + lit(0.0)).as("d2"))
    }),

    // IVF-PQ with the production exact-rerank stage (SCALEPROBE round 12:
    // pure ADC saturates ~0.5 recall@10 at 1 M from 8-byte quantization
    // error; the rerank equi-joins ONLY the ADC shortlist's exact
    // vectors back — rerank·|queries| rows, never the corpus): same
    // pinned quantizer/codebooks, ADC top-20 shortlist, exact cosine
    // re-ranks to the final 5.
    "emb_ann_ivfpq_rr" -> ((s, dir) => {
      ivfPqTopK(s, dir, rerank = 20)
        .select(col("query_id"), col("rank"), col("cand_id"),
          (round(col("cos"), 4) + lit(0.0)).as("cos"))
    }),

    // Scalar (int8) quantization ANN — the SQ sibling of PQ: per-vector
    // min/max affine byte grid, no codebook, encode + asymmetric
    // scoring all built-in expressions (no UDF; no exchange beyond the
    // top-k window — plan-locked). The scored side carries only
    // (id, vmin, vmax, codes) — the 4× in-memory-index compression at
    // 100 TB.
    "emb_ann_sq8" -> ((s, dir) => {
      val e = embVectors(s, dir)
      val queries = e.where(col("vec_id") < 10)
      val cands = e.where(col("vec_id") >= 10)
      graft.operators.Ann.sqTopK(cands, queries, k = 5)
        .select(col("query_id"), col("rank"), col("cand_id"),
          (round(col("d2"), 4) + lit(0.0)).as("d2"))
    }),

    // SemDeDup (Dedup.semDedup): semantic dedup in embedding space —
    // cluster (8 broadcast seeds, the emb_kmeans_assign convention),
    // compare ONLY within clusters, drop any vector with cosine ≥ 0.4
    // to a lower-id cluster-mate. Pair mass bounded by Σ|cluster|²,
    // never n².
    // The PCA moment sketch at INGEST (StreamingOps.momentRegisters,
    // batch-run through the real mapGroupsWithState path, the
    // doc_stream_* convention): d state rows holding the count,
    // per-dim sums and upper-triangle second moments — registers that
    // feed Pca.fit's eigensolve without a second corpus pass. Output
    // = the exploded cells (i, j, s), dim sums as j = −1, count as
    // (−1, −1).
    "emb_pca_moments" -> ((s, dir) => {
      val regs = graft.streaming.StreamingOps.momentRegisters(emb(s, dir))
        .toDF("i", "n", "s_i", "prods")
        .localCheckpoint()
      regs
        .select(col("i"), posexplode(col("prods")).as(Seq("o", "p")))
        .select(col("i").cast("int"),
          (col("i") + col("o")).cast("int").as("j"),
          (round(col("p"), 6) + lit(0.0)).as("s"))
        .unionAll(regs.select(col("i").cast("int"), lit(-1).as("j"),
          (round(col("s_i"), 6) + lit(0.0)).as("s")))
        .unionAll(regs.where(col("i") === 0)
          .select(lit(-1).cast("int").as("i"), lit(-1).as("j"),
            col("n").cast("double").as("s")))
    }),

    // Distributed PCA (operators/Pca): one-pass moment aggregator
    // (d + d(d+1)/2 buffer, map-side combined), driver d×d eigensolve
    // by deterministic power iteration (shared ramp init, 60 steps,
    // Rayleigh λ, sign by sums·v, Hotelling deflation), then a
    // codegen'd broadcast-literal projection. The oracle replays the
    // WHOLE thing relationally — covariance, both unrolled power
    // chains, deflation, sign fixes, projection.
    "emb_pca_project" -> ((s, dir) => {
      val e = emb(s, dir)
      val model = graft.operators.Pca.fit(e, k = 2, steps = 60)
      graft.operators.Pca.project(e, model)
        .select(col("vec_id"),
          (round(col("pc1"), 6) + lit(0.0)).as("pc1"),
          (round(col("pc2"), 6) + lit(0.0)).as("pc2"))
    }),

    // Whitened projection: each component scaled to unit variance
    // (÷√λ_c) — the normalization before cosine ANN / OPQ. λ is the
    // per-component Rayleigh value over the (deflated) covariance,
    // replayed in the oracle.
    "emb_pca_whiten" -> ((s, dir) => {
      val e = emb(s, dir)
      val model = graft.operators.Pca.fit(e, k = 2, steps = 60)
      graft.operators.Pca.project(e, model, whiten = true)
        .select(col("vec_id"),
          (round(col("pc1"), 6) + lit(0.0)).as("pc1"),
          (round(col("pc2"), 6) + lit(0.0)).as("pc2"))
    }),

    "emb_semdedup" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("values"))
      val seeds = e.where(col("vec_id") < 8).orderBy("vec_id")
        .collect().map(_.getSeq[Double](1).toArray)
      graft.operators.Dedup.semDedup(emb(s, dir), seeds, threshold = 0.4)
    })
  )

  /** The embeddings as (vec_id, v: array<double>). */
  private def embVectors(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))

  /** The IVF-PQ top-5 of vectors 0..9 among the rest over the pinned
    * quantizer: cells = rows 10..25, nprobe 4, and subspace s's 8 codes
    * the s-th 8-slices of rows 10..17; `rerank` > 0 re-ranks that many
    * ADC candidates by exact cosine. */
  private def ivfPqTopK(s: SparkSession, dir: String, rerank: Int): DataFrame = {
    val e = embVectors(s, dir)
    val queries = e.where(col("vec_id") < 10)
    val cands = e.where(col("vec_id") >= 10)
    val centroids = e.where(col("vec_id") >= 10 && col("vec_id") < 26)
      .orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
    val rows = centroids.take(8)
    val dsub = 8
    val codebooks = Array.tabulate(8)(sIdx =>
      rows.map(r => r.slice(sIdx * dsub, sIdx * dsub + dsub)))
    graft.operators.Ann.ivfPqTopK(cands, queries, k = 5, centroids,
      nprobe = 4, codebooks, rerank = rerank)
  }

  /** DuckDB oracle for emb_pca_project — the full PCA pipeline
    * relationally: population covariance from the same double-cast
    * moments, two unrolled power-method chains (shared ramp init,
    * matvec + ℓ2-normalize per step, zero-norm keeps the previous
    * iterate), Rayleigh eigenvalue, sums·v sign fix, Hotelling
    * deflation between components, and the centered projection. */
  private def pcaProjectOracleSql(d: Int, steps: Int,
                                  whiten: Boolean = false): String = materialized {
    val c0 = (d - 1) / 2.0
    var n2 = 0.0
    var jj = 0
    while (jj < d) { val r = jj - c0; n2 += r * r; jj += 1 }
    val rn = math.sqrt(n2)
    def chain(cov: String, p: String): String =
      (1 to steps).map { t =>
        s"""
           |, ${p}_$t AS (
           |  SELECT q.i AS j, CASE WHEN q.nw = 0 THEN p0.v ELSE q.w / q.nw END AS v
           |  FROM (
           |    SELECT c.i, sum(c.c * p.v) AS w,
           |      sqrt(sum(power(sum(c.c * p.v), 2)) OVER ()) AS nw
           |    FROM $cov c JOIN ${p}_${t - 1} p ON p.j = c.j
           |    GROUP BY c.i) q
           |  JOIN ${p}_${t - 1} p0 ON p0.j = q.i
           |)""".stripMargin
      }.mkString
    s"""WITH x AS MATERIALIZED (
       |  SELECT vec_id, j - 1 AS j, CAST(embedding[j] AS DOUBLE) AS v
       |  FROM embeddings, (SELECT unnest(generate_series(1, $d)) AS j) g
       |), mu AS MATERIALIZED (
       |  SELECT j, sum(v) AS s,
       |    sum(v) / (SELECT count(*) FROM embeddings) AS m
       |  FROM x GROUP BY j
       |), cv1 AS MATERIALIZED (
       |  SELECT a.j AS i, b.j AS j,
       |    sum(a.v * b.v) / (SELECT count(*) FROM embeddings) - ma.m * mb.m AS c
       |  FROM x a
       |  JOIN x b ON b.vec_id = a.vec_id
       |  JOIN mu ma ON ma.j = a.j
       |  JOIN mu mb ON mb.j = b.j
       |  GROUP BY a.j, b.j, ma.m, mb.m
       |), p1_0 AS (
       |  SELECT j, (j - $c0) / $rn AS v FROM mu
       |)""".stripMargin +
      chain("cv1", "p1") +
      s"""
         |, lam1 AS (
         |  SELECT sum(c.c * pa.v * pb.v) AS l
         |  FROM cv1 c JOIN p1_$steps pa ON pa.j = c.i
         |  JOIN p1_$steps pb ON pb.j = c.j
         |), sg1 AS (
         |  SELECT CASE WHEN sum(mu.s * p.v) < 0 THEN -1.0 ELSE 1.0 END AS s
         |  FROM mu JOIN p1_$steps p USING (j)
         |), v1 AS MATERIALIZED (
         |  SELECT p.j, p.v * (SELECT s FROM sg1) AS v FROM p1_$steps p
         |), cv2 AS MATERIALIZED (
         |  SELECT c.i, c.j, c.c - (SELECT l FROM lam1) * va.v * vb.v AS c
         |  FROM cv1 c JOIN v1 va ON va.j = c.i JOIN v1 vb ON vb.j = c.j
         |), p2_0 AS (
         |  SELECT j, (j - $c0) / $rn AS v FROM mu
         |)""".stripMargin +
      chain("cv2", "p2") +
      s"""
         |, sg2 AS (
         |  SELECT CASE WHEN sum(mu.s * p.v) < 0 THEN -1.0 ELSE 1.0 END AS s
         |  FROM mu JOIN p2_$steps p USING (j)
         |), v2 AS MATERIALIZED (
         |  SELECT p.j, p.v * (SELECT s FROM sg2) AS v FROM p2_$steps p
         |), lam2 AS (
         |  SELECT sum(c.c * pa.v * pb.v) AS l
         |  FROM cv2 c JOIN p2_$steps pa ON pa.j = c.i
         |  JOIN p2_$steps pb ON pb.j = c.j
         |)
         |SELECT x.vec_id,
         |  round(sum((x.v - mu.m) * v1.v)${
             if (whiten) " / sqrt((SELECT l FROM lam1))" else ""
           }, 6) + 0.0 AS pc1,
         |  round(sum((x.v - mu.m) * v2.v)${
             if (whiten) " / sqrt((SELECT l FROM lam2))" else ""
           }, 6) + 0.0 AS pc2
         |FROM x
         |JOIN mu ON mu.j = x.j
         |JOIN v1 ON v1.j = x.j
         |JOIN v2 ON v2.j = x.j
         |GROUP BY x.vec_id""".stripMargin
  }

  /** emb_ann_pq's codebook (8 subspaces, codes = data rows 10..17) and
    * per-subspace encode (argmin, lowest code on ties); ends inside the
    * `enc` CTE so a caller continues with `), adc AS (`. */
  private val pqEncodeCtes =
    """cb AS (
      |  SELECT s.s, j.j, list_slice(b.v, s.s * 8 + 1, s.s * 8 + 8) AS c
      |  FROM (SELECT unnest(generate_series(0, 7)) AS s) s,
      |       (SELECT unnest(generate_series(0, 7)) AS j) j
      |  JOIN e b ON b.vec_id = 10 + j.j
      |), enc AS (
      |  SELECT vec_id, s, j FROM (
      |    SELECT c.vec_id, cb.s, cb.j,
      |      row_number() OVER (PARTITION BY c.vec_id, cb.s
      |        ORDER BY list_distance(
      |          list_slice(c.v, cb.s * 8 + 1, cb.s * 8 + 8), cb.c), cb.j) AS rn
      |    FROM e c, cb WHERE c.vec_id >= 10)
      |  WHERE rn = 1""".stripMargin

  /** emb_ann_ivfpq's CTEs through `adc(query_id, cand_id, d2)`: the
    * emb_ann_ivf assign/probe CTEs composed with [[pqEncodeCtes]], every
    * probed-cell candidate scored from its codes. Shared verbatim by the
    * rerank variant. */
  private val ivfpqAdcCtes =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (SELECT vec_id - 10 AS cell, v AS cv FROM e
      |         WHERE vec_id BETWEEN 10 AND 25),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT c.vec_id, cent.cell,
      |      row_number() OVER (PARTITION BY c.vec_id
      |        ORDER BY list_distance(c.v, cent.cv), cent.cell) AS rn
      |    FROM e c, cent WHERE c.vec_id >= 10) WHERE rn = 1),
      |probes AS (
      |  SELECT query_id, cell FROM (
      |    SELECT q.query_id, cent.cell,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY list_distance(q.qv, cent.cv), cent.cell) AS rn
      |    FROM q, cent) WHERE rn <= 4),
      |""".stripMargin + pqEncodeCtes + """
      |), adc AS (
      |  SELECT p.query_id, a.vec_id AS cand_id,
      |    sum(pow(list_distance(
      |      list_slice(qq.qv, enc.s * 8 + 1, enc.s * 8 + 8), cb.c), 2)) AS d2
      |  FROM probes p
      |  JOIN assign a ON a.cell = p.cell
      |  JOIN enc ON enc.vec_id = a.vec_id
      |  JOIN cb ON cb.s = enc.s AND cb.j = enc.j
      |  JOIN q qq ON qq.query_id = p.query_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "emb_silhouette" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, CAST(label AS VARCHAR) AS label
        |  FROM embeddings WHERE vec_id < 200
        |), d AS (
        |  SELECT a.vec_id AS l, a.label AS lc, b.label AS rc,
        |    list_distance(a.v, b.v) AS dist
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
        |), pc AS (
        |  SELECT l, lc, rc, avg(dist) AS md FROM d GROUP BY 1, 2, 3
        |), aa AS (
        |  SELECT l, md AS a FROM pc WHERE lc = rc
        |), bb AS (
        |  SELECT l, min(md) AS b FROM pc WHERE lc <> rc GROUP BY 1
        |), s AS (
        |  SELECT (bb.b - aa.a) / greatest(aa.a, bb.b) AS sil
        |  FROM aa JOIN bb ON aa.l = bb.l
        |)
        |SELECT round(avg(sil), 4) AS silhouette FROM s""".stripMargin,

    "emb_ann_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |cent AS (SELECT vec_id - 10 AS cell, v AS cv FROM e
        |         WHERE vec_id BETWEEN 10 AND 25),
        |cands AS (SELECT vec_id, v FROM e WHERE vec_id >= 10),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT c.vec_id, cent.cell,
        |      row_number() OVER (PARTITION BY c.vec_id
        |        ORDER BY list_distance(c.v, cent.cv), cent.cell) AS rn
        |    FROM cands c, cent) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, cent.cell,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_distance(q.qv, cent.cv), cent.cell) AS rn
        |    FROM q, cent) WHERE rn <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS cand_id,
        |    list_cosine_similarity(qq.qv, c.v) AS cos
        |  FROM probes p
        |  JOIN assign a ON a.cell = p.cell
        |  JOIN cands c ON c.vec_id = a.vec_id
        |  JOIN q qq ON qq.query_id = p.query_id),
        |ranked AS (
        |  SELECT query_id, cand_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, cand_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, cand_id, round(cos, 4) AS cos
        |FROM ranked WHERE rank <= 5""".stripMargin,

    // emb_ann_ivfpq: the emb_ann_ivf assign/probe CTEs composed with
    // the emb_ann_pq enc/ADC CTEs — candidates filtered to probed
    // cells, scored from codes only.
    "emb_ann_ivfpq" ->
      (ivfpqAdcCtes + """, topk AS (
        |  SELECT query_id, cand_id, d2,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(d2, 4), cand_id) AS rank
        |  FROM adc
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, cand_id,
        |  round(d2, 4) + 0.0 AS d2
        |FROM topk WHERE rank <= 5""".stripMargin),

    // emb_ann_ivfpq_rr: the same ADC chain (assign/probe/enc/adc CTEs
    // verbatim), ADC top-20 shortlist, then the exact-cosine rerank the
    // engine's rerank stage runs (shortlist joined back to the full
    // candidate vectors). Rank keys rounded to 4 decimals on BOTH
    // engine and oracle (tf-idf convention): the ADC sum re-associates
    // across engines, and the shortlist boundary must not flip on a
    // last-ulp near-tie.
    "emb_ann_ivfpq_rr" ->
      (ivfpqAdcCtes + """, topk AS (
        |  SELECT query_id, cand_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(d2, 4), cand_id) AS rank
        |  FROM adc
        |), short AS (
        |  SELECT query_id, cand_id FROM topk WHERE rank <= 20
        |), rr AS (
        |  SELECT sh.query_id, sh.cand_id,
        |    list_cosine_similarity(qq.qv, c.v) AS cos,
        |    row_number() OVER (PARTITION BY sh.query_id
        |      ORDER BY round(list_cosine_similarity(qq.qv, c.v), 4) DESC,
        |        sh.cand_id) AS rank
        |  FROM short sh
        |  JOIN q qq ON qq.query_id = sh.query_id
        |  JOIN e c ON c.vec_id = sh.cand_id
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, cand_id,
        |  round(cos, 4) + 0.0 AS cos
        |FROM rr WHERE rank <= 5""".stripMargin),

    // emb_ann_pq: per-subspace encode (argmin vs the 8 data-row
    // codebook slices, lowest code on ties) then the ADC sum of
    // per-subspace squared distances to the CODE's centroid — the
    // candidate's own floats never appear after enc.
    "emb_ann_pq" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n" +
        pqEncodeCtes + """
        |), adc AS (
        |  SELECT q.vec_id AS query_id, enc.vec_id AS cand_id,
        |    sum(pow(list_distance(
        |      list_slice(q.v, enc.s * 8 + 1, enc.s * 8 + 8), cb.c), 2)) AS d2
        |  FROM e q, enc
        |  JOIN cb ON cb.s = enc.s AND cb.j = enc.j
        |  WHERE q.vec_id < 10
        |  GROUP BY 1, 2
        |), topk AS (
        |  SELECT query_id, cand_id, d2,
        |    row_number() OVER (PARTITION BY query_id ORDER BY d2, cand_id) AS rank
        |  FROM adc
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, cand_id,
        |  round(d2, 4) + 0.0 AS d2
        |FROM topk WHERE rank <= 5""".stripMargin),

    // emb_ann_sq8: per-vector affine byte grid replayed per dimension —
    // code_i = floor((v_i − vmin)·255/(vmax − vmin)), decode to
    // vmin + code_i·(vmax − vmin)/255, ADC sum of squared diffs vs the
    // exact query floats.
    "emb_ann_sq8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |enc AS (
        |  SELECT vec_id, list_min(v) AS vmin, list_max(v) AS vmax, v
        |  FROM e WHERE vec_id >= 10
        |), dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |adc AS (
        |  SELECT q.vec_id AS query_id, enc.vec_id AS cand_id,
        |    sum(pow(q.v[dims.i] - (enc.vmin +
        |      (CASE WHEN enc.vmax = enc.vmin THEN 0
        |        ELSE floor((enc.v[dims.i] - enc.vmin) * 255.0 / (enc.vmax - enc.vmin)) END)
        |      * (enc.vmax - enc.vmin) / 255.0), 2)) AS d2
        |  FROM e q, enc, dims
        |  WHERE q.vec_id < 10
        |  GROUP BY 1, 2
        |), topk AS (
        |  SELECT query_id, cand_id, d2,
        |    row_number() OVER (PARTITION BY query_id ORDER BY d2, cand_id) AS rank
        |  FROM adc
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, cand_id,
        |  round(d2, 4) + 0.0 AS d2
        |FROM topk WHERE rank <= 5""".stripMargin,

    // emb_ann_lsh: the 16 formula hyperplanes replayed in SQL — bit
    // h = [Σ_i hp(h,i)·v_i ≥ 0], 4-bit band codes, equi-join on
    // (band, code), exact cosine on surviving pairs.
    "emb_ann_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |hp AS (
        |  SELECT h.h, i.i, (((h.h * 53 + i.i * 29 + 3) % 41) - 20) / 20.0 AS w
        |  FROM (SELECT unnest(generate_series(0, 15)) AS h) h,
        |       (SELECT unnest(generate_series(0, 63)) AS i) i
        |), bits AS (
        |  SELECT e.vec_id, hp.h,
        |    CASE WHEN sum(hp.w * e.v[hp.i + 1]) >= 0 THEN 1 ELSE 0 END AS bit
        |  FROM e, hp GROUP BY 1, 2
        |), codes AS (
        |  SELECT vec_id, h // 4 AS band,
        |    sum(bit * (1 << (h % 4))) AS code
        |  FROM bits GROUP BY 1, 2
        |), pairs AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
        |  FROM codes q JOIN codes c ON c.band = q.band AND c.code = q.code
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10
        |), scored AS (
        |  SELECT p.query_id, p.cand_id,
        |    list_cosine_similarity(q.v, c.v) AS cos
        |  FROM pairs p
        |  JOIN e q ON q.vec_id = p.query_id
        |  JOIN e c ON c.vec_id = p.cand_id
        |), ranked AS (
        |  SELECT query_id, cand_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, cand_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, cand_id, round(cos, 4) AS cos
        |FROM ranked WHERE rank <= 5""".stripMargin,

    "emb_knn_cosine" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    list_cosine_similarity(q.v, c.v) AS cos
        |  FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id >= 10
        |), ranked AS (
        |  SELECT query_id, cand_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT query_id, rank, cand_id, round(cos, 4) AS cos
        |FROM ranked WHERE rank <= 5""".stripMargin,

    "emb_label_centroids" ->
      """SELECT label, j - 1 AS dim, round(avg(CAST(embedding[j] AS DOUBLE)), 6) AS c
        |FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS j) g
        |WHERE j <= len(embedding)
        |GROUP BY 1, 2""".stripMargin,

    "emb_dedup_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4""".stripMargin,

    // emb_semdedup: cluster assignment (the emb_kmeans_assign chain),
    // within-cluster lower-id cosine rule replayed directly.
    "emb_pca_project" -> pcaProjectOracleSql(64, 60),

    "emb_pca_whiten" -> pcaProjectOracleSql(64, 60, whiten = true),

    // emb_pca_moments: raw moment relation — upper-triangle products,
    // dim sums (j = −1), count (−1, −1).
    "emb_pca_moments" ->
      """WITH x AS (
        |  SELECT vec_id, j - 1 AS j, CAST(embedding[j] AS DOUBLE) AS v
        |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS j) g
        |)
        |SELECT a.j AS i, b.j AS j, round(sum(a.v * b.v), 6) + 0.0 AS s
        |FROM x a JOIN x b ON b.vec_id = a.vec_id AND b.j >= a.j
        |GROUP BY 1, 2
        |UNION ALL
        |SELECT j AS i, -1 AS j, round(sum(v), 6) + 0.0 AS s FROM x GROUP BY 1
        |UNION ALL
        |SELECT -1 AS i, -1 AS j,
        |  CAST((SELECT count(*) FROM embeddings) AS DOUBLE) AS s""".stripMargin,

    "emb_semdedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |seeds AS (SELECT vec_id AS cell, v AS sv FROM e WHERE vec_id < 8),
        |asg AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, seeds.cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_distance(e.v, seeds.sv) ASC, seeds.cell ASC) AS rn
        |    FROM e, seeds)
        |  WHERE rn = 1
        |), vv AS (
        |  SELECT e.vec_id, asg.cell, e.v FROM e JOIN asg USING (vec_id)
        |), dups AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM vv a JOIN vv b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        |)
        |SELECT vv.vec_id, CAST(vv.cell AS INT) AS cell,
        |  coalesce(d.vec_id IS NOT NULL, FALSE) AS is_dup
        |FROM vv LEFT JOIN dups d ON d.vec_id = vv.vec_id""".stripMargin,

    "emb_kmeans_assign" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |seeds AS (SELECT vec_id AS cell, v AS sv FROM e WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, seeds.cell, list_distance(e.v, seeds.sv) AS dist,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY list_distance(e.v, seeds.sv) ASC, seeds.cell ASC) AS rn
        |  FROM e, seeds
        |)
        |SELECT vec_id, CAST(cell AS INT) AS cell, round(dist, 4) AS dist
        |FROM scored WHERE rn = 1""".stripMargin,

    "emb_knn_classify" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v, label FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.label,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id ASC) AS rnk
        |  FROM e q JOIN e c ON q.vec_id < 50 AND c.vec_id >= 50
        |), votes AS (
        |  SELECT query_id, label, count(*) AS n
        |  FROM scored WHERE rnk <= 5 GROUP BY 1, 2
        |), best AS (
        |  SELECT query_id, label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY n DESC, label ASC) AS rn
        |  FROM votes
        |)
        |SELECT query_id, label FROM best WHERE rn = 1""".stripMargin,

    // weights="distance": Σ 1/(1−cos) per label (1e12 at d = 0, the
    // engine's zero-distance clamp), argmax with smallest-label ties
    "emb_knn_classify_w" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v, label FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.label,
        |    1.0 - list_cosine_similarity(q.v, c.v) AS d,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY 1.0 - list_cosine_similarity(q.v, c.v) ASC, c.vec_id ASC) AS rnk
        |  FROM e q JOIN e c ON q.vec_id < 50 AND c.vec_id >= 50
        |), votes AS (
        |  SELECT query_id, label,
        |    sum(CASE WHEN d = 0 THEN 1e12 ELSE 1.0 / d END) AS w
        |  FROM scored WHERE rnk <= 5 GROUP BY 1, 2
        |), best AS (
        |  SELECT query_id, label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY w DESC, label ASC) AS rn
        |  FROM votes
        |)
        |SELECT query_id, label FROM best WHERE rn = 1""".stripMargin
  )
}
