package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TsFunctions
import graft.model.TSModel
import QueryPrep._
import OracleSqlGen._

/** Composite estimators: shapelets, early classification, SVC / SVR,
  * MLP and the kNN regressor. */
object EstimatorQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // nearest label-centroid classification of length-16 prefixes (the
    // early classifier's per-t model at one fixed t, with an oracle);
    // train = even user ids, labels = dominant event_type
    "ts_prefix_classify" -> ((s, dir) => {
      val labels = ev(s, dir).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("user_id")
        .agg(min_by(col("event_type"), struct((-col("cnt")).as("nc"), col("event_type")))
          .as("label"))
      // localCheckpoint: prefix (a windowed explode) feeds both the
      // centroid build and the classify join
      val prefix = explodedEvents(s, dir)
        .where(col("n") >= 16 && col("t") <= 16)
        .select(col("user_id"), col("t"), col("value"))
        .localCheckpoint()
      val cents = prefix.where(col("user_id") % 2 === 0)
        .join(labels, "user_id")
        .groupBy("label", "t").agg(avg("value").as("c"))
      prefix.join(broadcast(cents), "t")
        .groupBy(col("user_id"), col("label"))
        .agg(sum(pow(col("value") - col("c"), 2)).as("d2"))
        .groupBy("user_id")
        .agg(min_by(col("label"), struct(col("d2"), col("label"))).as("pred"))
    }),

    // KNeighborsTimeSeriesRegressor with 'distance' weights
    // (neighbors.py:362-372): probes 12..23 against train 0..11,
    // euclidean metric as pure codegen'd HOFs (zip_with + aggregate, no
    // UDF), y = the raw series mean, prediction = Σyᵢ/dᵢ / Σ1/dᵢ over
    // the top-3 — the whole regress path (cross → window top-k →
    // weighted vote) through the real KNeighbors.regress.
    "ts_knn_regress" -> ((s, dir) => {
      val base = TSModel.eventsToSeries(s, dir).where(col("series_id") < 24)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"),
          (aggregate(col("values"), lit(0.0), (acc, x) => acc + x) /
            size(col("values"))).as("y"))
        .localCheckpoint()
      graft.ml.KNeighbors.regress(
        base.where(col("series_id") >= 12), base.where(col("series_id") < 12), 3,
        (a, b) => sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)),
        weights = "distance")
        .select(col("probe_id"), (round(col("y_pred"), 4) + lit(0.0)).as("y_pred"))
    }),

    // Shapelet-transform with fixed deterministic shapelets (three
    // length-8 subsequences of series 0) — the sliding-min-distance
    // operator (Shapelets.minDist / transform) driver-verified; only
    // the LR head of ts_shapelet_classify stays rows-only.
    "ts_shapelet_transform" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 32)
      val s0 = series.where(col("series_id") === 0)
        .select("values").collect()(0).getSeq[Double](0).toArray
      val shapelets = Array(s0.slice(0, 8), s0.slice(8, 16), s0.slice(16, 24))
      graft.ml.Shapelets.transform(series, shapelets)
        .select(col("series_id"),
          round(element_at(col("shapelet_features"), 1), 4).as("f0"),
          round(element_at(col("shapelet_features"), 2), 4).as("f1"),
          round(element_at(col("shapelet_features"), 3), 4).as("f2"))
    }),

    // Full shapelet-classifier fit, driver-verified end to end: the
    // ts_shapelet_step setup (3 shapelets sliced from series 0, the
    // fixed w0[c][k] = (c+1)(k+1)/10 head, purchase>5 binary labels)
    // trained for EXACTLY 10 full bias-corrected Adam steps
    // (Shapelets.refineLoop — one distributed GradAgg pass per step),
    // then a deterministic predict: min-pool features against the final
    // shapelets, margin = logit(true) − logit(false), strict > 0 →
    // 'true'. shapeletTraceSql replays every step INCLUDING the Adam
    // moment state. (The reference-default MLlib-LR head remains the
    // production path in Shapelets.fit.)
    "ts_shapelet_classify" -> ((s, dir) => {
      val (z, df, shp0, w0) = shapeletFitInput(s, dir)
      val (shp, w, b) = graft.ml.Shapelets.refineLoop(
        df, shp0, w0, new Array[Double](2), lr = 0.1, iters = 10,
        labels = Array("false", "true"))
      val feats = graft.ml.Shapelets.transform(z, shp)
      // per-class logit then margin — the same association order as the
      // SQL oracle (sum(w·f) + b per class, then the difference)
      val l0 = (0 until 3).map(k => lit(w(0)(k)) * col("shapelet_features")(k))
        .reduce(_ + _) + lit(b(0))
      val l1 = (0 until 3).map(k => lit(w(1)(k)) * col("shapelet_features")(k))
        .reduce(_ + _) + lit(b(1))
      feats.select(col("series_id"), (l1 - l0).as("m0"))
        .select(col("series_id"),
          when(col("m0") > 0, "true").otherwise("false").as("pred"),
          (round(col("m0"), 4) + lit(0.0)).as("margin"))
    }),

    // One refined-shapelet gradient step, fully driver-verified: the
    // three fixed length-8 shapelets cut from series 0 (the oracled
    // ts_shapelet_transform set), deterministic head weights
    // w0[c][k] = (c+1)(k+1)/10, b0 = 0, and ONE GradAgg pass + Adam(t=1)
    // update — min-pool forward, softmax, argmin subgradient backward —
    // each ingredient relational in DuckDB (shapeletStepOracleSql).
    // Exercises the fitRefined machinery the rows-only
    // ts_shapelet_classify can't expose to the oracle.
    "ts_shapelet_step" -> ((s, dir) => {
      import s.implicits._
      val (_, df, shp0, w0) = shapeletFitInput(s, dir)
      val (shp1, w1, b1) = graft.ml.Shapelets.refineStep(
        df, shp0, w0, new Array[Double](2), lr = 0.1,
        labels = Array("false", "true"))
      val rows =
        shp1.toSeq.zipWithIndex.flatMap { case (sv, k) =>
          sv.toSeq.zipWithIndex.map { case (x, t) => ("shp", k, t, x) } } ++
        w1.toSeq.zipWithIndex.flatMap { case (wc, c) =>
          wc.toSeq.zipWithIndex.map { case (x, k) => ("w", c, k, x) } } ++
        b1.toSeq.zipWithIndex.map { case (x, c) => ("b", c, 0, x) }
      rows.toDF("kind", "i", "j", "v")
        .select(col("kind"), col("i"), col("j"),
          (round(col("v"), 4) + lit(0.0)).as("v"))
    }),

    "ts_early_classify" -> ((s, dir) => {
      val labels = purchaseLabels(s, dir)
      // localCheckpoint, not cache: fit + predict both consume it, but a
      // query-scope cache is never unpersisted and pins blocks for the
      // rest of a 63-query Bench session
      val series = znormedSeries(s, dir, 32)
        .join(labels, "series_id").localCheckpoint()
      val model = new graft.ml.EarlyClassifier(tGrid = Seq(8, 16, 32), lambdaCost = 0.005)
        .fit(series)
      model.predict(series)
    }),

    // First driver signal for the SVC family. The SMO solve is a
    // driver-side iterative QP (not replayable), but the decision
    // SURFACE is: pin a formula dual solution (αy per support vector,
    // bias 0.25) and evaluate it through the real margin path —
    // TimeSeriesSVC.decisionFunction's distributed GAK gram + broadcast
    // weighted sum — against the green all-ordered-pairs GAK chain
    // with the same formula weights replayed in SQL.
    "ts_svc_decision" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 16)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      val svIds = (0L until 8L).toArray
      val alphaY = svIds.map(id => ((id * 37 + 11) % 19 - 9) / 10.0)
      val bm = graft.ml.TimeSeriesSVC.BinaryModel(svIds, alphaY, b = 0.25)
      graft.ml.TimeSeriesSVC.decisionFunction(bm,
        series.where(col("series_id") >= 8),
        series.where(col("series_id") < 8), sigma = 1.0)
        .select(col("probe_id"),
          (round(col("decision"), 4) + lit(0.0)).as("decision"))
    }),

    // SVR prediction surface (svm.py:276-421): f(x) = b + Σⱼ βⱼ·K(x,svⱼ)
    // with a formula-pinned dual solution through the real
    // TimeSeriesSVR.predict path (broadcast β join + one weighted-sum
    // agg) — the regression twin of ts_svc_decision; the SMO solve
    // itself stays golden, as for the SVC.
    "ts_svr_predict" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 16)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      val svIds = (0L until 8L).toArray
      val beta = svIds.map(id => ((id * 29 + 3) % 17 - 8) / 10.0)
      val m = graft.ml.TimeSeriesSVR.Model(svIds, beta, b = -0.15, sigma = 1.0)
      graft.ml.TimeSeriesSVR.predict(m,
        series.where(col("series_id") >= 8),
        series.where(col("series_id") < 8))
        .select(col("series_id").as("probe_id"),
          (round(col("prediction"), 4) + lit(0.0)).as("prediction"))
    }),

    // One SMO working-set iteration (svm.py:44-57's libsvm solve) as
    // pure DataFrame algebra over the distributed normalized-GAK gram:
    // error pass, first-order i* selection, second-order (WSS2) j*
    // selection, analytic two-α update + Platt bias recompute — the
    // solver INTERNALS as driver signal (the full solve stays golden).
    // Duals start at the formula α(id) = ((id·7+3) mod 10)/10, labels
    // y = ±1 by id parity, C = 1, b = 0.
    "ts_svc_smo_step" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .where(col("series_id") < 12)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"))
        .localCheckpoint()
      val pairs = graft.operators.Cdist.selfCross(series,
        (a, b) => TsFunctions.gakUdf(a, b, lit(1.0)), computeDiagonal = false)
      val gram = pairs.union(series.select(col("series_id").as("left_id"),
        col("series_id").as("right_id"), lit(1.0)))
      val labeled = series.select(col("series_id").as("id"),
        when(col("series_id") % 2 === 0, 1.0).otherwise(-1.0).as("y"),
        (((col("series_id") * 7 + 3) % 10) / lit(10.0)).as("a"))
      graft.ml.TimeSeriesSVC.smoStep(gram, labeled, b0 = 0.0, cReg = 1.0)
        .select(col("id"), col("i_id"), col("j_id"),
          (round(col("ai_new"), 4) + lit(0.0)).as("ai_new"),
          (round(col("aj_new"), 4) + lit(0.0)).as("aj_new"),
          (round(col("b_new"), 4) + lit(0.0)).as("b_new"),
          (round(col("f_after"), 4) + lit(0.0)).as("f_after"))
    }),

    // First driver signal for the MLP family. The L-BFGS fit is a
    // driver solve (not replayable), but the FORWARD pass is pure
    // arithmetic: pin formula weights (4 tanh hidden units over sz=16)
    // and run them through the real TimeSeriesMLPRegressor.Model
    // .predict path (broadcast model, one UDF pass) against the same
    // matmul+tanh replayed in SQL.
    "ts_mlp_forward" -> ((s, dir) => {
      val series = znormedSeries(s, dir, 16)
      val model = graft.ml.TimeSeriesMLPRegressor.Model(
        w1 = Array.tabulate(4, 16)((h, i) => ((h * 31 + i * 17 + 7) % 23 - 11) / 25.0),
        b1 = Array.tabulate(4)(h => (h - 1.5) / 10.0),
        w2 = Array.tabulate(4)(h => ((h * 13 + 5) % 11 - 5) / 10.0),
        b2 = 0.1)
      model.predict(series)
        .select(col("series_id").as("user_id"),
          (round(col("prediction"), 4) + lit(0.0)).as("prediction"))
    }),

    // One full-batch gradient step of the same tanh net
    // (TimeSeriesMLPRegressor.gradStep — the distributed twin of one
    // L-BFGS objective evaluation): forward, backprop, fixed-η=0.5
    // update, starting from the ts_mlp_forward formula weights with
    // target(id) = ((id·13+7) mod 21 − 10)/10. Output = the post-step
    // PARAMETER relation (h·d + 2h + 1 = 73 rows at any corpus size).
    "ts_mlp_step" -> ((s, dir) => {
      val series = TSModel.eventsToSeries(s, dir)
        .select(col("series_id"),
          TsFunctions.resampleZnormUdf(col("values"), lit(16)).as("values"),
          ((((col("series_id") * 13 + 7) % 21) - 10) / lit(10.0)).as("target"))
      val w1 = s.range(4).select(col("id").as("h"))
        .crossJoin(s.range(16).select(col("id").as("i")))
        .withColumn("w", (((col("h") * 31 + col("i") * 17 + 7) % 23) - 11) / lit(25.0))
      val b1 = s.range(4).select(col("id").as("h"),
        ((col("id") - 1.5) / 10.0).as("b"))
      val w2 = s.range(4).select(col("id").as("h"),
        ((((col("id") * 13 + 5) % 11) - 5) / lit(10.0)).as("w"))
      graft.ml.TimeSeriesMLPRegressor.gradStep(series, w1, b1, w2,
          b2 = 0.1, eta = 0.5)
        .select(col("param"), col("idx1"), col("idx2"),
          (round(col("value"), 6) + lit(0.0)).as("value"))
    }),

    // Streaming early-classification predict (StreamingOps.earlyClassify
    // — the flatMapGroupsWithState prefix loop) in batch mode with a
    // pinned relational classifier: label = [prefix mean > 50],
    // confidence = dev/(dev+1), dev = |mean − 50|. Decide at the first
    // prefix length in [8, 32] with confidence ≥ 0.8 (dev ≥ 4) or at
    // maxLen; streams that end undecided emit nothing (the operator's
    // contract). The (ts-millis, value) sort and 1 − conf cost are the
    // operator's own.
    "ts_stream_early_classify" -> ((s, dir) => {
      import s.implicits._
      val events = ev(s, dir)
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .select(col("user_id"), col("ts"), col("value"), col("event_type"))
        .as[graft.streaming.StreamingOps.Event]
      val k = 50.0
      val classify = (prefix: Array[Double]) => {
        var sum = 0.0
        prefix.foreach(sum += _)
        val m = sum / prefix.length
        val dev = math.abs(m - k)
        (if (m > k) 1 else 0, dev / (dev + 1.0))
      }
      graft.streaming.StreamingOps.earlyClassify(events, classify,
        minLen = 8, maxLen = 32, tau = 0.8)
        .toDF("user_id", "decided_at", "label", "cost")
        .select(col("user_id"), col("decided_at"), col("label"),
          (round(col("cost"), 4) + lit(0.0)).as("cost"))
    }),

    // grabocka_params_to_shapelet_size_dict (shapelets.py:158-209): the
    // published shapelet count/length heuristic, with n_ts read off the
    // real corpus (ts_sz = 32, n_classes = 2, l = 1/8, r = 3) — the
    // last shapelets-module public symbol without driver signal.
    "ts_shapelet_sizes" -> ((s, dir) => {
      import s.implicits._
      val nTs = TSModel.eventsToSeries(s, dir).count().toInt
      graft.ml.Shapelets.grabockaParamsToShapeletSizes(
        nTs, tsSz = 32, nClasses = 2, l = 0.125, r = 3)
        .toSeq.sorted.toDF("shp_sz", "n_shapelets")
    })
  )

  /** Each series' label: "true" iff its user made more than 5 purchases. */
  private def purchaseLabels(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).groupBy(col("user_id").as("series_id"))
      .agg((sum(when(col("event_type") === "purchase", 1).otherwise(0)) > 5)
        .cast("string").as("label"))

  /** The refined-shapelet fit input shared by ts_shapelet_classify and
    * ts_shapelet_step: the length-32 z-normed series (local checkpoint),
    * the same joined to their purchaseLabels, the three length-8
    * shapelets cut from series 0, and the deterministic head weights
    * w0[c][k] = (c+1)(k+1)/10. */
  private def shapeletFitInput(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Array[Array[Double]], Array[Array[Double]]) = {
    val z = znormedSeries(s, dir, 32).localCheckpoint()
    val s0 = z.where(col("series_id") === 0).head().getSeq[Double](1).toArray
    val shp0 = Array(s0.slice(0, 8), s0.slice(8, 16), s0.slice(16, 24))
    val w0 = Array.tabulate(2, 3)((c, k) => (c + 1) * (k + 1) / 10.0)
    (z, z.join(purchaseLabels(s, dir), "series_id"), shp0, w0)
  }

  /** DuckDB oracle for ts_early_classify — the per-t nearest-centroid
    * fit is pure relational: per-(t, label, j) centroids, per-(user, t)
    * argmin predictions, per-t training accuracy, the expected-cost
    * stopping rule (first t whose cost ≤ every later cost), and the
    * prediction at that t. */
  private def earlyClassifyOracleSql: String =
    evCte + resampleZnormCte(32) +
      """
        |, labels AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 5
        |      AS VARCHAR) AS label
        |  FROM events GROUP BY 1
        |), tg AS (
        |  SELECT unnest([8, 16, 32]) AS t
        |), cents AS (
        |  SELECT tg.t, l.label, r.j, avg(r.val) AS c
        |  FROM r JOIN labels l USING (user_id) CROSS JOIN tg
        |  WHERE r.j < tg.t
        |  GROUP BY 1, 2, 3
        |), scored AS (
        |  SELECT r.user_id, c.t, c.label,
        |    sum((r.val - c.c) * (r.val - c.c)) AS d2
        |  FROM r JOIN cents c ON c.j = r.j
        |  GROUP BY 1, 2, 3
        |), pred AS (
        |  SELECT user_id, t, label AS pred FROM (
        |    SELECT user_id, t, label,
        |      row_number() OVER (PARTITION BY user_id, t ORDER BY d2, label) AS rn
        |    FROM scored)
        |  WHERE rn = 1
        |), acc AS (
        |  SELECT p.t,
        |    avg(CASE WHEN p.pred = l.label THEN 1.0 ELSE 0.0 END) AS acc
        |  FROM pred p JOIN labels l USING (user_id)
        |  GROUP BY 1
        |), cost AS (
        |  SELECT t, (1.0 - acc) + 0.005 * t AS cost FROM acc
        |), tstar AS (
        |  SELECT min(t) AS t FROM cost c1
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM cost c2 WHERE c2.t > c1.t AND c2.cost < c1.cost)
        |)
        |SELECT p.user_id AS series_id, tstar.t AS decided_at, p.pred AS label
        |FROM pred p, tstar WHERE p.t = tstar.t""".stripMargin

  /** DuckDB oracle for ts_svc_decision: the SVC margin
    * s(x) = b + Σ_t αyₜ·k(x, svₜ) (`svm.py:198` decision_function) with
    * formula-pinned duals αy(id) = ((id·37+11) mod 19 − 9)/10 over the
    * normalized GAK gram — probes 8..15 against support vectors 0..7. */
  private def svcDecisionOracleSql(sz: Int, maxId: Int): String = sumProdChainSql(
    sz,
    lgSql = gakLgSql,
    selfPairs = false,
    allPairsMaxId = maxId,
    finalSql =
      """SELECT ab.pr AS probe_id,
        |  round(0.25 + sum((((ab.cd * 37 + 11) % 19) - 9) / 10.0
        |    * exp(ab.lw - 0.5 * (aa.lw + bb.lw))), 4) + 0.0 AS decision
        |FROM fin ab
        |JOIN fin aa ON aa.pr = ab.pr AND aa.cd = ab.pr
        |JOIN fin bb ON bb.pr = ab.cd AND bb.cd = ab.cd
        |WHERE ab.pr >= 8 AND ab.cd < 8
        |GROUP BY 1""".stripMargin)

  /** DuckDB oracle for ts_shapelet_step — one refined-shapelet gradient
    * step replayed relationally: min-pool features with argmin position
    * (smallest-pos tie-break, the kernel's strict-< scan), softmax head
    * with the fixed w0[c][k] = (c+1)(k+1)/10, the three backward paths
    * (dW = dl·f, db = dl, dS via the argmin-position subgradient
    * 2(S−x[p*+t])/m), and the Adam(t=1, zero-moment) update
    * θ − lr·g/(|g|+ε). */
  private def shapeletStepOracleSql(sz: Int, m: Int, lr: Double): String = {
    val maxPos = sz - m
    evCte + resampleZnormCte(sz) +
      s"""
         |, labels AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 5
         |      AS VARCHAR) AS label
         |  FROM events GROUP BY 1
         |), yy AS (
         |  SELECT user_id, CASE WHEN label = 'true' THEN 1 ELSE 0 END AS y FROM labels
         |), shp AS (
         |  SELECT k.k, r.j - k.o AS t, r.val AS sv
         |  FROM r JOIN (SELECT unnest([0, 1, 2]) AS k, unnest([0, $m, ${2 * m}]) AS o) k ON TRUE
         |  WHERE r.user_id = 0 AND r.j >= k.o AND r.j < k.o + $m
         |), dists AS (
         |  SELECT a.user_id, s.k, a.j - s.t AS pos,
         |    sum((a.val - s.sv) * (a.val - s.sv)) AS d2
         |  FROM r a JOIN shp s ON a.j - s.t BETWEEN 0 AND $maxPos
         |  GROUP BY 1, 2, 3
         |), feat AS (
         |  SELECT user_id, k, d2 / $m.0 AS f, pos FROM (
         |    SELECT user_id, k, pos, d2,
         |      row_number() OVER (PARTITION BY user_id, k ORDER BY d2, pos) AS rn
         |    FROM dists)
         |  WHERE rn = 1
         |), wconst AS (
         |  SELECT c.c, k.k, (c.c + 1) * (k.k + 1) / 10.0 AS w
         |  FROM (SELECT unnest([0, 1]) AS c) c, (SELECT unnest([0, 1, 2]) AS k) k
         |), logits AS (
         |  SELECT f.user_id, w.c, sum(w.w * f.f) AS l
         |  FROM feat f JOIN wconst w ON w.k = f.k
         |  GROUP BY 1, 2
         |), pmax AS (
         |  SELECT user_id, max(l) AS mx FROM logits GROUP BY 1
         |), probs AS (
         |  SELECT lg.user_id, lg.c,
         |    exp(lg.l - pm.mx) /
         |      sum(exp(lg.l - pm.mx)) OVER (PARTITION BY lg.user_id) AS p
         |  FROM logits lg JOIN pmax pm USING (user_id)
         |), dl AS (
         |  SELECT pr.user_id, pr.c,
         |    pr.p - CASE WHEN pr.c = yy.y THEN 1.0 ELSE 0.0 END AS d
         |  FROM probs pr JOIN yy ON yy.user_id = pr.user_id
         |), nn AS (
         |  SELECT count(*) AS n FROM yy
         |), gw AS (
         |  SELECT dl.c, f.k, sum(dl.d * f.f) / (SELECT n FROM nn) AS g
         |  FROM dl JOIN feat f ON f.user_id = dl.user_id
         |  GROUP BY 1, 2
         |), gb AS (
         |  SELECT c, sum(d) / (SELECT n FROM nn) AS g FROM dl GROUP BY 1
         |), gf AS (
         |  SELECT dl.user_id, w.k, sum(dl.d * w.w) AS gf
         |  FROM dl JOIN wconst w ON w.c = dl.c
         |  GROUP BY 1, 2
         |), gs AS (
         |  SELECT s.k, s.t,
         |    sum(gf.gf * 2.0 * (s.sv - r.val) / $m.0) / (SELECT n FROM nn) AS g
         |  FROM gf
         |  JOIN feat fe ON fe.user_id = gf.user_id AND fe.k = gf.k
         |  JOIN shp s ON s.k = gf.k
         |  JOIN r ON r.user_id = gf.user_id AND r.j = fe.pos + s.t
         |  GROUP BY 1, 2
         |)
         |SELECT 'shp' AS kind, CAST(s.k AS INT) AS i, CAST(s.t AS INT) AS j,
         |  round(s.sv - $lr * g.g / (abs(g.g) + 1e-8), 4) + 0.0 AS v
         |FROM shp s JOIN gs g ON g.k = s.k AND g.t = s.t
         |UNION ALL
         |SELECT 'w', CAST(w.c AS INT), CAST(w.k AS INT),
         |  round(w.w - $lr * gw.g / (abs(gw.g) + 1e-8), 4) + 0.0
         |FROM wconst w JOIN gw ON gw.c = w.c AND gw.k = w.k
         |UNION ALL
         |SELECT 'b', CAST(gb.c AS INT), 0,
         |  round(0.0 - $lr * gb.g / (abs(gb.g) + 1e-8), 4) + 0.0
         |FROM gb""".stripMargin
  }

  /** DuckDB oracle for ts_shapelet_classify: the FULL `iters`-step
    * refined-shapelet fit trace — shapeletStepOracleSql's forward/
    * backward machinery chained with the COMPLETE bias-corrected Adam
    * state (m, v per parameter; β1=0.9, β2=0.999, ε=1e-8, the
    * 1−βᵗ corrections written as the engine computes them), then the
    * deterministic predict: min-pool features against the final
    * shapelets, margin = logit₁ − logit₀ (head weights + bias), strict
    * > 0 → 'true'. Mirrors Shapelets.refineLoop + the query's margin
    * projection exactly. */
  private def shapeletTraceSql(sz: Int, m: Int, lr: Double, iters: Int): String = {
    val maxPos = sz - m
    val sb = new StringBuilder(evCte + resampleZnormCte(sz))
    sb ++=
      s"""
         |, labels AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 5
         |      AS VARCHAR) AS label
         |  FROM events GROUP BY 1
         |), yy AS (
         |  SELECT user_id, CASE WHEN label = 'true' THEN 1 ELSE 0 END AS y FROM labels
         |), nn AS (
         |  SELECT count(*) AS n FROM yy
         |), sh0 AS (
         |  SELECT k.k, r.j - k.o AS t, r.val AS sv, 0.0 AS ma, 0.0 AS va
         |  FROM r JOIN (SELECT unnest([0, 1, 2]) AS k, unnest([0, $m, ${2 * m}]) AS o) k ON TRUE
         |  WHERE r.user_id = 0 AND r.j >= k.o AND r.j < k.o + $m
         |), wb0 AS (
         |  SELECT c.c, k.k, (c.c + 1) * (k.k + 1) / 10.0 AS w, 0.0 AS ma, 0.0 AS va
         |  FROM (SELECT unnest([0, 1]) AS c) c, (SELECT unnest([0, 1, 2]) AS k) k
         |), bb0 AS (
         |  SELECT c.c, 0.0 AS bv, 0.0 AS ma, 0.0 AS va
         |  FROM (SELECT unnest([0, 1]) AS c) c
         |)""".stripMargin
    for (it <- 1 to iters) {
      val pv = it - 1
      sb ++=
        s"""
           |, dists$it AS (
           |  SELECT a.user_id, s.k, a.j - s.t AS pos,
           |    sum((a.val - s.sv) * (a.val - s.sv)) AS d2
           |  FROM r a JOIN sh$pv s ON a.j - s.t BETWEEN 0 AND $maxPos
           |  GROUP BY 1, 2, 3
           |), feat$it AS (
           |  SELECT user_id, k, d2 / $m.0 AS f, pos FROM (
           |    SELECT user_id, k, pos, d2,
           |      row_number() OVER (PARTITION BY user_id, k ORDER BY d2, pos) AS rn
           |    FROM dists$it)
           |  WHERE rn = 1
           |), logits$it AS (
           |  SELECT q.user_id, q.c, q.l + bb.bv AS l
           |  FROM (
           |    SELECT f.user_id, w.c, sum(w.w * f.f) AS l
           |    FROM feat$it f JOIN wb$pv w ON w.k = f.k
           |    GROUP BY 1, 2) q
           |  JOIN bb$pv bb ON bb.c = q.c
           |), pmax$it AS (
           |  SELECT user_id, max(l) AS mx FROM logits$it GROUP BY 1
           |), probs$it AS (
           |  SELECT lg.user_id, lg.c,
           |    exp(lg.l - pm.mx) /
           |      sum(exp(lg.l - pm.mx)) OVER (PARTITION BY lg.user_id) AS p
           |  FROM logits$it lg JOIN pmax$it pm USING (user_id)
           |), dl$it AS (
           |  SELECT pr.user_id, pr.c,
           |    pr.p - CASE WHEN pr.c = yy.y THEN 1.0 ELSE 0.0 END AS d
           |  FROM probs$it pr JOIN yy ON yy.user_id = pr.user_id
           |), gw$it AS (
           |  SELECT dl.c, f.k, sum(dl.d * f.f) / (SELECT n FROM nn) AS g
           |  FROM dl$it dl JOIN feat$it f ON f.user_id = dl.user_id
           |  GROUP BY 1, 2
           |), gb$it AS (
           |  SELECT c, sum(d) / (SELECT n FROM nn) AS g FROM dl$it GROUP BY 1
           |), gf$it AS (
           |  SELECT dl.user_id, w.k, sum(dl.d * w.w) AS gf
           |  FROM dl$it dl JOIN wb$pv w ON w.c = dl.c
           |  GROUP BY 1, 2
           |), gs$it AS (
           |  SELECT s.k, s.t,
           |    sum(gf.gf * 2.0 * (s.sv - r.val) / $m.0) / (SELECT n FROM nn) AS g
           |  FROM gf$it gf
           |  JOIN feat$it fe ON fe.user_id = gf.user_id AND fe.k = gf.k
           |  JOIN sh$pv s ON s.k = gf.k
           |  JOIN r ON r.user_id = gf.user_id AND r.j = fe.pos + s.t
           |  GROUP BY 1, 2
           |), sh$it AS (
           |  SELECT k, t,
           |    sv - $lr * (ma / (1 - pow(0.9, $it))) /
           |      (sqrt(va / (1 - pow(0.999, $it))) + 1e-8) AS sv,
           |    ma, va
           |  FROM (
           |    SELECT s.k, s.t, s.sv,
           |      0.9 * s.ma + (1 - 0.9) * g.g AS ma,
           |      0.999 * s.va + (1 - 0.999) * g.g * g.g AS va
           |    FROM sh$pv s JOIN gs$it g ON g.k = s.k AND g.t = s.t)
           |), wb$it AS (
           |  SELECT c, k,
           |    w - $lr * (ma / (1 - pow(0.9, $it))) /
           |      (sqrt(va / (1 - pow(0.999, $it))) + 1e-8) AS w,
           |    ma, va
           |  FROM (
           |    SELECT w.c, w.k, w.w,
           |      0.9 * w.ma + (1 - 0.9) * g.g AS ma,
           |      0.999 * w.va + (1 - 0.999) * g.g * g.g AS va
           |    FROM wb$pv w JOIN gw$it g ON g.c = w.c AND g.k = w.k)
           |), bb$it AS (
           |  SELECT c,
           |    bv - $lr * (ma / (1 - pow(0.9, $it))) /
           |      (sqrt(va / (1 - pow(0.999, $it))) + 1e-8) AS bv,
           |    ma, va
           |  FROM (
           |    SELECT b.c, b.bv,
           |      0.9 * b.ma + (1 - 0.9) * g.g AS ma,
           |      0.999 * b.va + (1 - 0.999) * g.g * g.g AS va
           |    FROM bb$pv b JOIN gb$it g ON g.c = b.c)
           |)""".stripMargin
    }
    sb ++=
      s"""
         |, pd AS (
         |  SELECT a.user_id, s.k, a.j - s.t AS pos,
         |    sum((a.val - s.sv) * (a.val - s.sv)) AS d2
         |  FROM r a JOIN sh$iters s ON a.j - s.t BETWEEN 0 AND $maxPos
         |  GROUP BY 1, 2, 3
         |), pf AS (
         |  SELECT user_id, k, d2 / $m.0 AS f FROM (
         |    SELECT user_id, k, d2,
         |      row_number() OVER (PARTITION BY user_id, k ORDER BY d2, pos) AS rn
         |    FROM pd)
         |  WHERE rn = 1
         |), pl AS (
         |  SELECT q.user_id, q.c, q.l + bb.bv AS l
         |  FROM (
         |    SELECT f.user_id, w.c, sum(w.w * f.f) AS l
         |    FROM pf f JOIN wb$iters w ON w.k = f.k
         |    GROUP BY 1, 2) q
         |  JOIN bb$iters bb ON bb.c = q.c
         |)
         |SELECT l0.user_id AS series_id,
         |  CASE WHEN l1.l - l0.l > 0 THEN 'true' ELSE 'false' END AS pred,
         |  round(l1.l - l0.l, 4) + 0.0 AS margin
         |FROM pl l0 JOIN pl l1 ON l1.user_id = l0.user_id
         |WHERE l0.c = 0 AND l1.c = 1""".stripMargin
    materialized(sb.toString)
  }

  /** DuckDB oracle for ts_shapelet_transform: the sliding min distance
    * min_pos Σᵢ (x(pos+i) − shp(i))² / m for the three fixed length-8
    * shapelets cut from series 0 — one grouped sum per (user, shapelet,
    * position), then a min and a pivot. */
  private def shapeletTransformOracleSql(sz: Int, m: Int): String = {
    val maxPos = sz - m
    evCte + resampleZnormCte(sz) +
      s"""
         |, shp AS (
         |  SELECT k.k, r.j - k.o AS i, r.val AS sv
         |  FROM r JOIN (SELECT unnest([0, 1, 2]) AS k, unnest([0, $m, ${2 * m}]) AS o) k ON TRUE
         |  WHERE r.user_id = 0 AND r.j >= k.o AND r.j < k.o + $m
         |), dists AS (
         |  SELECT a.user_id, s.k, a.j - s.i AS pos,
         |    sum((a.val - s.sv) * (a.val - s.sv)) AS d2
         |  FROM r a JOIN shp s ON a.j - s.i BETWEEN 0 AND $maxPos
         |  GROUP BY 1, 2, 3
         |), mins AS (
         |  SELECT user_id, k, min(d2) / $m.0 AS f FROM dists GROUP BY 1, 2
         |)
         |SELECT user_id AS series_id,
         |  round(max(CASE WHEN k = 0 THEN f END), 4) AS f0,
         |  round(max(CASE WHEN k = 1 THEN f END), 4) AS f1,
         |  round(max(CASE WHEN k = 2 THEN f END), 4) AS f2
         |FROM mins GROUP BY 1""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "ts_shapelet_transform" -> shapeletTransformOracleSql(32, 8),

    "ts_shapelet_step" -> shapeletStepOracleSql(32, 8, 0.1),

    "ts_shapelet_classify" -> shapeletTraceSql(32, 8, 0.1, 10),

    // ts_knn_regress: euclidean kNN top-3 by (dist, id), then the
    // 'distance'-weighted mean with the engine's d=0 → 1/d=1e12 guard.
    "ts_knn_regress" -> (evCte + resampleZnormCte(16) +
      """
        |, ys AS (
        |  SELECT user_id, avg(value) AS y FROM v GROUP BY 1
        |), dist AS (
        |  SELECT p.user_id AS probe_id, t.user_id AS neighbor_id,
        |    sqrt(sum((p.val - t.val) * (p.val - t.val))) AS dist
        |  FROM r p JOIN r t ON t.j = p.j
        |  WHERE p.user_id >= 12 AND p.user_id < 24 AND t.user_id < 12
        |  GROUP BY 1, 2
        |), top AS (
        |  SELECT probe_id, neighbor_id, dist,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY dist, neighbor_id) AS rn
        |  FROM dist
        |), wtop AS (
        |  SELECT probe_id, neighbor_id,
        |    CASE WHEN dist = 0 THEN 1e12 ELSE 1.0 / dist END AS w
        |  FROM top WHERE rn <= 3
        |)
        |SELECT t.probe_id, round(sum(y.y * t.w) / sum(t.w), 4) + 0.0 AS y_pred
        |FROM wtop t JOIN ys y ON y.user_id = t.neighbor_id
        |GROUP BY 1""".stripMargin),

    "ts_svc_decision" -> svcDecisionOracleSql(16, 16),

    // ts_svc_smo_step: one SMO working-set iteration replayed off the
    // normalized-GAK gram chain — error sum, rounded first-order i* /
    // second-order j* argmax (ties → smallest id, as the engine's
    // max_by(round, −id)), box-clipped two-α update, Platt b1/b2.
    "ts_svc_smo_step" -> sumProdChainSql(
      16,
      lgSql = gakLgSql,
      selfPairs = false,
      allPairsMaxId = 12,
      finalSql =
        """, gram AS (
          |  SELECT ab.pr AS i, ab.cd AS j,
          |    CASE WHEN ab.pr = ab.cd THEN 1.0
          |         ELSE exp(ab.lw - 0.5 * (aa.lw + bb.lw)) END AS kv
          |  FROM fin ab
          |  JOIN fin aa ON aa.pr = ab.pr AND aa.cd = ab.pr
          |  JOIN fin bb ON bb.pr = ab.cd AND bb.cd = ab.cd
          |), lab AS (
          |  SELECT i AS id,
          |    CASE WHEN i % 2 = 0 THEN 1.0 ELSE -1.0 END AS y,
          |    ((i * 7 + 3) % 10) / 10.0 AS a
          |  FROM (SELECT DISTINCT pr AS i FROM fin)
          |), err AS (
          |  SELECT ef.id, ef.f0, l.y, l.a, ef.f0 - l.y AS e
          |  FROM (SELECT g.j AS id, sum(l.a * l.y * g.kv) + 0.0 AS f0
          |        FROM gram g JOIN lab l ON l.id = g.i GROUP BY 1) ef
          |  JOIN lab l ON l.id = ef.id
          |), irow AS (
          |  SELECT id AS i_id, e AS e_i, a AS a_i, y AS y_i FROM err
          |  WHERE (y > 0 AND a < 1.0) OR (y < 0 AND a > 0)
          |  ORDER BY round(-y * e, 4) DESC, id LIMIT 1
          |), jrow AS (
          |  SELECT c.id AS j_id, c.e AS e_j, c.a AS a_j, c.y AS y_j,
          |    i.i_id, i.e_i, i.a_i, i.y_i,
          |    kii.kv AS k_ii, kjj.kv AS k_jj, kij.kv AS k_ij
          |  FROM err c
          |  CROSS JOIN irow i
          |  JOIN gram kii ON kii.i = i.i_id AND kii.j = i.i_id
          |  JOIN gram kjj ON kjj.i = c.id AND kjj.j = c.id
          |  JOIN gram kij ON kij.i = i.i_id AND kij.j = c.id
          |  WHERE ((c.y > 0 AND c.a > 0) OR (c.y < 0 AND c.a < 1.0))
          |    AND c.id <> i.i_id
          |  ORDER BY round(CASE
          |      WHEN kii.kv + kjj.kv - 2 * kij.kv > 1e-12
          |      THEN (i.e_i - c.e) * (i.e_i - c.e)
          |           / (kii.kv + kjj.kv - 2 * kij.kv)
          |      ELSE 0.0 END, 4) DESC, c.id
          |  LIMIT 1
          |), upd2 AS (
          |  SELECT *,
          |    (eta2 < -1e-12 AND lo < hi AND abs(aj_try - a_j) > 1e-5) AS changed
          |  FROM (SELECT *,
          |      least(hi, greatest(lo, a_j - y_j * (e_i - e_j) / eta2)) AS aj_try
          |    FROM (SELECT *,
          |        CASE WHEN y_i <> y_j THEN greatest(0.0, a_j - a_i)
          |             ELSE greatest(0.0, a_i + a_j - 1.0) END AS lo,
          |        CASE WHEN y_i <> y_j THEN least(1.0, 1.0 + a_j - a_i)
          |             ELSE least(1.0, a_i + a_j) END AS hi,
          |        2.0 * k_ij - k_ii - k_jj AS eta2
          |      FROM jrow))
          |), upd4 AS (
          |  SELECT *, a_i + y_i * y_j * (a_j - aj_new) AS ai_new
          |  FROM (SELECT *,
          |      CASE WHEN changed THEN aj_try ELSE a_j END AS aj_new
          |    FROM upd2)
          |), upd AS (
          |  SELECT *,
          |    CASE WHEN NOT changed THEN 0.0
          |         WHEN ai_new > 0 AND ai_new < 1.0 THEN b1
          |         WHEN aj_new > 0 AND aj_new < 1.0 THEN b2
          |         ELSE (b1 + b2) / 2 END AS b_new
          |  FROM (SELECT *,
          |      0.0 - e_i - y_i * (ai_new - a_i) * k_ii
          |          - y_j * (aj_new - a_j) * k_ij AS b1,
          |      0.0 - e_j - y_i * (ai_new - a_i) * k_ij
          |          - y_j * (aj_new - a_j) * k_jj AS b2
          |    FROM upd4)
          |)
          |SELECT e.id AS id, u.i_id, u.j_id,
          |  round(u.ai_new, 4) + 0.0 AS ai_new,
          |  round(u.aj_new, 4) + 0.0 AS aj_new,
          |  round(u.b_new, 4) + 0.0 AS b_new,
          |  round(e.f0 + u.y_i * (u.ai_new - u.a_i) * ki.kv
          |             + u.y_j * (u.aj_new - u.a_j) * kj.kv
          |             + u.b_new, 4) + 0.0 AS f_after
          |FROM err e
          |CROSS JOIN upd u
          |JOIN gram ki ON ki.i = u.i_id AND ki.j = e.id
          |JOIN gram kj ON kj.i = u.j_id AND kj.j = e.id""".stripMargin),

    // ts_svr_predict: the SVC margin chain with β weights and bias —
    // f(x) = b + Σⱼ βⱼ·normalizedGAK(x, svⱼ) over probes 8..15 × SVs 0..7.
    "ts_svr_predict" -> sumProdChainSql(
      16,
      lgSql = gakLgSql,
      selfPairs = false,
      allPairsMaxId = 16,
      finalSql =
        """SELECT ab.pr AS probe_id,
          |  round(-0.15 + sum((((ab.cd * 29 + 3) % 17) - 8) / 10.0
          |    * exp(ab.lw - 0.5 * (aa.lw + bb.lw))), 4) + 0.0 AS prediction
          |FROM fin ab
          |JOIN fin aa ON aa.pr = ab.pr AND aa.cd = ab.pr
          |JOIN fin bb ON bb.pr = ab.cd AND bb.cd = ab.cd
          |WHERE ab.pr >= 8 AND ab.cd < 8
          |GROUP BY 1""".stripMargin),

    // ts_mlp_forward: the same formula weights replayed as SQL matmul
    // + tanh over the shared resample/z-norm CTE (h = hidden unit).
    // This DuckDB build has no tanh() — use (e^{2a}−1)/(e^{2a}+1);
    // the pre-activation |a| ≲ 21 keeps exp(2a) far inside double range.
    "ts_mlp_forward" -> (evCte + resampleZnormCte(16) +
      """
        |, pre AS (
        |  SELECT r.user_id, h.h,
        |    (h.h - 1.5) / 10.0
        |      + sum((((h.h * 31 + r.j * 17 + 7) % 23) - 11) / 25.0 * r.val) AS a
        |  FROM r, (SELECT unnest(generate_series(0, 3)) AS h) h
        |  GROUP BY 1, 2
        |), hid AS (
        |  SELECT user_id, h,
        |    (exp(2.0 * a) - 1.0) / (exp(2.0 * a) + 1.0) AS a
        |  FROM pre
        |)
        |SELECT user_id,
        |  round(0.1 + sum((((h * 13 + 5) % 11) - 5) / 10.0 * a), 4) + 0.0
        |    AS prediction
        |FROM hid GROUP BY 1""".stripMargin),

    // ts_mlp_step: one full-batch gradient step replayed — forward
    // tanh pass, residual/n, the three grouped-sum gradients (gW1 is
    // the exploded outer product), η=0.5 update of every parameter.
    "ts_mlp_step" -> (evCte + resampleZnormCte(16) +
      """
        |, w1 AS (
        |  SELECT h.h, i.i, (((h.h * 31 + i.i * 17 + 7) % 23) - 11) / 25.0 AS w
        |  FROM (SELECT unnest(generate_series(0, 3)) AS h) h,
        |       (SELECT unnest(generate_series(0, 15)) AS i) i
        |), b1 AS (
        |  SELECT unnest(generate_series(0, 3)) AS h
        |), b1v AS (SELECT h, (h - 1.5) / 10.0 AS b FROM b1
        |), w2 AS (
        |  SELECT h, (((h * 13 + 5) % 11) - 5) / 10.0 AS w FROM b1
        |), tgt AS (
        |  SELECT DISTINCT user_id AS sid,
        |    ((user_id * 13 + 7) % 21 - 10) / 10.0 AS y
        |  FROM r
        |), nn AS (SELECT count(*) AS n FROM tgt
        |), act AS (
        |  SELECT s.sid, s.h,
        |    (exp(2.0 * (s.s + b1v.b)) - 1.0) / (exp(2.0 * (s.s + b1v.b)) + 1.0) AS a
        |  FROM (SELECT r.user_id AS sid, w1.h, sum(w1.w * r.val) AS s
        |        FROM r JOIN w1 ON w1.i = r.j GROUP BY 1, 2) s
        |  JOIN b1v ON b1v.h = s.h
        |), resid AS (
        |  SELECT p.sid, (p.p - t.y) / nn.n AS gp
        |  FROM (SELECT a.sid, sum(w2.w * a.a) + 0.1 AS p
        |        FROM act a JOIN w2 ON w2.h = a.h GROUP BY 1) p
        |  JOIN tgt t ON t.sid = p.sid CROSS JOIN nn
        |), gw2 AS (
        |  SELECT a.h, sum(a.a * rs.gp) AS g
        |  FROM act a JOIN resid rs ON rs.sid = a.sid GROUP BY 1
        |), gb2 AS (SELECT sum(gp) AS g FROM resid
        |), gz AS (
        |  SELECT a.sid, a.h, rs.gp * w2.w * (1.0 - a.a * a.a) AS gz
        |  FROM act a JOIN resid rs ON rs.sid = a.sid JOIN w2 ON w2.h = a.h
        |), gw1 AS (
        |  SELECT g.h, x.j AS i, sum(g.gz * x.val) AS g
        |  FROM gz g JOIN r x ON x.user_id = g.sid GROUP BY 1, 2
        |), gb1 AS (SELECT h, sum(gz) AS g FROM gz GROUP BY 1)
        |SELECT 'w1' AS param, CAST(w1.h AS INT) AS idx1,
        |  CAST(w1.i AS INT) AS idx2, round(w1.w - 0.5 * gw1.g, 6) + 0.0 AS value
        |FROM w1 JOIN gw1 ON gw1.h = w1.h AND gw1.i = w1.i
        |UNION ALL
        |SELECT 'b1', CAST(b1v.h AS INT), -1, round(b1v.b - 0.5 * gb1.g, 6) + 0.0
        |FROM b1v JOIN gb1 ON gb1.h = b1v.h
        |UNION ALL
        |SELECT 'w2', CAST(w2.h AS INT), -1, round(w2.w - 0.5 * gw2.g, 6) + 0.0
        |FROM w2 JOIN gw2 ON gw2.h = w2.h
        |UNION ALL
        |SELECT 'b2', -1, -1, round(0.1 - 0.5 * g, 6) + 0.0 FROM gb2""".stripMargin),

    // first prefix length in [8, 32] with dev-confidence >= 0.8 or the
    // forced t = 32; prefix order is the operator's (ts-millis, value)
    "ts_stream_early_classify" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms, value FROM events
        |), r AS (
        |  SELECT user_id, value,
        |    row_number() OVER w AS t,
        |    avg(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS m
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, value)
        |), c AS (
        |  SELECT user_id, t, m,
        |    abs(m - 50.0) / (abs(m - 50.0) + 1.0) AS conf
        |  FROM r WHERE t BETWEEN 8 AND 32
        |), d AS (
        |  SELECT user_id, min(t) AS decided_at FROM c
        |  WHERE conf >= 0.8 OR t >= 32 GROUP BY 1
        |)
        |SELECT d.user_id, CAST(d.decided_at AS INT) AS decided_at,
        |  CASE WHEN c.m > 50.0 THEN 1 ELSE 0 END AS label,
        |  round(1.0 - c.conf, 4) + 0.0 AS cost
        |FROM d JOIN c ON c.user_id = d.user_id AND c.t = d.decided_at""".stripMargin,

    // n_classes − 1 = 1; base = ⌊0.125·32⌋ = 4; truncation == floor
    // (the log10 argument is ≥ 1)
    "ts_shapelet_sizes" ->
      """WITH p AS (
        |  SELECT count(DISTINCT user_id) AS n_ts FROM events
        |), m AS (SELECT unnest([1, 2, 3]) AS m)
        |SELECT CAST(4 * m.m AS INT) AS shp_sz,
        |  CAST(greatest(1, CAST(floor(log10(p.n_ts * (32 - 4 * m.m + 1)))
        |    AS INT)) AS INT) AS n_shapelets
        |FROM p, m""".stripMargin,

    "ts_early_classify" -> earlyClassifyOracleSql,

    "ts_prefix_classify" -> (evCte +
      """
        |, labels AS (
        |  SELECT user_id, label FROM (
        |    SELECT user_id, event_type AS label,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY count(*) DESC, event_type) AS rn
        |    FROM events GROUP BY 1, 2)
        |  WHERE rn = 1
        |), prefix AS (
        |  SELECT user_id, t, value FROM v WHERE n >= 16 AND t <= 16
        |), cents AS (
        |  SELECT l.label, p.t, avg(p.value) AS c
        |  FROM prefix p JOIN labels l ON l.user_id = p.user_id
        |  WHERE p.user_id % 2 = 0
        |  GROUP BY 1, 2
        |)
        |SELECT user_id, pred FROM (
        |  SELECT p.user_id, c.label AS pred,
        |    row_number() OVER (PARTITION BY p.user_id
        |      ORDER BY sum((p.value - c.c) * (p.value - c.c)), c.label) AS rn
        |  FROM prefix p JOIN cents c ON c.t = p.t
        |  GROUP BY 1, 2)
        |WHERE rn = 1""".stripMargin)
  )
}
