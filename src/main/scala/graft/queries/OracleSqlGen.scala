package graft

/** DuckDB oracle-SQL generators shared by the query families. */
object OracleSqlGen {

  /** Exploded events CTE shared by the time-series oracles. */
  private[graft] val evCte =
    """WITH v AS (
      |  SELECT user_id, value,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY epoch_ns(ts) // 1000, event_id) AS t,
      |         count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events
      |)""".stripMargin

  /** The ragged resample of the variable-length oracles, after evCte:
    * each user's series linearly resampled to its own length
    * tl = 8 + (user_id % 5)·2 (`tgt(user_id, n, tl)`) and z-normed,
    * `r(user_id, j, val)`. Ends inside `r`. */
  private[graft] val raggedResampleCtes: String =
    """, tgt AS (
      |  SELECT user_id, n, 8 + (user_id % 5) * 2 AS tl
      |  FROM (SELECT DISTINCT user_id, n FROM v)
      |), grid AS (
      |  SELECT u.user_id, u.n, u.tl, g.j, g.j * (u.n - 1) / (u.tl - 1.0) AS pos
      |  FROM tgt u, (SELECT unnest(generate_series(0, 15)) AS j) g
      |  WHERE g.j < u.tl
      |), w AS (
      |  SELECT user_id, j, CAST(floor(pos) AS INT) AS i0,
      |    LEAST(CAST(floor(pos) AS INT) + 1, n - 1) AS i1, pos - floor(pos) AS frac
      |  FROM grid
      |), r0 AS (
      |  SELECT w.user_id, w.j, v0.value * (1.0 - w.frac) + v1.value * w.frac AS val
      |  FROM w
      |  JOIN v v0 ON v0.user_id = w.user_id AND v0.t - 1 = w.i0
      |  JOIN v v1 ON v1.user_id = w.user_id AND v1.t - 1 = w.i1
      |), st AS (
      |  SELECT user_id, avg(val) AS mu,
      |    avg(val * val) - avg(val) * avg(val) AS var
      |  FROM r0 GROUP BY 1
      |), r AS (
      |  SELECT r0.user_id, r0.j,
      |    (r0.val - st.mu) /
      |      (CASE WHEN st.var <= 0 THEN 1.0 ELSE sqrt(st.var) END) AS val
      |  FROM r0 JOIN st USING (user_id)""".stripMargin

  /** The linear-interpolation grid of every user's series at `target`
    * points, after evCte: `grid`, then the bracketing rows and weight
    * `w(user_id, j, i0, i1, frac)`. Ends inside `w`. */
  private[graft] def resampleGridCtes(target: Int): String =
    s"""
       |, grid AS (
       |  SELECT u.user_id, u.n, g.j,
       |    g.j * (u.n - 1) / ${target - 1}.0 AS pos
       |  FROM (SELECT DISTINCT user_id, n FROM v) u,
       |       (SELECT unnest(generate_series(0, ${target - 1})) AS j) g
       |), w AS (
       |  SELECT user_id, j, CAST(floor(pos) AS INT) AS i0,
       |    LEAST(CAST(floor(pos) AS INT) + 1, n - 1) AS i1,
       |    pos - floor(pos) AS frac
       |  FROM grid""".stripMargin

  /** [[resampleGridCtes]] closed by its interpolated values
    * `name(user_id, j, val)`. */
  private def resampledCtes(target: Int, name: String): String =
    resampleGridCtes(target) +
      s"""
         |), $name AS (
         |  SELECT w.user_id, w.j,
         |    v0.value * (1.0 - w.frac) + v1.value * w.frac AS val
         |  FROM w
         |  JOIN v v0 ON v0.user_id = w.user_id AND v0.t - 1 = w.i0
         |  JOIN v v1 ON v1.user_id = w.user_id AND v1.t - 1 = w.i1
         |)""".stripMargin

  /** Shared linear-interp resample CTE chain (appended after evCte):
    * r(user_id, j, val) with 16 points per user — identical formula to
    * the Spark-side resampledEvents. */
  private[graft] val resampleCte = resampledCtes(16, "r")

  /** Resample-to-`target` + per-user z-norm CTE chain (appended after
    * evCte), yielding `r(user_id, j, val)` — mirrors
    * `resampleZnormUdf` = scaleMeanVariance(resample(series, target)).
    * Variance via avg(x²)−avg(x)² to match the kernel's m2/n−mean²
    * formula (Kernels.scala:489); var<=0 maps to sd=1 as the kernel does. */
  private[graft] def resampleZnormCte(target: Int): String =
    resampledCtes(target, "r0") +
      """, st AS (
        |  SELECT user_id, avg(val) AS mu,
        |    avg(val * val) - avg(val) * avg(val) AS var
        |  FROM r0 GROUP BY 1
        |), r AS (
        |  SELECT r0.user_id, r0.j,
        |    (r0.val - st.mu) /
        |      (CASE WHEN st.var <= 0 THEN 1.0 ELSE sqrt(st.var) END) AS val
        |  FROM r0 JOIN st USING (user_id)
        |)""".stripMargin

  /** Shared CTE prefix for the raw-length (ragged) oracles: 0-based
    * index j, per-user length n, and z-normed val via the kernel's
    * m2/n − mean² variance formula (var≤0 → sd 1, Kernels.scala:473). */
  private[graft] val rawZnormCte =
    """WITH v AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts) // 1000, event_id) - 1 AS j,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events
      |), st AS (
      |  SELECT user_id, avg(value) AS mu,
      |    avg(value * value) - avg(value) * avg(value) AS var
      |  FROM v GROUP BY 1
      |), z AS (
      |  SELECT v.user_id, v.j, v.n,
      |    (v.value - st.mu) /
      |      (CASE WHEN st.var <= 0 THEN 1.0 ELSE sqrt(st.var) END) AS val
      |  FROM v JOIN st USING (user_id)
      |)""".stripMargin

  /** Rewrite every CTE header that opens a line (`WITH x AS (`,
    * `, x AS (`, `), x AS (`) to `x AS MATERIALIZED (`. DuckDB inlines
    * CTEs by default, and a DP step that references its predecessor
    * twice would expand an n-step chain into an exponential tree of
    * parquet scans ("Too many open files" long before any result).
    * Callers with a recursive CTE turn it back to a plain `AS (`. */
  private[graft] def materialized(sql: String): String =
    sql.replaceAll("(?m)^(WITH |, |\\), )(\\w+) AS \\($", "$1$2 AS MATERIALIZED (")

  /** One min-plus DTW row chain `${t}0..${t}{n-1}` over a cell CTE
    * `$loc(keys.., i, j, d)`: `${t}i(keys.., j, cost)` holds the
    * accumulated squared cost of row i (Kernels.dtw's recurrence, with
    * `d` the local cost). The same-row dependency is solved per row by
    * the prefix-min identity
    * new[j] = cs[j] + min_{k<=j}(min(prev[k], prev[k-1]) − cs[k-1])
    * (cs = running sum of d over the row), two running windows per step.
    * `freeStart` makes row 0 the raw local cost (subsequence DTW: any
    * start column is free). The output opens with `, ${t}0 AS (` and no
    * line break, so after the caller's closing `)` it reads
    * `), ${t}0 AS (`; every later header is its own `, name AS (` line.
    * Both forms match [[materialized]]. */
  private[graft] def minPlusChainCtes(keys: Seq[String], loc: String, t: String, n: Int,
                               freeStart: Boolean = false): String = {
    val ks = keys.mkString(", ")
    val lks = keys.map("l." + _).mkString(", ")
    def on(p: String) = keys.map(k => s"$p.$k = l.$k").mkString(" AND ")
    val cost0 = if (freeStart) "d" else s"sum(d) OVER (PARTITION BY $ks ORDER BY j)"
    val sb = new StringBuilder(
      s""", ${t}0 AS (
         |  SELECT $ks, j,
         |    $cost0 AS cost
         |  FROM $loc WHERE i = 0
         |)""".stripMargin)
    for (i <- 1 until n) {
      sb ++=
        s"""
           |, $t$i AS (
           |  SELECT $ks, j, cs + mn AS cost FROM (
           |    SELECT $ks, j, cs,
           |      min(mk - csk) OVER (PARTITION BY $ks ORDER BY j) AS mn
           |    FROM (
           |      SELECT $lks, l.j,
           |        sum(l.d) OVER (PARTITION BY $lks ORDER BY l.j) AS cs,
           |        sum(l.d) OVER (PARTITION BY $lks ORDER BY l.j) - l.d AS csk,
           |        least(coalesce(pk.cost, 1e308), coalesce(pk1.cost, 1e308)) AS mk
           |      FROM $loc l
           |      LEFT JOIN $t${i - 1} pk
           |        ON ${on("pk")} AND pk.j = l.j
           |      LEFT JOIN $t${i - 1} pk1
           |        ON ${on("pk1")} AND pk1.j = l.j - 1
           |      WHERE l.i = $i))
           |)""".stripMargin
    }
    sb.toString
  }

  /** The (i, j) step of the diag-first DTW backtrack from path row `p`
    * over the cumulative costs of its diagonal (alias `cd`), upper (`cu`)
    * and left (`cl`) predecessors: diag, then up, then left on ties, and
    * straight along an edge row or column. */
  private[graft] def dtwBacktrackStep(cd: String): String =
    s"""    CASE WHEN p.i = 0 THEN 0
       |         WHEN p.j = 0 THEN p.i - 1
       |         WHEN $cd.cost <= cu.cost AND $cd.cost <= cl.cost THEN p.i - 1
       |         WHEN cu.cost <= cl.cost THEN p.i - 1
       |         ELSE p.i END AS i,
       |    CASE WHEN p.i = 0 THEN p.j - 1
       |         WHEN p.j = 0 THEN p.j
       |         WHEN $cd.cost <= cu.cost AND $cd.cost <= cl.cost THEN p.j - 1
       |         WHEN cu.cost <= cl.cost THEN p.j
       |         ELSE p.j - 1 END AS j""".stripMargin

  /** One sum-product row chain `${t}0..${t}{sz-1}` over a cell CTE
    * `$loc(pr, cd, i, j, lg)`: `${t}i` holds, for every column j, the
    * log of the forward weight W(i,j) = Σ_{paths (0,0)→(i,j)} Π exp(lg)
    * under the GAK/soft-DTW recurrence
    * W(i,j) = k(i,j)·(W(i−1,j) + W(i−1,j−1) + W(i,j−1)). The same-row
    * dependency is solved in closed form per row: a prefix-sum of
    * per-cell log-factors (lk) plus a running exp-sum of the
    * prev-row contributions (lpk), max-shifted for log-space safety.
    * Factored out of [[sumProdChainSql]] so the gradient oracle can run
    * the chain twice (forward + index-reversed = backward). */
  private[graft] def rowChainCtes(sz: Int, loc: String, t: String): String = {
    val sb = new StringBuilder()
    sb ++=
      s"""
         |, ${t}0 AS (
         |  SELECT pr, cd, j,
         |    sum(lg) OVER (PARTITION BY pr, cd ORDER BY j) AS lw
         |  FROM $loc WHERE i = 0
         |)""".stripMargin
    for (i <- 1 until sz) sb ++= sumProdRowCte(loc, t, i)
    sb.toString
  }

  /** Row i ≥ 1 of a log-space sum-product chain over the cell CTE
    * `loc(pr, cd, i, j, lg)`: `t<i>(pr, cd, j, lw)` from row t<i−1> by the
    * per-row log-sum-exp solve of [[rowChainCtes]]; `lnArg` is the
    * argument of its final ln. */
  private[graft] def sumProdRowCte(loc: String, t: String, i: Int,
                                   lnArg: String = "se"): String = {
    val neg = "-1.0e300"
    s"""
       |, $t$i AS (
       |  SELECT pr, cd, j, lk + mx + ln($lnArg) AS lw FROM (
       |    SELECT pr, cd, j, lk, mx,
       |      sum(exp(lpk - mx)) OVER (PARTITION BY pr, cd ORDER BY j) AS se
       |    FROM (
       |      SELECT pr, cd, j, lk, lpk,
       |        max(lpk) OVER (PARTITION BY pr, cd) AS mx
       |      FROM (
       |        SELECT l.pr, l.cd, l.j,
       |          sum(l.lg) OVER (PARTITION BY l.pr, l.cd ORDER BY l.j) AS lk,
       |          greatest(coalesce(pk.lw, $neg), coalesce(pk1.lw, $neg))
       |            + ln(1.0 + exp(least(coalesce(pk.lw, $neg), coalesce(pk1.lw, $neg))
       |                - greatest(coalesce(pk.lw, $neg), coalesce(pk1.lw, $neg))))
       |            - (sum(l.lg) OVER (PARTITION BY l.pr, l.cd ORDER BY l.j) - l.lg) AS lpk
       |        FROM $loc l
       |        LEFT JOIN $t${i - 1} pk
       |          ON pk.pr = l.pr AND pk.cd = l.cd AND pk.j = l.j
       |        LEFT JOIN $t${i - 1} pk1
       |          ON pk1.pr = l.pr AND pk1.cd = l.cd AND pk1.j = l.j - 1
       |        WHERE l.i = $i)))
       |)""".stripMargin
  }

  /** The soft-DTW alignment-mass matrix `e(pr, cd, i, j, ev)` over the
    * caller's `loc(pr, cd, i, j, lg)`, which it leaves open: E =
    * F·B/(k·F_total), with F the forward soft-min chain over loc, B the
    * same chain over index-reversed cells (a forward pass over reversed
    * series is the backward pass) and k the local factor both count.
    * Ends inside `e`. */
  private[graft] def softDtwECtes(sz: Int): String = {
    val last = sz - 1
    val matf = (0 until sz)
      .map(i => s"SELECT pr, cd, $i AS i, j, lw FROM t$i")
      .mkString("\n  UNION ALL ")
    val matb = (0 until sz)
      .map(i => s"SELECT pr, cd, $i AS i, j, lw FROM bk$i")
      .mkString("\n  UNION ALL ")
    s"""
       |), locr AS (
       |  SELECT pr, cd, $last - i AS i, $last - j AS j, lg FROM loc
       |)""".stripMargin +
      rowChainCtes(sz, "loc", "t") + rowChainCtes(sz, "locr", "bk") +
      s"""
         |, matf AS (
         |  $matf
         |), matbr AS (
         |  $matb
         |), matb AS (
         |  SELECT pr, cd, $last - i AS i, $last - j AS j, lw FROM matbr
         |), fin AS (
         |  SELECT pr, cd, lw FROM t$last WHERE j = $last
         |), e AS (
         |  SELECT f.pr, f.cd, f.i, f.j,
         |    exp(f.lw + b2.lw - l.lg - fn.lw) AS ev
         |  FROM matf f
         |  JOIN matb b2 ON b2.pr = f.pr AND b2.cd = f.cd
         |    AND b2.i = f.i AND b2.j = f.j
         |  JOIN loc l ON l.pr = f.pr AND l.cd = f.cd
         |    AND l.i = f.i AND l.j = f.j
         |  JOIN fin fn ON fn.pr = f.pr AND fn.cd = f.cd""".stripMargin
  }

  /** Shared sum-product DP chain for the GAK and soft-DTW oracles. Both
    * kernels satisfy W(i,j) = k(i,j)·(W(i-1,j) + W(i-1,j-1) + W(i,j-1)):
    * GAK directly in its Gram terms (Kernels.logUnnormalizedGak), and
    * soft-DTW after substituting W = exp(-cost/γ) into the soft-min
    * recurrence (Kernels.softDtw). Each row solves in closed form as
    * W(i,j) = K(j)·Σ_{j'≤j} P(j')/K(j'-1) with K the prefix product of
    * k over the row and P(j') = W(i-1,j') + W(i-1,j'-1); the chain runs
    * in log space with a per-row max shift so the running exp-sum never
    * overflows. `lgSql` is log k(i,j) in terms of a.val/b.val;
    * `selfPairs` adds (u,u) pairs (needed for GAK normalization). */
  private[graft] def sumProdChainSql(sz: Int, lgSql: String, selfPairs: Boolean,
                              finalSql: String, allPairsMaxId: Int = -1): String = {
    val self =
      if (selfPairs)
        """
          |  SELECT user_id AS pr, user_id AS cd FROM (SELECT DISTINCT user_id FROM r)
          |  UNION ALL""".stripMargin
      else ""
    // allPairsMaxId >= 0: every ordered pair (incl. self) among users
    // < allPairsMaxId — the cdist-matrix shape — instead of adjacent ids
    val pairsSql =
      if (allPairsMaxId >= 0)
        s"""
           |  SELECT a.user_id AS pr, b.user_id AS cd
           |  FROM (SELECT DISTINCT user_id FROM r WHERE user_id < $allPairsMaxId) a
           |  JOIN (SELECT DISTINCT user_id FROM r WHERE user_id < $allPairsMaxId) b ON true""".stripMargin
      else
        s"""$self
           |  SELECT a.user_id AS pr, b.user_id AS cd
           |  FROM (SELECT DISTINCT user_id FROM r) a
           |  JOIN (SELECT DISTINCT user_id FROM r) b ON b.user_id = a.user_id + 1""".stripMargin
    val sb = new StringBuilder(evCte + resampleZnormCte(sz))
    sb ++=
      s"""
         |, pairs AS ($pairsSql
         |), loc AS (
         |  SELECT p.pr, p.cd, a.j AS i, b.j AS j, $lgSql AS lg
         |  FROM pairs p
         |  JOIN r a ON a.user_id = p.pr
         |  JOIN r b ON b.user_id = p.cd
         |)""".stripMargin
    sb ++= rowChainCtes(sz, "loc", "t")
    sb ++=
      s"""
         |, fin AS (
         |  SELECT pr, cd, lw FROM t${sz - 1} WHERE j = ${sz - 1}
         |)
         |$finalSql""".stripMargin
    materialized(sb.toString)
  }

  /** Ragged variant of [[sumProdChainSql]]: each series is resampled to
    * its OWN target length 8 + (user_id % 5)·2 (all ≤ 16, inside the
    * log-space row-solve's double-range ceiling), so sz1≠sz2 flows
    * through the sum-product DP — the ragged driver signal for gak /
    * softdtw in VARIABLE_LENGTH_METRICS. Chain shape and per-row
    * log-sum-exp identical to the fixed-size version; the terminal cell
    * comes from a lens join instead of a constant. */
  private[graft] def raggedSumProdChainSql(lgSql: String, selfPairs: Boolean,
                                    finalSql: String): String = {
    val maxSz = 16
    val self =
      if (selfPairs)
        """
          |  SELECT user_id AS pr, user_id AS cd FROM tgt
          |  UNION ALL""".stripMargin
      else ""
    val sb = new StringBuilder(evCte + raggedResampleCtes +
      s"""
         |), pairs AS ($self
         |  SELECT a.user_id AS pr, b.user_id AS cd
         |  FROM tgt a JOIN tgt b ON b.user_id = a.user_id + 1
         |), lens AS (
         |  SELECT p.pr, p.cd, a.tl AS l1, b.tl AS l2
         |  FROM pairs p
         |  JOIN tgt a ON a.user_id = p.pr
         |  JOIN tgt b ON b.user_id = p.cd
         |), loc AS (
         |  SELECT p.pr, p.cd, a.j AS i, b.j AS j, $lgSql AS lg
         |  FROM pairs p
         |  JOIN r a ON a.user_id = p.pr
         |  JOIN r b ON b.user_id = p.cd
         |), t0 AS (
         |  SELECT pr, cd, j,
         |    sum(lg) OVER (PARTITION BY pr, cd ORDER BY j) AS lw
         |  FROM loc WHERE i = 0
         |)""".stripMargin)
    for (i <- 1 until maxSz) sb ++= sumProdRowCte("loc", "t", i)
    sb ++= "\n, ans AS (\n  SELECT pr, cd, 0 AS i, j, lw FROM t0"
    for (i <- 1 until maxSz)
      sb ++= s"\n  UNION ALL SELECT pr, cd, $i, j, lw FROM t$i"
    sb ++=
      s"""
         |), fin AS (
         |  SELECT a.pr, a.cd, a.lw
         |  FROM ans a JOIN lens ln ON ln.pr = a.pr AND ln.cd = a.cd
         |  WHERE a.i = ln.l1 - 1 AND a.j = ln.l2 - 1
         |)
         |$finalSql""".stripMargin
    materialized(sb.toString)
  }

  /** The normalized-GAK log chain shared by every GAK-gram oracle. */
  private[graft] val gakLgSql =
    "-(a.val - b.val) * (a.val - b.val) / 2.0" +
      " - ln(2.0 - exp(-(a.val - b.val) * (a.val - b.val) / 2.0))"
}
