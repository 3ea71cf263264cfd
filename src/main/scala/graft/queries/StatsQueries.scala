package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Common._

/** Registered queries for experiments, distribution and drift
  * statistics, model evaluation, ranking metrics and sketches. */
private[graft] object StatsQueries {
  /** Shared retrieval-eval fixture: results = top-10 customers per
    * nation by balance cents (deterministic total order), judgments
    * = rel ∈ [0,2] from order counts (least(2, n div 4)). */
  private def rankEvalFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val cust = Tables.customer(s, dir)
    val results = cust.select(col("c_nationkey").cast("long").as("qid"),
        col("c_custkey").as("item"),
        round(col("c_acctbal") * 100).cast("long").as("__sc"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("__sc").desc, col("item"))).cast("long"))
      .where(col("rank") <= 10).drop("__sc")
    val judged = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("__n"))
      .join(cust.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").cast("long").as("qid"),
        col("o_custkey").as("item"),
        least(lit(2L), expr("__n div 4")).as("rel"))
    (results, judged)
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---- Bag-of-Little-Bootstraps 95% CI for the mean click value
    // (r11 verdict item #2 — q_bootstrap_ci's production twin):
    // Efron is B·n work by construction; BLB is s·B·n^0.6 with the
    // same statistical target. All randomness is md5-hash-driven
    // (subset membership + Irwin-Hall-normal Poisson weights), so
    // the SAME intervals replay in any engine ----
    QuerySpec("q_bootstrap_blb", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("value").isNotNull && col("event_type") === "click")
        .select(col("event_id"), round(col("value") * 100).cast("long").as("cents"))
      graft.ops.Experiment.blbMeanCi(ev, "event_id", "cents",
        s = 5, b = 100, alphaPct = 5)
    },
      // BLB: subset membership by hash60 mod n < round(n^0.6); weights
      // w = max(0, floor(λ + √λ·z + ½)) with λ = n/m_j and z the
      // centered sum of 12 hash60 uniforms over 2^60 (exact integer ζ;
      // every FP step after it is one correctly-rounded IEEE op, so
      // weights are bit-identical across engines); replicate mean
      // Σwx/Σw from exact integer sums; per-subset rank-3/98 endpoints
      // nano-rounded then integer-averaged over the 5 subsets
      """WITH src AS (
        |  SELECT CAST(event_id AS VARCHAR) AS id,
        |    CAST(round(value*100) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL AND event_type = 'click'
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx FROM src
        |), mt AS (
        |  SELECT GREATEST(CAST(50 AS BIGINT),
        |    CAST(round(power(CAST(n AS DOUBLE), 0.6)) AS BIGINT)) AS m_t FROM t
        |), subs AS (
        |  SELECT j.j, s2.id, s2.x, t.n
        |  FROM src s2, t, mt, (SELECT unnest(range(0, 5)) AS j) j
        |  WHERE CAST(concat('0x', substr(md5(concat('blb', CAST(j.j AS VARCHAR), ':', s2.id)), 1, 15)) AS BIGINT) % t.n < mt.m_t
        |), sizes AS (
        |  SELECT j, CAST(count(*) AS BIGINT) AS mj, CAST(sum(x) AS BIGINT) AS sxj
        |  FROM subs GROUP BY 1
        |), draws AS (
        |  SELECT sb.j, b.b, sb.x, z.mj, sb.n,
        |    CAST(list_sum(list_transform(range(1, 13), tt ->
        |      CAST(concat('0x', substr(md5(concat('blbw', CAST(sb.j AS VARCHAR), ':',
        |        CAST(b.b AS VARCHAR), ':', sb.id, ':', CAST(tt AS VARCHAR))), 1, 15)) AS BIGINT)
        |      - 576460752303423488
        |    )) AS BIGINT) AS zeta
        |  FROM subs sb JOIN sizes z USING (j), (SELECT unnest(range(0, 100)) AS b) b
        |), wts AS (
        |  SELECT j, b, x,
        |    CAST(GREATEST(0.0, floor(
        |      CAST(n AS DOUBLE)/CAST(mj AS DOUBLE)
        |      + sqrt(CAST(n AS DOUBLE)/CAST(mj AS DOUBLE))
        |        * (CAST(zeta AS DOUBLE) / 1152921504606846976.0)
        |      + 0.5)) AS BIGINT) AS w
        |  FROM draws
        |), reps AS (
        |  SELECT j, b,
        |    CAST(CAST(sum(w*x) AS BIGINT) AS DOUBLE)
        |      / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS m
        |  FROM wts GROUP BY 1, 2
        |), ranked AS (
        |  SELECT j, b, m, row_number() OVER (PARTITION BY j ORDER BY m, b) AS r FROM reps
        |), cij AS (
        |  SELECT r.j,
        |    CAST(round(1e9 * (min(r.m) - CAST(z.sxj AS DOUBLE)/CAST(z.mj AS DOUBLE))) AS BIGINT) AS lo_nano_j,
        |    CAST(round(1e9 * (max(r.m) - CAST(z.sxj AS DOUBLE)/CAST(z.mj AS DOUBLE))) AS BIGINT) AS hi_nano_j
        |  FROM ranked r JOIN sizes z USING (j)
        |  WHERE r.r = 3 OR r.r = 98 GROUP BY r.j, z.sxj, z.mj
        |)
        |SELECT t.n, CAST(5 AS BIGINT) AS s, CAST(100 AS BIGINT) AS b,
        |  CAST(round(1e9 * CAST(t.sx AS DOUBLE) / CAST(t.n AS DOUBLE)) AS BIGINT) AS mean_nano,
        |  CAST(round(1e9 * CAST(t.sx AS DOUBLE) / CAST(t.n AS DOUBLE)) AS BIGINT)
        |    + CAST(round(CAST(sum(lo_nano_j) AS DOUBLE) / 5.0) AS BIGINT) AS lo_nano,
        |  CAST(round(1e9 * CAST(t.sx AS DOUBLE) / CAST(t.n AS DOUBLE)) AS BIGINT)
        |    + CAST(round(CAST(sum(hi_nano_j) AS DOUBLE) / 5.0) AS BIGINT) AS hi_nano
        |FROM cij, t GROUP BY t.n, t.sx""".stripMargin),
    // ---- Jensen-Shannon divergence over the q_psi_bins month
    // halves: the symmetric, ln2-bounded companion to PSI — same
    // histogram, same smoothing, nano-rounded per-bucket terms ----
    QuerySpec("q_js_drift", (s, dir) => {
      val ev = Tables.events(s, dir).where(col("value").isNotNull)
        .select(col("ts"), round(col("value") * 100).cast("long").as("cents"))
      val cut = lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
      graft.ops.Drift.jsd(
          ev.where(col("ts") < cut), ev.where(col("ts") >= cut), "cents", width = 500L)
        .orderBy(col("bucket"))
    },
      // identical histogram + smoothing to q_psi_bins; p and q are the
      // same two divisions, then one mirrored 0.5e9·(p·ln(2p/(p+q)) +
      // q·ln(2q/(p+q))) tree per bucket
      """WITH av AS (
        |  SELECT CAST(round(value*100) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |), bv AS (
        |  SELECT CAST(round(value*100) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-15 00:00:00'
        |), h AS (
        |  SELECT CAST(floor(v / 500) AS BIGINT) AS bucket,
        |         CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b
        |  FROM (SELECT v, 1 AS na, 0 AS nb FROM av
        |        UNION ALL SELECT v, 0, 1 FROM bv)
        |  GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb,
        |         CAST(count(*) AS BIGINT) AS nbk
        |  FROM h
        |), pq AS (
        |  SELECT h.bucket, h.n_a, h.n_b,
        |    CAST(h.n_a + 1 AS DOUBLE) / CAST(t.ta + t.nbk AS DOUBLE) AS p,
        |    CAST(h.n_b + 1 AS DOUBLE) / CAST(t.tb + t.nbk AS DOUBLE) AS q
        |  FROM h, t
        |)
        |SELECT bucket, n_a, n_b,
        |  CAST(round(0.5e9 * (p * ln(2.0*p/(p+q)) + q * ln(2.0*q/(p+q)))) AS BIGINT) AS jsd_e9
        |FROM pq ORDER BY bucket""".stripMargin),
    // ---- k-anonymity / l-diversity audit of the customer table
    // under (nation, market-segment) quasi-identifiers with account
    // balance as the sensitive attribute — exact class counting ----
    QuerySpec("q_kanon", (s, dir) => {
      graft.ops.Privacy.kAnonymity(Tables.customer(s, dir),
          Seq("c_nationkey", "c_mktsegment"), "c_acctbal", k = 10L)
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    },
      // exact class counting; NULL quasi-identifiers group as values
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT c_acctbal) AS BIGINT) AS distinct_sensitive,
        |  count(*) >= 10 AS k_ok
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // ---- directed association rules over the q_freq_pairs basket
    // instance: confidence + lift in exact nano-units, N = all
    // baskets (pre-prune — the prune must not inflate lift) ----
    QuerySpec("q_assoc_rules", (s, dir) => {
      val li = Tables.lineitem(s, dir).where(col("l_orderkey") % 4 === 0)
      graft.ops.Baskets.rules(li, "l_orderkey", "l_partkey", minSupport = 2)
        .orderBy(col("antecedent"), col("consequent"))
    },
      // the q_freq_pairs front half; N = all quarter-instance baskets
      // (pre-prune), both rule directions
      """WITH f AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 4 = 0
        |), freq AS (
        |  SELECT i FROM f GROUP BY i HAVING count(*) >= 2
        |), pf AS (
        |  SELECT f.b, f.i FROM f JOIN freq USING (i)
        |), cnt AS (
        |  SELECT i, CAST(count(*) AS BIGINT) AS c FROM pf GROUP BY i
        |), nb AS (
        |  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS N FROM lineitem
        |  WHERE l_orderkey % 4 = 0 AND l_orderkey IS NOT NULL
        |), pairs AS (
        |  SELECT a.i AS item_a, b2.i AS item_b, CAST(count(*) AS BIGINT) AS support
        |  FROM pf a JOIN pf b2 ON a.b = b2.b AND a.i < b2.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), directed AS (
        |  SELECT item_a AS antecedent, item_b AS consequent, support FROM pairs
        |  UNION ALL SELECT item_b, item_a, support FROM pairs
        |)
        |SELECT d.antecedent, d.consequent, d.support,
        |  CAST(round(1e9 * CAST(d.support AS DOUBLE) / CAST(ca.c AS DOUBLE)) AS BIGINT) AS conf_nano,
        |  CAST(round(1e9 * CAST(d.support * nb.N AS DOUBLE)
        |    / CAST(ca.c * cb.c AS DOUBLE)) AS BIGINT) AS lift_nano
        |FROM directed d
        |JOIN cnt ca ON ca.i = d.antecedent
        |JOIN cnt cb ON cb.i = d.consequent, nb
        |ORDER BY 1, 2""".stripMargin),
    // ---- Theil-Sen robust trend of the daily click-dollar series:
    // median of pairwise slopes (breakdown ~29%), exact order-
    // statistic selection over per-pair IEEE divisions ----
    QuerySpec("q_theil_sen", (s, dir) => {
      val daily = Tables.events(s, dir)
        .where(col("value").isNotNull && col("event_type") === "click")
        .select(to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(expr("sum(cents) div 100").as("x"))
        .select(datediff(col("day"),
          lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("t"), col("x"))
      graft.ops.Robust.theilSen(daily, "t", "x")
    },
      // median = order-statistic selection (odd: middle; even: mean of
      // the two middles); ties in double space are interchangeable for
      // value selection, so the rank tiebreak never changes the answer
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '2024-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS t,
        |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) // 100 AS x
        |  FROM events WHERE value IS NOT NULL AND event_type = 'click'
        |  GROUP BY 1
        |), slopes AS (
        |  SELECT CAST(b.x - a.x AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS slope
        |  FROM daily a JOIN daily b ON b.t > a.t
        |), rs AS (
        |  SELECT slope, row_number() OVER (ORDER BY slope) AS r, count(*) OVER () AS np
        |  FROM slopes
        |), med AS (
        |  SELECT CAST(max(np) AS BIGINT) AS n_pairs, sum(slope) / count(*) AS slope
        |  FROM rs WHERE r = (np + 1) // 2 OR r = np // 2 + 1
        |), resid AS (
        |  SELECT CAST(d.x AS DOUBLE) - m.slope * CAST(d.t AS DOUBLE) AS resid,
        |    m.slope, m.n_pairs
        |  FROM daily d, med m
        |), rr AS (
        |  SELECT resid, slope, n_pairs, row_number() OVER (ORDER BY resid) AS r,
        |    count(*) OVER () AS nn
        |  FROM resid
        |)
        |SELECT CAST(max(nn) AS BIGINT) AS n_points, CAST(max(n_pairs) AS BIGINT) AS n_pairs,
        |  CAST(round(max(slope) * 1e9) AS BIGINT) AS slope_nano,
        |  CAST(round(sum(resid) / count(*) * 1e9) AS BIGINT) AS intercept_nano
        |FROM rr WHERE r = (nn + 1) // 2 OR r = nn // 2 + 1""".stripMargin),
    // ---- deterministic hash-resampled bootstrap 95% CI for the
    // mean click value: Efron resampling with an md5-driven design
    // matrix, so the SAME intervals replay in any engine ----
    QuerySpec("q_bootstrap_ci", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("value").isNotNull && col("event_type") === "click")
        .select(col("event_id"), round(col("value") * 100).cast("long").as("cents"))
      graft.ops.Experiment.bootstrapMeanCi(ev, "event_id", "cents", b = 200, alphaPct = 5)
    },
      // the md5-driven design matrix: draw slot (b, rn) selects row
      // 1 + hash60(b":"rn) % n — identical in both engines; interval
      // endpoints are rank 5 / 196 selections over the 200 means
      """WITH s AS (
        |  SELECT row_number() OVER (ORDER BY event_id) AS rn,
        |    CAST(round(value*100) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL AND event_type = 'click'
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx FROM s
        |), slots AS (
        |  SELECT b.b, 1 + CAST(concat('0x', substr(md5(concat(CAST(b.b AS VARCHAR), ':',
        |    CAST(s.rn AS VARCHAR))), 1, 15)) AS BIGINT) % t.n AS sel
        |  FROM s, t, (SELECT unnest(range(0, 200)) AS b) b
        |), means AS (
        |  SELECT sl.b, CAST(CAST(sum(s2.x) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS m
        |  FROM slots sl JOIN s s2 ON s2.rn = sl.sel GROUP BY 1
        |), ranked AS (
        |  SELECT m, row_number() OVER (ORDER BY m, b) AS r FROM means
        |), ci AS (
        |  SELECT min(m) AS lo, max(m) AS hi FROM ranked WHERE r = 5 OR r = 196
        |)
        |SELECT t.n, CAST(200 AS BIGINT) AS b,
        |  CAST(round(1e9 * CAST(t.sx AS DOUBLE) / CAST(t.n AS DOUBLE)) AS BIGINT) AS mean_nano,
        |  CAST(round(1e9 * ci.lo) AS BIGINT) AS lo_nano,
        |  CAST(round(1e9 * ci.hi) AS BIGINT) AS hi_nano
        |FROM ci, t""".stripMargin),
    // ---- cumulative-gains / lift deciles over the q_auc scored
    // fixture: deterministic (score desc, id) decile boundaries via
    // the bucketed two-pass ranks — the campaign-targeting table the
    // AUC summarizes ----
    QuerySpec("q_lift_curve", (s, dir) => {
      val scored = Tables.embeddings(s, dir).select(col("vec_id"),
        element_at(graft.operators.Similarity.randomProject(
          graft.operators.Similarity.quantize(col("embedding")), k = 1), 1).as("score"),
        when(col("label") < 5, 1L).otherwise(0L).as("y"))
      graft.ops.Eval.liftCurve(scored, "vec_id", "score", "y")
        .orderBy(col("bin"))
    },
      // the q_auc score formula; (score DESC, vec_id) ranks, exact
      // integer decile counts, one mirrored lift tree per bin
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS v,
        |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
        |  FROM embeddings
        |), plane AS (
        |  SELECT list_transform(range(0, 64), i ->
        |    CASE WHEN CAST(concat('0x', substr(md5(concat('0', ':', CAST(i AS VARCHAR))), 1, 15)) AS BIGINT) % 2 = 1
        |      THEN 1 ELSE -1 END) AS s
        |), scored AS (
        |  SELECT vec_id, y,
        |    CAST(list_sum(list_transform(range(1, len(q.v) + 1),
        |      ix -> q.v[ix] * plane.s[ix])) AS BIGINT) AS score
        |  FROM q, plane
        |), r AS (
        |  SELECT y, row_number() OVER (ORDER BY score DESC, vec_id) AS rk FROM scored
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos FROM r
        |), b AS (
        |  SELECT ((rk - 1) * 10) // t.n AS bin, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(y) AS BIGINT) AS n_pos
        |  FROM r, t GROUP BY 1
        |), c AS (
        |  SELECT bin, n_rows, n_pos,
        |    CAST(sum(n_rows) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rows,
        |    CAST(sum(n_pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
        |  FROM b
        |)
        |SELECT CAST(bin AS BIGINT) AS bin, n_rows, n_pos, cum_pos,
        |  CASE WHEN t.pos = 0 THEN NULL
        |    ELSE CAST(round(1e9 * (CAST(cum_pos AS DOUBLE) / CAST(cum_rows AS DOUBLE))
        |      / (CAST(t.pos AS DOUBLE) / CAST(t.n AS DOUBLE))) AS BIGINT) END AS lift_nano
        |FROM c, t ORDER BY bin""".stripMargin),
    // ---- precision/recall@10 per nation over the rankEvalFixture
    // lists — the set-based complement to q_ndcg's graded metric ----
    QuerySpec("q_precision_k", (s, dir) => {
      val (results, judged) = rankEvalFixture(s, dir)
      graft.ops.RankEval.precisionRecallAtK(results, judged, 10)
        .orderBy(col("qid"))
    },
      // the rankEvalFixture lists; precision divides by k, recall by
      // the full relevant pool (NULL when empty)
      """WITH res AS (
        |  SELECT qid, item, rank FROM (
        |    SELECT CAST(c_nationkey AS BIGINT) AS qid, c_custkey AS item,
        |      CAST(row_number() OVER (PARTITION BY c_nationkey
        |        ORDER BY CAST(round(c_acctbal * 100) AS BIGINT) DESC, c_custkey)
        |        AS BIGINT) AS rank
        |    FROM customer)
        |  WHERE rank <= 10
        |), judged AS (
        |  SELECT CAST(c.c_nationkey AS BIGINT) AS qid, o.o_custkey AS item,
        |    CAST(least(2, count(*) // 4) AS BIGINT) AS rel
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2
        |), hits AS (
        |  SELECT r.qid,
        |    CAST(sum(CASE WHEN coalesce(j.rel, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        |  FROM res r LEFT JOIN judged j ON j.qid = r.qid AND j.item = r.item
        |  GROUP BY 1
        |), pool AS (
        |  SELECT qid, CAST(count(*) AS BIGINT) AS n_rel FROM judged WHERE rel > 0 GROUP BY 1
        |)
        |SELECT h.qid, h.n_hits, CAST(coalesce(p.n_rel, 0) AS BIGINT) AS n_rel,
        |  CAST(round(1e9 * CAST(h.n_hits AS DOUBLE) / 10.0) AS BIGINT) AS p_nano,
        |  CASE WHEN coalesce(p.n_rel, 0) = 0 THEN NULL
        |    ELSE CAST(round(1e9 * CAST(h.n_hits AS DOUBLE) / CAST(p.n_rel AS DOUBLE)) AS BIGINT)
        |  END AS r_nano
        |FROM hits h LEFT JOIN pool p ON p.qid = h.qid
        |ORDER BY h.qid""".stripMargin),
    // ---- Brier score over the q_calibration fixture: the proper
    // scoring rule that grades calibration AND discrimination in
    // one number — exact integer (pct − 100y)² terms, one mirrored
    // division ----
    QuerySpec("q_brier", (s, dir) => {
      val docs = Tables.documents(s, dir).select(
        graft.ops.Sampling.hashBucket(col("doc_id")).cast("long").as("conf_pct"),
        when(length(col("text")) > 500, 1L).otherwise(0L).as("y"))
      graft.ops.Eval.brierFromPercent(docs, "conf_pct", "y")
    },
      // the q_calibration fixture; per-row (pct − 100y)² exact, one
      // division by n·10⁴
      """WITH d AS (
        |  SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS p,
        |    CASE WHEN length(text) > 500 THEN 1 ELSE 0 END AS y
        |  FROM documents
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum((p - 100*y) * (p - 100*y)) AS BIGINT) AS sum_sq_err,
        |  CAST(round(1e9 * CAST(sum((p - 100*y) * (p - 100*y)) AS DOUBLE)
        |    / CAST(count(*) * 10000 AS DOUBLE)) AS BIGINT) AS brier_nano
        |FROM d""".stripMargin),
    // ---- one-way ANOVA across event types (do the segments
    // differ?): same decomposition, classical F over the exact nano
    // sums ----
    QuerySpec("q_anova", (s, dir) => {
      val ev = Tables.events(s, dir).where(col("value").isNotNull)
        .select(col("event_type"),
          expr("cast(round(value * 100) as long) div 100").as("x"))
      graft.ops.Anova.decompose(ev, "event_type", "x")
    },
      // same decomposition, groups = event types, per-event dollars
      """WITH obs AS (
        |  SELECT event_type AS g, CAST(round(value*100) AS BIGINT) // 100 AS x
        |  FROM events WHERE value IS NOT NULL
        |), pg AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS ng, CAST(sum(x) AS BIGINT) AS sg,
        |    CAST(sum(x*x) AS BIGINT) AS qg
        |  FROM obs GROUP BY 1
        |), gg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(sum(sg) AS BIGINT) AS s, CAST(sum(qg) AS BIGINT) AS q,
        |    CAST(sum(CAST(round(1e6 * CAST(ng*qg - sg*sg AS DOUBLE)
        |      / CAST(ng AS DOUBLE)) AS BIGINT)) AS BIGINT) AS ssw_micro
        |  FROM pg
        |), t AS (
        |  SELECT n, k,
        |    CAST(round(1e6 * CAST(n*q - s*s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS sst_micro,
        |    ssw_micro
        |  FROM gg
        |)
        |SELECT n, k, sst_micro, ssw_micro, sst_micro - ssw_micro AS ssb_micro,
        |  CASE WHEN k < 2 OR sst_micro = 0 THEN NULL
        |    ELSE CAST(round(1e9 * CAST(sst_micro - ssw_micro AS DOUBLE)
        |      / CAST(sst_micro AS DOUBLE)) AS BIGINT) END AS eta2_nano,
        |  CASE WHEN k < 2 OR n <= k OR ssw_micro = 0 THEN NULL
        |    ELSE CAST(round(1e9 * (CAST(sst_micro - ssw_micro AS DOUBLE) / CAST(k - 1 AS DOUBLE))
        |      / (CAST(ssw_micro AS DOUBLE) / CAST(n - k AS DOUBLE))) AS BIGINT) END AS f_nano
        |FROM t""".stripMargin),
    // ---- Reciprocal Rank Fusion: two per-nation customer rankings
    // (account balance vs order spend) fused on exact integer
    // 10^9 div (k + rank) contributions — rank-only, so score scales
    // never need calibration; top-5 fused per nation ----
    QuerySpec("q_rrf", (s, dir) => {
      val cust = Tables.customer(s, dir)
      val bal = cust.select(lit("bal").as("lst"),
        col("c_nationkey").cast("long").as("qid"),
        col("c_custkey").as("item"),
        round(col("c_acctbal") * 100).cast("long").as("score"))
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("score"))
        .join(cust.select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .select(lit("spend").as("lst"),
          col("c_nationkey").cast("long").as("qid"),
          col("o_custkey").as("item"), col("score"))
      graft.ops.Fusion.topFused(
        graft.ops.Fusion.rrf(bal.unionByName(spend),
          "lst", "qid", "item", "score", k = 60), 5)
    },
      // rank-only fusion: 10^9 // (60 + rank) exact integer votes;
      // DuckDB // truncates = Spark div on the positive domain
      """WITH bal AS (
        |  SELECT 'bal' AS lst, CAST(c_nationkey AS BIGINT) AS qid,
        |    c_custkey AS item, CAST(round(c_acctbal * 100) AS BIGINT) AS score
        |  FROM customer
        |), spend AS (
        |  SELECT 'spend' AS lst, CAST(c.c_nationkey AS BIGINT) AS qid,
        |    o.o_custkey AS item,
        |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS score
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2, 3
        |), u AS (
        |  SELECT * FROM bal UNION ALL SELECT * FROM spend
        |), r AS (
        |  SELECT qid, item, CAST(row_number() OVER (
        |    PARTITION BY lst, qid ORDER BY score DESC, item) AS BIGINT) AS rk
        |  FROM u
        |), f AS (
        |  SELECT qid, item, CAST(count(*) AS BIGINT) AS n_lists,
        |    CAST(min(rk) AS BIGINT) AS best_rank,
        |    CAST(sum(1000000000 // (60 + rk)) AS BIGINT) AS rrf_nano
        |  FROM r GROUP BY 1, 2
        |)
        |SELECT qid, item, n_lists, best_rank, rrf_nano FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY qid ORDER BY rrf_nano DESC, item) AS fr FROM f)
        |WHERE fr <= 5""".stripMargin),
    // ---- nDCG@10 per nation: balance-ranked customer lists graded
    // against order-count relevance; per-term nano gains on the
    // mirrored ln tree, ideal drawn from the full judgment pool ----
    QuerySpec("q_ndcg", (s, dir) => {
      val (results, judged) = rankEvalFixture(s, dir)
      graft.ops.RankEval.ndcg(results, judged, 10)
    },
      // per-term nano gains; log2 rendered ln2/ln on BOTH engines
      // (Spark log2 = log/log(2), DuckDB log2 = libm — not mirrored)
      """WITH res AS (
        |  SELECT qid, item, rank FROM (
        |    SELECT CAST(c_nationkey AS BIGINT) AS qid, c_custkey AS item,
        |      CAST(row_number() OVER (PARTITION BY c_nationkey
        |        ORDER BY CAST(round(c_acctbal * 100) AS BIGINT) DESC, c_custkey)
        |        AS BIGINT) AS rank
        |    FROM customer)
        |  WHERE rank <= 10
        |), judged AS (
        |  SELECT CAST(c.c_nationkey AS BIGINT) AS qid, o.o_custkey AS item,
        |    CAST(least(2, count(*) // 4) AS BIGINT) AS rel
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2
        |), dcg AS (
        |  SELECT r.qid,
        |    CAST(sum(CAST(round(1e9 * (pow(2, coalesce(j.rel, 0)) - 1) *
        |      0.6931471805599453 / ln(CAST(r.rank + 1 AS DOUBLE))) AS BIGINT))
        |      AS BIGINT) AS dcg_nano
        |  FROM res r LEFT JOIN judged j ON j.qid = r.qid AND j.item = r.item
        |  GROUP BY 1
        |), ideal AS (
        |  SELECT qid,
        |    CAST(sum(CAST(round(1e9 * (pow(2, rel) - 1) *
        |      0.6931471805599453 / ln(CAST(pos + 1 AS DOUBLE))) AS BIGINT))
        |      AS BIGINT) AS idcg_nano
        |  FROM (
        |    SELECT qid, rel, CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY rel DESC, item) AS BIGINT) AS pos
        |    FROM judged WHERE rel > 0)
        |  WHERE pos <= 10
        |  GROUP BY 1
        |)
        |SELECT d.qid, d.dcg_nano,
        |  CAST(coalesce(i.idcg_nano, 0) AS BIGINT) AS idcg_nano,
        |  CASE WHEN coalesce(i.idcg_nano, 0) = 0 THEN NULL
        |    ELSE CAST(round(1e9 * CAST(d.dcg_nano AS DOUBLE) /
        |      CAST(i.idcg_nano AS DOUBLE)) AS BIGINT) END AS ndcg_nano
        |FROM dcg d LEFT JOIN ideal i ON i.qid = d.qid""".stripMargin),
    // ---- MRR per nation: 10^9 div first-relevant-rank, fully
    // integer ----
    QuerySpec("q_mrr", (s, dir) => {
      val (results, judged) = rankEvalFixture(s, dir)
      graft.ops.RankEval.reciprocalRank(results, judged)
    },
      // fully integer: 10^9 // first relevant rank
      """WITH res AS (
        |  SELECT qid, item, rank FROM (
        |    SELECT CAST(c_nationkey AS BIGINT) AS qid, c_custkey AS item,
        |      CAST(row_number() OVER (PARTITION BY c_nationkey
        |        ORDER BY CAST(round(c_acctbal * 100) AS BIGINT) DESC, c_custkey)
        |        AS BIGINT) AS rank
        |    FROM customer)
        |  WHERE rank <= 10
        |), judged AS (
        |  SELECT CAST(c.c_nationkey AS BIGINT) AS qid, o.o_custkey AS item,
        |    CAST(least(2, count(*) // 4) AS BIGINT) AS rel
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2
        |)
        |SELECT qid, first_rel_rank,
        |  CAST(coalesce(1000000000 // first_rel_rank, 0) AS BIGINT) AS rr_nano
        |FROM (
        |  SELECT r.qid, CAST(min(CASE WHEN coalesce(j.rel, 0) > 0
        |    THEN r.rank END) AS BIGINT) AS first_rel_rank
        |  FROM res r LEFT JOIN judged j ON j.qid = r.qid AND j.item = r.item
        |  GROUP BY 1)""".stripMargin),
    // ---- Gini coefficient of per-user spend: exact global ranks
    // (no single-task window), one mirrored tree ----
    QuerySpec("q_gini", (s, dir) => {
      val spend = Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      graft.ops.Inequality.gini(spend, "cents", "user_id")
    },
      // ranks via row_number(v, tie); G = (2Σiv − (n+1)Σv)/(nΣv)
      """WITH spend AS (
        |  SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY user_id
        |), r AS (
        |  SELECT cents, CAST(row_number() OVER (ORDER BY cents, user_id) AS BIGINT) AS rk
        |  FROM spend
        |), s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS total,
        |    CAST(sum(rk * cents) AS BIGINT) AS rx
        |  FROM r
        |)
        |SELECT n, total,
        |  CASE WHEN total = 0 THEN NULL
        |    ELSE CAST(round((1e9 * (2.0 * CAST(rx AS DOUBLE) -
        |      (CAST(n AS DOUBLE) + 1.0) * CAST(total AS DOUBLE))) /
        |      (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))) AS BIGINT) END AS gini_nano
        |FROM s""".stripMargin),
    // ---- Herfindahl index per event type: how concentrated is
    // each type's value mass across users ----
    QuerySpec("q_hhi", (s, dir) => {
      graft.ops.Inequality.hhi(
          Tables.events(s, dir)
            .where(col("user_id").isNotNull && col("value").isNotNull)
            .select(col("event_type"), col("user_id"),
              round(col("value") * 100).cast("long").as("cents")),
          "event_type", "user_id", "cents")
        .orderBy(col("event_type"))
    },
      // per-member nano share², summed order-free per group
      """WITH m AS (
        |  SELECT event_type, user_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mv
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, CAST(sum(mv) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS n_members
        |  FROM m GROUP BY 1
        |)
        |SELECT m.event_type, first(t.n_members) AS n_members,
        |  first(t.total) AS total,
        |  CAST(sum(CAST(round(1e9 *
        |    (CAST(mv AS DOUBLE) / CAST(total AS DOUBLE)) *
        |    (CAST(mv AS DOUBLE) / CAST(total AS DOUBLE))) AS BIGINT)) AS BIGINT) AS hhi_nano
        |FROM m JOIN t USING (event_type)
        |GROUP BY m.event_type
        |ORDER BY m.event_type""".stripMargin),
    // ---- CUPED variance reduction: pre-period click spend adjusts
    // the post-period purchase spend; θ and both lifts fold from
    // exact integer moment sums ----
    QuerySpec("q_cuped", (s, dir) => {
      val cut = lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
      val users = Tables.events(s, dir).where(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          coalesce(sum(when(col("event_type") === "click" && col("ts") < cut,
            round(col("value") * 100).cast("long"))), lit(0L)).as("pre"),
          coalesce(sum(when(col("event_type") === "purchase" && col("ts") >= cut,
            round(col("value") * 100).cast("long"))), lit(0L)).as("post"))
        .select((col("user_id") % 2).as("variant"), col("pre"), col("post"))
      graft.ops.Experiment.cuped(users, "variant", "pre", "post")
    },
      // θ = (nΣxy − ΣxΣy)/(nΣxx − Σx²), lifts from per-variant sums;
      // every tree mirrored over exact integer moments
      """WITH u AS (
        |  SELECT user_id % 2 AS v,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'click'
        |      AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15 00:00:00'
        |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS x,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
        |      AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-15 00:00:00'
        |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS y
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        |), m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
        |    CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(sum(CASE WHEN v = 0 THEN x ELSE 0 END) AS BIGINT) AS sxc,
        |    CAST(sum(CASE WHEN v = 0 THEN y ELSE 0 END) AS BIGINT) AS syc,
        |    CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    CAST(sum(CASE WHEN v = 1 THEN x ELSE 0 END) AS BIGINT) AS sxt,
        |    CAST(sum(CASE WHEN v = 1 THEN y ELSE 0 END) AS BIGINT) AS syt
        |  FROM u
        |)
        |SELECT nc AS n_control, nt AS n_treatment,
        |  CASE WHEN nc = 0 OR nt = 0 THEN NULL
        |    ELSE CAST(round(1e9 * (CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) -
        |      CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE))) AS BIGINT) END AS lift_nano,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |             CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) = 0
        |         OR nc = 0 OR nt = 0 THEN NULL
        |    ELSE CAST(round(1e9 *
        |      ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |       (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))) AS BIGINT) END AS theta_nano,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |             CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) = 0
        |         OR nc = 0 OR nt = 0 THEN NULL
        |    ELSE CAST(round(1e9 * ((CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) -
        |        CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE)) -
        |      ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |       (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) *
        |      (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE) -
        |       CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE)))) AS BIGINT) END AS cuped_lift_nano
        |FROM m""".stripMargin),
    // ---- A/B reading: user_id parity as the variant, any purchase
    // as conversion; 2x2 counts, lift, closed-form chi-square ----
    QuerySpec("q_ab_test", (s, dir) => {
      val users = Tables.events(s, dir).where(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .select((col("user_id") % 2).as("variant"), col("conv"))
      graft.ops.Experiment.abTest(users, "variant", "conv")
    },
      // 2x2 counts exact; lift and the closed-form chi-square each one
      // mirrored double tree
      """WITH u AS (
        |  SELECT user_id % 2 AS v,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        |), c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN v = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN v = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN v = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN v = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM u
        |)
        |SELECT a + b AS n_control, c + d AS n_treatment,
        |  b AS conv_control, d AS conv_treatment,
        |  CASE WHEN a + b = 0 OR c + d = 0 THEN NULL
        |    ELSE CAST(round(1e9 * (CAST(d AS DOUBLE) / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) -
        |      CAST(b AS DOUBLE) / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)))) AS BIGINT) END AS lift_nano,
        |  CASE WHEN (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)) * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) *
        |            (CAST(a AS DOUBLE) + CAST(c AS DOUBLE)) * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE)) = 0 THEN NULL
        |    ELSE CAST(round(1e9 *
        |      (CAST(a AS DOUBLE) + CAST(b AS DOUBLE) + CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) *
        |      (CAST(a AS DOUBLE) * CAST(d AS DOUBLE) - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) *
        |      (CAST(a AS DOUBLE) * CAST(d AS DOUBLE) - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) /
        |      ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE)) * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) *
        |       (CAST(a AS DOUBLE) + CAST(c AS DOUBLE)) * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE)))) AS BIGINT)
        |  END AS chi2_nano
        |FROM c""".stripMargin),
    // ---- Kaplan-Meier time-to-purchase (hours), censored at the
    // user's last observed event: log-space survival as order-free
    // nano sums over the duration histogram ----
    QuerySpec("q_kaplan_meier", (s, dir) => {
      val per = Tables.events(s, dir).where(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("t0"),
          min(when(col("event_type") === "purchase", col("ts"))).as("tp"),
          max(col("ts")).as("tl"))
        .select(
          (unix_micros(coalesce(col("tp"), col("tl"))) - unix_micros(col("t0")))
            .as("__us"),
          col("tp").isNotNull.cast("long").as("event"))
        // integer div, not double / + cast: a correctly-rounded double
        // quotient can land ON the next integer and mis-bucket an hour
        .select(expr("__us div 3600000000").as("dur_hours"), col("event"))
      graft.ops.Survival.kaplanMeier(per, "dur_hours", "event")
        .orderBy(col("t"))
    },
      // the KM product as order-free log-space nano sums; the
      // cumulative runs over the duration HISTOGRAM (the ks-drift
      // contract), at-risk by prefix subtraction
      """WITH per AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0,
        |    min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS tp,
        |    max(CAST(ts AS TIMESTAMP)) AS tl
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        |), d AS (
        |  SELECT (epoch_us(coalesce(tp, tl)) - epoch_us(t0)) // 3600000000 AS t,
        |    CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS e
        |  FROM per
        |), hist AS (
        |  SELECT t, CAST(sum(e) AS BIGINT) AS n_events,
        |    CAST(sum(1 - e) AS BIGINT) AS n_censored
        |  FROM d GROUP BY 1
        |), risk AS (
        |  SELECT t, n_events, n_censored,
        |    CAST(sum(n_events + n_censored) OVER () -
        |      coalesce(sum(n_events + n_censored) OVER (
        |        ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        |  FROM hist
        |), step AS (
        |  SELECT t, n_risk, n_events, n_censored,
        |    CASE WHEN n_events = 0 THEN 0
        |         WHEN n_events = n_risk THEN NULL
        |         ELSE CAST(round(1e9 * ln(1.0 - CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE))) AS BIGINT)
        |    END AS l
        |  FROM risk
        |)
        |SELECT t, n_risk, n_events, n_censored,
        |  CASE WHEN max(CASE WHEN l IS NULL THEN 1 ELSE 0 END) OVER (
        |         ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 THEN NULL
        |       ELSE CAST(sum(l) OVER (
        |         ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  END AS log_s_nano
        |FROM step ORDER BY t""".stripMargin),
    // ---- Benford first-digit audit over order totals: string-head
    // digits (never floor(log10)), zero-filled 1-9 spine, integer
    // deviation of two nano-rounded shares ----
    QuerySpec("q_benford", (s, dir) => {
      graft.ops.Drift.benford(
          Tables.orders(s, dir)
            .select(round(col("o_totalprice") * 100).cast("long").as("cents")),
          "cents")
        .orderBy(col("digit"))
    },
      // generate_series spine, string-head digit, mirrored log10 and
      // share trees
      """WITH v AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
        |), d AS (
        |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM v WHERE cents > 0 GROUP BY 1
        |), spine AS (
        |  SELECT unnest(range(1, 10)) AS digit
        |), f AS (
        |  SELECT spine.digit, CAST(coalesce(d.n, 0) AS BIGINT) AS n
        |  FROM spine LEFT JOIN d USING (digit)
        |), t AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nt FROM f
        |)
        |SELECT CAST(f.digit AS BIGINT) AS digit, f.n,
        |  CAST(round(1e9 * CAST(f.n AS DOUBLE) / CAST(nt AS DOUBLE)) AS BIGINT) AS share_nano,
        |  CAST(round(1e9 * log10((CAST(f.digit AS DOUBLE) + 1.0) / CAST(f.digit AS DOUBLE))) AS BIGINT) AS benford_nano,
        |  abs(CAST(round(1e9 * CAST(f.n AS DOUBLE) / CAST(nt AS DOUBLE)) AS BIGINT) -
        |      CAST(round(1e9 * log10((CAST(f.digit AS DOUBLE) + 1.0) / CAST(f.digit AS DOUBLE))) AS BIGINT)) AS dev_nano
        |FROM f, t ORDER BY digit""".stripMargin),
    // ---- calibration bins / ECE: hash-percent confidences vs the
    // long-document label; per-bin exact rational |100·Σy − Σp|
    // over one division, summable to the ECE ----
    QuerySpec("q_calibration", (s, dir) => {
      val docs = Tables.documents(s, dir).select(
        graft.ops.Sampling.hashBucket(col("doc_id")).cast("long").as("conf_pct"),
        when(length(col("text")) > 500, 1L).otherwise(0L).as("y"))
      graft.ops.Eval.calibrationBins(docs, "conf_pct", "y", bins = 10)
        .orderBy(col("bin"))
    },
      // hash-percent confidence, 10 integer-div bins; |100·Σy − Σp|
      // exact, one mirrored division per bin
      """WITH d AS (
        |  SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS p,
        |    CASE WHEN length(text) > 500 THEN 1 ELSE 0 END AS y
        |  FROM documents
        |), b AS (
        |  SELECT LEAST((p * 10) // 100, 9) AS bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS sum_label, CAST(sum(p) AS BIGINT) AS sum_pct
        |  FROM d GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nt FROM b
        |)
        |SELECT CAST(bin AS BIGINT) AS bin, n, sum_label, sum_pct,
        |  CAST(round((1e9 * CAST(abs(100*sum_label - sum_pct) AS DOUBLE)) /
        |    (100.0 * CAST(nt AS DOUBLE))) AS BIGINT) AS ece_nano
        |FROM b, t ORDER BY bin""".stripMargin),
    // ---- exact distributed ROC-AUC (Mann-Whitney with midranks):
    // the JL coordinate-0 score against the label<5 split —
    // integer rank sums end to end, ties handled properly ----
    QuerySpec("q_auc", (s, dir) => {
      val scored = Tables.embeddings(s, dir).select(col("vec_id"),
        element_at(graft.operators.Similarity.randomProject(
          graft.operators.Similarity.quantize(col("embedding")), k = 1), 1).as("score"),
        when(col("label") < 5, 1L).otherwise(0L).as("y"))
      graft.ops.Eval.aucFromScores(scored, "score", "y")
    },
      // ranks via row_number, tie groups by score, the U2 identity in
      // integers; one mirrored division at the end
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS v,
        |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
        |  FROM embeddings
        |), plane AS (
        |  SELECT list_transform(range(0, 64), i ->
        |    CASE WHEN CAST(concat('0x', substr(md5(concat('0', ':', CAST(i AS VARCHAR))), 1, 15)) AS BIGINT) % 2 = 1
        |      THEN 1 ELSE -1 END) AS s
        |), scored AS (
        |  SELECT vec_id, y,
        |    CAST(list_sum(list_transform(range(1, len(q.v) + 1),
        |      ix -> q.v[ix] * plane.s[ix])) AS BIGINT) AS score
        |  FROM q, plane
        |), r AS (
        |  SELECT score, y, row_number() OVER (ORDER BY score, vec_id) AS rk FROM scored
        |), g AS (
        |  SELECT score, CAST(min(rk) AS BIGINT) AS st,
        |    CAST(count(*) AS BIGINT) AS c, CAST(sum(y) AS BIGINT) AS p
        |  FROM r GROUP BY 1
        |), s AS (
        |  SELECT CAST(sum(p) AS BIGINT) AS np, CAST(sum(c - p) AS BIGINT) AS nn,
        |    CAST(sum(p * (2*st + c - 1)) AS BIGINT) AS u2
        |  FROM g
        |)
        |SELECT np AS n_pos, nn AS n_neg,
        |  CAST(round((1e9 * CAST(u2 - np*(np+1) AS DOUBLE)) /
        |    (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE))) AS BIGINT) AS auc_nano
        |FROM s""".stripMargin),
    // ---- robust median imputation: every 7th event's value nulled
    // then refilled with the per-type exact lower median — a value
    // that occurs, not a mean dragged by the tail ----
    QuerySpec("q_impute", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          when(col("event_id") % 7 === 0, lit(null).cast("long"))
            .otherwise(round(col("value") * 100).cast("long")).as("cents"))
      graft.ops.Outliers.imputeMedian(ev, Seq("event_type"), "cents")
        .orderBy(col("event_id"))
    },
      // lower median at index ⌊(n−1)/2⌋ over the non-null sorted
      // array, the groupStats convention
      """WITH v AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN event_id % 7 = 0 THEN NULL
        |         ELSE CAST(round(value * 100) AS BIGINT) END AS cents
        |  FROM events WHERE value IS NOT NULL
        |), med AS (
        |  SELECT event_type,
        |    sorted[CAST(floor((n - 1) / 2) AS INT) + 1] AS m
        |  FROM (
        |    SELECT event_type, list_sort(list(cents)) AS sorted,
        |      CAST(count(cents) AS BIGINT) AS n
        |    FROM v WHERE cents IS NOT NULL GROUP BY 1)
        |)
        |SELECT v.event_id, v.event_type, v.cents,
        |  COALESCE(v.cents, med.m) AS filled,
        |  (v.cents IS NULL AND med.m IS NOT NULL) AS was_imputed
        |FROM v LEFT JOIN med USING (event_type)
        |ORDER BY v.event_id""".stripMargin),
    // ---- winsorization at the exact discrete per-type [p05, p95]:
    // tails clipped to values that actually occur, rows kept ----
    QuerySpec("q_winsorize", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      graft.ops.Outliers.winsorize(ev, Seq("event_type"), "cents", 0.05, 0.95)
        .orderBy(col("event_id"))
    },
      // same discrete ⌊p·(n−1)⌋ index as q_quantiles; clip is pure
      // integer comparisons against bounds that occur in the data
      """WITH v AS (
        |  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL
        |), b AS (
        |  SELECT event_type,
        |    sorted[CAST(floor((n - 1) * 0.05) AS INT) + 1] AS lo,
        |    sorted[CAST(floor((n - 1) * 0.95) AS INT) + 1] AS hi
        |  FROM (
        |    SELECT event_type, list_sort(list(cents)) AS sorted,
        |      CAST(count(*) AS BIGINT) AS n
        |    FROM v GROUP BY 1)
        |)
        |SELECT v.event_id, v.event_type, v.cents,
        |  LEAST(GREATEST(v.cents, b.lo), b.hi) AS clipped,
        |  (v.cents < b.lo OR v.cents > b.hi) AS was_clipped
        |FROM v JOIN b USING (event_type)
        |ORDER BY event_id""".stripMargin),
    // ---- deterministic distributed classifier training (the
    // quality-scorer shape): algebraic-sigmoid link (no libm — IEEE
    // mul/div/abs only, bit-identical cross-engine), micro-rounded
    // residuals, EXACT order-free decimal gradient sums, 3 GD
    // iterations; the oracle replays the identical dataflow and the
    // raw double weights hash-match ----
    QuerySpec("q_logreg", (s, dir) => {
      val d = Tables.documents(s, dir)
        .where(col("text").isNotNull && col("lang").isNotNull)
        .select(
          (col("lang") === "en").cast("long").as("y"),
          expr("length(text) div 100").cast("long").as("x1"),
          expr("size(split(text, ' ')) div 10").cast("long").as("x2"),
          length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("x3"))
      graft.operators.LogReg.weightsFrame(d, "y", Seq("x1", "x2", "x3"),
        lr = 0.5, iters = 3)
        .orderBy(col("term"))
    },
      // the trainer's oracle replays the identical dataflow: algebraic
      // sigmoid (no libm), micro-rounded residuals of bit-identical
      // doubles, exact HUGEINT gradient sums (order-free like the
      // engine's decimal sums), correctly-rounded conversion, same
      // update expression — 3 iterations unrolled; raw-double hash
      """WITH e AS (
        |  SELECT CAST(lang = 'en' AS BIGINT) AS y,
        |    length(text) // 100 AS x1,
        |    len(string_split(text, ' ')) // 10 AS x2,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS x3
        |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
        |), cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
        |wa AS (SELECT CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS c1,
        |              CAST(0 AS DOUBLE) AS c2, CAST(0 AS DOUBLE) AS c3),
        |r1 AS (
        |  SELECT y, x1, x2, x3, CAST(round(CAST(1000000.0 AS DOUBLE) *
        |    ((CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * (z / (CAST(1.0 AS DOUBLE) + abs(z))))
        |      - CAST(y AS DOUBLE))) AS BIGINT) AS r6
        |  FROM (SELECT e.y, e.x1, e.x2, e.x3,
        |    ((w.b + w.c1 * CAST(e.x1 AS DOUBLE)) + w.c2 * CAST(e.x2 AS DOUBLE))
        |      + w.c3 * CAST(e.x3 AS DOUBLE) AS z FROM e, wa w)
        |), g1 AS (SELECT SUM(r6) AS g0, SUM(r6 * x1) AS gx1,
        |                 SUM(r6 * x2) AS gx2, SUM(r6 * x3) AS gx3 FROM r1),
        |wb AS (SELECT
        |  w.b  - CAST(0.5 AS DOUBLE) * ((CAST(g.g0  AS DOUBLE) / CAST(1000000.0 AS DOUBLE)) / c.n) AS b,
        |  w.c1 - CAST(0.5 AS DOUBLE) * ((CAST(g.gx1 AS DOUBLE) / CAST(1000000.0 AS DOUBLE)) / c.n) AS c1,
        |  w.c2 - CAST(0.5 AS DOUBLE) * ((CAST(g.gx2 AS DOUBLE) / CAST(1000000.0 AS DOUBLE)) / c.n) AS c2,
        |  w.c3 - CAST(0.5 AS DOUBLE) * ((CAST(g.gx3 AS DOUBLE) / CAST(1000000.0 AS DOUBLE)) / c.n) AS c3
        |  FROM wa w, g1 g, cnt c),
        |r2 AS (
        |  SELECT y, x1, x2, x3, CAST(round(CAST(1000000.0 AS DOUBLE) *
        |    ((CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * (z / (CAST(1.0 AS DOUBLE) + abs(z))))
        |      - CAST(y AS DOUBLE))) AS BIGINT) AS r6
        |  FROM (SELECT e.y, e.x1, e.x2, e.x3,
        |    ((w.b + w.c1 * CAST(e.x1 AS DOUBLE)) + w.c2 * CAST(e.x2 AS DOUBLE))
        |      + w.c3 * CAST(e.x3 AS DOUBLE) AS z FROM e, wb w)
        |), g2 AS (SELECT SUM(r6) AS g0, SUM(r6 * x1) AS gx1,
        |                 SUM(r6 * x2) AS gx2, SUM(r6 * x3) AS gx3 FROM r2),
        |wc AS (SELECT
        |  w.b  - CAST(0.5 AS DOUBLE) * ((CAST(g.g0  AS DOUBLE) / CAST(1000000.0 AS DOUBLE)) / c.n) AS b,
        |  w.c1 - CAST(0.5 AS DOUBLE) * ((CAST(g.gx1 AS DOUBLE) / CAST(1000000.0 AS DOUBLE)) / c.n) AS c1,
        |  w.c2 - CAST(0.5 AS DOUBLE) * ((CAST(g.gx2 AS DOUBLE) / CAST(1000000.0 AS DOUBLE)) / c.n) AS c2,
        |  w.c3 - CAST(0.5 AS DOUBLE) * ((CAST(g.gx3 AS DOUBLE) / CAST(1000000.0 AS DOUBLE)) / c.n) AS c3
        |  FROM wb w, g2 g, cnt c),
        |r3 AS (
        |  SELECT y, x1, x2, x3, CAST(round(CAST(1000000.0 AS DOUBLE) *
        |    ((CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * (z / (CAST(1.0 AS DOUBLE) + abs(z))))
        |      - CAST(y AS DOUBLE))) AS BIGINT) AS r6
        |  FROM (SELECT e.y, e.x1, e.x2, e.x3,
        |    ((w.b + w.c1 * CAST(e.x1 AS DOUBLE)) + w.c2 * CAST(e.x2 AS DOUBLE))
        |      + w.c3 * CAST(e.x3 AS DOUBLE) AS z FROM e, wc w)
        |), g3 AS (SELECT SUM(r6) AS g0, SUM(r6 * x1) AS gx1,
        |                 SUM(r6 * x2) AS gx2, SUM(r6 * x3) AS gx3 FROM r3),
        |wd AS (SELECT
        |  w.b  - CAST(0.5 AS DOUBLE) * ((CAST(g.g0  AS DOUBLE) / CAST(1000000.0 AS DOUBLE)) / c.n) AS b,
        |  w.c1 - CAST(0.5 AS DOUBLE) * ((CAST(g.gx1 AS DOUBLE) / CAST(1000000.0 AS DOUBLE)) / c.n) AS c1,
        |  w.c2 - CAST(0.5 AS DOUBLE) * ((CAST(g.gx2 AS DOUBLE) / CAST(1000000.0 AS DOUBLE)) / c.n) AS c2,
        |  w.c3 - CAST(0.5 AS DOUBLE) * ((CAST(g.gx3 AS DOUBLE) / CAST(1000000.0 AS DOUBLE)) / c.n) AS c3
        |  FROM wc w, g3 g, cnt c)
        |SELECT 'intercept' AS term, b AS weight FROM wd
        |UNION ALL SELECT 'x1' AS term, c1 AS weight FROM wd
        |UNION ALL SELECT 'x2' AS term, c2 AS weight FROM wd
        |UNION ALL SELECT 'x3' AS term, c3 AS weight FROM wd
        |ORDER BY term""".stripMargin),
    // ---- pointwise mutual information between lang and source:
    // one cell-count aggregate, marginals folded from the cell
    // frame, nano-rounded ln contributions (the Drift.psi
    // determinism contract) ----
    QuerySpec("q_mutual_info", (s, dir) => {
      graft.ops.Association.mutualInformation(
          Tables.documents(s, dir), "lang", "source")
        .orderBy(col("lang"), col("source"))
    },
      // the MI expression tree mirrors the operator token for token:
      // (c/N)·ln(c·N/(nx·ny)) in doubles over exact integer counts,
      // nano-rounded per cell
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_xy
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2
        |), nx AS (
        |  SELECT lang, CAST(sum(n_xy) AS BIGINT) AS nx FROM cells GROUP BY 1
        |), ny AS (
        |  SELECT source, CAST(sum(n_xy) AS BIGINT) AS ny FROM cells GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM cells
        |)
        |SELECT cells.lang, cells.source, n_xy,
        |  CAST(round(1e9 * (CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    ln((CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)) /
        |       (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))) AS BIGINT) AS mi_nano
        |FROM cells JOIN nx USING (lang) JOIN ny USING (source), t
        |ORDER BY 1, 2""".stripMargin),
    // ---- count-min join-size estimation: the self-join cardinality
    // of lineitem on l_partkey (= the second frequency moment F2)
    // estimated from a 4x4096 grid's inner product, next to the
    // exact answer — grid-sized work, zero input rescans; both
    // numbers deterministic integers, so both are oracle-exact ----
    QuerySpec("q_cm_joinsize", (s, dir) => {
      val keys = Tables.lineitem(s, dir).select(col("l_partkey"))
      // per-key counts feed BOTH the grid (buildWeighted hashes each
      // distinct key once — identical cells, ~3% of the md5 calls;
      // r14 optimization) and the exact F2 — one aggregate, two uses
      val counts = keys.groupBy(col("l_partkey")).agg(count(lit(1)).as("f"))
      val grid = graft.operators.CountMin.buildWeighted(counts, "l_partkey", "f",
        depth = 4, width = 4096)
      val est = graft.operators.CountMin.joinSizeEstimate(grid, grid)
      val exact = counts
        .agg(sum(col("f") * col("f")).cast("long").as("exact_size"))
      est.crossJoin(broadcast(exact)) // two 1-row scalars
    },
      // the grid construction replays on the q_countmin md5-hash
      // formula; est = min over rows of the cell-wise dot, exact =
      // sum of squared key frequencies
      """WITH rows4 AS (
        |  SELECT unnest(range(0, 4)) AS r
        |), cells AS (
        |  SELECT r,
        |    CAST(concat('0x', substr(md5(concat(CAST(r AS VARCHAR), ':', CAST(l_partkey AS VARCHAR))), 1, 15)) AS BIGINT) % 4096 AS c,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem, rows4
        |  WHERE l_partkey IS NOT NULL
        |  GROUP BY 1, 2
        |), dots AS (
        |  SELECT r, sum(cnt * cnt) AS dot FROM cells GROUP BY r
        |), est AS (
        |  SELECT CAST(min(dot) AS BIGINT) AS join_size_est FROM dots
        |), ex AS (
        |  SELECT CAST(sum(f * f) AS BIGINT) AS exact_size FROM (
        |    SELECT count(*) AS f FROM lineitem GROUP BY l_partkey)
        |)
        |SELECT est.join_size_est, ex.exact_size FROM est, ex""".stripMargin),
    // ---- equi-DEPTH histogram (contrast q_histogram's equi-width):
    // 20 tiles of equal population via the no-global-window ntile;
    // min/max per tile are exact double endpoints ----
    QuerySpec("q_histogram_eqdepth", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("value").isNotNull)
        .select(col("event_id"), col("value"))
      graft.ops.Ids.globalNtile(ev, "value", Seq("event_id"), n = 20, buckets = 32)
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("value")).as("lo"), max(col("value")).as("hi"))
        .orderBy(col("tile"))
    },
      // ntile over the full order is the semantic; the operator
      // computes it without the single-task window. min/max of double
      // are comparisons, not arithmetic — bit-exact both engines.
      """SELECT tile, CAST(count(*) AS BIGINT) AS n_rows,
        |  min(value) AS lo, max(value) AS hi
        |FROM (
        |  SELECT value,
        |    CAST(ntile(20) OVER (ORDER BY value, event_id) AS INT) AS tile
        |  FROM events WHERE value IS NOT NULL
        |)
        |GROUP BY tile
        |ORDER BY tile""".stripMargin),
    // ---- exact discrete quantiles per group: sorted integer-cents
    // array indexed at floor((n-1)·p) — deterministic in any engine,
    // unlike interpolated percentile_cont over doubles ----
    QuerySpec("q_quantiles", (s, dir) => {
      Tables.events(s, dir).where(col("value").isNotNull)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"))
        .agg(sort_array(collect_list(col("cents"))).as("sorted"), count(lit(1)).as("n"))
        .select(col("event_type"), col("n"),
          (element_at(col("sorted"), (floor((col("n") - 1) * 0.5) + 1).cast("int")) / 100.0).as("p50"),
          (element_at(col("sorted"), (floor((col("n") - 1) * 0.9) + 1).cast("int")) / 100.0).as("p90"),
          (element_at(col("sorted"), (floor((col("n") - 1) * 0.99) + 1).cast("int")) / 100.0).as("p99"))
        .orderBy(col("event_type"))
    }, """WITH v AS (
        |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL
        |), g AS (
        |  SELECT event_type, list_sort(list(cents)) AS sorted, count(*) AS n
        |  FROM v GROUP BY 1
        |)
        |SELECT event_type, n,
        |       sorted[CAST(floor((n-1)*0.5) AS BIGINT) + 1] / 100.0 AS p50,
        |       sorted[CAST(floor((n-1)*0.9) AS BIGINT) + 1] / 100.0 AS p90,
        |       sorted[CAST(floor((n-1)*0.99) AS BIGINT) + 1] / 100.0 AS p99
        |FROM g""".stripMargin),
    // ---- exact two-sample KS drift between the month's halves:
    // cross-multiplied cumulative counts keep the statistic in
    // integers (cross-engine bit-exact); the cumulative pass runs
    // over the distinct-cent histogram, not the rows ----
    QuerySpec("q_ks_drift", (s, dir) => {
      val ev = Tables.events(s, dir).where(col("value").isNotNull)
        .select(col("ts"), round(col("value") * 100).cast("long").as("cents"))
      val cut = lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
      graft.ops.Drift.ksStatistic(
        ev.where(col("ts") < cut), ev.where(col("ts") >= cut), "cents")
    },
      // Exact KS: same histogram → cumulative → cross-multiplied max.
      """WITH av AS (
        |  SELECT CAST(round(value*100) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |), bv AS (
        |  SELECT CAST(round(value*100) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-15 00:00:00'
        |), h AS (
        |  SELECT v, CAST(sum(na) AS BIGINT) AS nav, CAST(sum(nb) AS BIGINT) AS nbv
        |  FROM (SELECT v, 1 AS na, 0 AS nb FROM av
        |        UNION ALL SELECT v, 0, 1 FROM bv)
        |  GROUP BY v
        |), c AS (
        |  SELECT v,
        |    CAST(sum(nav) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
        |    CAST(sum(nbv) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb
        |  FROM h
        |), t AS (
        |  SELECT CAST((SELECT count(*) FROM av) AS BIGINT) AS n_a,
        |         CAST((SELECT count(*) FROM bv) AS BIGINT) AS n_b
        |)
        |SELECT CAST(max(abs(c.ca*t.n_b - c.cb*t.n_a)) AS BIGINT) AS ks_num,
        |  t.n_a, t.n_b,
        |  CAST(CAST(max(abs(c.ca*t.n_b - c.cb*t.n_a)) AS BIGINT) AS DOUBLE)
        |    / CAST(t.n_a*t.n_b AS DOUBLE) AS ks
        |FROM c, t GROUP BY t.n_a, t.n_b""".stripMargin),
    // ---- PSI over the same month-halves: per-bucket contributions
    // in integer nano-units (Laplace-smoothed shares), so the total
    // is an exact long sum — the deterministic-divergence companion
    // to q_ks_drift ----
    QuerySpec("q_psi_bins", (s, dir) => {
      val ev = Tables.events(s, dir).where(col("value").isNotNull)
        .select(col("ts"), round(col("value") * 100).cast("long").as("cents"))
      val cut = lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
      graft.ops.Drift.psi(
          ev.where(col("ts") < cut), ev.where(col("ts") >= cut), "cents", width = 500L)
        .orderBy(col("bucket"))
    },
      // PSI: identical expression shape to Drift.psi — exact-integer
      // numerators/denominators, two divisions, one ln, round to nano.
      """WITH av AS (
        |  SELECT CAST(round(value*100) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |), bv AS (
        |  SELECT CAST(round(value*100) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-15 00:00:00'
        |), h AS (
        |  SELECT CAST(floor(v / 500) AS BIGINT) AS bucket,
        |         CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b
        |  FROM (SELECT v, 1 AS na, 0 AS nb FROM av
        |        UNION ALL SELECT v, 0, 1 FROM bv)
        |  GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb,
        |         CAST(count(*) AS BIGINT) AS nbk
        |  FROM h
        |)
        |SELECT h.bucket, h.n_a, h.n_b,
        |  CAST(round(
        |    (CAST(h.n_a + 1 AS DOUBLE) / CAST(t.ta + t.nbk AS DOUBLE)
        |      - CAST(h.n_b + 1 AS DOUBLE) / CAST(t.tb + t.nbk AS DOUBLE))
        |    * ln((CAST(h.n_a + 1 AS DOUBLE) * CAST(t.tb + t.nbk AS DOUBLE))
        |         / (CAST(t.ta + t.nbk AS DOUBLE) * CAST(h.n_b + 1 AS DOUBLE)))
        |    * 1e9) AS BIGINT) AS psi_e9
        |FROM h, t ORDER BY h.bucket""".stripMargin),
    // ---- market-basket mining on the deterministic quarter of
    // orders (the q_triangles sizing): apriori-pruned frequent part
    // pairs, then item-item cosine in exact nano-units (IEEE sqrt +
    // division are correctly rounded; the counts do the summing) ----
    QuerySpec("q_freq_pairs", (s, dir) => {
      val li = Tables.lineitem(s, dir).where(col("l_orderkey") % 4 === 0)
      graft.ops.Baskets.frequentPairs(li, "l_orderkey", "l_partkey", minSupport = 2)
        .orderBy(col("item_a"), col("item_b"))
    }, """WITH f AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 4 = 0
        |), freq AS (
        |  SELECT i FROM f GROUP BY i HAVING count(*) >= 2
        |), pf AS (
        |  SELECT f.b, f.i FROM f JOIN freq USING (i)
        |)
        |SELECT a.i AS item_a, b2.i AS item_b, CAST(count(*) AS BIGINT) AS support
        |FROM pf a JOIN pf b2 ON a.b = b2.b AND a.i < b2.i
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY 1, 2""".stripMargin),
    QuerySpec("q_item_cosine", (s, dir) => {
      val li = Tables.lineitem(s, dir).where(col("l_orderkey") % 4 === 0)
      graft.ops.Baskets.cosinePairs(li, "l_orderkey", "l_partkey", minSupport = 2)
        .orderBy(col("item_a"), col("item_b"))
    },
      // item-item cosine: identical expression shape to
      // Baskets.cosinePairs — exact counts, one sqrt, one division,
      // round to nano.
      """WITH f AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 4 = 0
        |), freq AS (
        |  SELECT i FROM f GROUP BY i HAVING count(*) >= 2
        |), pf AS (
        |  SELECT f.b, f.i FROM f JOIN freq USING (i)
        |), cnt AS (
        |  SELECT i, CAST(count(*) AS BIGINT) AS c FROM pf GROUP BY i
        |), pairs AS (
        |  SELECT a.i AS item_a, b2.i AS item_b, CAST(count(*) AS BIGINT) AS support
        |  FROM pf a JOIN pf b2 ON a.b = b2.b AND a.i < b2.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |)
        |SELECT p.item_a, p.item_b, p.support,
        |  CAST(round(CAST(p.support AS DOUBLE)
        |      / sqrt(CAST(ca.c * cb.c AS DOUBLE)) * 1e9) AS BIGINT) AS cos_e9
        |FROM pairs p
        |JOIN cnt ca ON ca.i = p.item_a
        |JOIN cnt cb ON cb.i = p.item_b
        |ORDER BY p.item_a, p.item_b""".stripMargin),
    // ---- robust outliers (Hampel: |x − median| > 3·MAD): exact
    // discrete medians over integer cents — no floating point in
    // the rule at all, so the flags replicate bit-for-bit ----
    QuerySpec("q_mad_outliers", (s, dir) => {
      val v = Tables.events(s, dir).where(col("value").isNotNull)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      val stats = graft.ops.Outliers.groupStats(v, Seq("event_type"), "cents")
      val counts = graft.ops.Outliers.flag(v, Seq("event_type"), "cents", 3)
        .groupBy(col("event_type"))
        .agg(sum(col("is_outlier").cast("long")).as("n_outliers"))
      stats.join(counts, Seq("event_type"))
        .select(col("event_type"), col("n"), col("median"), col("mad"), col("n_outliers"))
        .orderBy(col("event_type"))
    },
      // MAD outliers: exact lower-medians over sorted cent arrays,
      // Hampel flags counted per group.
      """WITH v AS (
        |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL
        |), g AS (
        |  SELECT event_type, list_sort(list(cents)) AS sorted, count(*) AS n
        |  FROM v GROUP BY 1
        |), m AS (
        |  SELECT event_type, n, sorted,
        |    sorted[CAST((n-1)//2 AS BIGINT) + 1] AS median
        |  FROM g
        |), s AS (
        |  SELECT event_type, n, median,
        |    list_sort(list_transform(sorted, x -> abs(x - median)))[CAST((n-1)//2 AS BIGINT) + 1] AS mad
        |  FROM m
        |), c AS (
        |  SELECT v.event_type,
        |    sum(CASE WHEN abs(v.cents - s.median) > 3*s.mad THEN 1 ELSE 0 END) AS n_outliers
        |  FROM v JOIN s USING (event_type) GROUP BY 1
        |)
        |SELECT s.event_type, CAST(s.n AS BIGINT) AS n,
        |  CAST(s.median AS BIGINT) AS median, CAST(s.mad AS BIGINT) AS mad,
        |  CAST(c.n_outliers AS BIGINT) AS n_outliers
        |FROM s JOIN c USING (event_type) ORDER BY 1""".stripMargin),
    // ---- A6 standalone: deterministic mode per key ----
    QuerySpec("q_mode_det", (s, dir) => {
      Tables.events(s, dir).where(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(mode(col("event_type"), deterministic = true).as("dominant_type"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("user_id"))
    }, """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS n FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1,2
        |)
        |SELECT c.user_id, c.event_type AS dominant_type, t.n_rows
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rn FROM c) c
        |JOIN (SELECT user_id, count(*) AS n_rows FROM events WHERE user_id IS NOT NULL GROUP BY 1) t
        |  USING (user_id)
        |WHERE c.rn = 1""".stripMargin),
    // ---- distinct counting (exact; the approx fast path is the
    // deliberately-unregistered engine-private HLL — see the sketch
    // section comment) ----
    QuerySpec("q_distinct_stats", (s, dir) => {
      Tables.events(s, dir).where(col("user_id").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_rows"),
          countDistinct(to_date(col("ts"))).as("n_days")
        )
        .orderBy(col("event_type"))
    }, """SELECT event_type,
        |  count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_rows,
        |  count(DISTINCT CAST(ts AS DATE)) AS n_days
        |FROM events WHERE user_id IS NOT NULL GROUP BY 1""".stripMargin),
    // ---- sketches & stubs. The native-Datasketches approximate
    // distinct path (hll_sketch_agg / approx_count_distinct) is
    // deliberately NOT registered: its sketch bytes are
    // engine-private, so it can never carry a cross-engine oracle —
    // its accuracy is spec-bounded instead (SketchSpec: estimate
    // within 3×rsd of exact per group on the real data) and the
    // portable twin q_hll_portable carries the full exact
    // cross-engine oracle for the same query shape. Every query
    // registered here has an exact oracle (constant planes and
    // md5-seeded stubs are SQL-replicable) ----
    // ---- count-min sketch: mergeable frequency grid over lineitem
    // supplier keys, estimated at every supplier probe. Deterministic
    // md5-hash cells ⇒ the approximate estimates themselves are
    // exact-oracle-reproducible ----
    QuerySpec("q_countmin", (s, dir) => {
      val cells = graft.operators.CountMin.build(
        Tables.lineitem(s, dir).select(col("l_suppkey")), "l_suppkey",
        depth = 4, width = 512)
      graft.operators.CountMin.estimate(cells,
          Tables.supplier(s, dir).select(col("s_suppkey").as("l_suppkey")),
          "l_suppkey", depth = 4, width = 512)
        .select(col("l_suppkey").as("s_suppkey"), col("est"))
        .orderBy(col("s_suppkey"))
    },
      // Mirrors Vocab.surprisal: floor-log2 via binary-string length
      // (length(bin(x)) − 1 in both engines — exact integers, no IEEE
      // log), integer bit sums, ONE double division per doc. The
      // documents spine (LEFT JOIN) keeps token-less docs at 0.
      // Mirrors CountMin.build/estimate: same md5-prefix hash60 of
      // "r:key" mod 512 cell addressing, count cells, min over the 4
      // rows with absent cells as 0. The estimates are deterministic,
      // so the approximate sketch hash-matches exactly.
      """WITH rows4 AS (
        |  SELECT unnest(range(0, 4)) AS r
        |), cells AS (
        |  SELECT r,
        |    CAST(concat('0x', substr(md5(concat(CAST(r AS VARCHAR), ':', CAST(l_suppkey AS VARCHAR))), 1, 15)) AS BIGINT) % 512 AS c,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem, rows4
        |  WHERE l_suppkey IS NOT NULL
        |  GROUP BY 1, 2
        |), pc AS (
        |  SELECT p.s_suppkey, rows4.r,
        |    CAST(concat('0x', substr(md5(concat(CAST(rows4.r AS VARCHAR), ':', CAST(p.s_suppkey AS VARCHAR))), 1, 15)) AS BIGINT) % 512 AS c
        |  FROM (SELECT DISTINCT s_suppkey FROM supplier WHERE s_suppkey IS NOT NULL) p, rows4
        |)
        |SELECT pc.s_suppkey, CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS est
        |FROM pc LEFT JOIN cells ON pc.r = cells.r AND pc.c = cells.c
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- sketch-gated exact heavy hitters: the count-min gate
    // passes a superset (no false negatives), the exact re-count
    // removes false positives — so the ORACLE is the plain
    // GROUP BY + HAVING the operator avoids running over every
    // distinct key ----
    QuerySpec("q_heavy_hitters", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(split(col("text"), " +")).as("token"))
        .where(length(col("token")) > 0)
      graft.operators.HeavyHitters.exactAtLeast(toks, "token", 0.0337)
        .orderBy(col("cnt").desc, col("token"))
    },
      // The heavy-hitters CONTRACT, not its machinery: the count-min
      // gate is a no-false-negative superset and the re-count is
      // exact, so the result equals the plain GROUP BY + HAVING.
      """WITH t AS (
        |  SELECT unnest(list_filter(string_split_regex(text, ' +'), x -> len(x) > 0)) AS token
        |  FROM documents
        |), n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |FROM t, n
        |GROUP BY token, n.total
        |HAVING count(*) >= greatest(CAST(ceil(0.0337::DOUBLE * n.total) AS BIGINT), 1)
        |ORDER BY cnt DESC, token""".stripMargin),
    // ---- mergeable quantile sketch: HDR-style integer log bins
    // (exact floor-log2, no IEEE log) built at a fine (returnflag,
    // linestatus) grain, sum-merged to returnflag, quantiles read
    // off the merged counts. The oracle bins DIRECTLY at returnflag
    // grain — hash equality proves rollup ≡ direct build across
    // engines, same contract as q_hll_portable ----
    QuerySpec("q_quantile_sketch", (s, dir) => {
      val cents = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val fine = graft.operators.QuantileSketch.build(
        cents, Seq("l_returnflag", "l_linestatus"), "cents")
      val merged = graft.operators.QuantileSketch.rollup(fine, Seq("l_returnflag"))
      graft.operators.QuantileSketch.estimate(merged, Seq("l_returnflag"), Seq(0.5, 0.9, 0.99))
        .orderBy(col("l_returnflag"), col("q"))
    },
      // Mirrors QuantileSketch at subBits=5: small values (< 32) are
      // their own bin; otherwise (b-4)*32 + (v >> (b-5)) - 32 with
      // b = length(bin(v)) - 1 (exact floor-log2, both engines).
      // Direct build at l_returnflag grain vs Spark's fine-grain
      // rollup: the hash match is the merge-invariance assertion.
      // ceil(q*N) nearest-rank targets; estimates are exact bin
      // lower bounds (pure integers). ::DOUBLE on q literals keeps
      // DuckDB out of DECIMAL arithmetic.
      """WITH v AS (
        |  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem
        |), bb AS (
        |  SELECT l_returnflag, CASE WHEN v < 32 THEN v
        |    ELSE (length(bin(v)) - 1 - 4) * 32 + ((v >> (length(bin(v)) - 1 - 5)) - 32)
        |    END AS bin
        |  FROM v
        |), sk AS (
        |  SELECT l_returnflag, bin, CAST(count(*) AS BIGINT) AS cnt
        |  FROM bb GROUP BY 1, 2
        |), c AS (
        |  SELECT l_returnflag, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
        |    sum(cnt) OVER (PARTITION BY l_returnflag) AS n
        |  FROM sk
        |), qq AS (
        |  SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q
        |)
        |SELECT c.l_returnflag, qq.q,
        |  CAST(CASE WHEN bin < 32 THEN bin
        |       ELSE ((bin % 32) + 32) << (CAST(bin // 32 AS INT) - 1) END AS BIGINT) AS est
        |FROM c, qq
        |WHERE cum >= greatest(CAST(ceil(qq.q * n) AS BIGINT), 1)
        |  AND cum - cnt < greatest(CAST(ceil(qq.q * n) AS BIGINT), 1)
        |ORDER BY 1, 2""".stripMargin),
    // ---- portable HLL: engine-independent register ROWS built at a
    // fine (event_type, day) grain, max-merged to event_type, then
    // estimated as whole counts. The DuckDB oracle builds the
    // event_type registers DIRECTLY from raw data — the hash match
    // proves rollup ≡ direct build ACROSS ENGINES, the portable-
    // sketch contract the native Datasketches binaries behind
    // the native-Datasketches fast path cannot offer ----
    QuerySpec("q_hll_portable", (s, dir) => {
      val ev = Tables.events(s, dir).where(col("user_id").isNotNull)
        .withColumn("day", to_date(col("ts")))
      val daily = graft.operators.PortableHll.registers(ev, Seq("event_type", "day"), "user_id")
      val merged = graft.operators.PortableHll.rollup(daily, Seq("event_type"))
      graft.operators.PortableHll.estimate(merged, Seq("event_type"), out = "est_users")
        .orderBy(col("event_type"))
    },
      // Mirrors PortableHll: same hash60, low-10-bit register index,
      // trailing-zero rho via bit_count((w & -w) - 1) + 1 — all exact
      // integers — then the classic HLL estimate with linear-counting
      // correction. Built DIRECTLY at event_type grain: matching the
      // Spark side's (event_type, day) -> rollup path is the cross-
      // engine merge-invariance assertion. Constants are ::DOUBLE
      // (DuckDB parses bare decimals as DECIMAL, which would divide
      // under different rounding); the estimate rounds to a whole
      // count, so a last-ulp libm ln() difference cannot surface.
      """WITH h AS (
        |  SELECT event_type,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events WHERE user_id IS NOT NULL
        |), b AS (
        |  SELECT event_type, CAST(hv % 1024 AS INT) AS reg, hv // 1024 AS w FROM h
        |), r AS (
        |  SELECT event_type, reg,
        |    max(CASE WHEN w = 0 THEN 51
        |             ELSE CAST(bit_count((w & (-w)) - 1) AS INT) + 1 END) AS r
        |  FROM b GROUP BY 1, 2
        |), s AS (
        |  SELECT event_type,
        |    sum(CAST((1::BIGINT << (60 - r)) AS HUGEINT)) AS sp,
        |    CAST(count(*) AS BIGINT) AS np
        |  FROM r GROUP BY 1
        |), e AS (
        |  SELECT event_type, 1024 - np AS zeros,
        |    ((0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 1024.0::DOUBLE))
        |      * 1048576.0::DOUBLE * 1152921504606846976.0::DOUBLE)
        |      / CAST(sp + CAST(1024 - np AS HUGEINT) * (1::BIGINT << 60) AS DOUBLE) AS rawE
        |  FROM s
        |)
        |SELECT event_type,
        |  CAST(round(CASE WHEN zeros > 0 AND rawE <= 2560.0::DOUBLE
        |                  THEN 1024.0::DOUBLE * ln(1024.0::DOUBLE / CAST(zeros AS DOUBLE))
        |                  ELSE rawE END) AS BIGINT) AS est_users
        |FROM e ORDER BY event_type""".stripMargin),
    // ---- KMV bottom-k sketch: fine (event_type, day) grain build,
    // bottom-k rollup to event_type, KMV distinct estimate. The
    // DuckDB oracle builds the bottom-k DIRECTLY at event_type grain
    // (row_number over distinct hash60 values) — the hash match is
    // the cross-engine merge-invariance assertion, same contract as
    // q_hll_portable / q_quantile_sketch ----
    QuerySpec("q_kmv_distinct", (s, dir) => {
      val ev = Tables.events(s, dir).where(col("user_id").isNotNull)
        .withColumn("day", to_date(col("ts")))
      val daily = graft.operators.KmvSketch.sketch(ev, Seq("event_type", "day"), "user_id")
      val merged = graft.operators.KmvSketch.rollup(daily, Seq("event_type"))
      graft.operators.KmvSketch.estimate(merged, Seq("event_type"))
        .orderBy(col("event_type"))
    },
      // Mirrors KmvSketch: bottom-k (k=256) of distinct hash60 values
      // built DIRECTLY at event_type grain via row_number — vs the
      // Spark side's fine (event_type, day) build + rollup. Hash match
      // = cross-engine merge-invariance, same contract as
      // q_hll_portable. Estimate: exact count when n < k, else the
      // KMV estimator (k−1)·2⁶⁰ / kth-min; pure integer inputs, one
      // double division, rounded to a whole count.
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events WHERE user_id IS NOT NULL
        |), sk AS (
        |  SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        |  FROM h
        |), b AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n, max(hv) AS kth
        |  FROM sk WHERE rn <= 256 GROUP BY 1
        |)
        |SELECT event_type,
        |  CAST(round(CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
        |    ELSE 255.0::DOUBLE * 1152921504606846976.0::DOUBLE
        |         / CAST(greatest(kth, 1) AS DOUBLE) END) AS BIGINT) AS distinct_est
        |FROM b ORDER BY event_type""".stripMargin),
    // ---- KMV pairwise overlap: the thing HLL registers cannot do —
    // intersections. Jaccard / union / intersection estimates for
    // every event-type pair, computed ENTIRELY in sketch space
    // (G²·k rows). Deterministic md5 bottom-k ⇒ the approximate
    // estimates themselves replay exactly in SQL ----
    QuerySpec("q_kmv_jaccard", (s, dir) => {
      val ev = Tables.events(s, dir).where(col("user_id").isNotNull)
      val sk = graft.operators.KmvSketch.sketch(ev, Seq("event_type"), "user_id")
      graft.operators.KmvSketch.pairwiseOverlap(sk, "event_type")
        .orderBy(col("g1"), col("g2"))
    },
      // Mirrors KmvSketch.pairwiseOverlap: per event-type bottom-k
      // sketches, then for each pair g1 < g2 the bottom-k of the
      // union with membership flags — matches = |both|, J = matches/k,
      // union from the KMV estimator, intersection = J · union. All
      // deterministic (md5 bottom-k), so the approximate estimates
      // replay exactly.
      """WITH h AS (
        |  SELECT DISTINCT event_type AS g,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events WHERE user_id IS NOT NULL
        |), sk AS (
        |  SELECT g, hv FROM (
        |    SELECT g, hv, row_number() OVER (PARTITION BY g ORDER BY hv) AS rn FROM h
        |  ) WHERE rn <= 256
        |), gs AS (SELECT DISTINCT g FROM sk),
        |pairs AS (
        |  SELECT a.g AS g1, b.g AS g2 FROM gs a, gs b WHERE a.g < b.g
        |), m AS (
        |  SELECT p.g1, p.g2, s.hv,
        |    max(CASE WHEN s.g = p.g1 THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN s.g = p.g2 THEN 1 ELSE 0 END) AS in_b
        |  FROM pairs p JOIN sk s ON s.g = p.g1 OR s.g = p.g2
        |  GROUP BY 1, 2, 3
        |), uk AS (
        |  SELECT * FROM (
        |    SELECT g1, g2, hv, in_a, in_b,
        |      row_number() OVER (PARTITION BY g1, g2 ORDER BY hv) AS rn
        |    FROM m
        |  ) WHERE rn <= 256
        |), agg AS (
        |  SELECT g1, g2, CAST(count(*) AS BIGINT) AS n_union, max(hv) AS kth,
        |    CAST(sum(in_a * in_b) AS BIGINT) AS matches
        |  FROM uk GROUP BY 1, 2
        |), est AS (
        |  SELECT g1, g2, matches,
        |    CAST(matches AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard,
        |    CAST(round(CASE WHEN n_union < 256 THEN CAST(n_union AS DOUBLE)
        |      ELSE 255.0::DOUBLE * 1152921504606846976.0::DOUBLE
        |           / CAST(greatest(kth, 1) AS DOUBLE) END) AS BIGINT) AS union_est
        |  FROM agg
        |)
        |SELECT g1, g2, matches, jaccard, union_est,
        |  CAST(round(jaccard * CAST(union_est AS DOUBLE)) AS BIGINT) AS inter_est
        |FROM est ORDER BY g1, g2""".stripMargin),
    // ---- histogram with exact integer-cents bucketing (floor of a
    // double division is misround-safe at cent magnitudes) ----
    QuerySpec("q_histogram", (s, dir) => {
      Tables.events(s, dir).where(col("value").isNotNull)
        .withColumn("bucket",
          floor(round(col("value") * 100).cast("long") / lit(500.0)).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          (min(round(col("value") * 100).cast("long")) / 100.0).as("lo"),
          (max(round(col("value") * 100).cast("long")) / 100.0).as("hi"))
        .orderBy(col("bucket"))
    }, """SELECT CAST(floor(CAST(round(value*100) AS BIGINT) / 500.0) AS BIGINT) AS bucket,
        |       count(*) AS n_rows,
        |       min(CAST(round(value*100) AS BIGINT)) / 100.0 AS lo,
        |       max(CAST(round(value*100) AS BIGINT)) / 100.0 AS hi
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1""".stripMargin),
    // ---- per-column data-quality profile (pruned single-column scans) ----
    QuerySpec("q_profile", (s, dir) => {
      graft.ops.DataProfile.profileNumeric(Tables.events(s, dir),
          Seq("event_id", "user_id", "value"))
        .orderBy(col("col_name"))
    }, """SELECT 'event_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |  CAST(min(event_id) AS DOUBLE) AS min_val, CAST(max(event_id) AS DOUBLE) AS max_val
        |FROM events
        |UNION ALL
        |SELECT 'user_id', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT user_id) AS BIGINT),
        |  CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE)
        |FROM events
        |UNION ALL
        |SELECT 'value', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT value) AS BIGINT),
        |  CAST(min(value) AS DOUBLE), CAST(max(value) AS DOUBLE)
        |FROM events""".stripMargin),
    // ---- data-quality expectations: a named check battery in ONE
    // conditional-aggregation scan + per-keyset uniqueness; the
    // type_known check deliberately excludes 'signup' so the report
    // carries real violation counts ----
    QuerySpec("q_expectations", (s, dir) => {
      graft.ops.Expectations.report(Tables.events(s, dir),
          Seq(
            "event_id_nonnull" -> col("event_id").isNotNull,
            "type_known" -> col("event_type").isin("click", "view", "purchase", "error"),
            "value_in_range" -> (col("value") >= 0.0 && col("value") < 50.0)),
          Seq("event_id_unique" -> Seq("event_id"),
            "user_type_unique" -> Seq("user_id", "event_type")))
        .orderBy(col("check"))
    },
      // Expectations restated: one violation count per row check (NULL
      // predicate = violation), sum(n-1) per uniqueness keyset.
      """WITH rows_out AS (
        |  SELECT 'event_id_nonnull' AS "check",
        |    CAST(count(*) FILTER (WHERE NOT coalesce(event_id IS NOT NULL, false)) AS BIGINT) AS violations,
        |    CAST(count(*) AS BIGINT) AS total FROM events
        |  UNION ALL
        |  SELECT 'type_known',
        |    CAST(count(*) FILTER (WHERE NOT coalesce(event_type IN ('click', 'view', 'purchase', 'error'), false)) AS BIGINT),
        |    CAST(count(*) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'value_in_range',
        |    CAST(count(*) FILTER (WHERE NOT coalesce(value >= 0.0 AND value < 50.0, false)) AS BIGINT),
        |    CAST(count(*) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'event_id_unique', CAST(coalesce(sum(n - 1), 0) AS BIGINT),
        |    CAST(coalesce(sum(n), 0) AS BIGINT)
        |  FROM (SELECT count(*) AS n FROM events GROUP BY event_id)
        |  UNION ALL
        |  SELECT 'user_type_unique', CAST(coalesce(sum(n - 1), 0) AS BIGINT),
        |    CAST(coalesce(sum(n), 0) AS BIGINT)
        |  FROM (SELECT count(*) AS n FROM events GROUP BY user_id, event_type)
        |)
        |SELECT "check", violations, total, violations = 0 AS passed
        |FROM rows_out ORDER BY "check"""".stripMargin))
}
