package graft
package queries

import org.apache.spark.sql.functions._
import Common._

/** Registered queries for windows, sessions, resampling, smoothing
  * recurrences and journeys over the event stream. */
private[graft] object TimeSeriesQueries {
  val specs: Seq[QuerySpec] = Seq(
    // ---- sample ACF at lags 1..10 over the daily click-dollar
    // series: exact integer moments (the n²-scaled mean-clearing
    // identity in ops/Autocorr), one IEEE division per lag ----
    QuerySpec("q_acf", (s, dir) => {
      val daily = Tables.events(s, dir)
        .where(col("value").isNotNull && col("event_type") === "click")
        .select(to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(expr("sum(cents) div 100").as("x"))
      graft.ops.Autocorr.acf(daily, "day", "x", maxLag = 10)
        .orderBy(col("lag"))
    },
      // the n²-scaled mean-clearing identity: all moments exact BIGINTs
      // (guarded against overflow on the Spark side), ONE double
      // division per lag; the rn+lag self-join replays the explode/join
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) // 100 AS x
        |  FROM events WHERE value IS NOT NULL AND event_type = 'click'
        |  GROUP BY 1
        |), s AS (
        |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn, x FROM daily
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS S,
        |         CAST(sum(x*x) AS BIGINT) AS Q FROM s
        |), per AS (
        |  SELECT CAST(tl.rn - h.rn AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(h.x * tl.x) AS BIGINT) AS C,
        |    CAST(sum(h.x) AS BIGINT) AS Sh, CAST(sum(tl.x) AS BIGINT) AS St
        |  FROM s h JOIN s tl ON tl.rn - h.rn BETWEEN 1 AND 10
        |  GROUP BY 1
        |)
        |SELECT p.lag, p.n_pairs,
        |  CAST(round(1e9 *
        |    CAST(t.n*t.n*p.C - t.n*t.S*(p.Sh+p.St) + (t.n - p.lag)*t.S*t.S AS DOUBLE)
        |    / CAST(t.n*(t.n*t.Q - t.S*t.S) AS DOUBLE)) AS BIGINT) AS acf_nano
        |FROM per p, t ORDER BY p.lag""".stripMargin),
    // ---- weekly seasonality strength of the daily click-dollar
    // series: one-way variance decomposition over day-of-week
    // groups — η² = SSB/SST with per-group nano-rounded exact
    // within-terms (the PSI ladder in ANOVA form) ----
    QuerySpec("q_seasonality", (s, dir) => {
      val daily = Tables.events(s, dir)
        .where(col("value").isNotNull && col("event_type") === "click")
        .select(to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(expr("sum(cents) div 100").as("x"))
        .select((datediff(col("day"),
          lit(java.sql.Date.valueOf("2024-01-01"))) % 7).as("dow"), col("x"))
      graft.ops.Anova.decompose(daily, "dow", "x")
    },
      // the ANOVA identity on exact integer moments, per-group terms
      // nano-rounded BEFORE the cross-group sum (order-free longs)
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) // 100 AS x
        |  FROM events WHERE value IS NOT NULL AND event_type = 'click'
        |  GROUP BY 1
        |), obs AS (
        |  SELECT CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT) % 7 AS g, x
        |  FROM daily
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
    // ---- cohort retention: first-event-day cohorts x days-since,
    // distinct active users (two keyed aggregates, no window) ----
    QuerySpec("q_cohort_retention", (s, dir) => {
      graft.ops.Journeys.cohortRetention(
          Tables.events(s, dir).where(col("user_id").isNotNull), "user_id", "ts")
        .orderBy(col("cohort_day"), col("period"))
    },
      // CAST(ts AS TIMESTAMP) truncates parquet-ns to the same micros
      // Spark reads (verify skill gotcha).
      """WITH e AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events WHERE user_id IS NOT NULL
        |), f AS (
        |  SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1
        |)
        |SELECT f.cohort_day,
        |  CAST(datediff('day', f.cohort_day, e.day) AS INT) AS period,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),
    // ---- event-type transition matrix: per-user lead() in
    // (ts, event_id) order, counted corpus-wide ----
    QuerySpec("q_transitions", (s, dir) => {
      graft.ops.Journeys.transitions(
          Tables.events(s, dir).where(col("user_id").isNotNull),
          "user_id", "ts", "event_type", "event_id")
        .orderBy(col("from_type"), col("to_type"))
    }, """WITH seq AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |    ) AS next_type
        |  FROM events WHERE user_id IS NOT NULL
        |)
        |SELECT event_type AS from_type, next_type AS to_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE next_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),
    // ---- 7-day rolling click/purchase correlation over the daily
    // volume frame: six exact window sums, one Pearson tree ----
    QuerySpec("q_rolling_corr", (s, dir) => {
      val daily = Tables.events(s, dir)
        .where(col("value").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          coalesce(sum(when(col("event_type") === "click",
            round(col("value") * 100).cast("long"))), lit(0L)).as("click_cents"),
          coalesce(sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long"))), lit(0L)).as("purchase_cents"))
      graft.ops.Association.rollingCorrelation(daily, "day",
          "click_cents", "purchase_cents", windowRows = 7)
        .orderBy(col("day"))
    },
      // identical trailing-7-row window sums, mirrored Pearson tree
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS x,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |), win AS (
        |  SELECT day,
        |    CAST(count(*) OVER w AS BIGINT) AS n_rows,
        |    CAST(sum(x) OVER w AS BIGINT) AS sx, CAST(sum(y) OVER w AS BIGINT) AS sy,
        |    CAST(sum(x*y) OVER w AS BIGINT) AS sxy,
        |    CAST(sum(x*x) OVER w AS BIGINT) AS sxx,
        |    CAST(sum(y*y) OVER w AS BIGINT) AS syy
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |)
        |SELECT day, n_rows,
        |  CASE WHEN (CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |             CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) = 0
        |         OR (CAST(n_rows AS DOUBLE) * CAST(syy AS DOUBLE) -
        |             CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) = 0 THEN NULL
        |    ELSE CAST(round((1e9 * (CAST(n_rows AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
        |      sqrt((CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |            CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |           (CAST(n_rows AS DOUBLE) * CAST(syy AS DOUBLE) -
        |            CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS BIGINT) END AS r_nano
        |FROM win ORDER BY day""".stripMargin),
    // ---- Holt level+trend smoothing (alpha = beta = 1/2) per user:
    // two-state integer recurrence, floor shifts both signs ----
    QuerySpec("q_holt", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      graft.ops.Smoothing.holtTrace(ev, "user_id", "ts", "event_id", "cents")
        .orderBy(col("user_id"), col("rn"))
    },
      // the two-state recurrence inlines l's formula into b's. The
      // halving is a FLOOR for both signs (Spark's arithmetic shift);
      // DuckDB's // truncates toward zero, so negatives subtract 1
      // first — (x−1)//2 is floor(x/2) for x < 0
      """WITH RECURSIVE e AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v,
        |    row_number() OVER (
        |      PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |    ) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |), r AS (
        |  SELECT user_id, rn, v, v AS l, CAST(0 AS BIGINT) AS b FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.v,
        |    CASE WHEN e.v + r.l + r.b < 0 THEN (e.v + r.l + r.b - 1) // 2
        |         ELSE (e.v + r.l + r.b) // 2 END,
        |    CASE WHEN (CASE WHEN e.v + r.l + r.b < 0 THEN (e.v + r.l + r.b - 1) // 2
        |                    ELSE (e.v + r.l + r.b) // 2 END) - r.l + r.b < 0
        |      THEN ((CASE WHEN e.v + r.l + r.b < 0 THEN (e.v + r.l + r.b - 1) // 2
        |                  ELSE (e.v + r.l + r.b) // 2 END) - r.l + r.b - 1) // 2
        |      ELSE ((CASE WHEN e.v + r.l + r.b < 0 THEN (e.v + r.l + r.b - 1) // 2
        |                  ELSE (e.v + r.l + r.b) // 2 END) - r.l + r.b) // 2 END
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
        |)
        |SELECT user_id, rn, v, l AS level, b AS trend FROM r
        |ORDER BY user_id, rn""".stripMargin, regime = Some("sequential-reference")),
    // ---- float-domain Holt via the two-level affine chunked scan
    // (daily buckets): the production form of the skew suite's WORST
    // victim (q_holt 9.2x on the hot user). Doubles gated exactly —
    // the oracle replays the identical coefficient dataflow ----
    QuerySpec("q_holt_chunked", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      graft.ops.Smoothing.holtTraceChunked(ev, "user_id", "ts", "event_id",
          "cents", bucketSeconds = 86400L)
        .orderBy(col("user_id"), col("rn"))
    },
      // dataflow-mirrored oracle (the q_ewma_chunked pattern, 2-state):
      // identity-init coefficient recurrences with the ENGINE's exact
      // parenthesization, bucket-carry recursion, same final affine
      // reconstruction — raw-double hash, no epsilon. Repeated
      // sub-expressions (p1 inside s1, lp1 inside bp1) re-round to the
      // identical double, so inlining them preserves bit-parity
      """WITH RECURSIVE e AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS b,
        |    row_number() OVER (
        |      PARTITION BY user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS j
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |), w AS (
        |  -- identity-init first step folds to exact constants; CAST
        |  -- keeps every coefficient column DOUBLE (bare 0.5 literals
        |  -- would make DuckDB infer DECIMAL and truncate the algebra)
        |  SELECT user_id, b, j, v,
        |    CAST(0.5 AS DOUBLE) AS p,
        |    CAST(0.5 AS DOUBLE) AS q,
        |    0.5 * CAST(v AS DOUBLE) AS r,
        |    CAST(-0.25 AS DOUBLE) AS s,
        |    CAST(0.75 AS DOUBLE) AS t,
        |    0.5 * (0.5 * CAST(v AS DOUBLE)) AS u,
        |    CAST(v AS DOUBLE) AS lp, CAST(0.0 AS DOUBLE) AS bp
        |  FROM e WHERE j = 1
        |  UNION ALL
        |  SELECT e.user_id, e.b, e.j, e.v,
        |    0.5 * w.p + 0.5 * w.s,
        |    0.5 * w.q + 0.5 * w.t,
        |    (0.5 * CAST(e.v AS DOUBLE) + 0.5 * w.r) + 0.5 * w.u,
        |    0.5 * ((0.5 * w.p + 0.5 * w.s) - w.p) + 0.5 * w.s,
        |    0.5 * ((0.5 * w.q + 0.5 * w.t) - w.q) + 0.5 * w.t,
        |    0.5 * (((0.5 * CAST(e.v AS DOUBLE) + 0.5 * w.r) + 0.5 * w.u) - w.r)
        |      + 0.5 * w.u,
        |    (0.5 * CAST(e.v AS DOUBLE) + 0.5 * w.lp) + 0.5 * w.bp,
        |    0.5 * (((0.5 * CAST(e.v AS DOUBLE) + 0.5 * w.lp) + 0.5 * w.bp) - w.lp)
        |      + 0.5 * w.bp
        |  FROM w JOIN e ON e.user_id = w.user_id AND e.b = w.b AND e.j = w.j + 1
        |), sm AS (
        |  SELECT user_id, b, p, q, r, s, t, u, lp, bp, j AS cnt
        |  FROM w QUALIFY j = max(j) OVER (PARTITION BY user_id, b)
        |), s2 AS (
        |  SELECT user_id, b, p, q, r, s, t, u, lp, bp, cnt,
        |    row_number() OVER (PARTITION BY user_id ORDER BY b) AS ci,
        |    sum(cnt) OVER (PARTITION BY user_id ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS off
        |  FROM sm
        |), c AS (
        |  SELECT user_id, b, ci, CAST(NULL AS DOUBLE) AS l_in,
        |    CAST(NULL AS DOUBLE) AS b_in, lp AS l_out, bp AS b_out,
        |    CAST(0 AS BIGINT) AS off
        |  FROM s2 WHERE ci = 1
        |  UNION ALL
        |  SELECT s2.user_id, s2.b, s2.ci, c.l_out, c.b_out,
        |    (s2.p * c.l_out + s2.q * c.b_out) + s2.r,
        |    (s2.s * c.l_out + s2.t * c.b_out) + s2.u,
        |    CAST(s2.off AS BIGINT)
        |  FROM c JOIN s2 ON s2.user_id = c.user_id AND s2.ci = c.ci + 1
        |)
        |SELECT w.user_id, CAST(c.off + w.j AS BIGINT) AS rn, w.v,
        |  CASE WHEN c.l_in IS NULL THEN w.lp
        |       ELSE (w.p * c.l_in + w.q * c.b_in) + w.r END AS level,
        |  CASE WHEN c.l_in IS NULL THEN w.bp
        |       ELSE (w.s * c.l_in + w.t * c.b_in) + w.u END AS trend
        |FROM w JOIN c ON w.user_id = c.user_id AND w.b = c.b
        |ORDER BY w.user_id, rn""".stripMargin, regime = Some("production-twin")),
    // ---- CUSUM change-point traces per user over click cents:
    // max(0, s + (v - target)) pure-integer recurrence, alarms above
    // 50-dollar cumulative excess over a $1.00 target level ----
    QuerySpec("q_cusum", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      graft.ops.Smoothing.cusumTrace(ev, "user_id", "ts", "event_id",
          "cents", target = 100L, threshold = 5000L)
        .orderBy(col("user_id"), col("rn"))
    },
      // CUSUM replays as a recursive CTE: greatest(0, s + v - target)
      // is pure integer arithmetic, no division anywhere
      """WITH RECURSIVE e AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v,
        |    row_number() OVER (
        |      PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |    ) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |), r AS (
        |  SELECT user_id, rn, v, GREATEST(0, v - 100) AS s FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.v, GREATEST(0, r.s + e.v - 100)
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
        |)
        |SELECT user_id, rn, v, CAST(s AS BIGINT) AS cusum, s > 5000 AS alarm
        |FROM r ORDER BY user_id, rn""".stripMargin,
      // the per-key sequential recurrences and their skew-proof
      // chunked-scan twins (r10): sequential stays registered as the
      // bit-exact/simple contract, chunked is the form that survives
      // a hot key
      regime = Some("sequential-reference")),
    // ---- the SAME trace via the two-level (max,+) chunked scan
    // (daily buckets): the skew-proof production form — per-key
    // sequential work is O(#buckets), so the skew twin's 20k-event
    // hot user parallelizes ~30 ways instead of one O(n^2) fold
    // task. Same oracle as q_cusum: chunked == sequential is the
    // cross-engine hash claim ----
    QuerySpec("q_cusum_chunked", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      graft.ops.Smoothing.cusumTraceChunked(ev, "user_id", "ts", "event_id",
          "cents", target = 100L, threshold = 5000L, bucketSeconds = 86400L)
        .orderBy(col("user_id"), col("rn"))
    },
      // the chunked scan's claim IS "bit-identical to the sequential
      // recurrence" — so its oracle is the sequential recursive CTE,
      // verbatim
      """WITH RECURSIVE e AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v,
        |    row_number() OVER (
        |      PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |    ) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |), r AS (
        |  SELECT user_id, rn, v, GREATEST(0, v - 100) AS s FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.v, GREATEST(0, r.s + e.v - 100)
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
        |)
        |SELECT user_id, rn, v, CAST(s AS BIGINT) AS cusum, s > 5000 AS alarm
        |FROM r ORDER BY user_id, rn""".stripMargin, regime = Some("production-twin")),
    // ---- per-user EWMA trace (alpha = 1/2) over click values in
    // exact integer cents: the >>1 recurrence replays bit-for-bit as
    // a recursive CTE's floor division ----
    QuerySpec("q_ewma", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      graft.ops.Smoothing.ewmaTrace(ev, "user_id", "ts", "event_id",
          "cents", num = 1, log2Den = 1)
        .orderBy(col("user_id"), col("rn"))
    },
      // the EWMA recurrence replays as a recursive CTE: DuckDB's `//`
      // on non-negative longs is the same floor division as Spark's
      // arithmetic shift, so every intermediate level matches exactly
      """WITH RECURSIVE e AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v,
        |    row_number() OVER (
        |      PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |    ) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |), r AS (
        |  SELECT user_id, rn, v, v AS s FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.v, (e.v + r.s) // 2
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
        |)
        |SELECT user_id, rn, v, s AS ewma FROM r
        |ORDER BY user_id, rn""".stripMargin, regime = Some("sequential-reference")),
    // ---- float-domain EWMA via the two-level affine chunked scan
    // (daily buckets): the skew-proof production form. The doubles
    // are gated EXACTLY — the oracle replays the identical IEEE
    // mul/add sequence (per-bucket A/B/Bp recurrences, bucket-carry
    // recursion, final A·s_in + B), not an epsilon compare ----
    QuerySpec("q_ewma_chunked", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      graft.ops.Smoothing.ewmaTraceChunked(ev, "user_id", "ts", "event_id",
          "cents", num = 1, log2Den = 1, bucketSeconds = 86400L)
        .orderBy(col("user_id"), col("rn"))
    },
      // the chunked-scan oracle replays the ENGINE's dataflow, not the
      // sequential recurrence: same within-bucket affine recurrences
      // (A_j = A*0.5; B_j = 0.5*v + 0.5*B; Bp seeds s_1 = v_1), same
      // bucket-carry recursion, same final A*s_in + B — every double
      // is the same IEEE round-to-nearest mul/add sequence, so the
      // hash compare is exact on raw doubles
      """WITH RECURSIVE e AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS b,
        |    row_number() OVER (
        |      PARTITION BY user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS j
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |), w AS (
        |  SELECT user_id, b, j, v, CAST(0.5 AS DOUBLE) AS a,
        |    0.5 * CAST(v AS DOUBLE) AS bz, CAST(v AS DOUBLE) AS bp
        |  FROM e WHERE j = 1
        |  UNION ALL
        |  SELECT e.user_id, e.b, e.j, e.v, w.a * 0.5,
        |    0.5 * CAST(e.v AS DOUBLE) + 0.5 * w.bz,
        |    0.5 * CAST(e.v AS DOUBLE) + 0.5 * w.bp
        |  FROM w JOIN e ON e.user_id = w.user_id AND e.b = w.b AND e.j = w.j + 1
        |), s AS (
        |  SELECT user_id, b, a, bz, bp, j AS cnt
        |  FROM w QUALIFY j = max(j) OVER (PARTITION BY user_id, b)
        |), s2 AS (
        |  SELECT user_id, b, a, bz, bp, cnt,
        |    row_number() OVER (PARTITION BY user_id ORDER BY b) AS ci,
        |    sum(cnt) OVER (PARTITION BY user_id ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS off
        |  FROM s
        |), c AS (
        |  SELECT user_id, b, ci, CAST(NULL AS DOUBLE) AS s_in, bp AS s_out,
        |    CAST(0 AS BIGINT) AS off
        |  FROM s2 WHERE ci = 1
        |  UNION ALL
        |  SELECT s2.user_id, s2.b, s2.ci, c.s_out AS s_in,
        |    s2.a * c.s_out + s2.bz AS s_out, CAST(s2.off AS BIGINT)
        |  FROM c JOIN s2 ON s2.user_id = c.user_id AND s2.ci = c.ci + 1
        |)
        |SELECT w.user_id, CAST(c.off + w.j AS BIGINT) AS rn, w.v,
        |  CASE WHEN c.s_in IS NULL THEN w.bp
        |       ELSE w.a * c.s_in + w.bz END AS ewma
        |FROM w JOIN c ON w.user_id = c.user_id AND w.b = c.b
        |ORDER BY w.user_id, rn""".stripMargin, regime = Some("production-twin")),
    // ---- ordered event-sequence funnel (signup → view → purchase,
    // 7-day conversion window): k keyed reductions on the user key,
    // no per-user arrays; strict-after semantics on exact micros ----
    QuerySpec("q_funnel_steps", (s, dir) => {
      graft.ops.Journeys.eventFunnel(
          Tables.events(s, dir).where(col("user_id").isNotNull),
          "user_id", "ts", "event_type",
          Seq("signup", "view", "purchase"),
          windowSec = Some(7L * 24 * 3600))
        .orderBy(col("step"))
    },
      // first-touch funnel replays as chained min() CTEs: t1 = first
      // signup, t2 = first view strictly after t1 within 7 days of t1,
      // t3 = first purchase strictly after t2 within the same window.
      // All comparisons on exact integer microseconds.
      """WITH s1 AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1
        |  FROM events WHERE user_id IS NOT NULL AND event_type = 'signup'
        |  GROUP BY user_id
        |), s2 AS (
        |  SELECT e.user_id, s1.t1, min(CAST(e.ts AS TIMESTAMP)) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'view' AND CAST(e.ts AS TIMESTAMP) > s1.t1
        |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) <= epoch_us(s1.t1) + 604800000000
        |  GROUP BY e.user_id, s1.t1
        |), s3 AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t2
        |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) <= epoch_us(s2.t1) + 604800000000
        |  GROUP BY e.user_id
        |)
        |SELECT 1 AS step, 'signup' AS step_name, CAST(count(*) AS BIGINT) AS n_users FROM s1
        |UNION ALL
        |SELECT 2, 'view', CAST(count(*) AS BIGINT) FROM s2
        |UNION ALL
        |SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
        |ORDER BY step""".stripMargin),
    // ---- overlapping-interval merge (islands): per-user event
    // intervals of 60..359 s coalesced into maximal covered spans ----
    QuerySpec("q_intervals", (s, dir) => {
      val iv = Tables.events(s, dir).where(col("user_id").isNotNull)
        .select(col("user_id"), col("ts").as("s_ts"),
          expr("timestampadd(SECOND, CAST(event_id % 300 + 60 AS INT), ts)").as("e_ts"))
      graft.ops.Intervals.mergeOverlapping(iv, "user_id", "s_ts", "e_ts")
        .orderBy(col("user_id"), col("start"))
    },
      // island detection: a row opens an island iff its start exceeds
      // the running max end; "end" is reserved in DuckDB -> quoted.
      """WITH iv AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS s_ts,
        |    CAST(ts AS TIMESTAMP) + to_seconds(event_id % 300 + 60) AS e_ts
        |  FROM events WHERE user_id IS NOT NULL
        |), g AS (
        |  SELECT user_id, s_ts, e_ts,
        |    CASE WHEN max(e_ts) OVER w IS NULL OR s_ts > max(e_ts) OVER w
        |         THEN 1 ELSE 0 END AS opens
        |  FROM iv
        |  WINDOW w AS (PARTITION BY user_id ORDER BY s_ts, e_ts
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), i AS (
        |  SELECT user_id, s_ts, e_ts,
        |    sum(opens) OVER (PARTITION BY user_id ORDER BY s_ts, e_ts
        |                     ROWS UNBOUNDED PRECEDING) AS island
        |  FROM g
        |)
        |SELECT user_id, min(s_ts) AS start, max(e_ts) AS "end",
        |  CAST(count(*) AS BIGINT) AS n_merged
        |FROM i GROUP BY user_id, island
        |ORDER BY user_id, start""".stripMargin),
    // ---- distribution window functions: ntile / percent_rank /
    // cume_dist / dense_rank under an explicit total order ----
    QuerySpec("q_window_ranks", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").asc_nulls_first, col("event_id").asc)
      Tables.events(s, dir).where(col("user_id").isNotNull && col("user_id") < 20)
        .select(col("event_id"), col("user_id"), col("value"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          dense_rank().over(w).cast("long").as("drank"))
        .orderBy(col("user_id"), col("event_id"))
    },
      // percent_rank = (rank-1)/(n-1) and cume_dist = k/n are exact
      // integer ratios — the single IEEE division matches across engines
      """SELECT event_id, user_id, value,
        |  ntile(4)       OVER w AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist()    OVER w AS cume,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drank
        |FROM events WHERE user_id IS NOT NULL AND user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY value ASC NULLS FIRST, event_id ASC)""".stripMargin),
    // ---- time-weighted average (TWAP / sensor-uptime convention):
    // last-observation-carried-forward weighting over one day, exact
    // integer cents × whole-second weights, one IEEE division ----
    QuerySpec("q_twap", (s, dir) => {
      val obs = Tables.events(s, dir).where(col("value").isNotNull)
        .groupBy(col("event_type"), unix_timestamp(col("ts")).as("tsec"))
        .agg(max(round(col("value") * 100).cast("long")).as("cents"))
        .select(col("event_type"), timestamp_seconds(col("tsec")).as("ts"), col("cents"))
      graft.ops.Resample.timeWeightedAvg(obs, Seq("event_type"), "ts", "cents",
          startEpoch = 1704240000L, endEpoch = 1704326400L)
        .orderBy(col("event_type"))
    },
      // TWAP: the same LOCF segment decomposition via lead(); exact
      // integer numerator/denominator, one division.
      """WITH obs AS (
        |  SELECT event_type AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |         max(CAST(round(value*100) AS BIGINT)) AS v
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2
        |), w AS (
        |  SELECT k, t, v,
        |    coalesce(lead(t) OVER (PARTITION BY k ORDER BY t), 1704326400) AS nxt
        |  FROM obs WHERE t < 1704326400
        |), seg AS (
        |  SELECT k, v,
        |    greatest(least(nxt, 1704326400) - greatest(t, 1704240000), 0) AS len
        |  FROM w
        |)
        |SELECT k AS event_type,
        |  CASE WHEN sum(len) > 0
        |       THEN CAST(sum(v*len) AS DOUBLE) / CAST(sum(len) AS DOUBLE) END AS twap,
        |  CAST(sum(len) AS BIGINT) AS covered_seconds
        |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- OHLC bars: 10-minute candlesticks per event type (open/
    // close by instant via min_by/max_by, exact cents; instants
    // pre-deduped max-per-second, the q_twap convention) ----
    QuerySpec("q_ohlc", (s, dir) => {
      val obs = Tables.events(s, dir).where(col("value").isNotNull)
        .groupBy(col("event_type"), unix_timestamp(col("ts")).as("tsec"))
        .agg(max(round(col("value") * 100).cast("long")).as("cents"))
        .select(col("event_type"), timestamp_seconds(col("tsec")).as("ts"), col("cents"))
      graft.ops.Resample.ohlc(obs, Seq("event_type"), "ts", "cents", bucketSeconds = 600L)
        .select(col("event_type"), unix_timestamp(col("bucket_start")).as("bucket_epoch"),
          col("open"), col("high"), col("low"), col("close"), col("n_obs"))
        .orderBy(col("event_type"), col("bucket_epoch"))
    },
      // OHLC: arg_min/arg_max on the instant, same per-second
      // pre-dedup as q_twap.
      """WITH obs AS (
        |  SELECT event_type AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |         max(CAST(round(value*100) AS BIGINT)) AS v
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2
        |)
        |SELECT k AS event_type, CAST(t - t % 600 AS BIGINT) AS bucket_epoch,
        |  CAST(arg_min(v, t) AS BIGINT) AS open,
        |  CAST(max(v) AS BIGINT) AS high,
        |  CAST(min(v) AS BIGINT) AS low,
        |  CAST(arg_max(v, t) AS BIGINT) AS close,
        |  CAST(count(*) AS BIGINT) AS n_obs
        |FROM obs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // ---- regular-grid resampling with linear interpolation: the
    // value-estimating extension of the hourly null-filled grid.
    // Integer-cents observations, one IEEE division per point —
    // bit-identical cross-engine; NULL outside each key's observed
    // range (extrapolation invents data) ----
    QuerySpec("q_interpolate", (s, dir) => {
      val obs = Tables.events(s, dir).where(col("value").isNotNull)
        .groupBy(col("event_type"), unix_timestamp(col("ts")).as("tsec"))
        .agg(max(round(col("value") * 100).cast("long")).as("cents"))
        .select(col("event_type"), timestamp_seconds(col("tsec")).as("ts"), col("cents"))
      graft.ops.Resample.interpolate(obs, Seq("event_type"), "ts", "cents",
          startEpoch = 1704240000L, endEpoch = 1704412800L, stepSeconds = 3600)
        .select(col("event_type"),
          unix_timestamp(col("grid_ts")).cast("long").as("grid_epoch"), col("value"))
        .orderBy(col("event_type"), col("grid_epoch"))
    },
      // Interpolation restated as the per-point neighbor lookup the
      // windowed plan avoids; same second-floored epochs, same
      // dedup-by-max-cents, same one-division lerp tree.
      """WITH obs AS (
        |  SELECT event_type AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |         CAST(max(CAST(round(value*100) AS BIGINT)) AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2
        |), grid AS (
        |  SELECT k, unnest(generate_series(1704240000, 1704412800, 3600)) AS t
        |  FROM (SELECT DISTINCT event_type AS k FROM events WHERE value IS NOT NULL)
        |), nb AS (
        |  SELECT g.k, g.t,
        |    (SELECT max(o.t) FROM obs o WHERE o.k = g.k AND o.t <= g.t) AS tb,
        |    (SELECT min(o.t) FROM obs o WHERE o.k = g.k AND o.t >= g.t) AS ta
        |  FROM grid g
        |)
        |SELECT n.k AS event_type, n.t AS grid_epoch,
        |  CASE WHEN n.tb IS NULL OR n.ta IS NULL THEN NULL
        |       WHEN n.tb = n.ta THEN vb.v
        |       ELSE vb.v + ((va.v - vb.v) * CAST(n.t - n.tb AS DOUBLE))
        |                   / CAST(n.ta - n.tb AS DOUBLE)
        |  END AS value
        |FROM nb n
        |LEFT JOIN obs vb ON vb.k = n.k AND vb.t = n.tb
        |LEFT JOIN obs va ON va.k = n.k AND va.t = n.ta
        |ORDER BY event_type, grid_epoch""".stripMargin),
    // ---- gap-based sessionization (classic event analytics: lag +
    // running sum of session starts; 30-min inactivity gap) ----
    QuerySpec("q_sessionize", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("sess_no", sum(col("new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_no"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"))
        .orderBy(col("user_id"), col("sess_no"))
    },
      // micros arithmetic on both sides: Spark unix_micros == DuckDB
      // epoch_us after the shared nanos→micros truncation
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), g AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_no
        |  FROM g
        |)
        |SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no, count(*) AS n_events,
        |       min(ts) AS sess_start, max(ts) AS sess_end
        |FROM s GROUP BY 1, 2""".stripMargin),
    // ---- RANGE window frame: per-user trailing-1-hour sum (range
    // frames over event time, distinct from the ROWS frames elsewhere;
    // integer micros ordering + integer cents values keep it exact) ----
    QuerySpec("q_range_frame", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"),
          unix_micros(col("ts")).as("ts_us"),
          round(col("value") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      ev.withColumn("trailing_1h", (sum(col("cents")).over(w) / 100.0))
        .select(col("event_id"), col("user_id"), col("ts"), col("trailing_1h"))
        .orderBy(col("event_id"))
    }, """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |  SUM(CAST(round(value*100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) / 100.0 AS trailing_1h
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL""".stripMargin),
    // ---- W3/ST4: tumbling 10-minute event-time windows ----
    QuerySpec("q_tumbling_10min", (s, dir) => {
      graft.ops.Windows.tumbling(
        Tables.events(s, dir).where(col("user_id").isNotNull && col("user_id") < 20),
        "ts", "10 minutes", Seq("user_id"),
        Seq(count(lit(1)).as("n_rows"), centSum(col("value")).as("sum_value"))
      )
        .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
          col("user_id"), col("n_rows"), col("sum_value"))
        .orderBy(col("w_start"), col("user_id"))
    }, """SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start,
        |  time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS w_end,
        |  user_id, count(*) AS n_rows,
        |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value
        |FROM events WHERE user_id IS NOT NULL AND user_id < 20
        |GROUP BY 1,2,3""".stripMargin),
    // ---- hopping 30-min windows every 10 min: each event lands in
    // exactly 3 overlapping windows (the expand happens before the
    // single aggregation shuffle — no self-union of shifted copies);
    // the oracle replays the 3-offset fan-out explicitly ----
    QuerySpec("q_hopping_30x10", (s, dir) => {
      graft.ops.Windows.hopping(
        Tables.events(s, dir).where(col("user_id").isNotNull && col("user_id") < 20),
        "ts", "30 minutes", "10 minutes", Seq("user_id"),
        Seq(count(lit(1)).as("n_rows"), centSum(col("value")).as("sum_value"))
      )
        .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
          col("user_id"), col("n_rows"), col("sum_value"))
        .orderBy(col("w_start"), col("user_id"))
    },
      // Hopping windows: the event→3-window fan-out made explicit —
      // a window starting at bucket10(ts) − {0,10,20} min contains ts.
      """WITH e AS (
        |  SELECT time_bucket(INTERVAL '10 minutes', ts) AS tb, user_id,
        |         CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events WHERE user_id IS NOT NULL AND user_id < 20
        |)
        |SELECT e.tb - m.off AS w_start,
        |  e.tb - m.off + INTERVAL '30 minutes' AS w_end,
        |  user_id, count(*) AS n_rows,
        |  sum(cents)/100.0 AS sum_value
        |FROM e, (VALUES (INTERVAL '0 minutes'), (INTERVAL '10 minutes'),
        |                (INTERVAL '20 minutes')) m(off)
        |GROUP BY 1, 2, 3""".stripMargin),
    // ---- W1 + top-k: rank per key, keep top 3 ----
    QuerySpec("q_rank_topk", (s, dir) => {
      graft.ops.Windows.topKPerKey(
        Tables.events(s, dir).where(col("user_id").isNotNull && col("user_id") < 50)
          .select(col("event_id"), col("user_id"), col("value")),
        Seq("user_id"), Seq(col("value").desc, col("event_id").asc), 3
      )
        .select(col("user_id"), col("rnk"), col("event_id"), col("value"))
        .orderBy(col("user_id"), col("rnk"))
    }, """SELECT user_id, rnk, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS INT) AS rnk
        |  FROM events WHERE user_id IS NOT NULL AND user_id < 50
        |) WHERE rnk <= 3""".stripMargin),
    // ---- lag/lead: delta vs previous observation per key ----
    QuerySpec("q_lag_delta", (s, dir) => {
      graft.ops.Windows.lagDelta(
        Tables.events(s, dir).where(col("user_id").isNotNull && col("user_id") < 20)
          .select(col("event_id"), col("user_id"), col("ts"), col("value")),
        Seq("user_id"), Seq(col("ts").asc, col("event_id").asc), "value"
      )
        .select(col("user_id"), col("event_id"), col("value"), col("prev_value"), col("delta"))
        .orderBy(col("user_id"), col("event_id"))
    }, """SELECT user_id, event_id, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  value - lag(value, 1) OVER w AS delta
        |FROM events WHERE user_id IS NOT NULL AND user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""".stripMargin),
    // ---- A8: ordered collect serialized to a string (oracle-stable
    // form of sort_array(collect_list)) ----
    QuerySpec("q_collect_sorted", (s, dir) => {
      obs(s, dir)
        .where(col("location_id") < 30)
        .groupBy(col("location_id"), col("obs_date"))
        .agg(
          array_join(
            transform(
              sort_array(collect_list(struct(col("obs_id"), col("temp_c").cast("string").as("v")))),
              x => x.getField("v")
            ), ","
          ).as("temps_csv"),
          count(lit(1)).as("n_rows")
        )
        .orderBy(col("location_id"), col("obs_date"))
    }, """SELECT user_id AS location_id, CAST(ts AS DATE) AS obs_date,
        |  string_agg(CAST(value AS VARCHAR), ',' ORDER BY event_id) AS temps_csv,
        |  count(*) AS n_rows
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND user_id < 30
        |GROUP BY 1,2""".stripMargin))
}
