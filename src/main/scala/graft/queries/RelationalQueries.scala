package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import Common._

/** Registered queries for joins, grouping, reshaping and set operations
  * over the TPC-H-shaped tables. */
private[graft] object RelationalQueries {
  /** Exact 2-dp-safe average (rounded to cent precision), as double. */
  private def centAvg(c: Column): Column =
    round(sum(round(c * 100).cast("long")) / count(c)) / 100.0

  val specs: Seq[QuerySpec] = Seq(
    // ---- contiguous global row ids + ntile(10) with NO global
    // window: literal quantile cuts -> per-bucket counts -> offset +
    // per-bucket row_number (ops.Ids — the zipWithIndex two-pass at
    // the DataFrame layer) ----
    QuerySpec("q_global_ids", (s, dir) => {
      graft.ops.Ids.globalNtile(
          Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
          "n_chars", Seq("doc_id"), n = 10, buckets = 32)
        .select(col("doc_id"), col("row_id"), col("tile"))
        .orderBy(col("row_id"))
    },
      // The cuts/buckets are internal; the output is the plain global
      // window the operator avoids executing.
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS row_id,
        |  CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS INT) AS tile
        |FROM documents
        |ORDER BY row_id""".stripMargin),
    // ---- interval×interval overlap join: per-(user, day) activity
    // spans × 1-hour error windows, bucketed equi-join with
    // meeting-bucket exactly-once emission; per-incident exposure ----
    QuerySpec("q_interval_join", (s, dir) => {
      val ev = Tables.events(s, dir).where(col("user_id").isNotNull)
      val act = ev
        .groupBy(col("user_id"), to_date(col("ts")))
        .agg(min(unix_micros(col("ts"))).as("a_start"),
          (max(unix_micros(col("ts"))) + 1).as("a_end"))
        .select(col("user_id"), col("a_start"), col("a_end"))
      val inc = ev.where(col("event_type") === "error")
        .select(col("event_id").as("error_id"),
          unix_micros(col("ts")).as("b_start"),
          (unix_micros(col("ts")) + 3600000000L).as("b_end"))
      graft.ops.Joins.intervalOverlapJoin(act, inc,
          "a_start", "a_end", "b_start", "b_end", bucketWidth = 3600000000L)
        .groupBy(col("error_id"))
        .agg(count(lit(1)).as("n_active_intervals"),
          sum(col("overlap_end") - col("overlap_start")).as("overlap_us"))
        .orderBy(col("error_id"))
    },
      // the oracle is the BRUTE overlap join (the bucketed machinery
      // is engine-side; JoinsSpec proves its exactly-once parity)
      """WITH ev AS (
        |  SELECT * FROM events WHERE user_id IS NOT NULL
        |), act AS (
        |  SELECT user_id,
        |    CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
        |    CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) + 1 AS BIGINT) AS e
        |  FROM ev GROUP BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |), inc AS (
        |  SELECT event_id AS error_id,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS bs,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) + 3600000000 AS BIGINT) AS be
        |  FROM ev WHERE event_type = 'error'
        |)
        |SELECT error_id, CAST(count(*) AS BIGINT) AS n_active_intervals,
        |  CAST(sum(least(e, be) - greatest(s, bs)) AS BIGINT) AS overlap_us
        |FROM act JOIN inc ON s < be AND bs < e
        |GROUP BY 1 ORDER BY 1""".stripMargin, regime = Some("degenerate-reference")),
    // ---- the KEYED interval overlap: each error meets only ITS OWN
    // user's activity windows — the pre-keying the unkeyed form's
    // measured ×100 volume law (SCALE_NOTES round-9) prescribes at
    // production scale. One shuffled equi-join on the user key with
    // the range predicate as its residual; pair volume is linear in
    // concurrency by construction ----
    QuerySpec("q_interval_join_user", (s, dir) => {
      val ev = Tables.events(s, dir).where(col("user_id").isNotNull)
      val act = ev
        .groupBy(col("user_id"), to_date(col("ts")))
        .agg(min(unix_micros(col("ts"))).as("a_start"),
          (max(unix_micros(col("ts"))) + 1).as("a_end"))
        .select(col("user_id"), col("a_start"), col("a_end"))
      val inc = ev.where(col("event_type") === "error")
        .select(col("user_id").as("b_user"), col("event_id").as("error_id"),
          unix_micros(col("ts")).as("b_start"),
          (unix_micros(col("ts")) + 3600000000L).as("b_end"))
      act.join(inc, col("user_id") === col("b_user") &&
          col("a_start") < col("b_end") && col("b_start") < col("a_end"))
        .groupBy(col("error_id"))
        .agg(count(lit(1)).as("n_active_intervals"),
          sum(least(col("a_end"), col("b_end")) -
            greatest(col("a_start"), col("b_start"))).as("overlap_us"))
        .orderBy(col("error_id"))
    }, """WITH ev AS (
        |  SELECT * FROM events WHERE user_id IS NOT NULL
        |), act AS (
        |  SELECT user_id,
        |    CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
        |    CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) + 1 AS BIGINT) AS e
        |  FROM ev GROUP BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |), inc AS (
        |  SELECT user_id AS b_user, event_id AS error_id,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS bs,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) + 3600000000 AS BIGINT) AS be
        |  FROM ev WHERE event_type = 'error'
        |)
        |SELECT error_id, CAST(count(*) AS BIGINT) AS n_active_intervals,
        |  CAST(sum(least(e, be) - greatest(s, bs)) AS BIGINT) AS overlap_us
        |FROM act JOIN inc ON act.user_id = inc.b_user AND s < be AND bs < e
        |GROUP BY 1 ORDER BY 1""".stripMargin, regime = Some("production-twin")),
    // ---- geofence: point-in-convex-polygon as a pure integer
    // cross-product conjunction (no join, no shuffle) over the
    // q_geo_radius hash-derived coordinates; diamond fence ----
    QuerySpec("q_geofence", (s, dir) => {
      val pts = Tables.customer(s, dir).select(col("c_custkey").as("id"),
        pmod(graft.plans.Hash60.hash60(
          concat(lit("gx"), col("c_custkey").cast("string"))), lit(1000000L)).as("x"),
        pmod(graft.plans.Hash60.hash60(
          concat(lit("gy"), col("c_custkey").cast("string"))), lit(1000000L)).as("y"))
      val diamond = Seq((500000L, 100000L), (900000L, 500000L),
        (500000L, 900000L), (100000L, 500000L))
      pts.select(col("id"), col("x"), col("y"),
          graft.ops.Geo.inConvexPolygon(col("x"), col("y"), diamond).as("inside"))
        .orderBy(col("id"))
    },
      // the four edge cross products of the CCW diamond, verbatim
      // integers — boundary inclusive (>= 0)
      """WITH p AS (
        |  SELECT c_custkey AS id,
        |    CAST(concat('0x', substr(md5(concat('gx', CAST(c_custkey AS VARCHAR))), 1, 15))
        |         AS BIGINT) % 1000000 AS x,
        |    CAST(concat('0x', substr(md5(concat('gy', CAST(c_custkey AS VARCHAR))), 1, 15))
        |         AS BIGINT) % 1000000 AS y
        |  FROM customer
        |)
        |SELECT id, x, y,
        |  (400000 * (y - 100000) - 400000 * (x - 500000) >= 0 AND
        |   -400000 * (y - 500000) - 400000 * (x - 900000) >= 0 AND
        |   -400000 * (y - 900000) - (-400000) * (x - 500000) >= 0 AND
        |   400000 * (y - 500000) - (-400000) * (x - 100000) >= 0) AS inside
        |FROM p ORDER BY id""".stripMargin),
    // ---- Pareto skyline: line items on the price-vs-quantity
    // frontier (maximize both). Range-bucketed sort-scan — the only
    // single-task window is the O(buckets) per-bucket-max frame;
    // comparisons only, so exact at any partitioning ----
    QuerySpec("q_skyline", (s, dir) => {
      val pts = Tables.lineitem(s, dir)
        .select(round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
          col("l_quantity").cast("long").as("qty"))
      graft.ops.Skyline.frontier2D(pts, "price_cents", "qty")
        .orderBy(col("price_cents"))
    },
      // skyline replays as the textbook sort-scan: per-x max, then a
      // suffix max over larger x; survive iff y strictly beats it.
      """WITH pts AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |         CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem
        |), m AS (
        |  SELECT price_cents, max(qty) AS qty FROM pts GROUP BY price_cents
        |), r AS (
        |  SELECT price_cents, qty, max(qty) OVER (
        |    ORDER BY price_cents DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sm
        |  FROM m
        |)
        |SELECT price_cents, qty FROM r
        |WHERE sm IS NULL OR qty > sm
        |ORDER BY price_cents""".stripMargin),
    // ---- as-of join: each purchase picks up the most recent click
    // at-or-before it per user (union + window plan — one shuffle,
    // no range join; see ops.Joins.asOfJoin) ----
    QuerySpec("q_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir).where(col("user_id").isNotNull)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
          round(col("value") * 100).cast("long").as("click_cents"))
      graft.ops.Joins.asOfJoin(purchases, clicks, Seq("user_id"),
          leftTs = "ts", rightTs = "ts", tieBreak = "click_id",
          payload = Seq("click_id", "click_cents"))
        .select(col("event_id"), col("user_id"), col("click_id"), col("click_cents"))
        .orderBy(col("event_id"))
    },
      // The as-of semantics restated as a correlated LATERAL top-1:
      // most recent click at-or-before each purchase, ties broken by
      // the largest click_id — exactly asOfJoin's (ts, tieBreak) order.
      """WITH p AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS click_id,
        |         CAST(round(value*100) AS BIGINT) AS click_cents
        |  FROM events WHERE user_id IS NOT NULL AND event_type = 'click'
        |)
        |SELECT p.event_id, p.user_id, x.click_id, x.click_cents
        |FROM p LEFT JOIN LATERAL (
        |  SELECT c.click_id, c.click_cents FROM c
        |  WHERE c.user_id = p.user_id AND c.ts <= p.ts
        |  ORDER BY c.ts DESC, c.click_id DESC LIMIT 1
        |) x ON true""".stripMargin),
    // ---- point-in-interval range join via bucketed equi-join:
    // sampled order-week intervals × discounted lineitem ship days ----
    QuerySpec("q_range_join", (s, dir) => {
      val iv = Tables.orders(s, dir).where(col("o_orderkey") % 200 === 0)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
            .cast("long").as("start_day"))
        .withColumn("end_day", col("start_day") + 5)
      val pts = Tables.lineitem(s, dir).where(col("l_discount") > 0.08)
        .select(col("l_quantity"),
          datediff(col("l_shipdate").cast("date"), lit("1992-01-01").cast("date"))
            .cast("long").as("ship_day"))
      graft.ops.Joins.rangeJoinByBucket(pts, iv, "ship_day", "start_day", "end_day",
          bucketWidth = 4)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_matches"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderkey"))
    }, """WITH iv AS (
        |  SELECT o_orderkey,
        |         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS start_day
        |  FROM orders WHERE o_orderkey % 200 = 0
        |), pts AS (
        |  SELECT l_quantity,
        |         date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS ship_day
        |  FROM lineitem WHERE l_discount > 0.08
        |)
        |SELECT iv.o_orderkey, count(*) AS n_matches, sum(l_quantity) AS sum_qty
        |FROM iv JOIN pts
        |  ON pts.ship_day >= iv.start_day AND pts.ship_day < iv.start_day + 5
        |GROUP BY 1""".stripMargin),
    // ---- full outer join (both-side null fill — the one outer-join
    // shape no other query exercises) ----
    QuerySpec("q_full_outer", (s, dir) => {
      val c = Tables.customer(s, dir).where(col("c_custkey") < 200)
        .select(col("c_custkey").as("custkey"), col("c_name"))
      val o = Tables.orders(s, dir).where(col("o_totalprice") > 400000)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_big_orders"))
      c.join(o, Seq("custkey"), "full_outer")
        .select(col("custkey"), col("c_name"), col("n_big_orders"))
        .orderBy(col("custkey"))
    }, """WITH c AS (
        |  SELECT c_custkey AS custkey, c_name FROM customer WHERE c_custkey < 200
        |), o AS (
        |  SELECT o_custkey AS custkey, count(*) AS n_big_orders
        |  FROM orders WHERE o_totalprice > 400000 GROUP BY 1
        |)
        |SELECT coalesce(c.custkey, o.custkey) AS custkey, c_name, n_big_orders
        |FROM c FULL OUTER JOIN o ON c.custkey = o.custkey""".stripMargin),
    // ---- spatial radius join: customer points on a synthetic
    // 1e6×1e6 integer plane (hash-derived coordinates — engine-
    // reproducible), all pairs within 20000 units via the 3×3 grid
    // equi-join; exact integer distances, brute-force SQL replica ----
    QuerySpec("q_geo_radius", (s, dir) => {
      val pts = Tables.customer(s, dir).select(col("c_custkey").as("id"),
        pmod(graft.plans.Hash60.hash60(
          concat(lit("gx"), col("c_custkey").cast("string"))), lit(1000000L)).as("x"),
        pmod(graft.plans.Hash60.hash60(
          concat(lit("gy"), col("c_custkey").cast("string"))), lit(1000000L)).as("y"))
      graft.ops.Geo.radiusPairs(pts, "id", "x", "y", radius = 20000L)
        .orderBy(col("id_a"), col("id_b"))
    },
      // Geo radius join: brute-force O(n²) replica — exact integer
      // squared distances make the grid join's answer bit-comparable.
      """WITH p AS (
        |  SELECT c_custkey AS id,
        |    CAST(concat('0x', substr(md5(concat('gx', CAST(c_custkey AS VARCHAR))), 1, 15))
        |         AS BIGINT) % 1000000 AS x,
        |    CAST(concat('0x', substr(md5(concat('gy', CAST(c_custkey AS VARCHAR))), 1, 15))
        |         AS BIGINT) % 1000000 AS y
        |  FROM customer
        |)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
        |FROM p a JOIN p b ON a.id < b.id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 400000000
        |ORDER BY 1, 2""".stripMargin,
      // the sf10 tier (r14 — these three replays are fine through sf1
      // and stay the primary gate there; only the sf10 gate maps them
      // here, where their candidate volumes grow superlinearly):
      invariant = InvariantOracles.geoRadius),
    // ---- grouping sets surface (free in Spark; absent in reference) ----
    QuerySpec("q_rollup", (s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
    }, """SELECT l_returnflag, l_linestatus, count(*) AS n_rows, sum(l_quantity) AS sum_qty,
        |  CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),
    // ---- cube (full grouping-sets lattice) ----
    QuerySpec("q_cube", (s, dir) => {
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_price_cents"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))
    }, """SELECT o_orderstatus, o_orderpriority, count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(GROUPING(o_orderstatus)*2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin),
    // ---- explicit GROUPING SETS (the cube/rollup generalization:
    // exactly the requested grains, one pass): per-status, per-
    // priority, and grand-total grains without the cube's cross ----
    QuerySpec("q_grouping_sets", (s, dir) => {
      Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_price_cents"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))
    },
      // exactly the three requested grains; gid bits match the cube
      // convention (1 = the column is aggregated away at this grain)
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(GROUPING(o_orderstatus)*2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin),
    // ---- UNPIVOT / melt (the pivot inverse): the per-user wide
    // event-type count matrix back to long (user, event_type, n)
    // triples — ids stay, value columns become rows ----
    QuerySpec("q_unpivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = Tables.events(s, dir).where(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L)
      wide.unpivot(Array(col("user_id")), types.map(col).toArray,
          "event_type", "n")
        .orderBy(col("user_id"), col("event_type"))
    },
      // melt replays as the explicit per-type UNION ALL over the same
      // conditional-count wide frame
      """WITH wide AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |)
        |SELECT user_id, event_type, n FROM (
        |  SELECT user_id, 'click' AS event_type, click AS n FROM wide
        |  UNION ALL SELECT user_id, 'error', error FROM wide
        |  UNION ALL SELECT user_id, 'purchase', purchase FROM wide
        |  UNION ALL SELECT user_id, 'signup', signup FROM wide
        |  UNION ALL SELECT user_id, 'view', view FROM wide
        |)
        |ORDER BY user_id, event_type""".stripMargin),
    // ---- semi-structured JSON parsing (the reference's raw payloads
    // are nested JSON; here: extract + type + aggregate) ----
    QuerySpec("q_json_extract", (s, dir) => {
      Tables.events(s, dir).where(col("user_id").isNotNull)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }, """SELECT event_type,
        |  count(CAST(json_extract_string(props, '$.k') AS INT)) AS n_with_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events WHERE user_id IS NOT NULL GROUP BY 1""".stripMargin),
    // ---- set operations (engine surface beyond the reference) ----
    QuerySpec("q_set_ops", (s, dir) => {
      val ev = Tables.events(s, dir).where(col("user_id").isNotNull)
      val clickers = ev.where(col("event_type") === "click").select(col("user_id"))
      val buyers = ev.where(col("event_type") === "purchase").select(col("user_id"))
      val both = clickers.intersect(buyers).withColumn("set_op", lit("both"))
      val clickOnly = clickers.except(buyers).withColumn("set_op", lit("click_only"))
      both.unionByName(clickOnly).orderBy(col("set_op"), col("user_id"))
    }, """WITH c AS (SELECT user_id FROM events WHERE user_id IS NOT NULL AND event_type = 'click'),
        |     b AS (SELECT user_id FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase')
        |SELECT user_id, 'both' AS set_op FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM b)
        |UNION ALL
        |SELECT user_id, 'click_only' AS set_op FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM b)""".stripMargin),
    // ---- A4/A5/A7 + F9: grouped scalar aggregates (classic shape) ----
    QuerySpec("q1_agg", (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          centSum(col("l_extendedprice")).as("sum_base_price"),
          centAvg(col("l_extendedprice")).as("avg_price"),
          min(col("l_discount")).as("min_disc"),
          max(col("l_discount")).as("max_disc"),
          count(lit(1)).as("n_rows")
        )
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_base_price,
        |  round(sum(CAST(round(l_extendedprice*100) AS BIGINT))*1.0/count(l_extendedprice))/100.0 AS avg_price,
        |  min(l_discount) AS min_disc,
        |  max(l_discount) AS max_disc,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1,2""".stripMargin),
    // ---- J2: semi join ----
    QuerySpec("q_semi_join", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val highOrders = Tables.orders(s, dir).where(col("o_totalprice") > 400000).select(col("o_orderkey"))
      li.join(highOrders, li("l_orderkey") === highOrders("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }, """SELECT l_returnflag, count(*) AS n_rows, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
        |GROUP BY 1""".stripMargin),
    // ---- J3: anti join (customers with no high-value orders — the
    // reference's "not yet processed" incremental shape) ----
    QuerySpec("q_anti_join", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).where(col("o_totalprice") > 300000).select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }, """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000 AND o_custkey IS NOT NULL)""".stripMargin),
    // ---- S5/O1: scan with pushed filter + projection (Catalyst pushes
    // both into the parquet scan; .explain shows PushedFilters) ----
    QuerySpec("q_scan_pushdown", (s, dir) => {
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") < lit("1997-01-01").cast("timestamp") && col("l_discount") > 0.08)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_discount > 0.08""".stripMargin),
    // ---- O2/O3/O4/O6/O7: the predicate kit on one frame ----
    QuerySpec("q_filter_kit", (s, dir) => {
      val cutoff = lit("2024-01-20 00:00:00").cast("timestamp")
      Tables.events(s, dir)
        .where(col("user_id").isNotNull)                       // O6 null guard
        .where(col("event_type").isin("click", "view"))        // O4 in-list
        .where(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").startsWith("2024-01-1")) // O3 prefix
        .where(col("ts") <= cutoff)                            // O7 cutoff
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }, """SELECT event_id, user_id, event_type, value
        |FROM events
        |WHERE user_id IS NOT NULL
        |  AND event_type IN ('click','view')
        |  AND strftime(ts, '%Y-%m-%d %H:%M:%S') LIKE '2024-01-1%'
        |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'""".stripMargin),
    // ---- §2.7: discriminated union of two source paths ----
    QuerySpec("q_union_disc", (s, dir) => {
      val ev = Tables.events(s, dir).where(col("user_id").isNotNull)
      val cur = ev.where(col("event_type") === "click").select(col("event_id"), col("user_id"))
      val hist = ev.where(col("event_type") === "view").select(col("event_id"), col("user_id"))
      graft.ops.Shaping.discriminatedUnion(cur, "current", hist, "history")
        .groupBy(col("fetch_method"), col("user_id"))
        .agg(count(lit(1)).as("n_rows"), min(col("event_id")).as("first_id"))
        .orderBy(col("fetch_method"), col("user_id"))
    }, """WITH u AS (
        |  SELECT event_id, user_id, 'current' AS fetch_method FROM events
        |    WHERE user_id IS NOT NULL AND event_type = 'click'
        |  UNION ALL
        |  SELECT event_id, user_id, 'history' AS fetch_method FROM events
        |    WHERE user_id IS NOT NULL AND event_type = 'view'
        |)
        |SELECT fetch_method, user_id, count(*) AS n_rows, min(event_id) AS first_id
        |FROM u GROUP BY 1,2""".stripMargin),
    // ---- J1 chained: star-schema broadcast joins (dim⋈dim⋈fact) ----
    QuerySpec("q_star_join", (s, dir) => {
      val c = Tables.customer(s, dir)
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), centSum(col("c_acctbal")).as("sum_acctbal"))
        .orderBy(col("r_name"), col("n_name"))
    }, """SELECT r_name, n_name, count(*) AS n_cust,
        |  sum(CAST(round(c_acctbal*100) AS BIGINT))/100.0 AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1,2""".stripMargin),
    // ---- salted skew join: correctness ≡ plain equi-join (which is
    // exactly what the oracle states); the salt spreads hot fact keys
    // over 8 sub-partitions ----
    QuerySpec("q_skew_join", (s, dir) => {
      val ev = Tables.events(s, dir).where(col("user_id").isNotNull)
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.ops.Skew.saltedEquiJoin(ev, dim, "user_id", "event_id", 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"), countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("c_mktsegment"))
    }, """SELECT c_mktsegment, count(*) AS n_rows,
        |       count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.user_id IS NOT NULL
        |GROUP BY 1""".stripMargin),
    // ---- pivot (explicit value list → deterministic columns) ----
    QuerySpec("q_pivot", (s, dir) => {
      Tables.events(s, dir).where(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    }, """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1""".stripMargin),
    // ---- bloom-pre-filtered anti join: lineitems of orders that are
    // NOT finalized — the bloom prunes the big side before the
    // shuffle, the exact anti join settles false positives, so the
    // oracle is the plain NOT EXISTS ----
    QuerySpec("q_bloom_anti", (s, dir) => {
      graft.ops.BloomJoin.antiJoin(
          Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir).where(col("o_orderstatus") === "F"), "o_orderkey",
          expectedItems = 100000)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      // The bloom is a pure pre-filter (no false negatives, false
      // positives re-checked) — plain anti-join semantics.
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem l
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
}
