package graft
package queries

import graft.ops.{Dedup, Recap}
import org.apache.spark.sql.functions._
import Common._

/** Registered queries for the reference weather ETL: observation dedup,
  * hourly / daily / nested recaps, the landing-zone sources and the
  * scalar kit. */
private[graft] object RecapQueries {
  val specs: Seq[QuerySpec] = Seq(
    // ---- nested gold round-trip: build the FULL nested daily recap
    // (hourly array of structs with embedded slot arrays), then
    // explode it back to flat rows — proves the A8/A9 nested assembly
    // against the same oracle the flat path uses ----
    QuerySpec("q_recap_nested", (s, dir) => {
      Recap.daily(Recap.hourly(Recap.slotFirst(obs(s, dir))))
        .select(col("location_id"), col("obs_date"), col("is_full_recap"),
          explode(col("hourly")).as("h"))
        .select(
          col("location_id"), col("obs_date"), col("is_full_recap"),
          col("h.hour").cast("long").as("obs_hour"),
          col("h.avg_temp_c"), col("h.min_temp_c"), col("h.max_temp_c"),
          col("h.dominant_condition"), col("h.total_precip_mm"), col("h.n_obs"),
          size(filter(col("h.data_points"), p => p.isNotNull)).cast("long").as("n_slots_filled")
        )
        .orderBy(col("location_id"), col("obs_date"), col("obs_hour"))
    }, """WITH obs AS (
        |  SELECT event_id AS obs_id, user_id AS location_id,
        |         CAST(ts AS DATE) AS obs_date,
        |         CAST(extract(hour FROM ts) AS BIGINT) AS obs_hour,
        |         (CAST(extract(minute FROM ts) AS INT) // 10) * 10 AS obs_slot,
        |         value AS temp_c, event_type AS condition,
        |         CASE WHEN event_type = 'purchase' THEN value END AS precip_mm
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), slot_first AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY location_id, obs_date, obs_hour, obs_slot ORDER BY obs_id) AS rn
        |    FROM obs) WHERE rn = 1
        |), cond_counts AS (
        |  SELECT location_id, obs_date, obs_hour, condition, count(*) AS c
        |  FROM slot_first GROUP BY 1,2,3,4
        |), dominant AS (
        |  SELECT location_id, obs_date, obs_hour, condition AS dominant_condition
        |  FROM (SELECT *, row_number() OVER (PARTITION BY location_id, obs_date, obs_hour ORDER BY c DESC, condition ASC) AS rn
        |        FROM cond_counts) WHERE rn = 1
        |), hourly AS (
        |  SELECT f.location_id, f.obs_date, f.obs_hour,
        |    round(sum(CAST(round(f.temp_c*100) AS BIGINT))*1.0/count(f.temp_c))/100.0 AS avg_temp_c,
        |    min(f.temp_c) AS min_temp_c,
        |    max(f.temp_c) AS max_temp_c,
        |    any_value(d.dominant_condition) AS dominant_condition,
        |    coalesce(sum(CAST(round(f.precip_mm*100) AS BIGINT)), 0)/100.0 AS total_precip_mm,
        |    count(f.temp_c) AS n_obs,
        |    count(*) AS n_slots
        |  FROM slot_first f JOIN dominant d
        |    ON f.location_id = d.location_id AND f.obs_date = d.obs_date AND f.obs_hour = d.obs_hour
        |  GROUP BY 1,2,3
        |), flags AS (
        |  SELECT location_id, obs_date,
        |         max(CASE WHEN obs_hour = 23 THEN true ELSE false END) AS is_full_recap
        |  FROM hourly GROUP BY 1,2
        |)
        |SELECT h.location_id, h.obs_date, f.is_full_recap, h.obs_hour,
        |  h.avg_temp_c, h.min_temp_c, h.max_temp_c, h.dominant_condition,
        |  h.total_precip_mm, h.n_obs, h.n_slots AS n_slots_filled
        |FROM hourly h JOIN flags f ON h.location_id = f.location_id AND h.obs_date = f.obs_date""".stripMargin),
    // ---- Flagship stage B flattened: hourly recap over 10-min slots ----
    // Composes W1 keep-first (slot dedup), A3 hour bucketing, A4-A7
    // aggregates, A6 deterministic mode.
    QuerySpec("q_recap_hourly", (s, dir) => {
      Recap.hourly(Recap.slotFirst(obs(s, dir)))
        .select(
          col("location_id"), col("obs_date"), col("obs_hour").cast("long").as("obs_hour"),
          col("avg_temp_c"), col("min_temp_c"), col("max_temp_c"),
          col("dominant_condition"), col("total_precip_mm"), col("n_obs")
        )
        .orderBy(col("location_id"), col("obs_date"), col("obs_hour"))
    }, """WITH obs AS (
        |  SELECT event_id AS obs_id, user_id AS location_id,
        |         CAST(ts AS DATE) AS obs_date,
        |         CAST(extract(hour FROM ts) AS BIGINT) AS obs_hour,
        |         (CAST(extract(minute FROM ts) AS INT) // 10) * 10 AS obs_slot,
        |         value AS temp_c, event_type AS condition,
        |         CASE WHEN event_type = 'purchase' THEN value END AS precip_mm
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), slot_first AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY location_id, obs_date, obs_hour, obs_slot ORDER BY obs_id) AS rn
        |    FROM obs) WHERE rn = 1
        |), cond_counts AS (
        |  SELECT location_id, obs_date, obs_hour, condition, count(*) AS c
        |  FROM slot_first GROUP BY 1,2,3,4
        |), dominant AS (
        |  SELECT location_id, obs_date, obs_hour, condition AS dominant_condition
        |  FROM (SELECT *, row_number() OVER (PARTITION BY location_id, obs_date, obs_hour ORDER BY c DESC, condition ASC) AS rn
        |        FROM cond_counts) WHERE rn = 1
        |)
        |SELECT f.location_id, f.obs_date, f.obs_hour,
        |  round(sum(CAST(round(f.temp_c*100) AS BIGINT))*1.0/count(f.temp_c))/100.0 AS avg_temp_c,
        |  min(f.temp_c) AS min_temp_c,
        |  max(f.temp_c) AS max_temp_c,
        |  any_value(d.dominant_condition) AS dominant_condition,
        |  coalesce(sum(CAST(round(f.precip_mm*100) AS BIGINT)), 0)/100.0 AS total_precip_mm,
        |  count(f.temp_c) AS n_obs
        |FROM slot_first f JOIN dominant d
        |  ON f.location_id = d.location_id AND f.obs_date = d.obs_date AND f.obs_hour = d.obs_hour
        |GROUP BY 1,2,3""".stripMargin),
    // ---- Flagship stage C flattened: daily rollup + completeness flag (A9/A10) ----
    QuerySpec("q_recap_daily", (s, dir) => {
      Recap.daily(Recap.hourly(Recap.slotFirst(obs(s, dir))))
        .select(
          col("location_id"), col("obs_date"),
          col("hours_present"), col("is_full_recap")
        )
        .orderBy(col("location_id"), col("obs_date"))
    }, """WITH obs AS (
        |  SELECT event_id AS obs_id, user_id AS location_id,
        |         CAST(ts AS DATE) AS obs_date,
        |         CAST(extract(hour FROM ts) AS BIGINT) AS obs_hour
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), hours AS (
        |  SELECT DISTINCT location_id, obs_date, obs_hour FROM obs
        |)
        |SELECT location_id, obs_date, count(*) AS hours_present,
        |       max(CASE WHEN obs_hour = 23 THEN true ELSE false END) AS is_full_recap
        |FROM hours GROUP BY 1,2""".stripMargin),
    // ---- A1: duplicate-group detection ----
    QuerySpec("q_dup_groups", (s, dir) => {
      Dedup.duplicateGroups(
        obs(s, dir).select(col("obs_id"), col("location_id"), col("obs_date"), col("obs_hour"), col("obs_slot")),
        Seq("location_id", "obs_date", "obs_hour", "obs_slot"), "obs_id"
      )
        .select(col("location_id"), col("obs_date"), col("obs_hour").cast("long").as("obs_hour"),
          col("obs_slot").cast("long").as("obs_slot"), col("dup_count"))
        .orderBy(col("location_id"), col("obs_date"), col("obs_hour"), col("obs_slot"))
    }, """WITH obs AS (
        |  SELECT event_id AS obs_id, user_id AS location_id,
        |         CAST(ts AS DATE) AS obs_date,
        |         CAST(extract(hour FROM ts) AS BIGINT) AS obs_hour,
        |         CAST((CAST(extract(minute FROM ts) AS INT) // 10) * 10 AS BIGINT) AS obs_slot
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |)
        |SELECT location_id, obs_date, obs_hour, obs_slot, count(*) AS dup_count
        |FROM obs GROUP BY 1,2,3,4 HAVING count(*) > 1""".stripMargin),
    // ---- S1/S2 end-to-end: the paged REST ingest's in-engine half.
    // Derive the key-ranged paged landing a fetcher would produce
    // (one JSON batch per keyed page request), then scan it back
    // through the DataSource V2 connector — planning-time page
    // pruning against manifest key envelopes, column pruning into
    // the parse loop, row filter re-applied by Spark. The oracle is
    // the same aggregate over the parquet events the pages were
    // derived from, so the whole land → manifest → pruned-scan loop
    // is exact-oracle-gated, not just spec-gated. ----
    QuerySpec("q_rest_pages", (s, dir) => {
      val landing = graft.sources.v2.PagedLanding.ensureLanding(s, dir)
      s.read.format("graft-pages")
        .schema(graft.sources.v2.PagedLanding.pageSchema)
        .option("manifest", landing)
        .option("keyCol", "user_id")
        .load()
        .where(col("user_id").between(3L, 9L)) // key-range page prune at any sf
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("event_id")).as("min_event"),
          max(col("event_id")).as("max_event"))
        .orderBy(col("event_type"))
    },
      // the connector round-trip must reproduce the parquet truth the
      // pages were derived from — integer-only aggregates, so the JSON
      // land/parse loop has nowhere to hide a lossy conversion
      """SELECT event_type, count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       min(event_id) AS min_event, max(event_id) AS max_event
        |FROM events
        |WHERE user_id BETWEEN 3 AND 9
        |GROUP BY event_type""".stripMargin),
    // ---- O10/F12/F13: envelope struct assembly + JSON serialize ----
    QuerySpec("q_envelope_json", (s, dir) => {
      Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("event_id") < 500)
        .select(
          col("event_id"),
          to_json(struct(
            col("event_id"), col("event_type"),
            struct(col("user_id")).as("who")
          )).as("envelope")
        )
        .orderBy(col("event_id"))
    }, """SELECT event_id,
        |  to_json(struct_pack(event_id := event_id, event_type := event_type,
        |                      who := struct_pack(user_id := user_id))) AS envelope
        |FROM events WHERE user_id IS NOT NULL AND event_id < 500""".stripMargin),
    // ---- J4: composite-key late-data dedup (anti join) ----
    QuerySpec("q_late_dedup", (s, dir) => {
      val ev = obs(s, dir)
      val incoming = ev.where(col("condition") === "error")
        .select(col("obs_id"), col("location_id"), col("obs_date"), col("obs_hour"))
      val existing = ev.where(col("condition") === "click")
        .select(col("location_id"), col("obs_date"), col("obs_hour"))
      Dedup.notYetProcessed(incoming, existing, Seq("location_id", "obs_date", "obs_hour"))
        .select(col("obs_id"), col("location_id"), col("obs_date"),
          col("obs_hour").cast("long").as("obs_hour"))
        .orderBy(col("obs_id"))
    }, """WITH obs AS (
        |  SELECT event_id AS obs_id, user_id AS location_id, event_type AS condition,
        |         CAST(ts AS DATE) AS obs_date,
        |         CAST(extract(hour FROM ts) AS BIGINT) AS obs_hour
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |)
        |SELECT obs_id, location_id, obs_date, obs_hour
        |FROM obs i WHERE condition = 'error' AND NOT EXISTS (
        |  SELECT 1 FROM obs e WHERE e.condition = 'click'
        |    AND e.location_id = i.location_id AND e.obs_date = i.obs_date
        |    AND e.obs_hour = i.obs_hour)""".stripMargin),
    // ---- F7/F8: unit conversion + heat index (pure column arithmetic,
    // mirrored op-for-op in the oracle so IEEE results are identical) ----
    QuerySpec("q_heat_index", (s, dir) => {
      import graft.functions.{WeatherFunctions => WF}
      Tables.events(s, dir)
        .where(col("user_id").isNotNull)
        .select(
          col("event_id"),
          (col("value") / 10.0).as("temp_c"),
          (col("event_id") % 101).cast("double").as("humidity")
        )
        .withColumn("temp_f", WF.cToF(col("temp_c")))
        .withColumn("heat_index_c", WF.heatIndexC(col("temp_c"), col("humidity")))
        .orderBy(col("event_id"))
    }, """SELECT event_id, value/10.0 AS temp_c,
        |  CAST(event_id % 101 AS DOUBLE) AS humidity,
        |  value/10.0*9.0/5.0 + 32.0 AS temp_f,
        |  ((-42.379 + 2.04901523*(value/10.0*9.0/5.0 + 32.0)
        |    + 10.14333127*CAST(event_id % 101 AS DOUBLE)
        |    - 0.22475541*(value/10.0*9.0/5.0 + 32.0)*CAST(event_id % 101 AS DOUBLE)
        |    - 6.83783e-3*(value/10.0*9.0/5.0 + 32.0)*(value/10.0*9.0/5.0 + 32.0)
        |    - 5.481717e-2*CAST(event_id % 101 AS DOUBLE)*CAST(event_id % 101 AS DOUBLE)
        |    + 1.22874e-3*(value/10.0*9.0/5.0 + 32.0)*(value/10.0*9.0/5.0 + 32.0)*CAST(event_id % 101 AS DOUBLE)
        |    + 8.5282e-4*(value/10.0*9.0/5.0 + 32.0)*CAST(event_id % 101 AS DOUBLE)*CAST(event_id % 101 AS DOUBLE)
        |    - 1.99e-6*(value/10.0*9.0/5.0 + 32.0)*(value/10.0*9.0/5.0 + 32.0)*CAST(event_id % 101 AS DOUBLE)*CAST(event_id % 101 AS DOUBLE)
        |   ) - 32.0)*5.0/9.0 AS heat_index_c
        |FROM events WHERE user_id IS NOT NULL""".stripMargin),
    // ---- F1-F6/F11: the timestamp kit ----
    QuerySpec("q_time_kit", (s, dir) => {
      import graft.functions.{WeatherFunctions => WF}
      Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("event_id") < 2000)
        .select(
          col("event_id"),
          WF.formatTs(col("ts")).as("ts_str"),                       // F2
          date_format(col("ts"), "yyyy-MM-dd HH").as("ts_hour_str"), // F2 (hour prefix)
          unix_timestamp(col("ts")).as("epoch_s"),                   // F3
          WF.formatTs(WF.toZone(col("ts"), "Asia/Jakarta")).as("jakarta_str"), // F4
          date_add(to_date(col("ts")), 1).as("next_day"),            // F5
          WF.zeroPad2(hour(col("ts"))).as("hh")                      // F6
        )
        .orderBy(col("event_id"))
    }, """SELECT event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
        |  strftime(ts, '%Y-%m-%d %H') AS ts_hour_str,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |  strftime(ts + INTERVAL 7 HOUR, '%Y-%m-%d %H:%M:%S') AS jakarta_str,
        |  CAST(ts AS DATE) + 1 AS next_day,
        |  lpad(CAST(extract(hour FROM ts) AS VARCHAR), 2, '0') AS hh
        |FROM events WHERE user_id IS NOT NULL AND event_id < 2000""".stripMargin))
}
