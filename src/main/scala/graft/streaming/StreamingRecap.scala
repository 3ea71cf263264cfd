package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming form of the recap pipeline (SURVEY §2.9).
  *
  * The reference's streaming semantics are Airflow micro-batches:
  * 10-minute ingest cadence (ST1), late-data backfill deduped against
  * stored keys (ST3), tumbling 10-min/1-hour windows (ST4), and
  * partial re-emission of day recaps as hours arrive (ST6). In
  * Structured Streaming those become: event-time tumbling windows +
  * watermark (bounds state; late rows beyond the watermark are
  * dropped — the batch path's anti-join handles older backfill) and
  * update-mode emission of window aggregates (ST6).
  *
  * The transforms are batch/stream agnostic (`DataFrame =>
  * DataFrame`): the same call works on `spark.read` and
  * `spark.readStream` inputs — verified by StreamingSpec which runs
  * `hourlyWindowed` on a MemoryStream.
  */
object StreamingRecap {

  /** ST4 — hourly tumbling event-time aggregation, streaming-legal
    * (single event-time window group; no sort-dependent aggregates).
    * Mirrors Recap.hourly's scalar aggregates; mode and the nested
    * data_points array stay in the batch/gold path (they need the
    * slot-dedup join shape that streaming can't express incrementally
    * without mapGroupsWithState — see `SlotState`). */
  def hourlyWindowed(obs: DataFrame, watermark: String = "2 hours"): DataFrame =
    obs
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("location_id"))
      .agg(
        (round(sum(round(col("temp_c") * 100).cast("long")) / count(col("temp_c"))) / 100.0)
          .as("avg_temp_c"),
        min(col("temp_c")).as("min_temp_c"),
        max(col("temp_c")).as("max_temp_c"),
        (coalesce(sum(round(col("precip_mm") * 100).cast("long")), lit(0L)) / 100.0)
          .as("total_precip_mm"),
        count(col("temp_c")).as("n_obs")
      )
      .select(
        col("window.start").as("hour_start"),
        col("location_id"),
        col("avg_temp_c"), col("min_temp_c"), col("max_temp_c"),
        col("total_precip_mm"), col("n_obs")
      )

  /** ST6 end-to-end — update-mode hourly aggregates flowing into the
    * idempotent keyed sink: each micro-batch re-emits only the
    * (hour, location) groups that changed, and `foreachBatch` +
    * dynamic partition overwrite replaces exactly those groups'
    * partitions. The partition key set matches the update unit (one
    * aggregate row per partition) so an overwrite can never drop
    * sibling groups — with plain parquet that is the correct (if
    * fine-grained) layout; a table format with row-level MERGE would
    * coarsen it to obs_date at 100 TB. Returns a started query the
    * caller awaits/stops. */
  def hourlyToGold(obs: DataFrame, path: String, watermark: String = "2 hours")
      : org.apache.spark.sql.streaming.StreamingQuery =
    hourlyWindowed(obs, watermark)
      .withColumn("obs_date", to_date(col("hour_start")))
      .withColumn("obs_hour", hour(col("hour_start")))
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // no isEmpty pre-check: it would run the stateful aggregation
        // once just to probe, then again for the write — and a dynamic
        // partition overwrite of an empty batch touches no partitions
        graft.sources.Sinks.upsertPartitions(
          batch.toDF(), path, Seq("obs_date", "obs_hour", "location_id"))
      }
      .start()

  /** Event-time SESSION windows (gap-based, the streaming form of the
    * batch `q_sessionize` lag/cumsum query): a session extends while
    * events keep arriving within `gap` of the previous one, and the
    * window closes `gap` after the last event. Spark's native
    * `session_window` keeps per-key open-session state bounded by the
    * watermark — at scale, state is O(open sessions), not O(events),
    * and merges are associative so map-side partials apply. */
  def sessionWindowed(events: DataFrame, gap: String = "30 minutes",
                      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (coalesce(sum(round(col("value") * 100).cast("long")), lit(0L)) / 100.0).as("sum_value"))
      .select(
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** ST1/ST4 — the 10-minute micro-batch window (slot granularity). */
  def slotWindowed(obs: DataFrame, watermark: String = "30 minutes"): DataFrame =
    obs
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "10 minutes"), col("location_id"))
      .agg(
        min_by(struct(col("temp_c"), col("condition")), col("obs_id")).as("first_obs"),
        count(lit(1)).as("n_obs")
      )
      .select(
        col("window.start").as("slot_start"),
        col("location_id"),
        col("first_obs.temp_c").as("temp_c"),
        col("first_obs.condition").as("condition"),
        col("n_obs")
      )
}
