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
  * The transform is batch/stream agnostic (`DataFrame =>
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
    * without mapGroupsWithState). */
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
}
