package graft.ops

import graft.sources.Sinks
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The three reference pipelines composed end-to-end (SURVEY §3):
  * ingest → flatten → daily recap, as pure DataFrame transforms plus
  * partitioned-parquet sinks.
  *
  * Stage semantics (with their reference sites):
  *  1. ingest: envelope raw payloads, discriminated union of
  *     current/history paths, future-row cutoff, anti-join against
  *     already-stored keys, append to bronze
  *     (dags/fetch_weather.py:57-145).
  *  2. flatten: per-window filter, dedup keep-first, null guards,
  *     nested→flat projection, unique-key enforcement, append silver
  *     (dags/transform_raw_weather.py:24-124).
  *  3. recap: slot dedup → hourly → daily nesting → broadcast dim
  *     join, idempotent dynamic-partition upsert of gold keyed by
  *     (obs_date) (dags/daily_compile_weather.py:96-143).
  *
  * At scale: bronze partitioned by ingest date, silver by obs_date,
  * gold by obs_date — every downstream `where(date)` prunes
  * partitions, and the recap re-run for one day rewrites exactly one
  * partition.
  */
object Pipelines {

  /** Stage 1 — ingest shaping: union of live + backfill observation
    * batches, cutoff of future rows, dedup against existing bronze
    * keys, append to bronze. */
  def ingest(live: DataFrame, backfill: DataFrame, now: Column,
             existingKeys: DataFrame, bronzePath: String): Unit = {
    val unioned = Shaping.discriminatedUnion(live, "current", backfill, "history")
    val cut = Observations.cutoffAfter(unioned, now)
    val fresh = Dedup.notYetProcessed(cut, existingKeys, Seq("location_id", "ts"))
    Sinks.append(fresh.withColumn("ingest_date", to_date(col("ts"))), bronzePath, Seq("ingest_date"))
  }

  /** Stage 2 — flatten bronze → silver: guards, time buckets,
    * unique-key keep-first, append. */
  def flatten(bronze: DataFrame, silverPath: String): Unit = {
    val flat = Observations.withTimeBuckets(Observations.guardValid(bronze))
    val unique = Sinks.enforceUnique(flat, Seq("location_id", "ts"), "obs_id")
    Sinks.append(unique, silverPath, Seq("obs_date"))
  }

  /** Stage 3 — gold daily recap with idempotent per-day upsert. */
  def recap(silver: DataFrame, dim: DataFrame, goldPath: String): Unit =
    Sinks.upsertPartitions(Recap.pipeline(silver, dim), goldPath, Seq("obs_date"))
}
