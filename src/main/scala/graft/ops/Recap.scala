package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The flagship daily-recap pipeline (reference stage 3,
  * dags/daily_compile_weather.py — restated Spark-first per SURVEY §3.3).
  *
  * Reference semantics reproduced:
  *  - first observation per 10-minute slot wins (J6, :38) — here the
  *    winner is min(obs_id) (explicit total order, not insertion order);
  *  - fixed 6-slot minute grid per hour, missing slots → null structs
  *    (J5, :34-58);
  *  - per-hour aggregates over the slot-deduped values: avg/min/max
  *    temp rounded to 2dp (A4/A5, :71-75), deterministic mode of
  *    condition (A6, :76), sum of precip with empty⇒0 (A7, :78);
  *  - hours with no data are OMITTED from the day array (A9, :123-124);
  *  - is_full_recap ⇔ hour 23 present (A10, :114-115);
  *  - broadcast dim join for location names (J1, :26-30).
  *
  * Physical shape: three hash aggregations, each with map-side partial
  * aggregation (min_by instead of a window for keep-first), plus one
  * broadcast join. The reference does 27 serial Mongo round-trips per
  * day; this is one distributed job. At 100 TB the group keys
  * (location × date × hour × slot) keep every group tiny, so no skew;
  * AQE coalesces the small-SF shuffles.
  */
object Recap {

  private val slotKeys = Seq("location_id", "obs_date", "obs_hour", "obs_slot")

  /** Stage A — first observation per (location, date, hour, slot).
    * Aggregation form of keep-first: min_by over obs_id gets map-side
    * partial aggregation, unlike row_number over a window. */
  def slotFirst(obs: DataFrame): DataFrame =
    obs
      .groupBy(slotKeys.map(col): _*)
      .agg(
        min_by(struct(col("temp_c"), col("condition"), col("precip_mm")), col("obs_id")).as("v"),
        min(col("obs_id")).as("obs_id")
      )
      .select(
        col("location_id"), col("obs_date"), col("obs_hour"), col("obs_slot"),
        col("obs_id"), col("v.temp_c"), col("v.condition"), col("v.precip_mm")
      )

  /** Stage B — hourly rollup over slot-deduped observations: scalar
    * aggregates + the fixed 6-slot data_points array (missing slots are
    * null structs, reference dags/daily_compile_weather.py:48-56). */
  def hourly(slotObs: DataFrame): DataFrame = {
    val scalarAggs = Seq(
      // avg rounded to 2dp (reference dags/daily_compile_weather.py:71).
      // Computed in exact integer cents: double summation is not
      // associative and shuffle merge order varies run-to-run, so a
      // plain avg() can flip the final rounding. Integer sums are
      // exact at any merge order.
      (round(sum(round(col("temp_c") * 100).cast("long")) / count(col("temp_c"))) / 100.0)
        .as("avg_temp_c"),
      min(col("temp_c")).as("min_temp_c"),
      max(col("temp_c")).as("max_temp_c"),
      mode(col("condition"), deterministic = true).as("dominant_condition"),
      // reference: sum over empty ⇒ 0, unlike avg/min/max ⇒ null
      // (dags/daily_compile_weather.py:78 vs :71-75); exact cents again
      (coalesce(sum(round(col("precip_mm") * 100).cast("long")), lit(0L)) / 100.0)
        .as("total_precip_mm"),
      count(col("temp_c")).as("n_obs")
    )
    // fixed 6-slot grid as six declarative per-slot aggregates:
    // slotFirst guarantees ≤1 row per (group, slot), so
    // max(when(slot===s, payload)) is exactly that row's payload, or
    // null for an empty slot (max skips nulls) — the reference's null
    // fill. Declarative min/max keep the whole assembly inside
    // codegen'd aggregation; the previous map_from_entries ∘
    // collect_list + interpreted transform/element_at lookup built a
    // per-group map only to probe it 6 times.
    val slotAggs = (0 to 50 by 10).map { s =>
      max(when(col("obs_slot") === s,
        struct(col("obs_slot").as("minute"),
          col("temp_c"), col("condition"), col("precip_mm"))))
        .as(s"slot_$s")
    }
    val aggs = scalarAggs ++ slotAggs
    // one exchange serves the whole rest of the pipeline: hash on
    // (location_id, obs_date) satisfies the clustering required by
    // BOTH this (loc, date, hour) aggregation and daily()'s
    // (loc, date) aggregation — Catalyst plans them exchange-free on
    // top of it (3 exchanges → 2 across slotFirst→hourly→daily).
    // slotFirst keeps its own 4-key exchange because its map-side
    // partial aggregation is the big pre-shuffle reducer (~17× on the
    // events corpus); from there the data is small enough that
    // re-clustering it once more beats two further exchanges.
    slotObs
      .repartition(col("location_id"), col("obs_date"))
      .groupBy(col("location_id"), col("obs_date"), col("obs_hour"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("data_points",
        array((0 to 50 by 10).map(s => col(s"slot_$s")): _*))
      .drop((0 to 50 by 10).map(s => s"slot_$s"): _*)
  }

  /** Stage C — daily nesting: hours (sorted, missing hours omitted) →
    * `hourly` array; is_full_recap ⇔ hour 23 present. */
  def daily(hourlyDf: DataFrame): DataFrame =
    hourlyDf
      .groupBy(col("location_id"), col("obs_date"))
      .agg(
        sort_array(
          collect_list(
            struct(
              col("obs_hour").as("hour"),
              col("avg_temp_c"), col("min_temp_c"), col("max_temp_c"),
              col("dominant_condition"), col("total_precip_mm"),
              col("n_obs"), col("data_points")
            )
          )
        ).as("hourly"),
        max(when(col("obs_hour") === 23, true).otherwise(false)).as("is_full_recap"),
        count(lit(1)).as("hours_present")
      )

  /** J1 — broadcast dim join: attach location attributes (the driver's
    * `customer` table plays the 27-row master_location dim,
    * reference dags/daily_compile_weather.py:26-30). */
  def withLocationDim(recap: DataFrame, dim: DataFrame): DataFrame =
    recap.join(
      broadcast(dim.select(col("c_custkey").as("location_id"), col("c_name").as("location_name"))),
      Seq("location_id"),
      "left"
    )

  /** Full pipeline: observations → gold daily recap. */
  def pipeline(obs: DataFrame, dim: DataFrame): DataFrame =
    withLocationDim(daily(hourly(slotFirst(obs))), dim)
}
