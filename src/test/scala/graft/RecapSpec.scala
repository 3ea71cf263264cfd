package graft

import graft.ops.{Dedup, Observations, Recap}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Reference-semantics edge cases for the recap pipeline (SURVEY §5.2):
  * slot keep-first, null-slot grid fill, sum-empty⇒0 vs avg-empty⇒null,
  * missing hours omitted, is_full_recap flag.
  */
class RecapSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // (obs_id, location_id, ts, temp_c, condition, precip_mm)
  private lazy val fixture = Seq(
    // loc 1, hour 5: two obs in slot 00 (ids 10, 11 — first wins),
    // one obs in slot 30; slots 10,20,40,50 missing
    (10L, 1L, ts("2024-01-01 05:03:00"), 20.0, "rain", Some(1.5)),
    (11L, 1L, ts("2024-01-01 05:07:00"), 99.0, "hail", Some(9.9)),
    (12L, 1L, ts("2024-01-01 05:31:00"), 22.0, "rain", None),
    // loc 1, hour 23: one obs → makes day "full"
    (13L, 1L, ts("2024-01-01 23:55:00"), 10.0, "snow", None),
    // loc 2, hour 0 only: no precip at all → sum must be 0, not null
    (20L, 2L, ts("2024-01-01 00:15:00"), 30.0, "sun", None),
    (21L, 2L, ts("2024-01-01 00:25:00"), 31.0, "sun", None)
  ).toDF("obs_id", "location_id", "ts", "temp_c", "condition", "precip_mm")

  private lazy val obs = Observations.withTimeBuckets(fixture)
  private lazy val hourly = Recap.hourly(Recap.slotFirst(obs)).cache()

  test("slot keep-first: lowest obs_id wins within a 10-minute slot") {
    val h5 = hourly.where($"location_id" === 1 && $"obs_hour" === 5).head()
    // slot 00 keeps id 10 (temp 20.0), not id 11 (99.0)
    assert(h5.getAs[Double]("max_temp_c") == 22.0)
    assert(h5.getAs[Double]("avg_temp_c") == 21.0)
    assert(h5.getAs[Long]("n_obs") == 2)
  }

  test("fixed 6-slot grid: missing slots are null entries, present keep payload") {
    val h5 = hourly.where($"location_id" === 1 && $"obs_hour" === 5).head()
    val points = h5.getAs[collection.Seq[Row]]("data_points")
    assert(points.size == 6)
    assert(points(0) != null && points(0).getAs[Double]("temp_c") == 20.0)
    assert(points(1) == null) // slot 10 missing
    assert(points(3) != null && points(3).getAs[Double]("temp_c") == 22.0)
    assert(points(5) == null) // slot 50 missing
  }

  test("sum over all-null precip ⇒ 0.0 (reference A7), avg stays null-free") {
    val h0 = hourly.where($"location_id" === 2 && $"obs_hour" === 0).head()
    assert(h0.getAs[Double]("total_precip_mm") == 0.0)
  }

  test("daily: missing hours omitted, is_full_recap ⇔ hour 23 present") {
    val daily = Recap.daily(hourly).cache()
    val d1 = daily.where($"location_id" === 1).head()
    assert(d1.getAs[Long]("hours_present") == 2) // hours 5 and 23 only
    assert(d1.getAs[Boolean]("is_full_recap"))
    val hours = d1.getAs[collection.Seq[Row]]("hourly").map(_.getAs[Int]("hour"))
    assert(hours.toSeq == Seq(5, 23)) // sorted, gaps omitted
    val d2 = daily.where($"location_id" === 2).head()
    assert(!d2.getAs[Boolean]("is_full_recap"))
  }

  test("dedup keepFirstAgg drops exactly the duplicate losers") {
    val first = Dedup.keepFirstAgg(obs, Seq("location_id", "obs_date", "obs_hour", "obs_slot"), "obs_id")
    val losers = obs.select("obs_id").except(first.select("obs_id"))
    assert(first.count() + losers.count() == obs.count())
    assert(losers.as[Long].collect().toSeq == Seq(11L))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
