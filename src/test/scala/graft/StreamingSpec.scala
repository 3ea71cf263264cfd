package graft

import graft.streaming.StreamingRecap
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Runs the streaming recap transform on a real MemoryStream →
  * memory-sink query, proving it is streaming-legal (watermark
  * accepted, incremental execution, update mode). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  case class Obs(obs_id: Long, location_id: Long, ts: Timestamp, temp_c: Double,
                 condition: String, precip_mm: Option[Double])

  test("hourlyWindowed runs incrementally over a MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Obs]
    val query = StreamingRecap.hourlyWindowed(input.toDF())
      .writeStream.format("memory").queryName("hourly_out").outputMode("update").start()
    try {
      input.addData(
        Obs(1, 1, ts("2024-01-01 05:03:00"), 20.0, "rain", Some(1.0)),
        Obs(2, 1, ts("2024-01-01 05:31:00"), 22.0, "sun", None),
        Obs(3, 2, ts("2024-01-01 06:10:00"), 30.0, "sun", None)
      )
      query.processAllAvailable()
      val out = spark.table("hourly_out")
        .collect().map(r => (r.getAs[Long]("location_id"), r.getAs[Timestamp]("hour_start").toString) ->
          (r.getAs[Double]("avg_temp_c"), r.getAs[Long]("n_obs"), r.getAs[Double]("total_precip_mm"))).toMap
      assert(out((1L, "2024-01-01 05:00:00.0")) == ((21.0, 2L, 1.0)))
      assert(out((2L, "2024-01-01 06:00:00.0")) == ((30.0, 1L, 0.0)))
      // late-but-within-watermark row updates the aggregate
      input.addData(Obs(4, 1, ts("2024-01-01 05:55:00"), 24.0, "sun", Some(0.5)))
      query.processAllAvailable()
      val updated = spark.table("hourly_out")
        .where($"location_id" === 1).orderBy($"hour_start")
        .collect().last
      assert(updated.getAs[Long]("n_obs") == 3L)
      assert(updated.getAs[Double]("avg_temp_c") == 22.0)
    } finally query.stop()
  }
}
