package graft

import graft.ops.Pipelines
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** End-to-end bronze → silver → gold over real testdata events, with
  * re-run idempotence (the reference's catchup semantics, ST3/ST6/ST7). */
class PipelineIntegrationSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def tmp(): String = Files.createTempDirectory("graft-pipe").toString

  private def obsFrame(rows: Seq[(Long, Long, Timestamp, Double, String, Option[Double])]) =
    rows.toDF("obs_id", "location_id", "ts", "temp_c", "condition", "precip_mm")

  test("three-stage pipeline: ingest → flatten → recap, then idempotent re-run") {
    val bronze = tmp(); val silver = tmp(); val gold = tmp()
    val live = obsFrame(Seq(
      (1L, 1L, ts("2024-01-01 05:03:00"), 20.0, "rain", Some(1.0)),
      (2L, 1L, ts("2024-01-01 05:31:00"), 22.0, "sun", None),
      (3L, 2L, ts("2024-01-01 06:10:00"), 30.0, "sun", None),
      (9L, 2L, ts("2024-01-02 09:00:00"), 15.0, "snow", None) // future row (cut)
    ))
    val backfill = obsFrame(Seq(
      (4L, 1L, ts("2024-01-01 03:15:00"), 18.0, "rain", Some(0.5)),
      (1L, 1L, ts("2024-01-01 05:03:00"), 20.0, "rain", Some(1.0)) // dup of live key
    ))
    val now = lit("2024-01-01 23:59:59").cast("timestamp")
    val empty = obsFrame(Seq()).select("location_id", "ts")

    Pipelines.ingest(live, backfill, now, empty, bronze)
    // anti-join dedups only against STORED keys (reference J4); the
    // intra-batch duplicate passes through and is fenced at flatten (S8)
    assert(spark.read.parquet(bronze).count() == 5) // 6 rows - 1 future

    Pipelines.flatten(spark.read.parquet(bronze), silver)
    assert(spark.read.parquet(silver).count() == 4) // unique-key enforcement drops the dup

    val dim = Seq((1L, "Bandung"), (2L, "Bogor")).toDF("c_custkey", "c_name")
      .withColumn("c_nationkey", lit(0)).withColumn("c_acctbal", lit(0.0))
      .withColumn("c_mktsegment", lit(""))
    Pipelines.recap(spark.read.parquet(silver), dim, gold)
    val g = spark.read.parquet(gold)
    assert(g.count() == 2) // (loc 1, day 1), (loc 2, day 1)
    val loc1 = g.where($"location_id" === 1).head()
    assert(loc1.getAs[String]("location_name") == "Bandung")
    assert(loc1.getAs[Long]("hours_present") == 2) // hours 3 and 5

    // re-run recap on the same silver — gold must be unchanged (upsert)
    Pipelines.recap(spark.read.parquet(silver), dim, gold)
    assert(spark.read.parquet(gold).count() == 2)

    // late-data catchup: a second ingest run brings one genuinely new
    // row + one already-stored key; only the new row lands
    val lateBatch = obsFrame(Seq(
      (5L, 2L, ts("2024-01-01 06:55:00"), 31.0, "hail", None),
      (6L, 1L, ts("2024-01-01 05:31:00"), 99.0, "hail", None) // existing key (loc1@05:31)
    ))
    val existing = spark.read.parquet(bronze).select("location_id", "ts")
    Pipelines.ingest(lateBatch, obsFrame(Seq()), now, existing, bronze)
    val stored = spark.read.parquet(bronze)
    assert(stored.count() == 6)
    assert(stored.where($"obs_id".isin(5L, 6L)).select($"obs_id").as[Long].collect().toSeq ==
      Seq(5L))

    // recap after catchup updates only the affected day partition
    Pipelines.flatten(spark.read.parquet(bronze), silver)
    // silver now has appended duplicates across batches; recap dedups by slot
    Pipelines.recap(
      graft.ops.Dedup.keepFirstAgg(spark.read.parquet(silver), Seq("location_id", "ts"), "obs_id"),
      dim, gold)
    val loc2 = spark.read.parquet(gold).where($"location_id" === 2).head()
    assert(loc2.getAs[Long]("hours_present") == 1)
  }

  test("raw landed JSON → ingest: the full S1/S2 shape from files on disk") {
    // a landing dir as the fetcher leaves it: current + history payloads
    // interleaved with an API error doc, a malformed line, and a
    // future-dated observation
    val landing = Files.createTempDirectory("graft-landing2")
    def doc(method: String, loc: Long, obsId: Long, time: String, temp: Double) =
      s"""{"created_at":"2024-01-01 08:00:00","fetch_method":"$method","location":{"id":$loc,"name":"L$loc"},"current":{"obs_id":$obsId,"time":"$time","temp_c":$temp,"condition":"sun"}}"""
    Files.writeString(landing.resolve("landed.json"), Seq(
      doc("current", 1L, 1L, "2024-01-01 05:03:00", 20.0),
      doc("current", 2L, 2L, "2024-01-01 06:10:00", 30.0),
      doc("history", 1L, 3L, "2024-01-01 03:15:00", 18.0),
      doc("history", 1L, 4L, "2024-01-02 09:00:00", 15.0), // future → cut
      """{"error":{"code":2008,"message":"API key disabled."}}""",
      """{"fetch_method":"current","location":{"id":"""
    ).mkString("\n"))

    val obs = graft.sources.Sources.landedJson(spark, landing.toString)
    val live = obs.where($"fetch_method" === "current").drop("fetch_method")
    val backfill = obs.where($"fetch_method" === "history").drop("fetch_method")
    val bronze = tmp()
    Pipelines.ingest(live, backfill,
      lit("2024-01-01 23:59:59").cast("timestamp"),
      obs.limit(0).select("location_id", "ts"), bronze)
    // 6 lines: -1 error doc, -1 malformed, -1 future cutoff = 3 ingested
    val stored = spark.read.parquet(bronze)
    assert(stored.count() == 3)
    assert(stored.select($"location_id").as[Long].collect().sorted.toSeq == Seq(1L, 1L, 2L))
    // discriminated union re-tagged both legs
    assert(stored.select($"fetch_method").distinct().as[String].collect().toSet ==
      Set("current", "history"))
  }
}
