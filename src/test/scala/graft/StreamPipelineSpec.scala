package graft

import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Incremental
import graft.sources.Snapshots
import graft.streaming.{StreamDedup, StreamingRecap, StreamSnapshot}

/** r9 verdict item #6: every streaming operator was proven in
  * isolation; THIS spec proves the full production chain composes.
  * One pipeline, end to end:
  *
  *   paged landing zone (graft-pages micro-batch DSv2 source)
  *     → StreamDedup.dedupedIngest   (intra-batch + vs-index near-dup
  *        gate; idempotent partition writes to the clean corpus)
  *     → file-stream over the clean corpus
  *     → StreamingRecap.hourlyWindowed (event-time windows, watermark)
  *     → StreamSnapshot.sink          (exactly-once tagged versions)
  *
  * with a MID-STREAM RESTART of both queries (durable checkpoints)
  * and a LATE batch (older event time, inside the watermark) landed
  * while the pipeline is down. Asserts: the late row is counted
  * exactly once, snapshot versions are exactly-once (no duplicate
  * (hour, location) rows across replays), and the streamed result
  * equals the batch recompute of the same transform over the same
  * clean corpus.
  */
class StreamPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("location_id", LongType), StructField("ts_epoch", LongType),
    StructField("temp_c", DoubleType), StructField("precip_mm", DoubleType)))

  private def landPage(dir: Path, name: String,
                       rows: Seq[(Long, String, Long, Long, Double, Double)]): Unit = {
    val page = dir.resolve(name)
    val body = rows.map { case (id, text, loc, ts, t, p) =>
      s"""{"doc_id": $id, "text": "$text", "location_id": $loc, """ +
        s""""ts_epoch": $ts, "temp_c": $t, "precip_mm": $p}"""
    }.mkString("", "\n", "\n")
    Files.write(page, body.getBytes)
    val line = s"""{"path": "${page.toString}", "rows": ${rows.length}, """ +
      s""""key_min": ${rows.map(_._1).min}, "key_max": ${rows.map(_._1).max}}""" + "\n"
    Files.write(dir.resolve("manifest.json"), line.getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  // distinct sentences (shingle-disjoint), plus one near-dup pair
  private val tA = "the quick brown fox jumps over the lazy dog in the park today"
  private val tADup = "the quick brown fox jumps over the lazy cat in the park today"
  private val tB = "spark catalyst plans declarative queries into physical operator trees"
  private val tC = "weather in bandung is rainy with moderate temperatures all week long"
  private val tD = "late observations still belong to their original event time window"
  private val tE = "the watermark pusher row exists only to close the earlier windows"

  test("paged source -> dedup ingest -> hourly windows -> snapshot sink; restart + late batch; streamed == batch") {
    val base = 1704067200L // 2024-01-01 00:00:00 UTC
    def at(h: Int, m: Int) = base + h * 3600L + m * 60L

    val land = Files.createTempDirectory("graft-pipe-land")
    val root = Files.createTempDirectory("graft-pipe").toString
    val (idx, clean, table) = (s"$root/index", s"$root/clean", s"$root/gold")
    val cp1 = s"$root/cp-ingest"
    val cp2 = s"$root/cp-gold"
    Files.createDirectories(java.nio.file.Paths.get(clean))
    Incremental.writeIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", 3, idx)

    def ingest() = StreamDedup.dedupedIngest(
      spark.readStream.format("graft-pages").schema(schema)
        .option("manifest", land.toString).option("keyCol", "doc_id").load(),
      "text", 3, 0.5, idx, clean, Some(cp1))

    def gold() = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(clean)
      .withColumn("ts", timestamp_seconds(col("ts_epoch")))
      .transform(df => StreamingRecap.hourlyWindowed(df, watermark = "2 hours"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp2)
      .foreachBatch(StreamSnapshot.sink(table))
      .start()

    // ---- phase 1: two pages, one intra-batch near-dup + one vs-index dup
    landPage(land, "p0.json", Seq(
      (1L, tA, 1L, at(10, 0), 10.0, 0.0),
      (2L, tADup, 1L, at(10, 10), 99.0, 9.0), // near-dup of doc 1 — must NOT count
      (3L, tB, 1L, at(10, 30), 20.0, 0.0)))
    val q1a = ingest()
    q1a.processAllAvailable()
    landPage(land, "p1.json", Seq(
      (4L, tA, 1L, at(10, 40), 77.0, 7.0), // exact dup vs index — must NOT count
      (5L, tC, 1L, at(11, 15), 30.0, 1.5)))
    q1a.processAllAvailable()
    val q2a = gold()
    q2a.processAllAvailable()

    // ---- mid-stream restart: stop BOTH queries, land a LATE page
    q1a.stop(); q2a.stop()
    landPage(land, "p2.json", Seq(
      (6L, tD, 1L, at(10, 45), 40.0, 0.5))) // event time BEFORE max seen (11:15)
    val q1b = ingest()
    q1b.processAllAvailable()
    // watermark pusher: closes the 10:00 and 11:00 windows
    landPage(land, "p3.json", Seq(
      (7L, tE, 2L, at(14, 0), 5.0, 0.0)))
    q1b.processAllAvailable()
    val q2b = gold()
    q2b.processAllAvailable()
    q1b.stop(); q2b.stop()

    // ---- dedup gate end-to-end: exactly the novel docs survived
    val cleanDf = spark.read.schema(schema)
      .option("recursiveFileLookup", "true").parquet(clean)
    assert(cleanDf.select($"doc_id").as[Long].collect().toSet == Set(1L, 3L, 5L, 6L, 7L))

    // ---- the snapshot table: finalized windows only, each EXACTLY once
    val goldDf = Snapshots.read(spark, table)
    val rows = goldDf
      .select($"hour_start", $"location_id", $"avg_temp_c", $"min_temp_c",
        $"max_temp_c", $"total_precip_mm", $"n_obs")
      .as[(java.sql.Timestamp, Long, Double, Double, Double, Double, Long)]
      .collect().toSeq
    // exactly-once across the restart/replay: no (hour, location) twice
    assert(rows.map(r => (r._1, r._2)).distinct.size == rows.size,
      s"duplicate finalized windows in the snapshot: $rows")
    // the late row (doc 6, 10:45) counted exactly once: hour 10 has
    // docs 1, 3, 6 -> n=3, avg=(10+20+40)/3=23.33, precip=0.5
    val h10 = rows.find(r => r._1.toInstant.getEpochSecond == at(10, 0) && r._2 == 1L).get
    assert(h10._7 == 3L && h10._3 == 23.33 && h10._4 == 10.0 && h10._5 == 40.0 &&
      h10._6 == 0.5, h10)
    val h11 = rows.find(r => r._1.toInstant.getEpochSecond == at(11, 0) && r._2 == 1L).get
    assert(h11._7 == 1L && h11._3 == 30.0, h11)

    // ---- streamed == batch: the SAME transform over the SAME clean
    // corpus, batch mode (watermark is a no-op), restricted to the
    // windows the stream could finalize (watermark = 14:00 - 2h)
    val batch = StreamingRecap.hourlyWindowed(
        cleanDf.withColumn("ts", timestamp_seconds(col("ts_epoch"))))
      .where(col("hour_start") < timestamp_seconds(lit(at(12, 0))))
      .select($"hour_start", $"location_id", $"avg_temp_c", $"min_temp_c",
        $"max_temp_c", $"total_precip_mm", $"n_obs")
      .as[(java.sql.Timestamp, Long, Double, Double, Double, Double, Long)]
      .collect().toSeq
    assert(rows.toSet == batch.toSet,
      s"streamed ${rows.toSet} != batch ${batch.toSet}")

    // the version history IS the micro-batch ledger: every version is
    // tagged batch=<id>, unique by construction
    val tags = Snapshots.tagsNewestFirst(table).toSet
    assert(tags.nonEmpty && tags.size == Snapshots.currentVersion(table),
      s"tags $tags vs ${Snapshots.currentVersion(table)} versions")
  }
}
