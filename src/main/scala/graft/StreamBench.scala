package graft

/** Streaming throughput micro-benchmark (r13 verdict item #8): runs
  * the end-to-end streaming composition — paged source → near-dup
  * ingest gate → event-time hourly windows → exactly-once snapshot
  * sink ([[graft.streaming.StreamPipelineBench]]) — at two event
  * volumes and prints one JSON line per (volume, trigger) plus a
  * summary line per volume:
  *
  *   {"stream_trigger": ..., "volume":N, "page":i, "rows":r,
  *    "ingest_sec":…, "gold_sec":…, "state_rows":…, "state_mb":…}
  *   {"stream_total": ..., "volume":N, "rows_per_sec":…,
  *    "clean_rows":…, "snapshot_versions":…, "state_rows_max":…}
  *
  * Volumes default to 20,000 and 100,000 rows (the sf0.1 events
  * volume) over 5 triggers each; override with
  * SPARK_GRAFT_STREAM_VOLUMES=v1,v2 and SPARK_GRAFT_STREAM_PAGES=N.
  * Event times advance across pages over a 48-hour span, so the
  * 2-hour watermark closes windows as the run proceeds — the
  * published state_rows column demonstrates bounded streaming state
  * (windows in the watermark horizon × locations), not O(total rows).
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val volumes = sys.env.getOrElse("SPARK_GRAFT_STREAM_VOLUMES", "20000,100000")
      .split(",").map(_.trim.toInt).toSeq
    val pages = sys.env.getOrElse("SPARK_GRAFT_STREAM_PAGES", "5").toInt
    val (spark, _) = GraftSession.fromEnv("graft-streambench")
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    volumes.foreach { volume =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-sbench-$volume")
      val r = graft.streaming.StreamPipelineBench.run(
        spark, volume, pages, locations = 20, spanHours = 48, root.toString)
      r.triggers.foreach { t =>
        println(s"""{"stream_trigger":true,"volume":$volume,"page":${t.page},""" +
          s""""rows":${t.rows},"ingest_sec":${f3(t.ingestSec)},""" +
          s""""gold_sec":${f3(t.goldSec)},"state_rows":${t.stateRows},""" +
          s""""state_mb":${f3(t.stateBytes / 1e6)}}""")
      }
      println(s"""{"stream_total":true,"volume":$volume,"pages":$pages,""" +
        s""""total_sec":${f3(r.totalSec)},"rows_per_sec":${f3(r.rowsPerSec)},""" +
        s""""clean_rows":${r.cleanRows},"snapshot_versions":${r.snapshotVersions},""" +
        s""""state_rows_max":${r.triggers.map(_.stateRows).max}}""")
    }
    spark.stop()
  }
}
