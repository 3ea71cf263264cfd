package graft

import org.apache.spark.scheduler._

/** Per-job / per-stage wall-time attribution for one registered query
  * — the measurement tool behind the r14 optimization round (guide
  * §1: decide whether time goes to shuffle read/write, compute, or
  * scheduling BEFORE touching the code).
  *
  * `runMain graft.JobProfile <q_name> [q_name2 ...]` runs each query
  * twice (cold + warm, the Profile convention) and prints, for the
  * WARM run, one line per completed stage: wall ms, task count, sum
  * of task run times, shuffle read/write bytes, input bytes — plus a
  * per-job rollup. Stage rows make "5 iterations × 3 exchanges" vs
  * "one big scan" immediately visible where a single total cannot.
  *
  * Builds its session like Bench (`GraftSession.fromEnv`) so numbers
  * line up with bench rows.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val (spark, sfDir) = GraftSession.fromEnv("graft-jobprofile")
    // same session warm-up as Bench so the cold run is comparable
    spark.range(1000).selectExpr("sum(id)").collect()

    @volatile var capture = false
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (capture) {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        rows.add(f"    stage ${si.stageId}%4d wall=${wall}%5d ms tasks=${si.numTasks}%4d " +
          f"taskTime=${m.executorRunTime}%6d ms shR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1f MB " +
          f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1f MB in=${m.inputMetrics.bytesRead / 1e6}%8.1f MB " +
          f"| ${si.name.take(60)}")
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = if (capture) {
        jobStart.put(js.jobId, js.time)
        rows.add(f"  job ${js.jobId}%4d START stages=${js.stageIds.size}")
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = if (capture) {
        val dur = Option(jobStart.get(je.jobId)).map(je.time - _).getOrElse(-1L)
        rows.add(f"  job ${je.jobId}%4d END   wall=${dur}%5d ms")
      }
    })

    args.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"JobProfile: unknown query '$name'"))
      val t0 = System.nanoTime(); fn(spark, sfDir).count()
      val cold = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftSparkShim.drainListeners(spark.sparkContext)
      rows.clear(); capture = true
      val t1 = System.nanoTime(); fn(spark, sfDir).count()
      val warm = (System.nanoTime() - t1) / 1e9
      org.apache.spark.GraftSparkShim.drainListeners(spark.sparkContext)
      capture = false
      println(f"== $name cold=$cold%.3f s warm=$warm%.3f s (stage/job detail = warm run)")
      rows.forEach(r => println(r))
    }
    spark.stop()
  }
}
