package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Job, stage and task events seen since the last `take()`. The harness
  * runs one operation at a time and drains the listener bus before each
  * `take()`, so everything taken belongs to the window just closed. */
final case class ExecWindow(jobs: Seq[ExecListener.Job], stages: Seq[ExecListener.Stage],
                            tasks: Long, taskMs: Long, failedTasks: Long,
                            shuffleReadBytes: Long, shuffleWriteBytes: Long,
                            spillBytes: Long, peakTaskMemBytes: Long) {
  /** Jobs whose stages carry the table loader's call site — parquet
    * schema inference and footer reads in `graft.Tables`. */
  def tablesJobs: Seq[ExecListener.Job] = jobs.filter(_.stageNames.exists(_.contains("Tables.scala")))
}

object ExecListener {
  final case class Job(id: Int, start: Long, end: Long, stageIds: Seq[Int], stageNames: Seq[String])
  final case class Stage(id: Int, name: String, start: Long, end: Long, tasks: Int)
}

final class ExecListener extends SparkListener {
  import ExecListener._

  private val jobStarts = scala.collection.mutable.Map.empty[Int, SparkListenerJobStart]
  private val jobs = ArrayBuffer.empty[Job]
  private val stages = ArrayBuffer.empty[Stage]
  private var tasks, taskMs, failed, shRead, shWrite, spill = 0L
  private var peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { s =>
      jobs += Job(e.jobId, s.time, e.time, s.stageIds, s.stageInfos.map(_.name))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime)
      stages += Stage(i.stageId, i.name, a, b, i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskInfo != null) {
      taskMs += e.taskInfo.duration
      if (!e.taskInfo.successful) failed += 1
    }
    val m = e.taskMetrics
    if (m != null) {
      shRead += m.shuffleReadMetrics.totalBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peak = math.max(peak, m.peakExecutionMemory)
    }
  }

  def take(): ExecWindow = synchronized {
    val w = ExecWindow(jobs.toList, stages.toList, tasks, taskMs, failed, shRead, shWrite, spill, peak)
    jobs.clear(); stages.clear()
    tasks = 0; taskMs = 0; failed = 0; shRead = 0; shWrite = 0; spill = 0; peak = 0
    w
  }
}

/** Catalyst phase times (analysis, optimization, planning) of the
  * actions that finished since the last `take()`, from each action's
  * `QueryExecution.tracker`. */
final class PhaseListener extends QueryExecutionListener {
  /** phase name -> (start, end) in epoch ms, one map per action */
  private val seen = ArrayBuffer.empty[Map[String, (Long, Long)]]

  private def record(qe: QueryExecution): Unit = synchronized {
    seen += qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def take(): Seq[Map[String, (Long, Long)]] = synchronized { val r = seen.toList; seen.clear(); r }
}

/** Per-micro-batch progress of every streaming query. */
final class StreamListener extends StreamingQueryListener {
  import StreamListener.Batch
  private val batches = ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators.toSeq
    batches += Batch(p.batchId, p.sources.map(_.description).mkString(";"), ms,
      p.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      java.time.Instant.parse(p.timestamp).toEpochMilli + ms)
  }

  def take(): Seq[Batch] = synchronized { val r = batches.toList; batches.clear(); r }
}

object StreamListener {
  final case class Batch(batchId: Long, source: String, triggerMs: Long,
                         inputRows: Long, stateRows: Long, stateBytes: Long, endMs: Long)
}
