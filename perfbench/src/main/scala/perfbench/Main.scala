package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.GraftSparkShim
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one closed loop with one client.
  *
  * `python3 perfbench/run.py` generates the inputs, builds this program
  * and launches it with
  * `--workload <w> --seed <n> --seconds <s> --trace <0|1> --cores <n>
  *  --data <tables dir> --inputs <generated inputs dir> --work <scratch dir>
  *  --queries <comma list> --expected <digests file> --out <result json>`.
  * It writes a raw result JSON (samples, checks, layer sums) that
  * run.py turns into the reported metrics, and with `--trace 1` a span
  * JSONL next to it.
  *
  * Two maintenance modes serve `make_expected.py`: `--workload survey`
  * times every registered query cold and warm with its builder jobs,
  * and `--workload digests` dumps each named query's result as parquet
  * with its digest, for the cross-check against the DuckDB oracle.
  */
object Main {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
    def int(k: String): Int = apply(k).toInt
  }

  def parse(args: Array[String]): Args =
    Args(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = Paths.get(a("work"))
    Files.createDirectories(work)
    val out = Paths.get(a("out"))
    val workload = a("workload")
    val cores = a.int("cores")
    val result: Map[String, Any] =
      if (workload == "digests") Workloads.dumpDigests(session(cores, work), a)
      else if (workload == "survey") Workloads.survey(session(cores, work), a)
      else {
        val trace = a.int("trace") == 1
        val w = Workloads.forName(workload, a)
        // set up several times and keep the last session: the first
        // set-up is timed from JVM start, later ones from session stop
        val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
        val setups = mutable.ArrayBuffer.empty[Double]
        var spark: SparkSession = null
        for (i <- 0 until 3) {
          val t0 = if (i == 0) jvmStart else Clock.nowMs()
          if (spark != null) spark.stop()
          spark = session(cores, work)
          val ready = Clock.nowMs()
          w.setup(spark)
          setups += (Clock.nowMs() - t0) / 1000.0
          System.err.println(f"[perfbench] set-up ${i + 1}: session ${(ready - t0) / 1000}%.2f s, " +
            f"warm-up ${(Clock.nowMs() - ready) / 1000}%.2f s")
        }
        val ctx = new Ctx(spark, trace, cores)
        val r = w.measure(ctx, a.int("seed"), a.int("seconds") * 1000.0)
        if (trace) ctx.tracer.writeJsonl(Paths.get(a("out") + ".spans.jsonl"))
        spark.stop()
        r ++ Map("setup_s" -> setups.toList, "peak_rss_mb" -> vmHwmMb(), "spans" -> ctx.tracer.size,
          "jvm" -> System.getProperty("java.version"), "spark" -> org.apache.spark.SPARK_VERSION)
      }
    Files.write(out, Json.obj(result).getBytes(StandardCharsets.UTF_8))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
}

/** Session plus the tracing machinery of one measured run. Listeners
  * are registered only when tracing. */
final class Ctx(val spark: SparkSession, val trace: Boolean, val cores: Int) {
  val tracer = new Tracer
  val exec = new ExecListener
  val phases = new PhaseListener
  if (trace) {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(phases)
  }

  /** Flush pending listener events so `take()` sees the window just closed. */
  def drain(): Unit = GraftSparkShim.drainListeners(spark.sparkContext)

  /** Per-layer sums over traced operations: layer metric -> values. */
  val layers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def note(name: String, v: Double): Unit = layers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Record a window's jobs as spans under `parent`, each with its stages. */
  def jobSpans(op: Long, parent: Long, w: ExecWindow): Unit = {
    val tables = w.tablesJobs.map(_.id).toSet
    w.jobs.foreach { j =>
      val jid = tracer.add(op, parent, "job", j.start, j.end,
        Map("job" -> j.id, "tables" -> tables.contains(j.id), "stage_name" -> j.stageNames.headOption.getOrElse("")))
      w.stages.filter(s => j.stageIds.contains(s.id)).foreach { s =>
        tracer.add(op, jid, "stage", s.start, s.end, Map("stage" -> s.id, "tasks" -> s.tasks, "stage_name" -> s.name))
      }
    }
  }

  /** Busy time of the union of stage intervals clipped to [from, to]. */
  def stageBusyMs(w: ExecWindow, from: Double, to: Double): Double =
    Stats.unionMs(w.stages.map(s => (math.max(from, s.start.toDouble), math.min(to, s.end.toDouble))))

  /** Note the executor-side layer metrics of one action window. */
  def noteExec(w: ExecWindow, from: Double, to: Double): Unit = {
    val wall = to - from
    note("exec.ms", wall)
    note("exec.jobs", w.jobs.size)
    note("exec.stages", w.stages.size)
    note("exec.tasks", w.tasks)
    note("exec.idle_ms", math.max(0.0, wall - stageBusyMs(w, from, to)))
    note("exec.busy_share", if (wall > 0) w.taskMs / (wall * cores) else 0.0)
    note("exec.task_ms", w.taskMs)
    note("exec.shuffle_read_mb", w.shuffleReadBytes / 1e6)
    note("exec.shuffle_write_mb", w.shuffleWriteBytes / 1e6)
    note("exec.spill_mb", w.spillBytes / 1e6)
    note("exec.peak_task_mem_mb", w.peakTaskMemBytes / 1e6)
    note("exec.failed_tasks", w.failedTasks)
  }

  def layerJson: Map[String, Any] = layers.map { case (k, v) => k -> v.toList }.toMap
}

object Stats {
  /** Total length of the union of intervals (overlaps counted once). */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}
