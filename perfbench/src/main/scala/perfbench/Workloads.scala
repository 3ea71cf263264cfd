package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.ops.Pipelines
import graft.sources.Sources
import graft.streaming.StreamPipelineBench

/** One benchmark workload: `setup` runs before the measured window (and
  * is timed as `setup_s`), `measure` runs the closed loop until the
  * time budget is spent and returns raw samples and checks. */
trait Workload {
  def setup(spark: SparkSession): Unit
  def measure(ctx: Ctx, seed: Int, budgetMs: Double): Map[String, Any]
}

/** Failures of one run: every failed operation counts once. */
final class Outcomes {
  var attempted = 0L
  var failed = 0L
  val reasons = mutable.ArrayBuffer.empty[String]
  def ok(): Unit = attempted += 1
  def fail(why: String): Unit = {
    attempted += 1; failed += 1
    if (reasons.size < 20) reasons += why
  }
  def json: Map[String, Any] = Map("attempted" -> attempted, "failed" -> failed, "failures" -> reasons.toList)
}

object Workloads {
  def forName(name: String, a: Main.Args): Workload = name match {
    case "interactive_mix" => new QueryWorkload(a, memos = false)
    case "iterative_heavy" => new QueryWorkload(a, memos = true)
    case "etl_batch" => new EtlWorkload(a)
    case "stream" => new StreamWorkload(a)
    case other => sys.error(s"unknown workload $other")
  }

  /** A generator per (seed, use): consecutive seeds must not give
    * correlated first draws, which `new Random(seed)` does. */
  def rng(seed: Int, salt: Long): Random =
    new Random(seed.toLong * 0x9E3779B97F4A7C15L ^ salt * 0xC2B2AE3D27D4EB4FL)

  def readJson(path: String): JsonNode = new ObjectMapper().readTree(new File(path))

  /** Shared warm-up: first-touch the execution machinery (codegen,
    * broadcast and sort-merge joins, object aggregation, windows) on
    * tiny synthetic data, so no measured operation pays for it. */
  def warmEngine(spark: SparkSession): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    val w = spark.range(2000).selectExpr("id", "id % 7 as k", "cast(id % 100 as double) as v")
    w.join(broadcast(w.limit(10)), Seq("k")).groupBy("k").count().collect()
    w.groupBy("k").agg(sort_array(collect_list("v")).as("vs")).selectExpr("k", "size(vs)").collect()
    w.selectExpr("k", "v", "row_number() over (partition by k order by v, id) as rn").where("rn <= 3").collect()
    w.hint("merge").join(w.hint("merge"), Seq("k")).groupBy("k").count().collect()
  }

  /** Time every registered query once cold and once warm in one
    * session, with the jobs its builder launches: the data the query
    * lists in `queries.json` were picked from. */
  def survey(spark: SparkSession, a: Main.Args): Map[String, Any] = {
    val data = a("data")
    val ctx = new Ctx(spark, trace = true, cores = 1)
    warmEngine(spark)
    Map("survey" -> SparkEntry.queries.keys.toSeq.sorted.map { q =>
      val rec = try {
        val runs = (0 until 2).map { _ =>
          ctx.drain(); ctx.exec.take()
          val s = Clock.nowMs()
          val df = SparkEntry.queries(q)(spark, data)
          val built = Clock.nowMs()
          ctx.drain()
          val bw = ctx.exec.take()
          df.count()
          val e = Clock.nowMs()
          ctx.drain()
          val ew = ctx.exec.take()
          Map("ms" -> (e - s), "builder_ms" -> (built - s), "builder_jobs" -> bw.jobs.size,
            "tables_jobs" -> bw.tablesJobs.size, "exec_jobs" -> ew.jobs.size)
        }
        Map("cold" -> runs(0), "warm" -> runs(1), "oracle" -> SparkEntry.oracleSql.contains(q))
      } catch { case t: Throwable => Map("error" -> s"${t.getClass.getSimpleName}: ${t.getMessage}".take(200)) }
      q -> rec
    }.toMap)
  }

  /** Dump each named query's result as parquet plus its digest. */
  def dumpDigests(spark: SparkSession, a: Main.Args): Map[String, Any] = {
    val data = a("data")
    val dump = a("work") + "/dump"
    val digests = a("queries").split(",").toSeq.filter(_.nonEmpty).map { q =>
      val d = try {
        val df = SparkEntry.queries(q)(spark, data).cache()
        df.coalesce(1).write.mode("overwrite").parquet(s"$dump/$q")
        val dg = Digest.of(df)
        df.unpersist()
        dg
      } catch { case t: Throwable => s"error: ${t.getClass.getSimpleName}: ${t.getMessage}".take(300) }
      q -> d
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => digests.exists(_._1 == k) }
    Files.write(Paths.get(s"$dump/oracle_sql.json"), Json.obj(oracle).getBytes(StandardCharsets.UTF_8))
    Map("digests" -> digests.toMap)
  }
}

/** `interactive_mix` and `iterative_heavy`: registered queries, each
  * built through its `SparkEntry.queries` builder and then `count()`ed,
  * in an order permuted from the seed on every pass. A run ends after
  * the first whole pass that finishes past the time budget.
  *
  * Every execution's row count is checked against the expected digest;
  * the full digest of a seed-chosen fifth of the queries is checked
  * once per run, outside the timed span, so that repeated runs with
  * different seeds cover every query. */
final class QueryWorkload(a: Main.Args, memos: Boolean) extends Workload {
  private val data = a("data")
  private val names = a("queries").split(",").toSeq.filter(_.nonEmpty)
  private val expected = Workloads.readJson(a("expected"))

  def setup(spark: SparkSession): Unit = {
    Workloads.warmEngine(spark)
    // first-touch the parquet read path (schema inference, footer and
    // column readers) on a table none of the queries is timed on
    val region = spark.read.parquet(s"$data/region.parquet")
    region.join(broadcast(region), Seq("r_regionkey")).groupBy("r_regionkey").count().collect()
    if (memos) {
      // the graph family's shared edge memos, as the engine's own bench
      // builds them before its measured window
      graft.ops.Graphs.bipartite(spark, data).count()
      graft.ops.Graphs.bipartiteQuarter(spark, data).count()
      graft.ops.Graphs.coocQuarter(spark, data).count()
    }
  }

  def measure(ctx: Ctx, seed: Int, budgetMs: Double): Map[String, Any] = {
    val spark = ctx.spark
    val rnd = Workloads.rng(seed, 1)
    val out = new Outcomes
    val lat = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val verified = mutable.Set.empty[String]
    val toVerify = Workloads.rng(seed, 2).shuffle(names).take((names.size + 4) / 5).toSet
    val t0 = Clock.nowMs()
    var passes = 0
    var gc0 = Clock.gcMs()
    while (passes == 0 || Clock.nowMs() - t0 < budgetMs) {
      for (q <- rnd.shuffle(names)) {
        val traced = ctx.trace
        val op = ctx.tracer.newId()
        if (traced) { ctx.drain(); ctx.exec.take(); ctx.phases.take(); gc0 = Clock.gcMs() }
        val want = Option(expected.get(q)).map(_.asText).getOrElse("")
        try {
          val s = Clock.nowMs()
          val df = SparkEntry.queries(q)(spark, data)
          val built = Clock.nowMs()
          var bw: ExecWindow = null
          if (traced) { ctx.drain(); bw = ctx.exec.take(); ctx.phases.take() }
          val x0 = Clock.nowMs()
          val n = df.count()
          val e = Clock.nowMs()
          val ms = e - s
          lat += ms
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ms
          if (traced) {
            ctx.drain()
            val ew = ctx.exec.take()
            val ph = ctx.phases.take().lastOption.getOrElse(Map.empty)
            val root = ctx.tracer.add(op, 0, "query", s, e, Map("query" -> q, "rows" -> n))
            val b = ctx.tracer.add(op, root, "builder", s, built, Map("jobs" -> bw.jobs.size))
            ctx.jobSpans(op, b, bw)
            val x = ctx.tracer.add(op, root, "exec", x0, e, Map("jobs" -> ew.jobs.size))
            ph.foreach { case (phase, (ps, pe)) => ctx.tracer.add(op, x, s"catalyst.$phase", ps, pe) }
            ctx.jobSpans(op, x, ew)
            ctx.note("builder.ms", built - s)
            ctx.note("builder.jobs", bw.jobs.size)
            ctx.note("tables.jobs", bw.tablesJobs.size)
            ctx.note("tables.ms", bw.tablesJobs.map(j => (j.end - j.start).toDouble).sum)
            for (p <- Seq("analysis", "optimization", "planning"))
              ctx.note(s"catalyst.${p}_ms", ph.get(p).map { case (ps, pe) => (pe - ps).toDouble }.getOrElse(0.0))
            ctx.noteExec(ew, x0, e)
            ctx.note("jvm.gc_ms", Clock.gcMs() - gc0)
          }
          // the result's row count is checked on every execution, its
          // full digest once per query per run (outside the timed span)
          if (want.isEmpty) out.fail(s"$q: no expected digest")
          else if (n != Digest.rows(want)) out.fail(s"$q: $n rows, expected ${Digest.rows(want)}")
          else if (toVerify(q) && !verified(q)) {
            val got = Digest.of(df)
            if (got == want) { verified += q; out.ok() }
            else out.fail(s"$q: digest $got, expected $want")
          } else out.ok()
        } catch {
          case t: Throwable =>
            out.fail(s"$q: ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(200)}")
        }
      }
      passes += 1
    }
    val wall = Clock.nowMs() - t0
    out.json ++ Map("op_ms" -> lat.toList, "wall_ms" -> wall, "ops_done" -> lat.size, "passes" -> passes,
      "verified" -> verified.toList.sorted,
      "per_query_ms" -> perQuery.map { case (k, v) => k -> v.toList }.toMap,
      "layers" -> ctx.layerJson)
  }
}

/** `etl_batch`: the reference pipeline over a seeded landing zone —
  * `Sources.landedJson` → `Pipelines.ingest` → `flatten` → `recap` — then
  * a catch-up batch of late rows and re-deliveries against the stored
  * keys. Each cycle writes fresh bronze, silver and gold directories. */
final class EtlWorkload(a: Main.Args) extends Workload {
  import EtlWorkload.Cycle
  private val inputs = a("inputs")
  private val work = a("work")
  // row counts the generator derived from the rows it wrote
  private val exp = Workloads.readJson(s"$inputs/expected.json")
  private def expLong(batch: String, table: String): Long = exp.get(batch).get(table).asLong
  private val now = exp.get("now").asText
  private val inputBytes = exp.get("landed_bytes").asDouble + exp.get("catchup_bytes").asDouble
  private val hoursExpected: Map[String, Long] = {
    val h = exp.get("hours_present")
    h.fieldNames.asScala.map(k => k -> h.get(k).asLong).toMap
  }

  private def dim(spark: SparkSession): DataFrame =
    spark.read.schema("c_custkey BIGINT, c_name STRING").json(s"$inputs/dim.json")

  private def legs(obs: DataFrame): (DataFrame, DataFrame) =
    (obs.where(col("fetch_method") === "current").drop("fetch_method"),
      obs.where(col("fetch_method") === "history").drop("fetch_method"))

  private var cycleNo = 0

  private def parquetFiles(dir: String): Set[String] = {
    def walk(f: File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Seq.empty
    walk(new File(dir)).toSet
  }

  /** Bytes and files under `dirs` that are new or rewritten since the
    * last call with the same `seen` map (path -> (mtime, length)). */
  private def written(dirs: Seq[String], seen: mutable.Map[String, (Long, Long)]): (Long, Long) = {
    var bytes, files = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else {
        val stamp = (f.lastModified(), f.length())
        if (!seen.get(f.getPath).contains(stamp)) {
          seen(f.getPath) = stamp
          bytes += stamp._2; files += 1
        }
      }
    dirs.foreach(d => walk(new File(d)))
    (bytes, files)
  }

  /** One full batch then one catch-up batch, each checked against the
    * generator's counts; spans and layer metrics when tracing. */
  private def cycle(ctx: Ctx): Cycle = {
    val (spark, traced) = (ctx.spark, ctx.trace)
    val (landing, catchup) = (s"$inputs/landing", s"$inputs/catchup")
    cycleNo += 1
    val root = s"$work/etl-$cycleNo"
    val (bronze, silver, gold) = (s"$root/bronze", s"$root/silver", s"$root/gold")
    val nowCol = lit(now).cast("timestamp")
    val stageMs = mutable.ArrayBuffer.empty[(String, Double)]
    val op = ctx.tracer.newId()
    var bytes, files = 0L
    val seen = mutable.Map.empty[String, (Long, Long)]
    def stage[T](kind: String, name: String, parent: Long)(f: => T): T = {
      val s = Clock.nowMs()
      val r = f
      val e = Clock.nowMs()
      stageMs += s"$kind.$name" -> (e - s)
      if (traced) {
        val (b, n) = written(Seq(bronze, silver, gold), seen)
        bytes += b; files += n
        ctx.drain()
        val w = ctx.exec.take()
        val sid = ctx.tracer.add(op, parent, s"pipelines.$name", s, e, Map("batch" -> kind, "bytes_written" -> b))
        ctx.jobSpans(op, sid, w)
        ctx.noteExec(w, s, e)
      }
      r
    }
    if (traced) { ctx.drain(); ctx.exec.take() }
    val gc0 = Clock.gcMs()
    val s0 = Clock.nowMs()
    val fullId = if (traced) ctx.tracer.newId() else 0L
    locally {
      val (live, backfill) = legs(Sources.landedJson(spark, landing))
      val noKeys = spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("location_id", LongType), StructField("ts", TimestampType))))
      stage("full", "ingest", fullId)(Pipelines.ingest(live, backfill, nowCol, noKeys, bronze))
      stage("full", "flatten", fullId)(Pipelines.flatten(spark.read.parquet(bronze), silver))
      stage("full", "recap", fullId)(Pipelines.recap(spark.read.parquet(silver), dim(spark), gold))
    }
    val s1 = Clock.nowMs()
    def countErrors(batch: String): Seq[String] =
      Seq("bronze" -> bronze, "silver" -> silver, "gold" -> gold).flatMap { case (table, dir) =>
        val (got, want) = (spark.read.parquet(dir).count(), expLong(batch, table))
        if (got != want) Some(s"$batch $table: $got rows, expected $want") else None
      }
    val fullErrors = countErrors("full")
    if (traced) ctx.tracer.add(op, 0, "etl.full", s0, s1, Map("cycle" -> cycleNo), id = fullId)
    if (traced) { ctx.drain(); ctx.exec.take() }
    val c0 = Clock.nowMs()
    val cuId = if (traced) ctx.tracer.newId() else 0L
    locally {
      val (live, backfill) = legs(Sources.landedJson(spark, catchup))
      val stored = spark.read.parquet(bronze).select("location_id", "ts")
      val before = parquetFiles(bronze)
      stage("catchup", "ingest", cuId)(Pipelines.ingest(live, backfill, nowCol, stored, bronze))
      // the catch-up flattens exactly the bronze files its ingest
      // appended, and re-caps exactly the days those files cover
      val added = (parquetFiles(bronze) -- before).toSeq.sorted
      val days = added.map(f => new File(f).getParentFile.getName.stripPrefix("ingest_date=")).distinct
      if (added.nonEmpty) {
        stage("catchup", "flatten", cuId)(Pipelines.flatten(
          spark.read.option("basePath", bronze).parquet(added: _*), silver))
        stage("catchup", "recap", cuId)(Pipelines.recap(
          spark.read.parquet(silver).where(col("obs_date").cast("string").isin(days: _*)), dim(spark), gold))
      }
    }
    val c1 = Clock.nowMs()
    if (traced) ctx.tracer.add(op, 0, "etl.catchup", c0, c1, Map("cycle" -> cycleNo), id = cuId)
    val catchupErrors = countErrors("catchup") ++ {
      val g = spark.read.parquet(gold).select(col("obs_date").cast("string"), col("location_id"), col("hours_present"))
        .collect().map(r => s"${r.getString(0)}|${r.getLong(1)}" -> r.getLong(2)).toMap
      val wrong = hoursExpected.filter { case (k, v) => !g.get(k).contains(v) }
      if (wrong.isEmpty) None
      else Some(s"catchup hours_present differs on ${wrong.size} (day, location) pairs, e.g. ${wrong.head}")
    }
    if (traced) {
      ctx.note("jvm.gc_ms", Clock.gcMs() - gc0)
      ctx.note("sinks.mb_written", bytes / 1e6)
      ctx.note("sinks.files_written", files)
      ctx.note("sinks.write_amp", bytes / inputBytes)
      // row counts at the stage boundaries (outside the timed spans)
      val landedRows = (Sources.landedJson(spark, landing).count() + Sources.landedJson(spark, catchup).count()).toDouble
      val bronzeRows = spark.read.parquet(bronze).count().toDouble
      val silverRows = spark.read.parquet(silver).count().toDouble
      ctx.note("pipelines.fresh_ratio", bronzeRows / landedRows)
      ctx.note("pipelines.kept_ratio", silverRows / bronzeRows)
    }
    deleteTree(new File(root))
    Cycle(s1 - s0, c1 - c0, stageMs.toList, fullErrors, catchupErrors)
  }

  def setup(spark: SparkSession): Unit = Workloads.warmEngine(spark)

  def measure(ctx: Ctx, seed: Int, budgetMs: Double): Map[String, Any] = {
    val out = new Outcomes
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val t0 = Clock.nowMs()
    while (cycles.isEmpty || Clock.nowMs() - t0 < budgetMs) {
      try {
        val c = cycle(ctx)
        cycles += c
        if (ctx.trace)
          for (stage <- Seq("ingest", "flatten", "recap"); kind <- Seq("full", "catchup"))
            ctx.note(s"pipelines.${kind}_${stage}_ms", c.stageMs.collect { case (k, v) if k == s"$kind.$stage" => v }.sum)
        // the full batch and the catch-up batch are the two operations
        for (errors <- Seq(c.fullErrors, c.catchupErrors))
          if (errors.isEmpty) out.ok() else out.fail(errors.mkString("; "))
      } catch {
        case t: Throwable =>
          out.fail(s"full batch: ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(200)}")
          out.fail("catch-up batch: not run")
      }
    }
    val wall = Clock.nowMs() - t0
    out.json ++ Map("op_ms" -> cycles.map(_.fullMs).toList, "catchup_ms" -> cycles.map(_.catchupMs).toList,
      "wall_ms" -> wall, "ops_done" -> cycles.size, "work_ms" -> cycles.map(c => c.fullMs + c.catchupMs).sum,
      "layers" -> ctx.layerJson)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }
}

object EtlWorkload {
  final case class Cycle(fullMs: Double, catchupMs: Double, stageMs: Seq[(String, Double)],
                         fullErrors: Seq[String], catchupErrors: Seq[String])
}

/** `stream`: `StreamPipelineBench.run` — paged JSON source → near-dup
  * ingest gate → windowed hourly recap → snapshot sink. The seed picks
  * the location count and event-time span; each call lands `pages`
  * pages and drains both queries after each. */
final class StreamWorkload(a: Main.Args) extends Workload {
  private val work = a("work")
  private val volume = a.int("stream_volume")
  private val pages = a.int("stream_pages")
  private var runNo = 0

  /** Rows the near-dup gate must keep: every row except the planted
    * copies (id % 10 == 9 that is not the first row of its page). */
  def expectedClean(volume: Int, pages: Int): Long = {
    val starts = (0 until pages).map(p => volume.toLong * p / pages).toSet
    volume - (0L until volume).count(id => id % 10 == 9 && !starts(id))
  }

  private def once(spark: SparkSession, volume: Int, pages: Int, locations: Int, spanHours: Int) = {
    runNo += 1
    StreamPipelineBench.run(spark, volume, pages, locations, spanHours, s"$work/stream-$runNo")
  }

  def setup(spark: SparkSession): Unit = Workloads.warmEngine(spark)

  def measure(ctx: Ctx, seed: Int, budgetMs: Double): Map[String, Any] = {
    val spark = ctx.spark
    val rnd = Workloads.rng(seed, 3)
    val locations = 24 + rnd.nextInt(4)
    val spanHours = 24 + rnd.nextInt(4)
    val listener = new StreamListener
    spark.streams.addListener(listener)
    val out = new Outcomes
    val trig = mutable.ArrayBuffer.empty[Double]
    var rows, ms = 0.0
    var runs = 0
    val t0 = Clock.nowMs()
    while (runs == 0 || Clock.nowMs() - t0 < budgetMs) {
      val traced = ctx.trace
      val op = ctx.tracer.newId()
      listener.take()
      if (traced) { ctx.drain(); ctx.exec.take() }
      val gc0 = Clock.gcMs()
      val s = Clock.nowMs()
      try {
        val r = once(spark, volume, pages, locations, spanHours)
        val e = Clock.nowMs()
        ctx.drain()
        val batches = listener.take()
        val (gold, ingest) = batches.partition(_.source.contains("FileStreamSource"))
        // the first trigger of each call starts both queries; it is
        // not a steady-state trigger
        val steady = r.triggers.drop(1)
        val steadyMs = steady.map(t => (t.ingestSec + t.goldSec) * 1000)
        trig ++= steadyMs
        rows += steady.map(_.rows).sum
        ms += steadyMs.sum
        val wantClean = expectedClean(volume, pages)
        val goldCommits = gold.map(_.batchId).distinct.size
        // the triggers are the operations; a wrong output fails them all
        val wrong =
          if (r.cleanRows != wantClean) Some(s"clean_rows ${r.cleanRows}, expected $wantClean")
          else if (r.snapshotVersions != goldCommits) Some(s"snapshot versions ${r.snapshotVersions}, gold batches $goldCommits")
          else None
        r.triggers.foreach(_ => wrong.fold(out.ok())(out.fail))
        if (traced) {
          val w = ctx.exec.take()
          val root = ctx.tracer.add(op, 0, "stream.run", s, e, Map("pages" -> pages, "volume" -> volume))
          // a trigger drains ingest, then gold: it ends its gold wait after
          // the end of the ingest batch that read its page
          val pageBatches = ingest.filter(_.inputRows > 0).sortBy(_.batchId)
          val spans = r.triggers.zipWithIndex.map { case (t, i) =>
            val end = pageBatches.lift(i).map(_.endMs + t.goldSec * 1000)
              .getOrElse(s + r.triggers.take(i + 1).map(x => (x.ingestSec + x.goldSec) * 1000).sum)
            val start = end - (t.ingestSec + t.goldSec) * 1000
            (ctx.tracer.add(op, root, "stream.trigger", start, end, Map("page" -> t.page, "rows" -> t.rows)), start, end)
          }
          batches.foreach { b =>
            val kind = if (gold.contains(b)) "gold" else "ingest"
            val parent = spans.find { case (_, a, z) => a <= b.endMs && b.endMs <= z }.map(_._1).getOrElse(root)
            ctx.tracer.add(op, parent, s"streaming.${kind}_batch", (b.endMs - b.triggerMs).toDouble, b.endMs.toDouble,
              Map("batch" -> b.batchId, "rows" -> b.inputRows, "state_rows" -> b.stateRows))
          }
          def med(xs: Seq[Long]): Double = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2).toDouble
          ctx.note("streaming.ingest_batch_ms", med(ingest.filter(_.inputRows > 0).map(_.triggerMs)))
          ctx.note("streaming.gold_batch_ms", med(gold.filter(_.inputRows > 0).map(_.triggerMs)))
          val inRows = ingest.map(_.inputRows).sum.toDouble
          ctx.note("streaming.ingest_rows", inRows)
          ctx.note("streaming.dedup_drop_ratio", if (inRows > 0) (inRows - r.cleanRows) / inRows else 0.0)
          ctx.note("streaming.state_rows_max", if (gold.isEmpty) 0.0 else gold.map(_.stateRows).max.toDouble)
          ctx.note("streaming.state_mb_max", if (gold.isEmpty) 0.0 else gold.map(_.stateBytes).max / 1e6)
          ctx.note("jvm.gc_ms", Clock.gcMs() - gc0)
          ctx.noteExec(w, s, e)
        }
      } catch {
        case t: Throwable =>
          out.fail(s"stream run: ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(200)}")
      }
      runs += 1
    }
    spark.streams.removeListener(listener)
    out.json ++ Map("op_ms" -> trig.toList, "wall_ms" -> (Clock.nowMs() - t0), "ops_done" -> trig.size,
      "rows" -> rows, "work_ms" -> ms, "runs" -> runs, "locations" -> locations, "span_hours" -> spanHours,
      "layers" -> ctx.layerJson)
  }
}
