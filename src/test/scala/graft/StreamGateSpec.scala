package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.operators.{Incremental, NearDup}
import graft.streaming.StreamDedup
import org.apache.spark.GraftSparkShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The near-dup ingest gate driven one micro-batch at a time
  * (`StreamDedup.ingestBatch`): it equals the batch-operator
  * composition it stands for, a replayed batch id changes nothing,
  * and one micro-batch stays inside a fixed job budget. */
class StreamGateSpec extends SparkSpec {
  import spark.implicits._

  private val threshold = 0.8
  private def words(prefix: String, n: Int) = (0 until n).map(i => s"$prefix$i")
  // 40 tokens, 38 3-shingles: one changed token moves 3 of them
  // (J = 35/41 ≈ 0.85), two far-apart changes move 6 (J = 32/44 ≈ 0.73)
  private val chain = words("c", 40)
  private val tA = chain.mkString(" ")
  private val tB = chain.updated(8, "x").mkString(" ")
  private val tC = chain.updated(8, "x").updated(30, "y").mkString(" ")
  private val tX = words("e", 40).mkString(" ")
  private val tXNear = words("e", 40).updated(20, "z").mkString(" ")
  private def novel(k: Int) = words(s"n${k}_", 15).mkString(" ")

  private def docs(rows: (Long, String)*): DataFrame =
    rows.map { case (id, t) => (id, t, id % 3) }.toDF("doc_id", "text", "loc")

  // exact copies (1, 2); a chain 10 - 12 - 11 whose ends are below the
  // threshold: 11 pairs only with the larger 12, so only components
  // drop it; an empty and a null text
  private val batch0 = docs(1L -> tX, 2L -> tX, 10L -> tA, 12L -> tB, 11L -> tC,
    20L -> "", 21L -> null, 30L -> novel(1))
  // 40 near-dups the indexed doc 1; 41 copies the dropped chain end 11,
  // which the index never held (J with the indexed 10 is 0.73); 44 is
  // too short to shingle
  private val batch1 = docs(40L -> tXNear, 41L -> tC, 42L -> novel(2), 43L -> "",
    44L -> "too short")
  // 50 near-dups both 10 and 41 in the index; 51 copies 42; 52/53 are
  // exact copies of each other
  private val batch2 = docs(50L -> tB, 51L -> novel(2), 52L -> novel(3), 53L -> novel(3),
    54L -> null)
  private val batches = Seq(batch0, batch1, batch2)

  private def fresh(tag: String): (String, String) = {
    val root = Files.createTempDirectory(s"graft-gate-$tag").toString
    Incremental.writeIndex(docs(), "text", 3, s"$root/index")
    (s"$root/index", s"$root/clean")
  }

  private def gate(b: DataFrame, id: Long, idx: String, clean: String): Unit =
    StreamDedup.ingestBatch(b, id, "text", 3, threshold, idx, clean)

  /** The composition the gate replaces: self-dedup, probe the index,
    * append the clean rows. */
  private def reference(b: DataFrame, id: Long, idx: String): DataFrame = {
    val losers = NearDup.minhashDuplicateClusters(b, "text", 3, threshold)
      .where(!col("is_canonical")).select(col("doc_id"))
    val selfClean = b.join(losers, Seq("doc_id"), "left_anti")
    val dups = Incremental.nearDupsAgainstFrom(NearDup.shingled(selfClean, "text", 3),
        spark.read.parquet(s"$idx/bands"), spark.read.parquet(s"$idx/shingles"), threshold)
      .select(col("new_id").as("doc_id"))
    val clean = selfClean.join(dups, Seq("doc_id"), "left_anti").localCheckpoint()
    val sh = NearDup.shingled(clean, "text", 3)
    NearDup.bandTable(sh).write.mode("append").parquet(s"$idx/bands")
    sh.select("doc_id", "hs", "n_shingles").write.mode("append").parquet(s"$idx/shingles")
    clean.withColumn("ingest_batch", lit(id))
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    def cols(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(cols(got) == cols(want), s"$what schema: ${got.schema} vs ${want.schema}")
    val extra = got.exceptAll(want).collect().toSeq
    val missing = want.exceptAll(got).collect().toSeq
    assert(extra.isEmpty && missing.isEmpty, s"$what: extra $extra, missing $missing")
  }

  private def cleanIds(clean: String): Set[Long] =
    spark.read.parquet(clean).select($"doc_id").as[Long].collect().toSet

  test("three micro-batches: the gate keeps and indexes what the batch composition does") {
    val (gIdx, gClean) = fresh("eq")
    val (rIdx, _) = fresh("ref")
    val ref = batches.zipWithIndex.map { case (b, i) =>
      gate(b, i, gIdx, gClean)
      reference(b, i, rIdx)
    }.reduce(_ unionByName _)
    assert(cleanIds(gClean) == Set(1L, 10L, 20L, 21L, 30L, 41L, 42L, 43L, 44L, 52L, 54L),
      cleanIds(gClean))
    // the partition column reads back as int
    assertSameRows(spark.read.parquet(gClean).select(ref.columns.map(col): _*)
      .withColumn("ingest_batch", col("ingest_batch").cast("long")), ref, "clean rows")
    Seq("bands", "shingles").foreach { t =>
      assertSameRows(spark.read.parquet(s"$gIdx/$t"), spark.read.parquet(s"$rIdx/$t"), t)
    }
  }

  test("a replayed batch id leaves the clean corpus and the index as its first run did") {
    val (idx, clean) = fresh("replay")
    gate(batch0, 0, idx, clean)
    gate(batch1, 1, idx, clean)
    def snapshot() = (Seq(clean, s"$idx/bands", s"$idx/shingles")
      .map(p => spark.read.parquet(p).localCheckpoint()))
    val before = snapshot()
    gate(batch1, 1, idx, clean)
    gate(batch0, 0, idx, clean)
    snapshot().zip(before).zip(Seq("clean", "bands", "shingles")).foreach {
      case ((got, want), what) => assertSameRows(got, want, what)
    }
    // a run that stopped after its corpus write: the replay completes
    // the index admission from the landed partition
    val (idx2, _) = fresh("replay-partial")
    gate(batch0, 0, idx2, clean)
    val (idx0, clean0) = fresh("replay-once")
    gate(batch0, 0, idx0, clean0)
    Seq("bands", "shingles").foreach { t =>
      assertSameRows(spark.read.parquet(s"$idx2/$t"), spark.read.parquet(s"$idx0/$t"), t)
    }
  }

  /** Stage call sites (long form) of every job `body` launches. */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.details).mkString("\n"))
    }
    GraftSparkShim.drainListeners(sc)
    sc.addSparkListener(listener)
    try { body; GraftSparkShim.drainListeners(sc); jobs.asScala.toSeq }
    finally sc.removeSparkListener(listener)
  }

  // a schema-inferring parquet read launches its footer job from
  // inside DataFrameReader; reads given a schema launch none
  private def inferring(callSites: Seq[String]) = callSites.filter(_.contains("DataFrameReader"))

  // every tenth row copies its predecessor, as in StreamPipelineBench;
  // no two distinct texts share a shingle
  private def page(lo: Long) = docs((lo until lo + 250).map { id =>
    val src = if (id % 10 == 9) id - 1 else id
    id -> (0 until 12).map(j => s"w${src}x$j").mkString(" ")
  }: _*)

  test("one 250-row micro-batch launches at most 30 jobs and never infers the index schema") {
    val (idx, clean) = fresh("jobs")
    gate(page(0), 0, idx, clean)
    val jobs = jobsDuring(gate(page(250), 1, idx, clean))
    info(s"${jobs.size} jobs")
    assert(jobs.size <= 30, s"${jobs.size} jobs")
    assert(inferring(jobs).isEmpty, inferring(jobs).mkString("\n---\n"))
    assert(cleanIds(clean).size == 2 * 225)
    // the detector sees an inferring read of the same index
    assert(inferring(jobsDuring(spark.read.parquet(s"$idx/bands"))).nonEmpty)
  }

  test("a micro-batch with no near-dups launches no connected-components job") {
    val (idx, clean) = fresh("no-pairs")
    gate(page(0), 0, idx, clean)
    val jobs = jobsDuring(gate(page(250), 1, idx, clean))
    val components = jobs.filter(_.contains("graft.operators.Components"))
    assert(components.isEmpty, components.mkString("\n---\n"))
    assert(cleanIds(clean).size == 2 * 225)
  }
}
