package graft

import graft.ops.Compaction
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private val listing = Seq(
    // (part, file, bytes)
    ("a", 1L, 100L), ("a", 2L, 300L), ("a", 3L, 700L),  // bin 0 closes at 1100 >= 1000
    ("a", 4L, 900L),                                     // bin 1
    ("a", 5L, 5000L),                                    // keep (>= target)
    ("a", 6L, 200L),                                     // bin 1 (prior small-sum 2000)
    ("b", 7L, 10L), ("b", 8L, 20L)                       // separate partition, bin 0
  ).toDF("part", "file", "bytes")

  test("packs small files to target, keeps large ones, respects partitions") {
    val p = Compaction.plan(listing, Seq("part"), "file", "bytes", 1000L)
      .orderBy($"file")
      .as[(String, Long, Long, String, Option[Long])].collect()
    assert(p.toSeq == Seq(
      ("a", 1L, 100L, "compact", Some(0L)),
      ("a", 2L, 300L, "compact", Some(0L)),
      ("a", 3L, 700L, "compact", Some(0L)),   // prior 400 < 1000
      ("a", 4L, 900L, "compact", Some(1L)),   // prior 1100
      ("a", 5L, 5000L, "keep", None),
      ("a", 6L, 200L, "compact", Some(2L)),   // prior 2000 (kept file not counted)
      ("b", 7L, 10L, "compact", Some(0L)),
      ("b", 8L, 20L, "compact", Some(0L))))
  }

  test("bin totals stay within one max-small-file of target (both sides)") {
    val rnd = new scala.util.Random(3)
    val files = (1L to 400L).map(i => ("p", i, (rnd.nextInt(500) + 1).toLong))
      .toDF("part", "file", "bytes")
    val sums = Compaction.plan(files, Seq("part"), "file", "bytes", 1000L)
      .where($"action" === "compact")
      .groupBy($"part", $"bin_id")
      .agg(count(lit(1)).as("n_files"), sum($"bytes").as("total_bytes"))
      .orderBy($"bin_id").as[(String, Long, Long, Long)].collect()
    val lastBin = sums.map(_._2).max
    sums.foreach { case (_, bin, _, total) =>
      if (bin != lastBin) assert(total > 500L && total < 1500L, s"bin $bin total $total")
    }
    // plan covers every byte exactly once
    assert(sums.map(_._4).sum == files.as[(String, Long, Long)].collect().map(_._3).sum)
  }

  test("plan is stable under input partitioning") {
    val files = (1L to 100L).map(i => ((i % 3).toString, i, i * 37 % 800))
      .toDF("part", "file", "bytes")
    val a = Compaction.plan(files.repartition(2), Seq("part"), "file", "bytes", 500L)
      .orderBy($"file").collect()
    val b = Compaction.plan(files.repartition(31), Seq("part"), "file", "bytes", 500L)
      .orderBy($"file").collect()
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("NULL and negative sizes fail loudly") {
    val bad = Seq(("p", 1L, Some(10L)), ("p", 2L, None)).toDF("part", "file", "bytes")
    val e = intercept[Exception] {
      Compaction.plan(bad, Seq("part"), "file", "bytes", 100L).collect()
    }
    assert(e.getMessage.contains("bad bytes") || e.getMessage.contains("Compaction.plan"))
    val neg = Seq(("p", 1L, -5L)).toDF("part", "file", "bytes")
    val e2 = intercept[Exception] {
      Compaction.plan(neg, Seq("part"), "file", "bytes", 100L).collect()
    }
    assert(e2.getMessage.contains("Compaction.plan") || e2.getMessage.contains("bad bytes"))
  }
}
