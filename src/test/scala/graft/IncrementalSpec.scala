package graft

import graft.operators.{Incremental, NearDup}
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

/** Incremental near-dup: a new batch probed against a persisted
  * corpus index (band table + shingle store) — corpus text is never
  * re-shingled at probe time. */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog in the park today"),
    (2L, "completely unrelated text about spark catalyst optimizer internals"),
    (3L, "weather in bandung is rainy with moderate temperatures all week long")
  ).toDF("doc_id", "text")

  // 101 near-dups doc 1 (one token changed), 102 matches nothing,
  // 103 is an exact copy of doc 3
  private val batch = Seq(
    (101L, "the quick brown fox jumps over the lazy cat in the park today"),
    (102L, "eleven totally fresh tokens that no stored document has seen before"),
    (103L, "weather in bandung is rainy with moderate temperatures all week long")
  ).toDF("doc_id", "text")

  private def signed(docs: DataFrame) = NearDup.withBandBuckets(NearDup.shingled(docs, "text", 3))

  test("in-memory probe finds cross near-dups and nothing else") {
    val newSh = NearDup.shingled(batch, "text", 3)
    val oldSh = NearDup.shingled(corpus, "text", 3)
    val out = Incremental.nearDupsAgainstFrom(newSh, NearDup.bandTable(oldSh), oldSh, 0.5)
      .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("old_id"),
        r.getAs[Double]("jaccard"))).toSeq.sortBy(p => (p._1, p._2))
    assert(out.map(p => (p._1, p._2)) == Seq((101L, 1L), (103L, 3L)), out)
    assert(out(1)._3 == 1.0) // exact copy
    assert(out(0)._3 >= 0.5 && out(0)._3 < 1.0)
  }

  test("persisted index round-trip: probe equals the in-memory result") {
    val root = Files.createTempDirectory("graft-dedup-idx").toString
    Incremental.writeIndex(corpus, "text", 3, root)
    val fromIndex = Incremental.nearDupsAgainstIndex(root, signed(batch), 0.5)
      .select($"new_id", $"old_id", $"common", $"jaccard")
      .as[(Long, Long, Int, Double)].collect().toSet
    val newSh = NearDup.shingled(batch, "text", 3)
    val oldSh = NearDup.shingled(corpus, "text", 3)
    val inMem = Incremental.nearDupsAgainstFrom(newSh, NearDup.bandTable(oldSh), oldSh, 0.5)
      .select($"new_id", $"old_id", $"common", $"jaccard")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(fromIndex == inMem)
    assert(fromIndex.nonEmpty)
  }

  test("appendToIndex makes the admitted batch visible to the next tick") {
    val root = Files.createTempDirectory("graft-dedup-idx2").toString
    Incremental.writeIndex(corpus, "text", 3, root)
    Incremental.appendToIndex(signed(batch), root)
    // a copy of batch doc 102 now near-dups against the INDEXED 102
    val next = Seq((201L, "eleven totally fresh tokens that no stored document has seen before"))
      .toDF("doc_id", "text")
    val out = Incremental.nearDupsAgainstIndex(root, signed(next), 0.8)
      .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("old_id")))
    assert(out.toSeq == Seq((201L, 102L)))
  }

  test("probe of an unrelated batch returns empty, not errors") {
    val root = Files.createTempDirectory("graft-dedup-idx3").toString
    Incremental.writeIndex(corpus, "text", 3, root)
    val none = Seq((301L, "zx qv wq pj dm nb vc xs ze rt yu io"))
      .toDF("doc_id", "text")
    assert(Incremental.nearDupsAgainstIndex(root, signed(none), 0.5).isEmpty)
  }
}
