package graft

import graft.ops.Chunking
import org.apache.spark.sql.functions._

class ChunkingSpec extends SparkSpec {
  import spark.implicits._

  private def doc(id: Long, nTokens: Int) =
    (id, (1 to nTokens).map(i => s"t$i").mkString(" "))

  test("chunkByTokens: full chunks step by maxTokens-overlap and overlap correctly") {
    val df = Seq(doc(1, 10)).toDF("doc_id", "text")
    val out = Chunking.chunkByTokens(df, "text", "doc_id", maxTokens = 4, overlap = 1)
      .orderBy($"chunk_idx").collect()
    // step 3: starts 0,3,6,9 → chunks of 4,4,4,1 tokens
    assert(out.map(_.getAs[Int]("n_tokens")).toSeq == Seq(4, 4, 4, 1))
    assert(out(0).getAs[String]("chunk_text") == "t1 t2 t3 t4")
    assert(out(1).getAs[String]("chunk_text") == "t4 t5 t6 t7") // t4 overlaps
    assert(out(3).getAs[String]("chunk_text") == "t10")
  }

  test("chunkByTokens: short doc is one chunk; empty doc yields none") {
    val df = Seq(doc(1, 2), (2L, "")).toDF("doc_id", "text")
    val out = Chunking.chunkByTokens(df, "text", "doc_id", maxTokens = 8, overlap = 2)
    val byDoc = out.collect().groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc(1L).map(_.getAs[String]("chunk_text")).toSeq == Seq("t1 t2"))
    // "" tokenizes to [""] (whitespace-split convention) → one empty chunk
    assert(byDoc(2L).map(_.getAs[String]("chunk_text")).toSeq == Seq(""))
  }

  test("chunkByTokens: every token appears in some chunk (no loss at boundaries)") {
    val df = Seq(doc(1, 97)).toDF("doc_id", "text")
    val toks = Chunking.chunkByTokens(df, "text", "doc_id", maxTokens = 32, overlap = 8)
      .select(explode(split($"chunk_text", " ")).as("t")).distinct()
      .as[String].collect().toSet
    assert(toks == (1 to 97).map(i => s"t$i").toSet)
  }

  test("chunkByTokens rejects nonsensical budgets") {
    val df = Seq(doc(1, 5)).toDF("doc_id", "text")
    intercept[IllegalArgumentException](Chunking.chunkByTokens(df, "text", "doc_id", 0, 0))
    intercept[IllegalArgumentException](Chunking.chunkByTokens(df, "text", "doc_id", 4, 4))
  }
}
