package graft

import graft.ops.HashedFeatures
import org.apache.spark.sql.functions._

class HashedFeaturesSpec extends SparkSpec {
  import spark.implicits._

  // dim 4 so buckets are easy to precompute via the library's own hash
  private def bucketOf(t: String): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8"))
    val v = (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (h(i) & 0xffL)) >>> 4
    (v % 4).toInt
  }

  test("linearScore = bias + sum of hashed-bucket weights (hand-computed)") {
    val w = Seq(5L, -3L, 7L, 1L)
    val docs = Seq((1L, "aa bb aa"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = HashedFeatures.linearScore(docs, "text", w, bias = 2L)
      .select($"doc_id", $"score").as[(Long, Long)].collect().toMap
    val expected1 = 2L + 2 * w(bucketOf("aa")) + w(bucketOf("bb"))
    assert(got == Map(1L -> expected1, 2L -> 2L, 3L -> 2L))
  }

  test("linearScore is a pure map: no shuffle in the plan") {
    val docs = Seq((1L, "x y z")).toDF("doc_id", "text")
    val plan = HashedFeatures.linearScore(docs, "text", Seq(1L, 2L), bias = 0L)
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.exchange.Exchange
    assert(plan.collect { case e: Exchange => e }.isEmpty, s"unexpected shuffle:\n$plan")
  }

  test("score is partitioning-independent") {
    val docs = (1L to 200L).map(i => (i, s"tok$i common tok${i % 7}"))
      .toDF("doc_id", "text")
    val w = (0 until 16).map(i => (i * 31L) % 11L - 5L)
    val a = HashedFeatures.linearScore(docs.repartition(2), "text", w, 1L)
      .select($"doc_id", $"score").as[(Long, Long)].collect().toMap
    val b = HashedFeatures.linearScore(docs.repartition(13), "text", w, 1L)
      .select($"doc_id", $"score").as[(Long, Long)].collect().toMap
    assert(a == b && a.size == 200)
  }
}
