package graft

import graft.ops.BloomJoin
import org.apache.spark.sql.functions._

class BloomJoinSpec extends SparkSpec {
  import spark.implicits._

  // big: keys 0..999 plus a NULL-key row; small: multiples of 10,
  // with duplicates (the join must not multiply rows)
  private def big = spark.range(0, 1000).select($"id".as("k"))
    .union(Seq[Option[Long]](None).toDF("k"))
  private def small = spark.range(0, 1000, 10).toDF("s")
    .union(spark.range(0, 1000, 10).toDF("s"))

  test("antiJoin equals the plain left-anti join, including the NULL-key row") {
    val bloom = BloomJoin.antiJoin(big, "k", small, "s", expectedItems = 200)
      .as[Option[Long]].collect().toSet
    val plain = big.join(small, $"k" === $"s", "left_anti")
      .as[Option[Long]].collect().toSet
    assert(bloom == plain)
    assert(bloom.contains(None)) // NULL key kept by anti semantics
    assert(bloom.size == 901) // 1000 - 100 matches + the null row
  }

  test("string keys: build and probe agree end-to-end") {
    val b = Seq("a", "b", "c", "d", null).toDF("k")
    val s = Seq("b", "d", "e").toDF("s")
    val anti = BloomJoin.antiJoin(b, "k", s, "s", expectedItems = 10)
      .as[Option[String]].collect().toSet
    assert(anti == Set(Some("a"), Some("c"), None))
  }

  test("no false negatives: every inserted key probes true") {
    val bytes = BloomJoin.buildFilter(small, "s", expectedItems = 200)
    val misses = small.where(!BloomJoin.mightContain($"s", bytes)).count()
    assert(misses == 0)
  }

  test("probe selectivity: disjoint keyspaces leave a near-empty maybe branch") {
    val far = spark.range(1000000, 1010000).toDF("k") // 10k keys, disjoint
    val bytes = BloomJoin.buildFilter(small, "s", expectedItems = 200, fpp = 0.01)
    val hits = far.where(BloomJoin.mightContain($"k", bytes)).count()
    // fpp 1% → expect ~100 of 10k; 5× headroom against sketch variance
    assert(hits < 500, s"false-positive count $hits out of 10000")
  }

  test("the definite-miss branch is a row-local filter: no Exchange in its plan") {
    val bytes = BloomJoin.buildFilter(small, "s", expectedItems = 200)
    val plan = big.where(!BloomJoin.mightContain($"k", bytes))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("same key name on both sides resolves (no ambiguous reference)") {
    val b = spark.range(0, 100).select($"id".as("k"))
    val s = spark.range(0, 100, 10).select($"id".as("k"))
    val anti = BloomJoin.antiJoin(b, "k", s, "k", expectedItems = 20).count()
    assert(anti == 90)
  }

  test("probe rejects unsupported key types loudly") {
    val bytes = BloomJoin.buildFilter(small, "s", expectedItems = 200)
    val err = intercept[Exception] {
      Seq(1.5, 2.5).toDF("k").where(BloomJoin.mightContain($"k", bytes)).collect()
    }
    assert(err.getMessage.contains("graft_bloom_might_contain") ||
      err.getMessage.toLowerCase.contains("datatype mismatch"))
  }
}
