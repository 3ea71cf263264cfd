package graft

import graft.ops.Intervals

class IntervalsSpec extends SparkSpec {
  import spark.implicits._

  // key 1: [0,10] [5,20] [20,25] chain-merge; [30,35] separate
  // key 2: nested [0,100] [10,20]; [200,300]
  private def iv = Seq(
    (1L, 0L, 10L), (1L, 5L, 20L), (1L, 20L, 25L), (1L, 30L, 35L),
    (2L, 0L, 100L), (2L, 10L, 20L), (2L, 200L, 300L)
  ).toDF("k", "s", "e")

  test("mergeOverlapping coalesces chains, touching ends, and nested spans") {
    val got = Intervals.mergeOverlapping(iv, "k", "s", "e")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 0L, 25L, 3L), (1L, 30L, 35L, 1L),
      (2L, 0L, 100L, 2L), (2L, 200L, 300L, 1L)))
  }

  test("adjacent-but-gapped intervals stay separate") {
    val g = Seq((1L, 0L, 10L), (1L, 11L, 20L)).toDF("k", "s", "e")
    assert(Intervals.mergeOverlapping(g, "k", "s", "e").count() == 2)
  }

  test("duplicate identical intervals merge deterministically") {
    val d = Seq((1L, 0L, 10L), (1L, 0L, 10L), (1L, 0L, 10L)).toDF("k", "s", "e")
    val got = Intervals.mergeOverlapping(d, "k", "s", "e")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got == List((1L, 0L, 10L, 3L)))
  }

  test("malformed interval (start > end) raises instead of merging") {
    val bad = Seq((1L, 10L, 0L)).toDF("k", "s", "e")
    val ex = intercept[Exception] {
      Intervals.mergeOverlapping(bad, "k", "s", "e").collect()
    }
    assert(ex.getMessage.contains("malformed interval") ||
      Option(ex.getCause).exists(_.getMessage.contains("malformed interval")))
  }
}
