package graft

import graft.operators.CountMin
import org.apache.spark.sql.functions._

class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private def keys(ks: (Long, Int)*) =
    ks.flatMap { case (k, n) => Seq.fill(n)(k) }.toDF("k")

  test("estimate never underestimates and is exact without collisions") {
    // width 1024 >> 3 distinct keys: collisions effectively impossible
    val df = keys(1L -> 5, 2L -> 3, 7L -> 1)
    val cells = CountMin.build(df, "k", depth = 4, width = 1024)
    val est = CountMin.estimate(cells, Seq(1L, 2L, 7L, 99L).toDF("k"), "k",
      depth = 4, width = 1024).as[(Long, Long)].collect().toMap
    assert(est == Map(1L -> 5L, 2L -> 3L, 7L -> 1L, 99L -> 0L))
  }

  test("tiny width forces collisions: estimates only ever overestimate") {
    val df = keys((1L to 50L).map(k => k -> k.toInt % 5): _*)
    val truth = (1L to 50L).map(k => k -> (k % 5)).toMap
    val cells = CountMin.build(df, "k", depth = 3, width = 8)
    val est = CountMin.estimate(cells, (1L to 50L).toDF("k"), "k",
      depth = 3, width = 8).as[(Long, Long)].collect().toMap
    assert(est.size == 50)
    truth.foreach { case (k, t) =>
      assert(est(k) >= t, s"key $k: est=${est(k)} < true=$t — CMS must never underestimate")
    }
    assert(est.exists { case (k, e) => e > truth(k) }, "width 8 over 45 keys must collide somewhere")
  }

  test("cell grid is bounded by depth x width regardless of input size") {
    val big = (1L to 5000L).map(k => k -> 1).toDF("k", "one").select($"k")
    val cells = CountMin.build(big, "k", depth = 4, width = 32)
    assert(cells.count() <= 4L * 32L)
    // and the build is partitioning-independent
    val cells13 = CountMin.build(big.repartition(13), "k", depth = 4, width = 32)
    assert(cells.exceptAll(cells13).isEmpty && cells13.exceptAll(cells).isEmpty)
  }

  test("joinSizeEstimate is exact without collisions, cross and self") {
    // A: {1:2, 2:3}, B: {1:4, 3:5} -> |A join B| = 2*4 = 8
    val a = CountMin.build(keys(1L -> 2, 2L -> 3), "k", depth = 4, width = 1024)
    val b = CountMin.build(keys(1L -> 4, 3L -> 5), "k", depth = 4, width = 1024)
    val cross = CountMin.joinSizeEstimate(a, b).as[Long].head()
    assert(cross == 8L)
    // self inner product = F2 = 2^2 + 3^2 = 13
    val self = CountMin.joinSizeEstimate(a, a).as[Long].head()
    assert(self == 13L)
  }

  test("joinSizeEstimate under forced collisions only ever overestimates") {
    val left = keys((1L to 40L).map(k => k -> 2): _*)
    val right = keys((21L to 60L).map(k => k -> 3): _*)
    val exact = 20L * 2 * 3 // keys 21..40 overlap
    val a = CountMin.build(left, "k", depth = 3, width = 8)
    val b = CountMin.build(right, "k", depth = 3, width = 8)
    val est = CountMin.joinSizeEstimate(a, b).as[Long].head()
    assert(est >= exact, s"est=$est exact=$exact")
  }
}
