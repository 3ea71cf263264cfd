package graft

import graft.operators.Sssp
import org.apache.spark.sql.functions._

class SsspSpec extends SparkSpec {
  import spark.implicits._

  test("weighted relaxation finds the cheaper two-hop path") {
    // 1->2 w10; 1->3 w1; 3->2 w2: dist(2) = 3 via 3, not 10
    val e = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 2L)).toDF("src", "dst", "w")
    val s = Seq(1L).toDF("id")
    val got = Sssp.distances(e, s, rounds = 3).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 3L, 3L -> 1L))
  }

  test("k rounds = shortest path using at most k edges") {
    // chain 1->2->3->4, all w1
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L)).toDF("src", "dst", "w")
    val s = Seq(1L).toDF("id")
    val r1 = Sssp.distances(e, s, rounds = 1).as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 1L)) // 3 and 4 not yet reached
    val r3 = Sssp.distances(e, s, rounds = 3).as[(Long, Long)].collect().toMap
    assert(r3 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("multi-source takes the nearer seed") {
    val e = Seq((1L, 5L, 4L), (9L, 5L, 2L), (5L, 6L, 1L)).toDF("src", "dst", "w")
    val s = Seq(1L, 9L).toDF("id")
    val got = Sssp.distances(e, s, rounds = 3).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 9L -> 0L, 5L -> 2L, 6L -> 3L))
  }

  test("negative weights and empty seeds are rejected loudly") {
    val e = Seq((1L, 2L, -1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      Sssp.distances(e, Seq(1L).toDF("id"), rounds = 1)
    }
    val ok = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      Sssp.distances(ok, Seq.empty[Long].toDF("id"), rounds = 1)
    }
  }

  test("distances are partitioning-invariant") {
    val e = (1L to 150L).map(i => (i % 29, i % 37 + 29L, 1L + i % 5)).toDF("src", "dst", "w")
    val s = Seq(0L, 1L, 2L).toDF("id")
    val a = Sssp.distances(e, s, rounds = 4, partitions = 1).as[(Long, Long)].collect().toSet
    val b = Sssp.distances(e, s, rounds = 4, partitions = 13).as[(Long, Long)].collect().toSet
    assert(a == b)
  }
}
