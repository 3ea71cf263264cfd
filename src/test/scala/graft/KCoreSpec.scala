package graft

import graft.operators.KCore
import org.apache.spark.sql.functions._

class KCoreSpec extends SparkSpec {
  import spark.implicits._

  // triangle {1,2,3} + tail 3-4-5 + isolated edge 6-7
  private lazy val g = Seq(
    (1L, 2L), (2L, 3L), (1L, 3L),
    (3L, 4L), (4L, 5L),
    (6L, 7L)
  ).toDF("src", "dst")

  // 5 peels exceed the peeling depth of every graph here, so the
  // fixed-round form returns the k-core itself
  private def kCore(edges: org.apache.spark.sql.DataFrame, k: Int) =
    KCore.peelRounds(edges, k, rounds = 5)

  test("the 2-core of triangle+tail is exactly the triangle, every degree >= 2") {
    val core = kCore(g, 2).as[(Long, Long)].collect().toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("peeling the tail takes two rounds: 5 and 7 fall first, then 4 and 6") {
    val r1 = KCore.peelRounds(g, 2, 1).select($"id").as[Long].collect().toSet
    // round 1 degrees: 5 has deg 1, 6 and 7 deg 1 -> edges (4,5),(6,7) drop
    assert(r1 == Set(1L, 2L, 3L, 4L))
    val r2 = KCore.peelRounds(g, 2, 2).select($"id").as[Long].collect().toSet
    assert(r2 == Set(1L, 2L, 3L)) // now 4's degree fell to 1
    // further rounds are a fixpoint
    val r3 = KCore.peelRounds(g, 2, 3).as[(Long, Long)].collect().toMap
    assert(r3 == kCore(g, 2).as[(Long, Long)].collect().toMap)
  }

  test("a path graph has an empty 2-core; k=1 keeps every non-isolated vertex") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(kCore(path, 2).count() == 0)
    assert(kCore(path, 1).select($"id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L))
  }

  test("results are independent of edge orientation and partitioning") {
    val flipped = g.select($"dst".as("src"), $"src".as("dst")).repartition(7)
    assert(kCore(flipped, 2).as[(Long, Long)].collect().toMap ==
      kCore(g, 2).as[(Long, Long)].collect().toMap)
  }

  test("self-loops and duplicate edges (either orientation) fail loud") {
    val loop = Seq((1L, 1L), (1L, 2L)).toDF("src", "dst")
    assert(intercept[IllegalArgumentException](kCore(loop, 1))
      .getMessage.contains("self-loop"))
    val dup = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    assert(intercept[IllegalArgumentException](kCore(dup, 1))
      .getMessage.contains("appears 2 times"))
  }
}
