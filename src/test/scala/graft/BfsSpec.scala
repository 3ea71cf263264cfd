package graft

import graft.operators.Bfs

class BfsSpec extends SparkSpec {
  import spark.implicits._

  // directed: 1→2→3→4, a shortcut 1→3, a back-edge 4→1 (cycle), and
  // an unreachable island 8→9
  private lazy val g = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (4L, 1L),
    (8L, 9L)
  ).toDF("src", "dst")

  private def src(ids: Long*) = ids.toDF("id")

  // 5 rounds exceed every shortest path in `g`, so the fixed-round
  // form returns the full reachable set
  private def hops(edges: org.apache.spark.sql.DataFrame,
                   sources: org.apache.spark.sql.DataFrame) =
    Bfs.hops(edges, sources, rounds = 5)

  test("single-source: shortcut wins, cycle does not shorten, island unreached") {
    val d = hops(g, src(1L)).as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("multi-source: each node at min distance over seeds; seeds at 0") {
    val d = hops(g, src(1L, 8L)).as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 8L -> 0L, 9L -> 1L))
  }

  test("fixed rounds truncate the wave exactly; extra rounds are a fixpoint") {
    val r1 = Bfs.hops(g, src(1L), rounds = 1).as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
    val r5 = Bfs.hops(g, src(1L), rounds = 5).as[(Long, Long)].collect().toMap
    val r9 = Bfs.hops(g, src(1L), rounds = 9).as[(Long, Long)].collect().toMap
    assert(r5 == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L) && r9 == r5)
  }

  test("a seed missing from the graph still reports itself at dist 0") {
    val d = hops(g, src(42L)).as[(Long, Long)].collect().toMap
    assert(d == Map(42L -> 0L))
  }

  test("results are partitioning-independent") {
    val a = hops(g.repartition(13), src(1L, 8L))
      .orderBy($"id").collect()
    val b = hops(g, src(1L, 8L)).orderBy($"id").collect()
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("guards: NULL endpoints and an empty seed set fail loud") {
    val withNull = Seq((Some(1L), Some(2L)), (Some(3L), None))
      .toDF("src", "dst")
    assert(intercept[IllegalArgumentException](hops(withNull, src(1L)))
      .getMessage.contains("NULL edge endpoint"))
    assert(intercept[IllegalArgumentException](
        hops(g, spark.emptyDataset[Long].toDF("id")))
      .getMessage.contains("empty source set"))
  }
}
