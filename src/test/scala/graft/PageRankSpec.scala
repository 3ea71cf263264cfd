package graft

import graft.operators.PageRank
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  test("a cycle is the exact fixed point: every rank stays at scale") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = PageRank.ranks(edges, iters = 7).orderBy($"id").as[(Long, Long)].collect()
    // base + d*scale = 150e6 + 850e6 = scale, every iteration
    assert(r.toSeq == Seq((1L, 1000000000L), (2L, 1000000000L), (3L, 1000000000L)))
  }

  test("star graph: hand-computed integer ranks, dangling mass dropped") {
    val edges = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    val i1 = PageRank.ranks(edges, iters = 1).orderBy($"id").as[(Long, Long)].collect()
    // leaves get base only; hub gets base + d*(1e9 + 1e9) = 1.85e9
    assert(i1.toSeq == Seq((1L, 150000000L), (2L, 150000000L), (3L, 1850000000L)))
    val i2 = PageRank.ranks(edges, iters = 2).orderBy($"id").as[(Long, Long)].collect()
    // node 3 is dangling: its mass vanishes; hub now fed by base-ranked leaves
    assert(i2.toSeq == Seq((1L, 150000000L), (2L, 150000000L), (3L, 405000000L)))
  }

  test("ranks are independent of edge partitioning (exact integers, order-free sums)") {
    val edges = (1L to 200L).map(i => (i, i % 50)).toDF("src", "dst")
    val a = PageRank.ranks(edges.repartition(3), iters = 4).orderBy($"id").collect()
    val b = PageRank.ranks(edges.repartition(17), iters = 4).orderBy($"id").collect()
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("guards: iteration bounds and exact-base divisibility") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException](PageRank.ranks(e, iters = 0))
    intercept[IllegalArgumentException](
      PageRank.ranks(e, scale = 1000L, dampNum = 2L, dampDen = 3L)) // 1000/3 not exact
    // null endpoints are dropped, not propagated
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(9L))).toDF("src", "dst")
    val r = PageRank.ranks(withNull, iters = 1).as[(Long, Long)].collect().toMap
    assert(!r.contains(9L) || r(9L) == 150000000L + 850000000L)
    assert(r.contains(1L) && r.contains(2L))
  }

  test("personalized: hand-computed trust flow down a 3-chain from seed 1") {
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    // init: (1e9, 0, 0); i1: seed base 150e6, node2 gets 0.85*1e9, node3 0.85*0
    val i1 = PageRank.personalizedRanks(chain, seeds, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(i1 == Map(1L -> 150000000L, 2L -> 850000000L, 3L -> 0L))
    // i2: node2 <- 0.85*150e6, node3 <- 0.85*850e6; non-seeds get no base
    val i2 = PageRank.personalizedRanks(chain, seeds, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(i2 == Map(1L -> 150000000L, 2L -> 127500000L, 3L -> 722500000L))
  }

  test("personalized with ALL nodes as seeds is exactly classic PageRank") {
    val edges = (1L to 120L).map(i => (i, (i * 11) % 40 + 1)).toDF("src", "dst")
    val all = edges.select($"src".as("id")).union(edges.select($"dst".as("id"))).distinct()
    val classic = PageRank.ranks(edges, iters = 3).orderBy($"id").collect()
    val ppr = PageRank.personalizedRanks(edges, all, iters = 3).orderBy($"id").collect()
    assert(classic.nonEmpty && classic.sameElements(ppr))
  }

  test("personalized: out-of-graph seeds ignored; empty intersection raises") {
    val chain = Seq((1L, 2L)).toDF("src", "dst")
    val mixed = Seq(1L, 99L).toDF("id") // 99 has no edges
    val r = PageRank.personalizedRanks(chain, mixed, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 150000000L, 2L -> 850000000L))
    assert(intercept[IllegalArgumentException](
        PageRank.personalizedRanks(chain, Seq(99L).toDF("id"), iters = 1))
      .getMessage.contains("no seed id is present"))
  }

  test("personalized results are partitioning-independent") {
    val edges = (1L to 200L).map(i => (i, (i * 13) % 60 + 1)).toDF("src", "dst")
    val seeds = Seq(5L, 17L, 23L).toDF("id")
    val a = PageRank.personalizedRanks(edges.repartition(11), seeds, iters = 4)
      .orderBy($"id").collect()
    val b = PageRank.personalizedRanks(edges, seeds, iters = 4)
      .orderBy($"id").collect()
    assert(a.nonEmpty && a.sameElements(b))
  }
}
