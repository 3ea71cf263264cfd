package graft

import graft.operators.LabelProp
import org.apache.spark.sql.functions._

class LabelPropSpec extends SparkSpec {
  import spark.implicits._

  private def sym(pairs: Seq[(Long, Long)]) =
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")

  test("two cliques bridged by one edge settle into two communities") {
    // clique {1,2,3}, clique {10,11,12}, bridge 3-10
    val edges = sym(Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)))
    val got = LabelProp.labels(edges, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(Set(10L, 11L, 12L).map(got) == Set(10L)) // bridge did not merge them
  }

  test("ties pick the smallest label deterministically") {
    // node 3 sees one vote each from 1 and 2 -> tie -> label 1
    val edges = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    val got = LabelProp.labels(edges, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(got(3L) == 1L)
  }

  test("a node with no in-edges keeps its own label") {
    val edges = Seq((5L, 6L)).toDF("src", "dst")
    val got = LabelProp.labels(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got(5L) == 5L && got(6L) == 5L)
  }

  test("synchronous rounds are partitioning-invariant") {
    val pairs = (1L to 60L).map(i => (i, i % 7 + 100L))
    val a = LabelProp.labels(sym(pairs), iters = 3, partitions = 1)
      .as[(Long, Long)].collect().toSet
    val b = LabelProp.labels(sym(pairs), iters = 3, partitions = 13)
      .as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("matches a per-round brute-force reference on a random-ish graph") {
    // deterministic pseudo-random graph; reference = literal
    // driver-side replay of the synchronous vote rule
    val pairs = (0L until 300L).map(i =>
      (i % 40L, (i * 37L + 11L) % 40L)).filter(p => p._1 != p._2).distinct
    val edges = sym(pairs)
    val adj = (pairs ++ pairs.map(_.swap)).distinct
      .groupBy(_._2).view.mapValues(_.map(_._1)).toMap // in-neighbors
    val nodes = (pairs.flatMap(p => Seq(p._1, p._2))).distinct
    var ref = nodes.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      ref = nodes.map { n =>
        val votes = (adj.getOrElse(n, Seq.empty).map(ref) :+ ref(n))
          .groupBy(identity).view.mapValues(_.size).toSeq
        n -> votes.minBy { case (lb, c) => (-c, lb) }._1
      }.toMap
    }
    val got = LabelProp.labels(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == ref)
  }

  test("auto-sized partitions equal an explicit partition count") {
    val pairs = (1L to 80L).map(i => (i, i % 9 + 200L))
    val a = LabelProp.labels(sym(pairs), iters = 3) // partitions <= 0: auto
      .as[(Long, Long)].collect().toSet
    val b = LabelProp.labels(sym(pairs), iters = 3, partitions = 7)
      .as[(Long, Long)].collect().toSet
    assert(a == b)
  }
}
