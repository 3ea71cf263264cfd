package graft

import graft.operators.{Bfs, HyperBall, PortableHll}
import org.apache.spark.sql.functions._

class HyperBallSpec extends SparkSpec {
  import spark.implicits._

  // directed: a 4-cycle 1→2→3→4→1 with a chord 1→3, plus island 8→9
  private lazy val g = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
    (8L, 9L)
  ).toDF("src", "dst")

  test("hyperball ball sizes equal the PortableHll estimate of the EXACT ball") {
    // ball(v, r) computed exactly by per-node BFS; registers built over
    // that membership set are bit-identical to the r-round HyperBall
    // merge (max-merge makes the two constructions one), and both
    // paths estimate through the same expression.
    for (r <- 1 to 3) {
      val hb = HyperBall.ballSizes(g, rounds = r)
        .as[(Long, Long)].collect().toSet
      val ids = g.select($"src").union(g.select($"dst")).distinct().as[Long].collect()
      val exact = ids.flatMap { v =>
        Bfs.hops(g, Seq(v).toDF("id"), rounds = r)
          .select(lit(v).as("node"), $"id".as("member"))
          .as[(Long, Long)].collect()
      }.toSeq.toDF("id", "member")
      val want = PortableHll.estimate(
          PortableHll.registers(exact, Seq("id"), "member", lgK = 7), Seq("id"),
          lgK = 7, out = "ball_est")
        .as[(Long, Long)].collect().toSet
      assert(hb == want, s"rounds=$r")
    }
  }

  test("ball sizes: tiny balls estimate exactly; cycle saturates at its size") {
    // radius 4 covers the whole 4-cycle component from any cycle node
    val est = HyperBall.ballSizes(g, rounds = 4).as[(Long, Long)].collect().toMap
    // linear-counting regime at these sizes: estimates are exact or
    // within 1 for counts this far below m=128
    assert(est(8L) >= 1L && est(8L) <= 3L)  // {8,9}
    assert(est(9L) == 1L)                   // {9}
    for (v <- Seq(1L, 2L, 3L, 4L)) assert(est(v) >= 3L && est(v) <= 5L, s"node $v")
  }

  test("partitioning-independent and monotone in radius") {
    val edges = (1L to 400L).map(i => (i, (i * 17) % 380 + 1)).toDF("src", "dst")
    val a = HyperBall.ballSizes(edges.repartition(13), rounds = 2)
      .orderBy($"id").collect()
    val b = HyperBall.ballSizes(edges, rounds = 2).orderBy($"id").collect()
    assert(a.nonEmpty && a.sameElements(b))
    val r1 = HyperBall.ballSizes(edges, rounds = 1).as[(Long, Long)].collect().toMap
    val r2 = b.map(x => x.getLong(0) -> x.getLong(1)).toMap
    // register sets only grow, so estimates cannot shrink
    assert(r1.forall { case (id, e1) => r2(id) >= e1 })
  }

  test("NULL edge endpoints fail loud") {
    val withNull = Seq((Some(1L), Some(2L)), (Some(3L), None)).toDF("src", "dst")
    assert(intercept[IllegalArgumentException](HyperBall.ballSizes(withNull, 1))
      .getMessage.contains("NULL edge endpoint"))
  }

  test("harmonic centrality: hand-checked star and chain, islands contribute 0") {
    // star: 1→3, 2→3; chain onward 3→4. Incoming balls at tiny sizes
    // estimate exactly (linear counting regime), so the nano-unit
    // sums are hand-checkable.
    val star = Seq((1L, 3L), (2L, 3L), (3L, 4L), (8L, 9L)).toDF("src", "dst")
    val h = HyperBall.harmonicCentrality(star, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == 0L && h(2L) == 0L && h(8L) == 0L) // nothing reaches them
    assert(h(3L) == 2000000000L)                      // 1 and 2 at distance 1
    assert(h(9L) == 1000000000L)                      // 8 at distance 1
    // 4 is reached by 3 at d=1 (1e9) and by 1,2 at d=2 (2 * 5e8)
    assert(h(4L) == 2000000000L)
  }

  test("harmonic centrality is partitioning-independent") {
    val edges = (1L to 300L).map(i => (i, (i * 17) % 290 + 1)).toDF("src", "dst")
    val a = HyperBall.harmonicCentrality(edges.repartition(13), rounds = 2)
      .orderBy($"id").collect()
    val b = HyperBall.harmonicCentrality(edges, rounds = 2).orderBy($"id").collect()
    assert(a.nonEmpty && a.sameElements(b))
  }
}
