package graft

import graft.operators.LogReg

/** Deterministic distributed classifier training: hand-checked GD
  * math, the order-free exact-gradient claim (partitioning
  * invariance), learning sanity on a separable problem, loud
  * guards. */
class LogRegSpec extends SparkSpec {
  import spark.implicits._

  test("one GD iteration reproduces the hand-computed update") {
    // two rows, one feature: (y=1, x=2), (y=0, x=-2); w starts 0
    // z = 0 -> p = 0.5 -> r6 = 1e6*(0.5 - y) = -500000 / +500000
    // g0 = 0; gx = (-500000*2) + (500000*-2) = -2,000,000
    // w1 = 0 - 0.5 * ((-2e6/1e6)/2) = +0.5; b = 0
    val df = Seq((1L, 2L), (0L, -2L)).toDF("y", "x")
    val (w, n) = LogReg.trainDeterministic(df, "y", Seq("x"), lr = 0.5, iters = 1)
    assert(n == 2L)
    assert(w(0) == 0.0 && w(1) == 0.5, w.toSeq)
  }

  test("gradient sums are order-free: identical weights across partitionings") {
    val rows = (1 to 997).map { i =>
      val y = if ((i * 2654435761L) % 100 < 37) 1L else 0L
      (y, (i % 83).toLong - 41L, (i % 7).toLong, ((i * 13) % 29).toLong)
    }
    val base = rows.toDF("y", "x1", "x2", "x3")
    val ws = Seq(1, 7, 32).map { p =>
      LogReg.trainDeterministic(base.repartition(p), "y",
        Seq("x1", "x2", "x3"), lr = 0.25, iters = 4)._1.toSeq
    }
    assert(ws(0) == ws(1) && ws(1) == ws(2),
      s"weights varied with partitioning: $ws — the exact-decimal-sum claim is broken")
  }

  test("learns a separable rule (score ranks positives above negatives)") {
    // y = 1 iff x > 0, strongly separable
    val rows = (-50 to 50).filter(_ != 0).map(i => (if (i > 0) 1L else 0L, i.toLong))
    val df = rows.toDF("y", "x")
    val (w, _) = LogReg.trainDeterministic(df, "y", Seq("x"), lr = 0.5, iters = 10)
    assert(w(1) > 0.0, s"positive-class weight should be positive: ${w.toSeq}")
    // the model's margin w0 + w1·x: the sigmoid link is monotone, so
    // it ranks rows exactly as the scored probability does
    val scored = rows.map { case (y, x) => (y, w(0) + w(1) * x) }
    val posMin = scored.filter(_._1 == 1L).map(_._2).min
    val negMax = scored.filter(_._1 == 0L).map(_._2).max
    assert(posMin > negMax,
      s"separable problem not separated: posMin=$posMin negMax=$negMax")
  }

  test("guards: non-0/1 label, NULL feature, out-of-range feature all raise loudly") {
    val bad1 = Seq((2L, 1L)).toDF("y", "x")
    val e1 = intercept[Exception](
      LogReg.trainDeterministic(bad1, "y", Seq("x"), 0.5, 1))
    assert(e1.getMessage.contains("0 or 1") || e1.getCause != null)
    val bad2 = Seq((Some(1L), Option.empty[Long])).toDF("y", "x")
    val e2 = intercept[Exception](
      LogReg.trainDeterministic(bad2, "y", Seq("x"), 0.5, 1))
    assert(e2.getMessage.contains("NULL feature") || e2.getCause != null)
    val bad3 = Seq((1L, 2000000L)).toDF("y", "x")
    val e3 = intercept[Exception](
      LogReg.trainDeterministic(bad3, "y", Seq("x"), 0.5, 1))
    assert(e3.getMessage.contains("maxAbsFeature") || e3.getCause != null)
  }

  test("guard: non-integral feature raises (train and score must see the same values)") {
    // before the guard, train silently truncated 2.7 -> 2 while a
    // scorer used the raw 2.7 — two different models in disguise
    val bad = Seq((1L, 2.7), (0L, -1.0)).toDF("y", "x")
    val e = intercept[Exception](
      LogReg.trainDeterministic(bad, "y", Seq("x"), 0.5, 1))
    assert(e.getMessage.contains("non-integral") || e.getCause != null)
    // integral-valued doubles are fine (a long column cast upstream)
    val ok = Seq((1L, 2.0), (0L, -1.0)).toDF("y", "x")
    val (w, n) = LogReg.trainDeterministic(ok, "y", Seq("x"), 0.5, 1)
    assert(n == 2L && w(1) != 0.0)
  }
}
