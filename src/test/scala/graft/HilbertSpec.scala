package graft

import graft.plans.{Hilbert, HilbertImpl}
import org.apache.spark.sql.functions._

class HilbertSpec extends SparkSpec {
  import spark.implicits._

  /** Inverse walk d → (x, y): the independent round-trip reference
    * for `HilbertImpl.key2`. */
  private def d2xy(d: Long, bits: Int): (Long, Long) = {
    val n = 1L << bits
    require(d >= 0 && d < n * n, s"hilbert d2xy: d outside [0, ${n * n - 1}]: $d")
    var x = 0L; var y = 0L; var t = d; var s = 1L
    while (s < n) {
      val rx = (t / 2) & 1
      val ry = (t ^ rx) & 1
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx; y += s * ry
      t /= 4
      s <<= 1
    }
    (x, y)
  }

  test("bits=1: the canonical 2x2 U walk") {
    assert(HilbertImpl.key2(0, 0, 1) == 0)
    assert(HilbertImpl.key2(0, 1, 1) == 1)
    assert(HilbertImpl.key2(1, 1, 1) == 2)
    assert(HilbertImpl.key2(1, 0, 1) == 3)
  }

  test("bijection + unit steps: the full bits=5 grid is a Hilbert walk") {
    val bits = 5; val n = 1 << bits
    val cells = for (x <- 0L until n; y <- 0L until n)
      yield (HilbertImpl.key2(x, y, bits), x, y)
    // bijective onto [0, n^2)
    assert(cells.map(_._1).sorted == (0L until n.toLong * n))
    // consecutive indices are Manhattan-adjacent — the defining
    // no-jumps property Morton lacks
    val byD = cells.sortBy(_._1)
    byD.sliding(2).foreach { case Seq((_, x1, y1), (_, x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1)
    }
  }

  test("d2xy is the exact inverse, including at full 16-bit scale") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 2000) {
      val x = rnd.nextInt(65536).toLong; val y = rnd.nextInt(65536).toLong
      val d = HilbertImpl.key2(x, y, 16)
      assert(d >= 0 && d < (1L << 32))
      assert(d2xy(d, 16) == ((x, y)))
    }
    // corners
    assert(HilbertImpl.key2(0, 0, 16) == 0)
    assert(d2xy((1L << 32) - 1, 16)._1 == 65535)
  }

  test("column expression matches the JVM loop and stays codegen-compatible") {
    val df = (0L until 512L).map(i => (i % 32, (i * 7) % 32)).toDF("x", "y")
    val out = df.select($"x", $"y", Hilbert.hilbertKey2($"x", $"y", 5).as("h"))
      .as[(Long, Long, Long)].collect()
    out.foreach { case (x, y, h) => assert(h == HilbertImpl.key2(x, y, 5)) }
    // a LocalTableScan is constant-folded away, and AQE finalizes
    // the plan only on execution — run it, then inspect
    val q = df.repartition(2).select(Hilbert.hilbertKey2($"x", $"y", 5))
    q.collect()
    // the `*(n)` node prefix is the WholeStageCodegen marker; the
    // Project carrying the expression must sit inside a codegen stage
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("out-of-range and negative keys fail loud") {
    intercept[IllegalArgumentException](HilbertImpl.key2(32, 0, 5))
    intercept[IllegalArgumentException](HilbertImpl.key2(0, -1, 5))
    val e = intercept[Exception] {
      Seq((70000L, 1L)).toDF("x", "y")
        .select(Hilbert.hilbertKey2($"x", $"y", 16)).collect()
    }
    assert(e.getMessage.contains("hilbert") ||
      Option(e.getCause).exists(_.getMessage.contains("hilbert")))
  }

  test("measured: hilbert beats morton box tightness at unaligned file sizes") {
    // 32x32 grid cut into unaligned 40-cell files (not a power of 4,
    // so segments straddle quadrant boundaries): sum of bounding-box
    // areas = the file-skipping surface a box predicate scans.
    // Hilbert's no-jumps walk must give a strictly smaller total than
    // Morton's seam-crossing one.
    val bits = 5; val n = 1 << bits
    val cells = for (x <- 0L until n; y <- 0L until n) yield (x, y)
    def boxTotal(key: (Long, Long) => Long): Long =
      cells.sortBy { case (x, y) => key(x, y) }.grouped(40).map { file =>
        val (xs, ys) = (file.map(_._1), file.map(_._2))
        (xs.max - xs.min + 1) * (ys.max - ys.min + 1)
      }.sum
    def morton(x: Long, y: Long): Long =
      (0 until bits).map(j => (((x >> j) & 1) << (2 * j)) | (((y >> j) & 1) << (2 * j + 1))).sum
    val h = boxTotal(HilbertImpl.key2(_, _, bits))
    val m = boxTotal(morton)
    assert(h < m, s"hilbert total box area $h vs morton $m")
  }

  test("locality: hilbert file envelopes are never wider than linear sort on the off-axis") {
    // 16x16 grid of cells split into 16 equal files under (a) linear
    // x-sort and (b) hilbert order: measure each file's bounding-box
    // area — the file-skipping surface. Hilbert boxes must be tight
    // (area <= 2x the ideal 16-cell square), linear x-sort strips are
    // 16x1 columns (fine for x, useless for y pruning).
    val bits = 4; val n = 1 << bits
    val cells = for (x <- 0L until n; y <- 0L until n) yield (x, y)
    val byH = cells.sortBy { case (x, y) => HilbertImpl.key2(x, y, bits) }
      .grouped(16).toSeq
    byH.foreach { file =>
      val (xs, ys) = (file.map(_._1), file.map(_._2))
      val area = (xs.max - xs.min + 1) * (ys.max - ys.min + 1)
      assert(area <= 32, s"hilbert file box area $area")
    }
  }
}
