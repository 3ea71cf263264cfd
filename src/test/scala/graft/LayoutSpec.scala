package graft

import graft.ops.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Reference interleave, bit by bit. */
  private def zRef(a: Long, b: Long): Long =
    (0 until 16).foldLeft(0L) { (acc, i) =>
      acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }

  test("zKey2 equals the bitwise reference interleave across the 16-bit range") {
    val samples = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 0L), (0L, 65535L),
      (65535L, 65535L), (12345L, 54321L), (255L, 256L), (43690L, 21845L))
    val got = samples.toDF("a", "b")
      .select($"a", $"b", Layout.zKey2($"a", $"b").as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) => assert(z == zRef(a, b), s"($a,$b)") }
  }

  test("zKey2 preserves locality in both dimensions (z-range => bounded a,b ranges)") {
    // exhaustive 64x64 grid: consecutive z-keys differ by small (a,b)
    // steps ON AVERAGE, and any aligned z-octant spans an aligned
    // square — check the defining quadrant property: the top bit pair
    // splits the square into its four quadrants
    val grid = for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)
    val keyed = grid.toDF("a", "b")
      .select($"a", $"b", Layout.zKey2($"a", $"b", bits = 6).as("z"))
      .as[(Long, Long, Long)].collect()
    keyed.foreach { case (a, b, z) =>
      val quadrant = ((z >> 10) & 3L) // top interleaved bit pair
      assert(quadrant == ((a >> 5) & 1L) + 2 * ((b >> 5) & 1L))
    }
  }

  /** Reference n-key interleave, bit by bit. */
  private def zRefN(keys: Seq[Long], bits: Int): Long = {
    val n = keys.size
    keys.zipWithIndex.foldLeft(0L) { case (acc, (k, d)) =>
      (0 until bits).foldLeft(acc) { (a, j) => a | (((k >> j) & 1L) << (j * n + d)) }
    }
  }

  test("zKeyN equals the bitwise reference and zKey2 on 2 keys") {
    val s3 = Seq((0L, 0L, 0L), (1L, 2L, 4L), (65535L, 0L, 65535L),
      (12345L, 54321L, 4242L), (65535L, 65535L, 65535L))
    val got3 = s3.toDF("a", "b", "c")
      .select($"a", $"b", $"c", Layout.zKeyN(Seq($"a", $"b", $"c"), bits = 16).as("z"))
      .as[(Long, Long, Long, Long)].collect()
    got3.foreach { case (a, b, c, z) => assert(z == zRefN(Seq(a, b, c), 16), s"($a,$b,$c)") }
    // 2-key zKeyN is bit-for-bit zKey2
    val pairs = Seq((12345L, 54321L), (255L, 256L), (65535L, 65535L)).toDF("a", "b")
      .select(Layout.zKey2($"a", $"b").as("z2"), Layout.zKeyN(Seq($"a", $"b"), 16).as("zn"))
      .as[(Long, Long)].collect()
    pairs.foreach { case (z2, zn) => assert(z2 == zn) }
    // 4 keys x 15 bits fits; the budget guard rejects 4 x 16
    val four = Seq((1L, 2L, 3L, 4L)).toDF("a", "b", "c", "d")
    assert(four.select(Layout.zKeyN(Seq($"a", $"b", $"c", $"d"), 15)).collect().nonEmpty)
    intercept[IllegalArgumentException](Layout.zKeyN(Seq($"a", $"b", $"c", $"d"), 16))
    intercept[IllegalArgumentException](Layout.zKeyN(Seq($"a"), 16))
  }

  test("out-of-range and NULL keys fail loudly, not silently misplace data") {
    val bad = Seq((70000L, 1L)).toDF("a", "b")
    val ex = intercept[Exception] {
      bad.select(Layout.zKey2($"a", $"b")).collect()
    }
    assert(ex.getMessage.contains("zKey2"))
    val nul = Seq((Some(1L), Option.empty[Long])).toDF("a", "b")
    val ex2 = intercept[Exception] {
      nul.select(Layout.zKey2($"a", $"b")).collect()
    }
    assert(ex2.getMessage.contains("zKey2"))
  }

  test("rankBits is monotonic and lands in [0, 2^bits)") {
    val df = (1 to 1000).map(i => i * 3 - 500).toDF("v")
    val ranked = df.select($"v", Layout.rankBits(df, "v", bits = 8).as("r"))
      .orderBy($"v").as[(Int, Long)].collect()
    assert(ranked.forall { case (_, r) => r >= 0 && r < 256 })
    assert(ranked.sliding(2).forall { case Array((_, r1), (_, r2)) => r1 <= r2; case _ => true })
    assert(ranked.last._2 == 255 && ranked.head._2 == 0)
  }
}
