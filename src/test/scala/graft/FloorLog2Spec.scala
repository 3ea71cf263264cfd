package graft

import graft.plans.FloorLog2
import org.apache.spark.sql.functions._

class FloorLog2Spec extends SparkSpec {
  import spark.implicits._

  private lazy val vals =
    (Seq(0L, 1L, 2L, 3L, 31L, 32L, 33L, 1023L, 1024L, Long.MaxValue,
      Long.MaxValue - 1, -1L, Long.MinValue) ++
      (0 to 62).map(b => 1L << b) ++ (0 to 62).map(b => (1L << b) - 1) ++
      (0 until 500).map(i => i * 2654435761L)).toDF("v")

  test("native FloorLog2 ≡ length(bin(v)) - 1 over boundaries, negatives, and a spread") {
    val rows = vals.select(
      FloorLog2.floorLog2($"v").as("native"),
      (length(bin($"v")) - lit(1)).cast("long").as("stringform")
    ).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

}
