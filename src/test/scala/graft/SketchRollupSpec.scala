package graft

import graft.operators.Sketches
import org.apache.spark.sql.functions._

/** The mergeable-sketch contract, in three steps that mirror the
  * production shape: build fine-grained sketch artifacts, STORE them,
  * roll them up later without raw data — plus the two properties that
  * make the pattern safe at cluster scale: merge-order independence
  * and a bounded estimate error (sketch bytes are engine-private, so
  * like the approx-distinct fast path this is spec-bounded, not oracle-hashed). */
class SketchRollupSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"
  private def events = Tables.events(spark, dir).where($"user_id".isNotNull)
    .select($"user_id", $"event_type", to_date($"ts").as("day"))

  /** Day-grain sketch artifacts: one HLL sketch of user_id per
    * (event_type, day). */
  private def daily = events.groupBy($"event_type", $"day")
    .agg(hll_sketch_agg($"user_id", lit(12)).as("sketch"))

  // lgK=12 → rsd ≈ 1.04/√4096 ≈ 1.63%; 3σ bound ≈ 4.9%
  private val bound = 3 * 1.04 / math.sqrt(1 << 12)

  test("day-grain sketches roll up to per-type distincts within 3×rsd of exact") {
    val rolled = Sketches.estimate(Sketches.rollup(daily, Seq("event_type")))
      .select($"event_type", $"distinct_est").as[(String, Long)].collect().toMap
    val exact = events.groupBy($"event_type").agg(countDistinct($"user_id"))
      .as[(String, Long)].collect().toMap
    assert(rolled.keySet == exact.keySet && rolled.nonEmpty)
    exact.foreach { case (k, ex) =>
      val relErr = math.abs(rolled(k) - ex).toDouble / ex
      assert(relErr <= bound, s"$k: est=${rolled(k)} exact=$ex relErr=$relErr")
    }
  }

  test("sketches survive a parquet round-trip and still merge") {
    val path = java.nio.file.Files.createTempDirectory("sketch").toString + "/daily"
    daily.write.mode("overwrite").parquet(path)
    val est = Sketches.estimate(Sketches.rollup(spark.read.parquet(path), Seq.empty))
      .select($"distinct_est").as[Long].head()
    val exact = events.select(countDistinct($"user_id")).as[Long].head()
    assert(math.abs(est - exact).toDouble / exact <= bound,
      s"round-tripped grand total est=$est exact=$exact")
  }

  test("rollup is merge-order independent (identical estimate under any partitioning)") {
    val pinned = daily.localCheckpoint()
    val a = Sketches.estimate(Sketches.rollup(pinned.repartition(3), Seq("event_type")))
      .select($"event_type", $"distinct_est").as[(String, Long)].collect().toMap
    val b = Sketches.estimate(Sketches.rollup(pinned.repartition(17), Seq("event_type")))
      .select($"event_type", $"distinct_est").as[(String, Long)].collect().toMap
    assert(a == b && a.nonEmpty)
  }
}
