package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** Typed zone maps (r11 verdict item #8): timestamp/date/double
  * manifest envelopes through the order-preserving Long encodings,
  * measured file skipping, and conservatism (stat-less and NaN files
  * always read). */
class TypedStatsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("typedstats").resolve("t").toString

  test("orderedDoubleBits is strictly monotone over the interesting ladder") {
    val ladder = Seq(Double.NegativeInfinity, -1e300, -2.5, -1.0, -Double.MinPositiveValue,
      0.0, Double.MinPositiveValue, 1.0, 2.5, 1e300, Double.PositiveInfinity)
    val enc = ladder.map(Snapshots.orderedDoubleBits)
    assert(enc == enc.sorted && enc.distinct == enc,
      s"not strictly monotone: ${ladder.zip(enc)}")
    // -0.0 folds onto +0.0 (numerically equal — envelopes lose nothing)
    assert(Snapshots.orderedDoubleBits(-0.0) == Snapshots.orderedDoubleBits(0.0))
    // NaN canonicalizes above +Inf — Spark's NaN-is-greatest ordering
    assert(Snapshots.orderedDoubleBits(Double.NaN) >
      Snapshots.orderedDoubleBits(Double.PositiveInfinity))
  }

  test("timestamp envelopes: pruned time-range read skips files and loses nothing") {
    val t = freshTable()
    val rows = (0 until 240).map { i =>
      (i.toLong, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i * 3600L)))
    }
    Snapshots.commit(rows.toDF("id", "ts").repartitionByRange(6, $"ts"),
      t, statsCols = Seq("ts"))
    val lo = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-03T00:00:00Z"))
    val hi = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-04T00:00:00Z"))
    val pruned = Snapshots.readPruned(spark, t, Seq(("ts", lo, hi)))
    val full = Snapshots.read(spark, t).where($"ts".between(lit(lo), lit(hi)))
    assert(pruned.select($"id").as[Long].collect().sorted.toSeq ==
      full.select($"id").as[Long].collect().sorted.toSeq)
    assert(pruned.count() == 25) // hours 48..72 inclusive
    // the skipping is real: a 1-day window over 10 days in 6
    // range-clustered files touches at most 2
    val hit = Snapshots.prunedFiles(t, 1, Seq(("ts",
      Snapshots.encodeStat(lo, "ts").get, Snapshots.encodeStat(hi, "ts").get)))
    assert(hit.size <= 2 && hit.size < Snapshots.liveFiles(t, 1).size,
      s"expected real pruning, got ${hit.size} of ${Snapshots.liveFiles(t, 1).size}")
  }

  test("double envelopes: negatives prune correctly; NaN file stays conservative") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, -100.0), (2L, -50.0)).toDF("id", "v").coalesce(1),
      t, statsCols = Seq("v"))
    Snapshots.commit(Seq((3L, -1.5), (4L, 2.5)).toDF("id", "v").coalesce(1),
      t, statsCols = Seq("v"))
    Snapshots.commit(Seq((5L, 100.0), (6L, Double.NaN)).toDF("id", "v").coalesce(1),
      t, statsCols = Seq("v"))
    val v = Snapshots.currentVersion(t)
    // RAW long bounds — prunedFiles folds them into the double
    // column's encoded space itself
    val hit = Snapshots.prunedFiles(t, v, Seq(("v", -2L, 3L)))
    // file 1 ([-100,-50]) skipped; file 2 hit; file 3's envelope is
    // [100, NaN] — disjoint from [-2,3], legitimately skipped (NaN
    // never matches a BETWEEN anyway, so nothing is lost)
    assert(hit.size == 1, s"expected 1 candidate file, got $hit")
    val got = Snapshots.readPruned(spark, t, Seq(("v",
      java.lang.Double.valueOf(-2.0), java.lang.Double.valueOf(3.0))))
      .select($"id").as[Long].collect().sorted.toSeq
    assert(got == Seq(3L, 4L))
    // ...but a range REACHING the NaN file's real values reads it
    val wide = Snapshots.readPruned(spark, t, Seq(("v",
      java.lang.Double.valueOf(0.0), java.lang.Double.valueOf(200.0))))
      .select($"id").as[Long].collect().sorted.toSeq
    assert(wide == Seq(4L, 5L))
  }

  test("date envelopes prune; stat-less files are always read") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, java.sql.Date.valueOf("2024-01-01")),
      (2L, java.sql.Date.valueOf("2024-01-31"))).toDF("id", "d").coalesce(1),
      t, statsCols = Seq("d"))
    // second commit WITHOUT stats: its file must always be a candidate
    Snapshots.commit(Seq((3L, java.sql.Date.valueOf("2024-06-15")))
      .toDF("id", "d").coalesce(1), t)
    val got = Snapshots.readPruned(spark, t, Seq(("d",
      java.sql.Date.valueOf("2024-06-01"), java.sql.Date.valueOf("2024-06-30"))))
      .select($"id").as[Long].collect().toSeq
    assert(got == Seq(3L))
    val none = Snapshots.readPruned(spark, t, Seq(("d",
      java.sql.Date.valueOf("2025-01-01"), java.sql.Date.valueOf("2025-01-31"))))
    // the stat-less file is still scanned (conservative), then the
    // exact predicate drops its rows
    assert(none.count() == 0)
  }
}
