package graft

import graft.sources.Sinks
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-sink").toString

  test("append accumulates batches") {
    val path = tmp()
    val b1 = Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0)).toDF("id", "d", "v")
    val b2 = Seq((3L, "2024-01-02", 30.0)).toDF("id", "d", "v")
    Sinks.append(b1, path, Seq("d"))
    Sinks.append(b2, path, Seq("d"))
    assert(spark.read.parquet(path).count() == 3)
  }

  test("upsertPartitions replaces only incoming partitions (S7 upsert semantics)") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    // a session left at its default, and one set to static: the write's
    // own mode wins either way, and the session value is left as it was
    Seq(None, Some("static")).foreach { mode =>
      mode.foreach(spark.conf.set(key, _))
      try {
        val path = tmp()
        val day1 = Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0)).toDF("id", "d", "v")
        Sinks.upsertPartitions(day1, path, Seq("d"))
        // re-run day 2 with corrected value — day 1 must survive untouched
        val day2fix = Seq((2L, "2024-01-02", 99.0)).toDF("id", "d", "v")
        Sinks.upsertPartitions(day2fix, path, Seq("d"))
        // note: the partition column comes back type-inferred as DATE
        val out = spark.read.parquet(path).collect()
          .map(r => r.getAs[Any]("d").toString -> r.getAs[Double]("v")).toMap
        assert(out("2024-01-01") == 10.0, s"session mode $mode")
        assert(out("2024-01-02") == 99.0, s"session mode $mode")
        assert(spark.read.parquet(path).count() == 2, s"session mode $mode")
        assert(spark.conf.getAll.get(key) == mode)
      } finally spark.conf.unset(key)
    }
  }

  test("upsert is idempotent (re-running the same batch changes nothing)") {
    val path = tmp()
    val batch = Seq((1L, "2024-01-01", 10.0)).toDF("id", "d", "v")
    Sinks.upsertPartitions(batch, path, Seq("d"))
    Sinks.upsertPartitions(batch, path, Seq("d"))
    assert(spark.read.parquet(path).count() == 1)
  }

  test("enforceUnique + truncateReload") {
    val path = tmp()
    val df = Seq((1L, "k1", 1.0), (2L, "k1", 2.0), (3L, "k2", 3.0)).toDF("id", "k", "v")
    val unique = Sinks.enforceUnique(df, Seq("k"), "id")
    unique.write.mode("overwrite").parquet(path)
    val out = spark.read.parquet(path).collect().map(r => r.getAs[String]("k") -> r.getAs[Long]("id")).toMap
    assert(out == Map("k1" -> 1L, "k2" -> 3L))
  }

  test("writeRangeClustered: files carry disjoint ranges and a range scan prunes files") {
    val path = tmp()
    // shuffled input: without range clustering every file would span
    // the whole ts domain and nothing could be skipped
    val df = spark.range(10000).select(
      $"id",
      (($"id" * 2654435761L) % 10000).as("ts_val"))
    Sinks.writeRangeClustered(df, path, "ts_val", nFiles = 8)

    // per-file [min,max] envelopes must be pairwise disjoint
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length >= 4, s"expected several files, got ${files.length}")
    val envelopes = files.map { f =>
      val r = spark.read.parquet(f).agg(min($"ts_val"), max($"ts_val")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    envelopes.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: ${envelopes.toSeq}")
      case _                        =>
    }

    // a narrow range filter must touch ~1 file's worth of data. The
    // skip evidence is the scan's OUTPUT ROWS: parquet min/max
    // skipping is row-group-level (each of these small files is one
    // row group), so a pruned scan emits only the surviving files'
    // rows. (numFiles is the wrong metric — it counts files LISTED,
    // which stats-based skipping never reduces; and the metric must
    // be read off the same DataFrame that ran, via collect(), not
    // count(), which builds a separate QueryExecution.)
    val q = spark.read.parquet(path).where($"ts_val" >= 100 && $"ts_val" < 200)
    assert(q.collect().length == 100)
    val scanRows = q.queryExecution.executedPlan.collectLeaves().head
      .metrics.get("numOutputRows").map(_.value)
    assert(scanRows.exists(r => r > 0 && r <= 2 * (10000 / 8)),
      s"expected <=2 files' rows out of the scan, got $scanRows")
  }

  test("writeZOrdered: a narrow filter on EITHER z-column prunes files; " +
    "single-column clustering cannot") {
    // two independent pseudo-random dimensions — row order correlates
    // with neither, so an unclustered layout would skip nothing
    val df = spark.range(20000).select(
      $"id",
      (($"id" * 2654435761L) % 10000).as("x"),
      (($"id" * 40503L + 7) % 10000).as("y"))

    // parquet stats skipping is row-group-level; these small files are
    // one row group each, so the scan's output-row count ≈ rows of the
    // files that could NOT be skipped (see the range-cluster test)
    def scanRowsFor(filtered: org.apache.spark.sql.DataFrame): Long = {
      filtered.collect()
      filtered.queryExecution.executedPlan.collectLeaves().head
        .metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
    }

    val total = 20000L
    val zpath = tmp()
    Sinks.writeZOrdered(df, zpath, Seq("x", "y"), nFiles = 32)
    assert(new java.io.File(zpath).listFiles()
      .count(_.getName.endsWith(".parquet")) >= 16, "expected a multi-file layout")
    // a 5%-selective filter on each dimension: 2-D z-order boxes give
    // a ~√-law skip per dimension — well under half the data scanned
    val zx = scanRowsFor(spark.read.parquet(zpath).where($"x" >= 100 && $"x" < 600))
    val zy = scanRowsFor(spark.read.parquet(zpath).where($"y" >= 100 && $"y" < 600))
    assert(zx > 0 && zx <= total * 2 / 5, s"x-filter scanned $zx of $total rows")
    assert(zy > 0 && zy <= total * 2 / 5, s"y-filter scanned $zy of $total rows")

    // baseline: clustering on x alone leaves the same y-filter reading
    // (nearly) everything — the gap is what z-ordering buys
    val rpath = tmp()
    Sinks.writeRangeClustered(df, rpath, "x", nFiles = 32)
    val rx = scanRowsFor(spark.read.parquet(rpath).where($"x" >= 100 && $"x" < 600))
    val ry = scanRowsFor(spark.read.parquet(rpath).where($"y" >= 100 && $"y" < 600))
    assert(rx <= total / 10, s"sanity: on-axis pruning works ($rx of $total)")
    assert(ry >= total * 9 / 10, s"y-filter on x-clustered layout scanned only $ry of $total — " +
      "expected no meaningful pruning")
    assert(zy < ry / 2, s"z-order must beat single-column clustering on the off-axis filter ($zy vs $ry)")

    // layout metadata must not leak into the written schema
    assert(!spark.read.parquet(zpath).columns.contains("__z"))
    // and the data survives intact
    assert(spark.read.parquet(zpath).count() == 20000)
  }

  test("writeZOrdered rejects degenerate configs") {
    val df = spark.range(10).select($"id", ($"id" % 3).as("x"), ($"id" % 7).as("y"))
    intercept[IllegalArgumentException](
      Sinks.writeZOrdered(df, tmp(), Seq("x"), nFiles = 2))
    intercept[IllegalArgumentException](
      Sinks.writeZOrdered(df, tmp(), Seq("x", "y"), nFiles = 2, bits = 32))
  }
}
