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
}
