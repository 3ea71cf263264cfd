package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.GraftSparkShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.TimestampType

class TablesSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSparkShim.drainListeners(sc)
    sc.addSparkListener(listener)
    try { body; GraftSparkShim.drainListeners(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  test("every table's footer schema equals the inferred schema, nullability and metadata included") {
    val names = new java.io.File(sfDir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(names.length >= 10)
    names.foreach { n =>
      assert(Tables.table(spark, sfDir, n).schema == spark.read.parquet(s"$sfDir/$n.parquet").schema, n)
    }
  }

  test("building q_ab_test and q_grouping_sets launches no job") {
    Seq("q_ab_test", "q_grouping_sets").foreach { q =>
      val jobs = jobsDuring(SparkEntry.queries(q)(spark, sfDir))
      assert(jobs == 0, s"$q launched $jobs job(s) while building")
    }
  }

  test("events with TIMESTAMP(NANOS) ts read as floor-truncated micros without touching the session conf") {
    assert(!spark.conf.getAll.contains(nanosKey))
    val dir = Files.createTempDirectory("graft-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val rows = Seq(1L -> 1700000000123456789L, 2L -> 1700000000000000999L, 3L -> 999L)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet")).withType(schema).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      rows.foreach { case (id, ns) => writer.write(groups.newGroup().append("event_id", id).append("ts", ns)) }
    } finally writer.close()

    val ev = Tables.events(spark, dir.toString)
    assert(!spark.conf.getAll.contains(nanosKey))
    assert(ev.schema("ts").dataType == TimestampType)
    val micros = ev.selectExpr("event_id", "unix_micros(ts)").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(micros == rows.map { case (id, ns) => id -> ns / 1000 }.toMap)
    assert(!spark.conf.getAll.contains(nanosKey))
  }

  test("a directory of part files reads like inference; one with no data file fails with the helper's message") {
    val dir = Files.createTempDirectory("graft-tables")
    spark.range(10).selectExpr("id", "cast(id as string) as s").repartition(3)
      .write.parquet(dir.resolve("region.parquet").toString)
    val parts = Tables.region(spark, dir.toString)
    assert(parts.schema == spark.read.parquet(s"$dir/region.parquet").schema)
    assert(parts.count() == 10)
    Files.createDirectory(dir.resolve("nation.parquet"))
    val e = intercept[IllegalArgumentException](Tables.nation(spark, dir.toString))
    assert(e.getMessage.contains("holds no data file"))
  }
}
