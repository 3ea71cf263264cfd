package graft

import graft.sources.Snapshots
import graft.streaming.StreamSnapshot
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def freshDirs(): (String, String) = {
    val root = Files.createTempDirectory("snapstream").toString
    (s"$root/table", s"$root/ckpt")
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select($"value").as[Long].collect().sorted.toSeq

  test("a stream lands one snapshot version per micro-batch; HEAD is the union") {
    implicit val sqlCtx = spark.sqlContext
    val (table, ckpt) = freshDirs()
    val input = MemoryStream[Long]
    val q = input.toDF().writeStream
      .foreachBatch(StreamSnapshot.sink(table))
      .option("checkpointLocation", ckpt).start()
    try {
      input.addData(1L, 2L); q.processAllAvailable()
      input.addData(3L); q.processAllAvailable()
    } finally q.stop()
    assert(Snapshots.currentVersion(table) == 2)
    assert(ids(Snapshots.read(spark, table)) == Seq(1L, 2L, 3L))
    // micro-batch history time-travels
    assert(ids(Snapshots.read(spark, table, version = 1)) == Seq(1L, 2L))
    assert(Snapshots.tagsNewestFirst(table).toSeq == Seq("batch=1", "batch=0"))
  }

  test("a replayed micro-batch is a no-op: no new version, no duplicate rows") {
    val (table, _) = freshDirs()
    val sink = StreamSnapshot.sink(table)
    sink(Seq(1L, 2L).toDF("value"), 0L)
    sink(Seq(3L).toDF("value"), 1L)
    // the crash-replay window: batch 1 runs again (checkpoint never advanced)
    sink(Seq(3L).toDF("value"), 1L)
    assert(Snapshots.currentVersion(table) == 2)
    assert(ids(Snapshots.read(spark, table)) == Seq(1L, 2L, 3L))
  }

  test("a restarted run replays the committed batch as a no-op, then continues") {
    // the crash-recovery sequence a checkpointed restart produces:
    // run 1 commits batch 0, dies before the checkpoint advances;
    // run 2 (a FRESH sink instance — the ledger lives in the table,
    // not the process) replays batch 0, then processes batch 1
    val (table, _) = freshDirs()
    StreamSnapshot.sink(table)(Seq(1L, 2L).toDF("value"), 0L)
    val sink2 = StreamSnapshot.sink(table)
    sink2(Seq(1L, 2L).toDF("value"), 0L) // replayed -> skipped
    sink2(Seq(5L).toDF("value"), 1L)
    assert(Snapshots.currentVersion(table) == 2)
    assert(ids(Snapshots.read(spark, table)) == Seq(1L, 2L, 5L))
    val dups = Snapshots.read(spark, table).groupBy($"value").count().where($"count" > 1)
    assert(dups.isEmpty)
  }

  test("the ledger check reads down from HEAD: a broken older manifest does not block the sink") {
    // a replay of the newest batch and the next batch are both answered
    // by HEAD's tag, so neither reads v1 — here v1's manifest is a directory
    val (table, _) = freshDirs()
    val sink = StreamSnapshot.sink(table)
    (0L to 2L).foreach(b => sink(Seq(b).toDF("value"), b))
    val v1 = java.nio.file.Paths.get(table, "_snapshots", "v00000001.txt")
    Files.delete(v1)
    Files.createDirectory(v1)
    sink(Seq(2L).toDF("value"), 2L) // replayed -> skipped
    assert(Snapshots.currentVersion(table) == 3)
    sink(Seq(3L).toDF("value"), 3L)
    assert(Snapshots.currentVersion(table) == 4)
    assert(ids(Snapshots.read(spark, table)) == Seq(0L, 1L, 2L, 3L))
  }

  test("overwrite mode keeps only the latest batch at HEAD, history retained") {
    val (table, _) = freshDirs()
    val sink = StreamSnapshot.sink(table, mode = "overwrite")
    sink(Seq(1L).toDF("value"), 0L)
    sink(Seq(2L, 3L).toDF("value"), 1L)
    assert(ids(Snapshots.read(spark, table)) == Seq(2L, 3L))
    assert(ids(Snapshots.read(spark, table, version = 1)) == Seq(1L))
  }

  test("bad mode fails at sink construction, not mid-stream") {
    intercept[IllegalArgumentException](StreamSnapshot.sink("/tmp/x", mode = "merge"))
  }
}
