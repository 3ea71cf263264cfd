package graft

/** Pins the loop-truncation contract of [[graft.ops.Checkpoints]]:
  * `truncateFused` is a lazy executor-local cut, except under a
  * configured checkpoint dir, where every cut is an eager reliable
  * checkpoint on the checkpoint filesystem (the durability contract). */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def isCheckpointScan(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.execution.ExternalRDD[_]] ||
      df.queryExecution.logical.isInstanceOf[
        org.apache.spark.sql.execution.LogicalRDD]

  test("reliable mode end-to-end: PageRank identical under a checkpoint dir, files land there") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (4L, 1L)).toDF("src", "dst")
    val local = graft.operators.PageRank.ranks(edges, iters = 3)
      .orderBy("id").collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-e2e")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val reliable = graft.operators.PageRank.ranks(edges, iters = 3)
        .orderBy("id").collect().toSeq
      assert(reliable == local,
        "reliable-mode ranks differ from executor-local ranks")
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(dir).iterator().asScala
        .count(java.nio.file.Files.isRegularFile(_))
      assert(files > 0, s"no checkpoint files landed under $dir — the " +
        "reliable path did not persist to the checkpoint filesystem")
    } finally {
      org.apache.spark.GraftTestShim.clearCheckpointDir(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
  }

  test("truncateFused under a checkpoint dir cuts eagerly to that dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val cut = graft.ops.Checkpoints.truncateFused(spark.range(10).toDF("x"))
      assert(isCheckpointScan(cut))
      // eager: the files are on the checkpoint filesystem before any action
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(dir).iterator().asScala
        .count(java.nio.file.Files.isRegularFile(_))
      assert(files > 0, s"no checkpoint files landed under $dir")
      assert(cut.count() == 10)
    } finally {
      // unset: a checkpoint dir leaking into other suites would switch
      // every loop to reliable mode
      org.apache.spark.GraftTestShim.clearCheckpointDir(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
  }

  test("truncateFused without a checkpoint dir is lazy and launches no job") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val df = spark.range(10).toDF("x")
    org.apache.spark.GraftSparkShim.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val cut = graft.ops.Checkpoints.truncateFused(df)
      assert(isCheckpointScan(cut))
      org.apache.spark.GraftSparkShim.drainListeners(sc)
      assert(jobs.get == 0, s"truncateFused launched ${jobs.get} job(s) before any action")
      assert(cut.count() == 10)
      org.apache.spark.GraftSparkShim.drainListeners(sc)
      assert(jobs.get > 0)
    } finally sc.removeSparkListener(listener)
  }
}
