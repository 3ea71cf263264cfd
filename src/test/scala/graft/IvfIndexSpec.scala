package graft

import graft.operators.Similarity
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The persisted IVF layout claim, measured: writing the corpus
  * partitionBy(list_id) makes a probe a partition-pruned scan that
  * reads ~nProbe/nLists of the index files — not a full scan with a
  * post-hoc filter. (The in-memory ivfTopK Scaladoc asserted this;
  * here the scan metrics prove it, the way SinksSpec proves
  * range-cluster file skipping.) */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private val embeddings =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** All file scans in an EXECUTED plan, descending through the AQE
    * wrappers `collect` treats as leaves (AdaptiveSparkPlanExec holds
    * the final plan as a field; materialized QueryStageExec stages are
    * LeafExecNodes wrapping their real subtree; reused exchanges hide
    * the original). */
  private def fileScans(q: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = {
      val self = p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }
      val below: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec        => Seq(s.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case other                    => other.children
      }
      self ++ below.flatMap(walk)
    }
    walk(q.queryExecution.executedPlan)
  }

  test("ivfPqTopKIndexed equals in-memory ivfPqTopK; sidecars fully rebuild both models") {
    val path = Files.createTempDirectory("graft-ivfpq").toString + "/index"
    val mdl = graft.operators.ProductQuantizer.model(embeddings, m = 4, k = 16)
    Similarity.writeIvfPqIndex(embeddings, path, nLists = 8, mdl)
    val queries = embeddings.where($"vec_id" < 5)
    val mem = Similarity.ivfPqTopK(embeddings, queries, 3, nLists = 8, nProbe = 2, mdl)
      .as[(Long, Long, Long, Int)].collect().toSet
    val idx = Similarity.ivfPqTopKIndexed(spark, path, queries, 3, nProbe = 2)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(idx == mem && idx.nonEmpty)
  }

  test("an IVF-PQ probe reads only probed list directories of code-sized rows") {
    val path = Files.createTempDirectory("graft-ivfpq2").toString + "/index"
    val nLists = 16
    val mdl = graft.operators.ProductQuantizer.model(embeddings, m = 4, k = 16)
    Similarity.writeIvfPqIndex(embeddings, path, nLists = nLists, mdl)
    val listDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list_id="))
    assert(listDirs.length == nLists)
    val totalFiles = listDirs.flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    val queries = embeddings.where($"vec_id" < 2)
    val q = Similarity.ivfPqTopKIndexed(spark, path, queries, 3, nProbe = 4)
    assert(q.collect().nonEmpty)
    val indexScan = fileScans(q)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("graft-ivfpq2")))
      .getOrElse(fail("no index scan found in the executed plan"))
    val filesRead = indexScan.metrics("numFiles").value
    info(s"index files: $totalFiles; files read by probe: $filesRead")
    assert(filesRead > 0 && filesRead < totalFiles,
      s"probe read $filesRead of $totalFiles files — expected a pruned scan")
    // and the scanned payload is codes, not vectors: no embedding/cv
    // column in the index schema at all
    val schema = spark.read.parquet(path).schema.fieldNames.toSet
    assert(schema == Set("corpus_id", "code0", "code1", "code2", "code3", "list_id"))
  }

  test("ivfPqIndexFor memoizes one build per (session, sfDir) and probes equal the fused form") {
    // the q_ivfpq_indexed registration shape (r12 verdict item #5):
    // the first call builds (bench pays it as warmup_detail.ivfpq),
    // the second returns the SAME path without rebuilding
    val mdl = graft.operators.ProductQuantizer.model(embeddings, m = 4, k = 16)
    val key = "ivfpq-memo-test-" + System.nanoTime()
    val p1 = Similarity.ivfPqIndexFor(spark, key, embeddings, nLists = 8, mdl)
    val files1 = java.nio.file.Files.walk(java.nio.file.Paths.get(p1)).count()
    val p2 = Similarity.ivfPqIndexFor(spark, key, embeddings, nLists = 8, mdl)
    assert(p2 == p1)
    assert(java.nio.file.Files.walk(java.nio.file.Paths.get(p1)).count() == files1)
    val queries = embeddings.where($"vec_id" < 5)
    val fused = Similarity.ivfPqTopK(embeddings, queries, 3, nLists = 8, nProbe = 2, mdl)
      .as[(Long, Long, Long, Int)].collect().toSet
    val probed = Similarity.ivfPqTopKIndexed(spark, p1, queries, 3, nProbe = 2)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(probed == fused && probed.nonEmpty)
  }
}
