package graft.streaming

import graft.operators.{Components, Incremental, NearDup}
import graft.ops.Checkpoints
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming near-dup ingest gate — the production loop composed from
  * the batch operators: every micro-batch is (1) deduped against
  * itself (keep the min-id canonical per near-dup cluster), (2)
  * probed against the PERSISTED corpus index and stripped of
  * anything near-duplicating stored content, (3) appended to the
  * clean corpus and admitted into the index so the NEXT tick sees it.
  *
  * One pass per micro-batch: the batch is cut once, shingled once
  * into one row per distinct shingle set (`NearDup.clusteredSets`,
  * min-id representative) and signed once (`NearDup.withBandBuckets`),
  * and that one cut frame feeds all three steps. Its band rows
  * (`NearDup.bandRows`, a projection) pass the same candidate-volume
  * guard as `NearDup.minhashRepPairsFrom`, self-join into verified
  * representative pairs for `Components` (skipped when the guard
  * counts no candidate pair), and probe the index — every
  * representative is probed, since whether a set near-dups stored
  * content does not depend on the rest of its batch. The kept
  * documents are cut once more, and the clean rows (a semi-join of
  * the batch) and the appended band and shingle rows (projections)
  * all come from that cut: nothing is shingled or signed twice. The
  * cuts are `Checkpoints.truncate` (executor-local, reliable under a
  * checkpoint dir); `unpersist` cannot reach them, so their blocks
  * are reclaimed by the ContextCleaner once the batch's frames are
  * garbage, as with `Components`' per-round cuts.
  * Documents with an empty shingle set (empty, null or too-short
  * text) never band, so they are never clustered and always kept.
  *
  * Why foreachBatch and not a stateful streaming operator: the dedup
  * state is the corpus-scale band index — orders of magnitude beyond
  * executor state stores, already maintained incrementally on disk by
  * `Incremental`, and probed as an ordinary batch join. foreachBatch
  * is Structured Streaming's sanctioned bridge for exactly this
  * (micro-batch as DataFrame + transactional sink of your own).
  *
  * Failure semantics: the corpus write is one dynamic partition
  * overwrite keyed by ingest_batch, and it commits before the index
  * admission. A replayed micro-batch whose partition already exists
  * therefore keeps that partition as written (it IS the batch's
  * decision — re-deciding against an index that may already hold the
  * batch would find every document a near-dup of itself) and only
  * completes the index admission, appending the rows the index does
  * not hold yet (`Incremental.appendMissing`). A replay of a batch
  * that failed before its corpus write re-runs the whole gate. So the
  * pipeline is effectively-once on the corpus and at-least-once on
  * the index — the right asymmetry, since the index is a pruning
  * structure, not an answer (a re-registered band costs duplicate
  * candidates, dropped by the distinct; never wrong results).
  *
  * The caller must have initialized the index (`Incremental
  * .writeIndex`, empty corpus is fine) before starting the query, and
  * SHOULD pass a durable `checkpointLocation` — without one Spark
  * assigns a temp checkpoint deleted on stop, and a restarted query
  * re-reads the source from scratch with batch ids counted from 0
  * again, which the gate takes for replays of the partitions already
  * landed under those ids (the replay story holds only when batch ids
  * are stable across restarts).
  */
object StreamDedup {

  def dedupedIngest(docs: DataFrame, textCol: String, n: Int, threshold: Double,
                    indexRoot: String, cleanPath: String,
                    checkpointLocation: Option[String] = None): StreamingQuery = {
    val base = docs.writeStream
      .outputMode("append")
    checkpointLocation.foreach(base.option("checkpointLocation", _))
    base
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), batchId, textCol, n, threshold, indexRoot, cleanPath)
      }
      .start()
  }

  /** One micro-batch through the gate: the body of `dedupedIngest`. */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long, textCol: String, n: Int,
                                 threshold: Double, indexRoot: String, cleanPath: String): Unit = {
    val spark = batch.sparkSession
    val part = new Path(cleanPath, s"ingest_batch=$batchId")
    if (part.getFileSystem(spark.sessionState.newHadoopConf()).exists(part)) {
      val landed = spark.read.schema(batch.schema).parquet(part.toString)
      Incremental.appendMissing(
        NearDup.withBandBuckets(NearDup.shingled(landed, textCol, n)), indexRoot)
    } else gate(batch, batchId, textCol, n, threshold, indexRoot, cleanPath)
  }

  private def gate(batch: DataFrame, batchId: Long, textCol: String, n: Int,
                   threshold: Double, indexRoot: String, cleanPath: String): Unit = {
    val b = Checkpoints.truncate(batch)
    val sets = Checkpoints.truncate(
      NearDup.withBandBuckets(NearDup.clusteredSets(NearDup.shingled(b, textCol, n))))
    val bands = NearDup.bandRows(sets)
    // (1) intra-batch: a representative survives iff it is the min id
    // of its component (members of a set never survive their rep). A
    // candidate volume of 0 means no two representatives share a
    // bucket, so there are no pairs and every representative survives.
    val survivors =
      if (NearDup.requireBandVolume(bands) == 0L) sets
      else sets.join(
        Components.connectedComponents(NearDup.bandPairs(bands, sets, threshold))
          .where(col("id") =!= col("comp")).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti")
    // (2) cross-corpus: drop anything near-duplicating the index. The
    // drop list holds at most the batch's representative ids, so it is
    // broadcast and the signed set frame is not shuffled for the cut.
    val indexDups = Incremental.nearDupsAgainstIndex(indexRoot, sets, threshold)
      .select(col("new_id").as("doc_id"))
    // (3) the kept documents: surviving representatives, plus every
    // member of the empty set
    val kept = Checkpoints.truncate(
      survivors.join(broadcast(indexDups), Seq("doc_id"), "left_anti")
        .select(explode(when(col("n_shingles") > 0, array(col("doc_id"))).otherwise(col("ids")))
          .as("doc_id"), col("hs"), col("n_shingles"), col("buckets")))
    graft.sources.Sinks.upsertPartitions(
      b.join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .withColumn("ingest_batch", lit(batchId)),
      cleanPath, Seq("ingest_batch"))
    Incremental.appendToIndex(kept, indexRoot)
  }
}
