package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental near-dup detection — the production dedup shape: a
  * NEW batch of documents is checked against an EXISTING corpus
  * through a persisted index, without ever re-shingling or re-hashing
  * the corpus. (Corpus-wide dedup is `NearDup`; this operator is what
  * runs on every ingest tick once the corpus exists.)
  *
  * The index is two parquet tables under one root:
  *  - `<root>/bands`: (doc_id, band, bucket, n_shingles) — the LSH
  *    band table, the candidate-join side. At 100 TB this is the ONLY
  *    per-tick scan of corpus-derived data, and it's 4 longs per
  *    (doc × band) row regardless of document size.
  *  - `<root>/shingles`: (doc_id, hs, n_shingles) — the shingle-hash
  *    sets for exact verification, touched only for candidate doc_ids
  *    (a semi-join-shaped access, not a scan of the corpus text).
  *
  * Candidates = new-batch band rows equi-joined to stored band rows
  * on (band, bucket) + the exact length filter; verification = exact
  * Jaccard on the hash sets, same contract as `NearDup` (recall
  * 1−(1−t^r)^b from banding, then exact). New-batch-internal dups are
  * NOT this operator's job — run `NearDup` on the batch first, then
  * probe the corpus; `appendToIndex` admits the accepted batch so the
  * next tick sees it. `nearDupsAgainstIndex` and `appendToIndex` take
  * a frame already signed by `NearDup.withBandBuckets`, so a caller
  * that clusters, probes and admits one batch (the streaming gate)
  * shingles and signs it once.
  *
  * No shingle-set clustering here: clustering pays when a dup-heavy
  * frame self-joins (NearDup.scala:77-84); the cross join here is
  * new × old, and the new batch is small by definition.
  */
object Incremental {

  /** Build the index from a corpus: one shingling and signing pass,
    * then the band table and the shingle store land under `root`. */
  def writeIndex(docs: DataFrame, textCol: String, n: Int, root: String,
                 k: Int = 96, b: Int = 24): Unit = {
    val signed = NearDup.withBandBuckets(NearDup.shingled(docs, textCol, n), k, b)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try writeRows(signed, root, "overwrite")
    finally signed.unpersist(blocking = false)
  }

  /** Admit an accepted, signed batch into the index (append-only; the
    * next tick's probes see it). Idempotence is the caller's contract —
    * re-appending a batch double-registers its bands, which costs
    * duplicate candidates (dropped by the distinct) but never wrong
    * results. */
  private[graft] def appendToIndex(signed: DataFrame, root: String): Unit =
    writeRows(signed, root, "append")

  private def writeRows(signed: DataFrame, root: String, mode: String): Unit = {
    NearDup.bandRows(signed).write.mode(mode).parquet(s"$root/bands")
    shingleRows(signed).write.mode(mode).parquet(s"$root/shingles")
  }

  private def shingleRows(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), col("hs"), col("n_shingles"))

  /** Pure-frame form: probe `newDocs`' shingled frame against a band
    * table + shingle store (in-memory or read from an index). Output:
    * (new_id, old_id, common, jaccard) for every cross pair with
    * exact Jaccard ≥ threshold among banding candidates. */
  def nearDupsAgainstFrom(newSh: DataFrame, oldBands: DataFrame, oldSh: DataFrame,
                          threshold: Double, k: Int = 96, b: Int = 24): DataFrame =
    probe(NearDup.bandTable(newSh, k, b), newSh, oldBands, oldSh, threshold)

  /** Probe a PERSISTED index with a signed batch: its band rows join
    * the stored band table for candidates, and the stored shingle sets
    * verify them. */
  private[graft] def nearDupsAgainstIndex(root: String, signed: DataFrame,
                                          threshold: Double): DataFrame = {
    val newBands = NearDup.bandRows(signed)
    probe(newBands, signed, stored(root, "bands", newBands),
      stored(root, "shingles", shingleRows(signed)), threshold)
  }

  /** Admit only the rows of a signed batch that the index does not hold
    * yet, per table and by doc_id: completes an admission that stopped
    * between or before its two writes, and appends nothing after a
    * complete one. Scans the stored doc ids, so it is the replay path,
    * not the per-tick one. */
  private[graft] def appendMissing(signed: DataFrame, root: String): Unit =
    Seq("bands" -> NearDup.bandRows(signed), "shingles" -> shingleRows(signed)).foreach {
      case (name, rows) =>
        rows.join(stored(root, name, rows).select(col("doc_id")), Seq("doc_id"), "left_anti")
          .write.mode("append").parquet(s"$root/$name")
    }

  /** An index table, read with the schema of the projection that wrote
    * it (the batch's own rows of that table), so no read of the index
    * launches a schema-inference job. */
  private def stored(root: String, name: String, like: DataFrame): DataFrame =
    like.sparkSession.read.schema(like.schema).parquet(s"$root/$name")

  private def probe(newBands: DataFrame, newSh: DataFrame, oldBands: DataFrame,
                    oldSh: DataFrame, threshold: Double): DataFrame = {
    val nb = newBands
      .select(col("band"), col("bucket"), col("doc_id").as("new_id"), col("n_shingles").as("n_new"))
    val old = oldBands
      .select(col("band"), col("bucket"), col("doc_id").as("old_id"), col("n_shingles").as("n_old"))
    val cand = nb.join(old, Seq("band", "bucket"))
      .where(col("n_old") >= ceil(col("n_new") * threshold) &&
        col("n_new") >= ceil(col("n_old") * threshold))
      .select(col("new_id"), col("old_id")).distinct()
    val s1 = newSh.select(col("doc_id").as("new_id"), col("hs").as("hs1"), col("n_shingles").as("n1"))
    val s2 = oldSh.select(col("doc_id").as("old_id"), col("hs").as("hs2"), col("n_shingles").as("n2"))
    cand.join(s1, Seq("new_id")).join(s2, Seq("old_id"))
      .withColumn("common", size(array_intersect(col("hs1"), col("hs2"))))
      .withColumn("jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("old_id"), col("common"), col("jaccard"))
  }
}
