package graft.operators

import graft.ops.Sampling
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Leakage-safe train/valid/test splitting: near-duplicate documents
  * must land in the SAME split, or the eval set silently contains
  * paraphrases of training rows and measured loss is contaminated
  * (the held-out half of `Contamination.evalContamination`'s
  * problem — that operator detects cross-set overlap after the fact;
  * this one makes it structurally impossible for the overlap to be
  * created by the splitter).
  *
  * Mechanism: hash-split on the duplicate CLUSTER, not the document.
  * `NearDup.minhashDuplicateClusters` labels every near-dup member
  * with its component's canonical (minimum) doc_id; that label — the
  * doc's own id when it has no near-dups — is the split key, so a
  * whole cluster moves as one atom through `Sampling.assignSplit`'s
  * md5 cut-points. Singleton docs get exactly the plain
  * `assignSplit(doc_id)` assignment.
  *
  * Scale shape: everything is the (bucketed, representative-space)
  * dedup pipeline plus one narrow hash projection — no new shuffle
  * beyond the cluster join. Membership is a pure function of
  * (cluster content, cut-points): re-runs agree, and growing the
  * corpus only moves a doc's split when its CLUSTER changes (a new
  * near-dup bridging two clusters merges them — the price of the
  * no-leakage invariant, not a defect).
  */
object Splits {

  /** (doc_id, group_key, split) for every document, over a PRE-BUILT
    * clusters frame — so a memoized clustering
    * (NearDup.documentClusters) is consumed instead of re-running the
    * component loop per caller. `group_key` is the atom the split was
    * decided on: the near-dup cluster label, or the doc's own id for
    * singletons. */
  def leakageSafeSplitFrom(clusters: DataFrame, docs: DataFrame,
                           trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    val c = clusters.select(col("doc_id"), col("cluster_id"))
    val keyed = docs.select(col("doc_id"))
      .join(c, Seq("doc_id"), "left")
      .withColumn("group_key", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("group_key"))
    Sampling.assignSplit(keyed, "group_key", trainPct, validPct)
  }
}
