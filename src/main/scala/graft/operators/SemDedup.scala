package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): cluster the embedding space with k-means, then
  * search for near-duplicate pairs ONLY within each cluster —
  * replacing the O(N²) global pair search with Σ n_c², the published
  * pragmatic recipe for web-scale semantic dedup.
  *
  * Relation to the other embedding near-dup path: `Similarity.
  * cosineNearDupPairsLsh` buckets by random sign projections (recall
  * is a tunable probability, uniform over the space);  SemDeDup
  * buckets by LEARNED cluster structure (recall is 1 within a
  * cluster, 0 across cluster boundaries — the paper's accepted
  * trade). Both verify candidates with the same exact quantized
  * cosine; which to use depends on whether the corpus has cluster
  * structure worth learning.
  *
  * Determinism: `KMeans.train` is bit-reproducible (exact-integer
  * sums, fixed seed, fixed tie-breaks), so the cluster boundaries —
  * and therefore the exact pair set — are ONE reproducible answer
  * that the DuckDB oracle (`q_semdedup`) rebuilds term-for-term.
  *
  * Scale shape: assignment is a narrow no-shuffle projection over
  * literal centroids; the pair search is a self-equi-join on
  * list_id. Per-cluster cost is quadratic by design — size k so
  * clusters land at ~10⁴–10⁵ members (k ≈ N / targetClusterSize; the
  * paper uses k on the order of 10⁴–10⁵ for billions of docs), and
  * the join is an AQE-skew-splittable shuffle join, so one hot
  * cluster splits across tasks instead of serializing. */
object SemDedup {

  /** All within-cluster pairs (a_id < b_id) with cosine ≥ threshold,
    * under a k-means model trained on the corpus itself. */
  def pairs(corpus: DataFrame, threshold: Double,
            k: Int = 8, iters: Int = 2): DataFrame =
    pairsWithModel(corpus, KMeans.train(corpus, k, iters), threshold)

  /** Same, against an already-trained model (train once, reuse across
    * corpus increments — the model is k×dim literals). */
  def pairsWithModel(corpus: DataFrame, cents: Array[(Int, Array[Long], Double)],
                     threshold: Double): DataFrame = {
    val a = Similarity.assignLists(corpus, cents)
    val x = a.select(col("list_id"), col("corpus_id").as("a_id"),
      col("cv").as("av"), col("cn").as("an"))
    val y = a.select(col("list_id"), col("corpus_id").as("b_id"),
      col("cv").as("bv"), col("cn").as("bn"))
    x.join(y, Seq("list_id"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (Similarity.qdot(col("av"), col("bv")).cast("double") /
          (col("an") * col("bn"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }
}
