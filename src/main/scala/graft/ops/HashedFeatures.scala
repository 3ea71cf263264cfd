package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashing-trick featurization + linear-model inference — the
  * fasttext-style quality-classifier pattern (score = bias +
  * Σ_token w[h(token) mod D]) expressed as columnar math, because at
  * 100 TB "run the classifier over the corpus" must be a MAP, not a
  * model server: the weight vector rides into the task binary as a
  * literal array (same model-as-parameters pattern as the IVF
  * centroids), the per-document score is one `aggregate` over the
  * token array — row-local, zero shuffle, whole-stage codegen —
  * and the filter decision is an ordinary predicate the optimizer
  * can push around.
  *
  * Integer weights keep the score exact (bit-identical across
  * engines and partitionings — no float summation order anywhere),
  * which is how the DuckDB oracle replicates it; a trained float
  * model is used here after fixed-point quantization (w → round(w ×
  * 2^s)), the standard inference trick, with the same integer-exact
  * guarantees.
  *
  * The hash is `Hash60` (first 60 bits of md5) mod D — hash
  * collisions fold rare features together exactly as at training
  * time, the defining property of the hashing trick (Weinberger et
  * al. 2009).
  */
object HashedFeatures {

  private def cleanTokens(text: Column): Column =
    filter(graft.functions.TextFunctions.tokens(text), t => length(t) > 0)

  private def bucket(t: Column, dim: Int): Column =
    pmod(graft.plans.Hash60.hash60(t), lit(dim.toLong)).cast("int")

  /** INFERENCE: append `out` = bias + Σ_token weights(h(token) mod
    * D). Row-local (no explode, no shuffle); NULL text scores the
    * bare bias. `weights.size` is the hash dimension D. */
  def linearScore(docs: DataFrame, textCol: String, weights: Seq[Long],
                  bias: Long = 0L, out: String = "score"): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty (its size is the hash dim)")
    val w = typedLit(weights.toArray)
    val dim = weights.size
    docs.withColumn(out,
      when(col(textCol).isNull, lit(bias))
        .otherwise(aggregate(cleanTokens(col(textCol)), lit(bias),
          (acc, t) => acc + element_at(w, bucket(t, dim) + 1))))
  }
}
