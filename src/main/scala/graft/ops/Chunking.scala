package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Token-budget document chunking — the pre-training prep step that
  * turns variable-length documents into model-window-sized pieces
  * with a configurable token overlap (so no span of context is lost
  * at a chunk boundary).
  *
  * Spark shape: a NARROW per-row computation — tokenize, generate
  * chunk start offsets (`sequence(0, n-1, step)`), posexplode, slice.
  * No shuffle, no UDF; cost is linear in corpus bytes and the
  * operator parallelizes by rows, so it scales to any corpus the
  * scan scales to. (The explode multiplies rows by ~n/step; a
  * downstream repartition is the caller's choice — chunk counts are
  * predictable from token counts, unlike near-dup candidates.)
  *
  * Semantics (deterministic, SQL-mirrorable): tokens are the
  * whitespace split (`TextFunctions.tokens`); chunk i covers tokens
  * [i·step, i·step + maxTokens) with step = maxTokens − overlap;
  * every start < n emits a chunk, so the final chunk may be shorter
  * (and, when n − start ≤ overlap, fully contained in its
  * predecessor — kept, because dropping it would make chunk counts
  * depend on a containment test that subword re-tokenization breaks;
  * budget-exact dedup belongs downstream if wanted). NULL documents
  * yield zero chunks; an empty string yields ONE chunk containing the
  * single empty token (the whitespace-split convention: "" tokenizes
  * to [""], and the oracle mirrors it) — filter empty text upstream
  * if empty samples are unwanted.
  */
object Chunking {

  /** One row per (document, chunk): id, chunk_idx, n_tokens,
    * chunk_text. `maxTokens > overlap >= 0` required — step must be
    * positive or the start sequence is infinite. */
  def chunkByTokens(df: DataFrame, textCol: String, idCol: String,
                    maxTokens: Int, overlap: Int): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap (maxTokens=$maxTokens)")
    val step = maxTokens - overlap
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    df
      .withColumn("__toks", toks)
      .withColumn("__starts",
        when(size(col("__toks")) > 0,
          sequence(lit(0), size(col("__toks")) - 1, lit(step)))
          .otherwise(array().cast("array<int>")))
      .select(col(idCol),
        posexplode(col("__starts")).as(Seq("chunk_idx", "__start")),
        col("__toks"))
      .select(col(idCol), col("chunk_idx"),
        slice(col("__toks"), col("__start") + 1, lit(maxTokens)).as("__chunk"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__chunk")).as("n_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }
}
