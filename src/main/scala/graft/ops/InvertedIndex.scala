package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Inverted text index — the retrieval primitive behind keyword
  * search, contamination probes, and boolean corpus queries:
  * positional posting lists (token → documents → positions) built
  * once, then AND-search and exact-phrase search as posting-list
  * operations that touch ONLY the query terms' postings, never the
  * corpus text.
  *
  * Scale shape: `postings` is one explode + one (token, doc) hash
  * aggregate — the shuffle carries (token, doc_id, positions).
  * `conjunctive` is a groupBy-count over those rows (no join at all
  * — the degenerate-but-optimal posting intersection); `phrase` is
  * the positional merge join, narrow after the per-term posting
  * filters.
  *
  * Tokenization is the engine's whitespace convention (`split` on
  * " +", empties dropped AFTER position assignment so positions are
  * raw offsets) — replicable in any engine, and the positions make
  * the index phrase-capable, not just boolean.
  */
object InvertedIndex {

  /** Positional posting lists: (token, doc_id, tf, positions) with
    * 0-based raw token offsets, sorted ascending. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " +")).as(Seq("pos", "token")))
      .where(length(col("token")) > 0)
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))

  /** AND search: doc_ids containing every term in `terms` at least
    * once. One filtered aggregate over the query terms' postings. */
  def conjunctive(post: DataFrame, terms: Seq[String]): DataFrame = {
    val ts = terms.distinct
    require(ts.nonEmpty, "need at least one term")
    post.where(col("token").isin(ts: _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__hits")) // postings are (token, doc)-unique
      .where(col("__hits") === ts.size)
      .select(col("doc_id"))
  }

  /** BM25 ranking (Robertson/Okapi, the Lucene-default scoring) of
    * documents against a bag of query terms, computed entirely from
    * the posting lists — document lengths are Σtf per doc, so the
    * corpus text is never rescanned.
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Determinism: a float `sum` over shuffled per-term scores would
    * be addition-order-dependent, so the per-doc score is assembled
    * as a FIXED-ORDER chain of conditional aggregates (one per query
    * term, each over at most one posting row) — bit-stable across
    * partitionings and replicable in SQL. ln() itself follows the
    * q_surprisal precedent (empirically identical across engines on
    * these values; contrast TfIdf's rational-idf policy where the
    * monotone transform can be avoided entirely — under a SUM it
    * cannot). Corpus scalars (N, total tokens) ride a 1-row
    * broadcast, the `TfIdf` pattern. Output: top `k` docs by score
    * (ties to smallest doc_id). */
  def bm25(post: DataFrame, terms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val ts = terms.distinct
    require(ts.nonEmpty, "need at least one term")
    require(k > 0, "k must be positive")
    val dl = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val scal = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("toktotal"))
    scoreBm25(post, dl, scal, ts, k, k1, b)
  }

  /** The BM25 scoring core. `post` needs only the query terms' rows;
    * `dl` is (doc_id, dl); `scal` is one row (n, toktotal). */
  private def scoreBm25(post: DataFrame, dl: DataFrame, scal: DataFrame,
                        ts: Seq[String], k: Int, k1: Double, b: Double): DataFrame = {
    val dft = post.where(col("token").isin(ts: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val perTerm = post.where(col("token").isin(ts: _*))
      .join(dft, "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(scal))
      .select(col("doc_id"), col("token"),
        (log(lit(1.0) + (col("n").cast("double") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") /
              (col("toktotal").cast("double") / col("n").cast("double"))))).as("s"))
    val scoreCols = ts.map(t =>
      coalesce(sum(when(col("token") === t, col("s"))), lit(0.0)))
    perTerm.groupBy(col("doc_id"))
      .agg(scoreCols.reduce(_ + _).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Exact phrase search: docs containing `phrase` as consecutive
    * tokens, with the match count. Classic positional merge: start
    * offsets of term 0, each later term joined at offset + i. */
  def phrase(post: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.size >= 2, "a phrase needs at least 2 tokens (use conjunctive for 1)")
    def termPos(t: String, name: String) =
      post.where(col("token") === t)
        .select(col("doc_id"), explode(col("positions")).as(name))
    val first = termPos(terms.head, "__p0")
    val matches = terms.zipWithIndex.tail.foldLeft(first) { case (acc, (t, i)) =>
      acc.join(termPos(t, s"__p$i"), Seq("doc_id"))
        .where(col(s"__p$i") === col("__p0") + i)
        .drop(s"__p$i")
    }
    matches.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
  }
}
