package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer primitives, split along the line
  * that matters at 100 TB: the CORPUS-sized work (word frequency
  * dictionary, weighted symbol-pair counts) is distributed here; the
  * MERGE LOOP that turns them into a merge table runs driver-side
  * over the collected dictionary — which is vocabulary-sized
  * (millions of distinct words after the frequency cap), not
  * corpus-sized — and the encoders take that table as a model
  * parameter. One pass over the corpus builds the dict; training
  * never touches the corpus again.
  *
  * Word model: whitespace tokens, each word a sequence of
  * code-point symbols plus a terminal `</w>` marker (the Sennrich
  * et al. 2016 formulation), so merges never cross word boundaries
  * and end-of-word variants ("low" vs "lower") stay distinguishable.
  *
  * Determinism: every ranking ties-breaks lexicographically, so the
  * same corpus always trains the same merge table in any engine, and
  * the pair-count query is DuckDB-mirrorable.
  */
object Bpe {

  val EndOfWord = "</w>"

  /** A word's initial symbols: one per Unicode CODE POINT, plus the
    * terminal marker. Code points, not UTF-16 code units — Spark's
    * `substr`/`length` and DuckDB's `word[i:i]`/`len` both count
    * code points, and splitting surrogate pairs would diverge the
    * driver-side trainer from the distributed pair counts on any
    * corpus with astral characters (emoji, CJK extensions). */
  private[graft] def symbols(word: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](word.length + 1)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out += EndOfWord
    out.toArray
  }

  /** Corpus word-frequency dictionary: (word, freq), the one
    * corpus-sized aggregate. `maxWords` caps the dict
    * deterministically (freq desc, word asc) — the scale knob that
    * bounds everything downstream including the driver-side train
    * loop. */
  def wordFreqs(docs: DataFrame, textCol: String, maxWords: Int = 1000000): DataFrame = {
    require(maxWords > 0, "maxWords must be positive")
    docs
      .select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(maxWords)
  }

  /** A word's initial symbol sequence: 1-char symbols + `</w>`. */
  private def symbolArr(word: Column): Column =
    concat(transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1))),
      array(lit(EndOfWord)))

  /** Frequency-weighted adjacent-symbol-pair counts over the initial
    * vocabulary — the statistic the first BPE merge maximizes, and
    * the shape every later iteration re-computes (driver-side, over
    * the dict). Input is `wordFreqs` output; the explode is
    * vocab × word-length, NOT corpus-sized. Output: (a, b, cnt). */
  def pairCounts(freqs: DataFrame): DataFrame = {
    val syms = freqs.select(col("word"), col("freq"), symbolArr(col("word")).as("sym"))
    syms
      .select(col("freq"), posexplode(slice(col("sym"), lit(1), size(col("sym")) - 1)).as(Seq("i", "a")),
        col("sym"))
      .select(col("freq"), col("a"), element_at(col("sym"), col("i") + 2).as("b"))
      .groupBy(col("a"), col("b")).agg(sum(col("freq")).as("cnt"))
  }

  /** One merge applied left-to-right greedily (the standard BPE
    * apply: after merging at i, scanning resumes at i+1's successor,
    * so "a a a" under (a,a) becomes "aa a"). */
  private[graft] def mergeOnce(sym: Array[String], m: (String, String)): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < sym.length) {
      if (i < sym.length - 1 && sym(i) == m._1 && sym(i + 1) == m._2) {
        out += sym(i) + sym(i + 1); i += 2
      } else { out += sym(i); i += 1 }
    }
    out.toArray
  }

  /** Exact BPE segmentation of one word under a trained merge table
    * (rank order = priority). Driver/executor-side reference
    * implementation — the native column form is
    * `graft.plans.BpeEncode`. */
  def encodeWord(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var sym = symbols(word)
    for (m <- merges) sym = mergeOnce(sym, m)
    sym.toSeq
  }

  /** Row-local exact-BPE token count column over a trained merge
    * table: Σ per word of its segment count. The merges travel as a
    * literal in the native expression; no shuffle, streaming-legal. */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column = {
    val enc = graft.plans.BpeEncode.bpeEncodeCounts(text, merges)
    coalesce(enc, lit(0L))
  }
}
