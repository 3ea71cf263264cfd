package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data
  * pipelines: tokenization, shingling, deterministic hashing,
  * language-ID heuristics, quality scoring, fingerprinting.
  *
  * Everything is built from codegen'd built-ins (split / transform /
  * aggregate / md5 / regexp_*) — no UDFs — so the whole text pipeline
  * stays inside whole-stage codegen and scales linearly with input
  * bytes. Hashes are md5-derived (not Spark's xxhash64) so every
  * function is reproducible in any engine, which is what makes the
  * DuckDB oracles possible.
  */
object TextFunctions {

  val HashMod = 1000000007L

  /** Whitespace tokenization (collapsing runs of spaces). */
  def tokens(text: Column): Column = split(text, " +")

  /** Word n-gram shingles joined with '_' — the unit for Jaccard /
    * MinHash near-dup detection. Distinct (set semantics). Documents
    * with fewer than n tokens yield an empty set (sequence(0, neg)
    * would generate a DESCENDING range, so the short case is guarded). */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      array_distinct(
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws("_", (0 until n).map(j => element_at(toks, i + j + 1)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  /** Deterministic 60-bit hash of a string: first 15 hex chars of md5.
    * Fits a signed long; reproducible in DuckDB as
    * CAST('0x'||substr(md5(x),1,15) AS BIGINT).
    * Backed by the native codegen'd expression (graft.plans.Hash60) —
    * one digest, no hex-string materialization; Hash60Spec proves it
    * equal to the composed built-in form. */
  def hash60(c: Column): Column = graft.plans.Hash60.hash60(c)

  /** Rolling polynomial fingerprint over tokens in document order:
    * h := (h*31 + hash60(token) % M) % M, seeded 0. Order-sensitive —
    * distinguishes permuted documents, unlike a bag-of-words hash. */
  def rollingFingerprint(text: Column): Column =
    aggregate(
      transform(tokens(text), t => hash60(t) % HashMod),
      lit(0L),
      (h, code) => (h * 31L + code) % HashMod
    )

  /** Marker stopwords per language for the n-gram language-ID
    * heuristic. Public common function words. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "es"),
    "fr" -> Seq("le", "la", "les", "des", "et", "est", "une"),
    "zh" -> Seq("的", "是", "了", "在", "和")
  )

  /** Count of tokens belonging to a marker list. */
  def markerCount(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(markers)))

  /** Language-ID heuristic: argmax marker count, ties broken by
    * lexicographically smallest language code (deterministic). */
  def langId(text: Column): Column = {
    // build array<struct<neg_score,lang>> and array_min it: min on
    // (-score, lang) == (max score, smallest lang)
    val scored = array(LangMarkers.map { case (lang, markers) =>
      struct((-markerCount(text, markers)).as("neg"), lit(lang).as("lang"))
    }: _*)
    array_min(scored).getField("lang")
  }

  /** Number of non-alphanumeric, non-space characters. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))

  /** BPE-ish token count: words, digits, and individual symbols as
    * separate tokens (approximates subword tokenizer counts within a
    * few percent on ASCII text). */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))

  /** Intra-document n-gram repetition ratio in [0,1]:
    * 1 − distinct/total over word n-grams (0 = no repeated n-gram,
    * →1 = the same n-gram over and over — the classic low-quality /
    * boilerplate signal). Documents shorter than n tokens have no
    * n-grams and report 0. Pure columnar arithmetic; the total count
    * is positional (size − n + 1), the distinct count reuses
    * `wordShingles`' set semantics. */
  def repetitionRatio(text: Column, n: Int): Column = {
    val total = greatest(size(tokens(text)) - (n - 1), lit(0))
    val distinctN = size(wordShingles(text, n))
    when(total > 0,
      lit(1.0) - distinctN.cast("double") / total.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Heuristic document-quality score in [0,1]: rewards mid-length
    * docs and normal word lengths, penalizes punctuation soup.
    * Single IEEE expression — deterministic and oracle-mirrorable. */
  def qualityScore(text: Column): Column = {
    val nTok = size(tokens(text)).cast("double")
    val nChar = length(text).cast("double")
    val avgTokLen = (nChar - (nTok - 1.0)) / greatest(nTok, lit(1.0))
    val punctRatio = punctCount(text).cast("double") / greatest(nChar, lit(1.0))
    val lenScore = least(nTok / 64.0, lit(1.0))
    val wordScore = when(avgTokLen >= 3.0 && avgTokLen <= 10.0, 1.0).otherwise(0.5)
    val punctScore = lit(1.0) - least(punctRatio * 4.0, lit(1.0))
    lenScore * 0.4 + wordScore * 0.3 + punctScore * 0.3
  }

  /** Readability battery (Flesch reading ease on the standard
    * vowel-group syllable heuristic): words = nonempty " +" tokens,
    * syllables = vowel-group runs [aeiouy]+ across the text (groups
    * cannot span a space, so the whole-text count equals the
    * per-word sum) plus one for each vowel-less word (every word
    * counts at least one syllable), sentences = [.!?]+ runs floored
    * at 1. All three are exact integers;
    * flesch = 206.835 − 1.015·(W/S) − 84.6·(Y/W) is one mirrored
    * double tree (NULL for word-less text). Pure per-row map. */
  def readability(text: Column): Column = {
    val words = filter(tokens(coalesce(text, lit(""))), t => length(t) > 0)
    val w = size(words).cast("long")
    // syllables count case-insensitively: over the raw text a
    // capitalized vowel breaks (or drops) its group — 'Every' would
    // count only 'very''s groups, undercounting sentence-initial words
    val vowelGroups = size(regexp_extract_all(lower(coalesce(text, lit(""))),
      lit("[aeiouy]+"), lit(0))).cast("long")
    val voiceless = size(filter(words, t => !lower(t).rlike("[aeiouy]"))).cast("long")
    val y = vowelGroups + voiceless
    val s = greatest(lit(1L),
      size(regexp_extract_all(coalesce(text, lit("")), lit("[.!?]+"), lit(0))).cast("long"))
    struct(w.as("n_words"), s.as("n_sentences"), y.as("n_syllables"),
      when(w === 0, lit(null).cast("long"))
        .otherwise(round(lit(1e9) * (lit(206.835) -
          lit(1.015) * (w.cast("double") / s.cast("double")) -
          lit(84.6) * (y.cast("double") / w.cast("double"))))
          .cast("long"))
        .as("flesch_nano"))
  }
}
