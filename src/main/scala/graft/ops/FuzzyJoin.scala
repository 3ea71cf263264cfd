package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy matching (entity resolution): find record pairs
  * whose names are within an edit-distance budget WITHOUT the
  * all-pairs comparison that is quadratic in the corpus. The
  * classic blocking construction: a cheap deterministic block key
  * partitions the corpus, candidates are generated only within a
  * block (one equi-join shuffle), and the expensive verifier
  * (`levenshtein`, codegen'd) runs on candidates only.
  *
  * Recall is exactly "pairs sharing a block" — the standard
  * blocking trade-off, stated rather than hidden: a pair whose
  * first tokens differ ("red widgett" / "rad widgett") is missed by
  * the default first-token block. Callers needing higher recall
  * union several `pairs` runs with different `blockKey`s (multi-pass
  * blocking), which stays sub-quadratic; the oracle replicates the
  * block definition so the semantics stay exact.
  *
  * Scale: with B blocks of size n_i, candidate volume is
  * Σ n_i²/2 further cut by the built-in length banding (the join
  * key is (block, len div (k+1)) with the probe side exploded to
  * adjacent bands — see `verify`) — sub-quadratic whenever blocking
  * is selective, the same candidate-volume argument as `NearDup`'s
  * PPJoin filter. A hot block (skewed first token) degrades toward
  * n² within that block AND length band only; pick a finer
  * `blockKey` when a block still outgrows one task's comfort.
  */
object FuzzyJoin {

  /** Default block: lower-cased first whitespace-delimited token.
    * Edit distance ≤ k pairs that disagree on it are missed (see
    * scaladoc); it is deterministic, null-safe (null text → null
    * block → dropped), and replicable in any engine. */
  def firstTokenBlock(text: Column): Column =
    lower(split(trim(text), " +").getItem(0))

  /** Consonant-skeleton block: the lower-cased text with vowels and
    * spaces removed — the normalized-key construction phonetic codes
    * (Soundex, NYSIIS) are built on, where the key deliberately
    * erases the characters most likely to be corrupted. Pairs
    * differing only in vowels/spacing (OCR noise, vowel-dropping
    * abbreviations, most typo classes concentrated on vowels) land
    * in the same block; pairs whose consonants differ are the recall
    * boundary. Cardinality grows with the number of distinct
    * underlying names (not a fixed alphabet the way a first-char or
    * first-token key can), so block sizes track true duplicate-group
    * sizes: candidate volume stays proportional to the verified
    * output instead of to corpus². Deterministic, null-safe,
    * replicable in any engine with a global regexp_replace. */
  def skeletonBlock(text: Column): Column =
    regexp_replace(lower(trim(text)), "[aeiou ]", "")

  /** The shared candidate→verify step over internally-renamed sides
    * (__id_l/__text_l vs __id_r/__text_r on __blk) — renaming before
    * the join is what keeps same-named input columns unambiguous.
    *
    * The join key is (__blk, length band): edit distance ≤ k implies
    * |len(l) − len(r)| ≤ k, so with bands of width k+1 a true pair's
    * bands differ by at most 1 — the left side explodes to its three
    * neighboring bands (3× a two-long-and-a-string frame) and every
    * within-block qualifying pair still meets EXACTLY once, while
    * same-block rows of far-apart lengths no longer shuffle into the
    * same candidate row at all. This moves the length constraint from
    * a post-join filter into the join key: recall is untouched (the
    * post-join |len diff| filter it replaces was already exact), only
    * candidate volume drops. */
  /** 8-bucket character histogram packed into ONE long (8-bit lanes,
    * bucket = code point mod 8) — computed once per row before the
    * candidate join. Exact per lane for texts up to 255 chars (total
    * count = length, so no lane can overflow); longer texts get a
    * NULL signature, which the prefilter treats as "pass through to
    * levenshtein". A single long keeps the join-side bound expression
    * small — an earlier 16-element array-signature version ballooned
    * the join condition past what codegen compiles into one method
    * and measured 10× SLOWER than no prefilter at all. */
  private def bagSig(text: Column): Column = {
    val powers = typedLit((0 until 8).map(b => 1L << (b * 8)).toArray)
    when(length(text) <= 255,
      aggregate(split(text, ""), lit(0L),
        (acc, ch) => acc + element_at(powers, pmod(ascii(ch), lit(8)) + 1)))
  }

  /** Lower bound on edit distance from two packed bag signatures:
    * every edit changes max(Σ surplus_l, Σ surplus_r) by at most 1,
    * and bucketing characters only merges surpluses, so
    * greatest(pos, neg) ≤ levenshtein always — rows it rejects are
    * exactly-safely rejected. Flat long arithmetic (16 shift-mask
    * lane extractions), no arrays. */
  private def bagBound(sl: Column, sr: Column): Column = {
    val lanes = (0 until 8).map { b =>
      shiftright(sl, b * 8).bitwiseAND(lit(255L)) -
        shiftright(sr, b * 8).bitwiseAND(lit(255L))
    }
    val pos = lanes.map(d => greatest(d, lit(0L))).reduce(_ + _)
    val neg = lanes.map(d => greatest(-d, lit(0L))).reduce(_ + _)
    greatest(pos, neg)
  }

  private def verify(l: DataFrame, r: DataFrame, maxDist: Int): DataFrame = {
    val w = maxDist + 1
    val lBand = floor(length(col("__text_l")) / lit(w)).cast("int")
    val lb = l.withColumn("__sig_l", bagSig(col("__text_l")))
      .withColumn("__band", explode(array(lBand - 1, lBand, lBand + 1)))
    val rb = r.withColumn("__sig_r", bagSig(col("__text_r")))
      .withColumn("__band", floor(length(col("__text_r")) / lit(w)).cast("int"))
    lb.join(rb, Seq("__blk", "__band"))
      // exact length filter: bands are width-(k+1) coarse, so a
      // neighbor-band candidate can still differ by up to 2k+1
      .where(abs(length(col("__text_l")) - length(col("__text_r"))) <= maxDist)
      // bag-distance prefilter: a TRUE lower bound (see bagBound), so
      // no qualifying pair is lost — it keeps most length-passing
      // candidates away from the levenshtein matrix. NULL signature
      // (text > 255 chars) passes through to levenshtein.
      .where(col("__sig_l").isNull || col("__sig_r").isNull ||
        bagBound(col("__sig_l"), col("__sig_r")) <= maxDist)
      // thresholded levenshtein: banded O(maxDist·len) with early
      // exit, returning −1 above the threshold — for surviving rows
      // the value is the exact distance, so output is unchanged
      .withColumn("__dist", levenshtein(col("__text_l"), col("__text_r"), maxDist))
      .where(col("__dist") >= 0)
      .drop("__band", "__sig_l", "__sig_r")
  }

  private def side(df: DataFrame, idCol: String, textCol: String,
                   blockKey: Column => Column, suffix: String): DataFrame =
    df.select(col(idCol).as(s"__id$suffix"), col(textCol).as(s"__text$suffix"))
      .where(col(s"__text$suffix").isNotNull)
      .withColumn("__blk", blockKey(col(s"__text$suffix")))

  /** Two-frame variant (link records of `left` to `right`). Output
    * columns keep the callers' names; when the right-side name
    * collides with the left's (linking two versions of one catalog),
    * the right column gets an `_r` suffix. */
  def pairs(left: DataFrame, right: DataFrame,
            leftId: String, rightId: String,
            leftText: String, rightText: String, maxDist: Int,
            blockKey: Column => Column = firstTokenBlock): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val outRid = if (rightId == leftId) s"${rightId}_r" else rightId
    val outRtext = if (rightText == leftText) s"${rightText}_r" else rightText
    verify(side(left, leftId, leftText, blockKey, "_l"),
           side(right, rightId, rightText, blockKey, "_r"), maxDist)
      .select(col("__id_l").as(leftId), col("__id_r").as(outRid),
        col("__text_l").as(leftText), col("__text_r").as(outRtext),
        col("__dist").cast("int").as("dist"))
  }
}
