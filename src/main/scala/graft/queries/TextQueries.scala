package graft
package queries

import org.apache.spark.sql.functions._

/** Registered queries for tokenization, vocabularies, quality filters,
  * search and fuzzy string matching over documents. */
private[graft] object TextQueries {
  /** Fixed-point "model weights" for q_hashed_score — deterministic
    * from the bucket index so the DuckDB oracle can rebuild the
    * identical vector with a list comprehension (Fibonacci-hash
    * spread over [-10, 10]). */
  private val hashedWeights: Seq[Long] =
    (0 until 64).map(i => (i * 2654435761L) % 21L - 10L)

  val specs: Seq[QuerySpec] = Seq(
    // ---- per-document 3-gram novelty in doc_id (ingestion) order:
    // the share of a doc's distinct grams it introduced to the
    // corpus — string grams for cross-engine exactness (production
    // swaps in ShingleHashes and shuffles longs) ----
    QuerySpec("q_gram_novelty", (s, dir) => {
      graft.ops.CorpusStats.gramNovelty(Tables.documents(s, dir), "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    },
      // same '_'-joined distinct trigram convention as the dedup
      // oracles; first-introducer = min doc_id per gram
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-2),
        |    i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2])) AS shingles
        |  FROM tok
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS g FROM sh
        |), fs AS (
        |  SELECT g, min(doc_id) AS first_id FROM ex GROUP BY 1
        |), per AS (
        |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN f.first_id = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM ex e JOIN fs f USING (g) GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(p.n_grams, 0) AS n_grams,
        |  coalesce(p.n_new, 0) AS n_new,
        |  CASE WHEN coalesce(p.n_grams, 0) = 0 THEN NULL
        |    ELSE CAST(round(1e9 * CAST(p.n_new AS DOUBLE) / CAST(p.n_grams AS DOUBLE)) AS BIGINT)
        |  END AS novelty_nano
        |FROM documents d LEFT JOIN per p USING (doc_id) ORDER BY d.doc_id""".stripMargin),
    // ---- tokenizer fertility per language: BPE tokens per
    // whitespace word under the trained merge table — the metric
    // that decides whether a tokenizer punishes a language (fertility
    // ≫ 1 → more compute per word). Reuses the q_bpe_encode
    // closed-form-checkable merges ----
    QuerySpec("q_fertility", (s, dir) => {
      val merges = Seq(("t", "h"), ("e", graft.ops.Bpe.EndOfWord))
      val per = Tables.documents(s, dir)
        .select(col("lang"),
          graft.ops.Bpe.bpeTokenCount(col("text"), merges).as("n_tokens"),
          size(filter(graft.functions.TextFunctions.tokens(coalesce(col("text"), lit(""))),
            t => length(t) > 0)).cast("long").as("n_words"))
      per.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_words")).as("total_words"))
        .select(col("lang"), col("n_docs"), col("total_tokens"), col("total_words"),
          when(col("total_words") === 0, lit(null).cast("long"))
            .otherwise(round(lit(1e9) * col("total_tokens").cast("double") /
              col("total_words").cast("double")).cast("long")).as("fertility_nano"))
        .orderBy(col("lang"))
    },
      // the q_bpe_encode closed-form token count, rolled up per lang
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS word FROM documents
        |), t AS (
        |  SELECT doc_id,
        |    CAST(len(word) + 1
        |      - (len(word) - len(replace(word, 'th', ''))) // 2
        |      - CASE WHEN word LIKE '%e' THEN 1 ELSE 0 END AS BIGINT) AS n
        |  FROM w WHERE len(word) > 0
        |), per AS (
        |  SELECT d.doc_id, d.lang, CAST(COALESCE(sum(t.n), 0) AS BIGINT) AS n_tokens,
        |    CAST(count(t.n) AS BIGINT) AS n_words
        |  FROM documents d LEFT JOIN t ON t.doc_id = d.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_words) AS BIGINT) AS total_words,
        |  CASE WHEN sum(n_words) = 0 THEN NULL
        |    ELSE CAST(round(1e9 * CAST(sum(n_tokens) AS DOUBLE)
        |      / CAST(sum(n_words) AS DOUBLE)) AS BIGINT) END AS fertility_nano
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- TRUE Damerau-Levenshtein (unrestricted transpositions —
    // native expression) ranking the skeleton-blocked candidates;
    // both engines implement Lowrance-Wagner exactly ----
    QuerySpec("q_damerau", (s, dir) => {
      val parts = Tables.part(s, dir)
      val dirty = parts.where(col("p_partkey") % 11 === 0)
        .select(col("p_partkey").as("dirty_id"),
          regexp_replace(col("p_name"), "e", "").as("dirty_name"))
        .withColumn("__blk", graft.ops.FuzzyJoin.skeletonBlock(col("dirty_name")))
      val cat = parts
        .select(col("p_partkey"), col("p_name"))
        .withColumn("__blk", graft.ops.FuzzyJoin.skeletonBlock(col("p_name")))
      dirty.join(cat, "__blk")
        .select(col("dirty_id"),
          graft.plans.Damerau.damerau(col("dirty_name"), col("p_name"))
            .cast("long").as("dist"),
          col("p_partkey"))
        .groupBy(col("dirty_id"))
        .agg(min(struct(col("dist"), col("p_partkey").as("match_key"))).as("m"))
        .select(col("dirty_id"), col("m.dist").as("dist"),
          col("m.match_key").as("match_key"))
        .orderBy(col("dirty_id"))
    },
      // DuckDB's damerau_levenshtein is the UNRESTRICTED form too
      // (verified 'ca'->'abc' = 2) — exact integer equality
      """WITH dirty AS (
        |  SELECT p_partkey AS dirty_id, replace(p_name, 'e', '') AS dirty_name,
        |    regexp_replace(lower(trim(replace(p_name, 'e', ''))), '[aeiou ]', '', 'g') AS blk
        |  FROM part WHERE p_partkey % 11 = 0
        |), cat AS (
        |  SELECT p_partkey, p_name,
        |    regexp_replace(lower(trim(p_name)), '[aeiou ]', '', 'g') AS blk
        |  FROM part
        |), scored AS (
        |  SELECT d.dirty_id,
        |    CAST(damerau_levenshtein(d.dirty_name, c.p_name) AS BIGINT) AS dist,
        |    c.p_partkey
        |  FROM dirty d JOIN cat c ON d.blk = c.blk
        |), ranked AS (
        |  SELECT dirty_id, dist, p_partkey AS match_key, row_number() OVER (
        |    PARTITION BY dirty_id ORDER BY dist, p_partkey) AS rn
        |  FROM scored
        |)
        |SELECT dirty_id, dist, match_key FROM ranked WHERE rn = 1
        |ORDER BY dirty_id""".stripMargin),
    // ---- URL tree rollup: synthetic 3-level paths exploded to
    // their prefixes, one hash aggregate — per-subtree page counts
    // without recursion ----
    QuerySpec("q_path_rollup", (s, dir) => {
      val path = concat(lit("/s"), pmod(col("doc_id"), lit(5)),
        lit("/c"), pmod(col("doc_id"), lit(17)), lit("/p"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.ops.Urls.pathPrefixes(path, maxDepth = 3)).as("prefix"))
        .groupBy(col("prefix"))
        .agg(count(lit(1)).as("n_pages"))
        .withColumn("level",
          size(filter(split(col("prefix"), "/"), s => length(s) > 0)))
        .orderBy(col("prefix"))
    },
      // prefixes built from the same segment list; level = segment
      // count of the prefix
      """WITH p AS (
        |  SELECT doc_id,
        |    concat('/s', doc_id % 5, '/c', doc_id % 17, '/p', doc_id) AS path
        |  FROM documents
        |), segs AS (
        |  SELECT doc_id,
        |    list_filter(string_split(path, '/'), s -> len(s) > 0) AS t
        |  FROM p
        |), pref AS (
        |  SELECT doc_id, '/' || array_to_string(t[1:i], '/') AS prefix
        |  FROM segs, unnest(range(1, least(len(t), 3) + 1)) AS u(i)
        |)
        |SELECT prefix, CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(len(list_filter(string_split(prefix, '/'), s -> len(s) > 0)) AS INT) AS level
        |FROM pref GROUP BY 1 ORDER BY prefix""".stripMargin),
    // ---- Flesch readability battery: exact word/sentence/syllable
    // counts (vowel-group heuristic), one mirrored formula ----
    QuerySpec("q_readability", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.TextFunctions.readability(col("text")).as("r"))
        .select(col("doc_id"), col("r.n_words"), col("r.n_sentences"),
          col("r.n_syllables"), col("r.flesch_nano"))
        .orderBy(col("doc_id"))
    },
      // same lower()-cased [aeiouy]+ groups, vowel-less word floor,
      // [.!?]+ sentence runs floored at 1, mirrored Flesch tree
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(coalesce(text, ''), ' +'),
        |      t -> len(t) > 0)) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[aeiouy]+')) +
        |      len(list_filter(string_split_regex(coalesce(text, ''), ' +'),
        |        t -> len(t) > 0 AND NOT regexp_matches(lower(t), '[aeiouy]'))) AS BIGINT) AS y,
        |    GREATEST(CAST(1 AS BIGINT),
        |      CAST(len(regexp_extract_all(coalesce(text, ''), '[.!?]+')) AS BIGINT)) AS s
        |  FROM documents
        |)
        |SELECT doc_id, w AS n_words, s AS n_sentences, y AS n_syllables,
        |  CASE WHEN w = 0 THEN NULL
        |    ELSE CAST(round(1e9 * (206.835 -
        |      1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE)) -
        |      84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)))) AS BIGINT) END AS flesch_nano
        |FROM b ORDER BY doc_id""".stripMargin),
    // ---- Zipf rank-frequency slope over the top-500 tokens: micro
    // log points, exact integer regression sums, one mirrored
    // normal-equation division ----
    QuerySpec("q_zipf", (s, dir) => {
      graft.ops.CorpusStats.zipfSlope(Tables.documents(s, dir), "text", k = 500)
    },
      // micro-unit log points then exact sums; the normal-equation
      // products move to doubles (n·Σxy overflows longs at k≈10³)
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(coalesce(text, ''), ' +'),
        |    t -> len(t) > 0)) AS tok
        |  FROM documents
        |), f AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS f FROM tok
        |  GROUP BY 1 ORDER BY f DESC, tok LIMIT 500
        |), pts AS (
        |  SELECT
        |    CAST(round(1e6 * ln(CAST(row_number() OVER (ORDER BY f DESC, tok) AS DOUBLE))) AS BIGINT) AS x,
        |    CAST(round(1e6 * ln(CAST(f AS DOUBLE))) AS BIGINT) AS y
        |  FROM f
        |), s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx
        |  FROM pts
        |)
        |SELECT n_tokens,
        |  CASE WHEN (CAST(n_tokens AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |             CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) = 0 THEN NULL
        |  ELSE CAST(round((1e9 * (CAST(n_tokens AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |                          CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
        |    (CAST(n_tokens AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT) END AS slope_nano
        |FROM s""".stripMargin),
    // ---- pairwise exact shingle-Jaccard between sources ("are my
    // crawls the same content"): one distinct aggregate, hash-only
    // self-join, metadata-sized pair frame ----
    QuerySpec("q_source_overlap", (s, dir) => {
      graft.ops.CorpusStats.sourceOverlap(Tables.documents(s, dir),
          "source", "text", n = 3)
        .orderBy(col("a"), col("b"))
    },
      // the q_incr_neardup shingle conventions; distinct hashes per
      // source, one hash self-join, Jaccard in one mirrored division
      """WITH tok AS (
        |  SELECT source, string_split_regex(text, ' +') AS toks
        |  FROM documents WHERE source IS NOT NULL
        |), sh AS (
        |  SELECT source, unnest(list_distinct(list_transform(generate_series(1, len(toks)-2),
        |    i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2]))) AS g
        |  FROM tok
        |), hs AS (
        |  SELECT DISTINCT source AS src,
        |    CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
        |  FROM sh
        |), sizes AS (
        |  SELECT src, CAST(count(*) AS BIGINT) AS n_sh FROM hs GROUP BY 1
        |), common AS (
        |  SELECT a.src AS a, b.src AS b, CAST(count(*) AS BIGINT) AS n_common
        |  FROM hs a JOIN hs b ON a.h = b.h AND a.src < b.src GROUP BY 1, 2
        |)
        |SELECT common.a, common.b, sa.n_sh AS n_a, sb.n_sh AS n_b, n_common,
        |  CAST(round(1e9 * CAST(n_common AS DOUBLE) /
        |    CAST(n_a + n_b - n_common AS DOUBLE)) AS BIGINT) AS jaccard_nano
        |FROM common
        |JOIN sizes sa ON sa.src = common.a
        |JOIN sizes sb ON sb.src = common.b
        |ORDER BY 1, 2""".stripMargin),
    // ---- one-pass dictionary tagging (Aho-Corasick): occurrence
    // counts for a 6-term dictionary, overlapping matches included
    // ("atat" in "atatat" twice) — one scan whatever the dictionary
    // size, vs k scans of contains() ----
    QuerySpec("q_multi_match", (s, dir) => {
      val pats = Seq("scan", "join", "data", "stream", "an", "atat")
      Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .select(col("doc_id"), posexplode(
          graft.plans.MultiMatch.multiMatchCounts(col("text"), pats)))
        .select(col("doc_id"),
          element_at(typedLit(pats), col("pos") + 1).as("pattern"),
          col("col").as("n"))
        .orderBy(col("doc_id"), col("pattern"))
    },
      // position-probe counting (NOT length(replace(...)) — that is
      // non-overlapping and disagrees on self-overlapping patterns)
      """WITH pos AS (
        |  SELECT doc_id, text, u.i
        |  FROM documents, unnest(range(1, length(text) + 1)) AS u(i)
        |  WHERE text IS NOT NULL
        |), pats(pattern) AS (
        |  VALUES ('scan'), ('join'), ('data'), ('stream'), ('an'), ('atat')
        |), hits AS (
        |  SELECT pos.doc_id, pats.pattern,
        |    CASE WHEN substr(pos.text, pos.i, length(pats.pattern)) = pats.pattern
        |      THEN 1 ELSE 0 END AS h
        |  FROM pos, pats
        |)
        |SELECT doc_id, pattern, CAST(sum(h) AS BIGINT) AS n
        |FROM hits GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // ---- interpolated Kneser-Ney bigram table (D = 3/4): the real
    // LM smoothing — continuation counts back off the discounted
    // mass; top-100 bigrams with all five statistics ----
    QuerySpec("q_kn_bigrams", (s, dir) => {
      graft.ops.Vocab.knBigramTable(Tables.documents(s, dir), "text", k = 100)
    },
      // five exact integer statistics, one mirrored KN formula
      """WITH tokarr AS (
        |  SELECT list_filter(string_split_regex(coalesce(text, ''), ' +'), x -> len(x) > 0) AS t
        |  FROM documents
        |), bg AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM tokarr, unnest(range(1, len(t))) AS u(i)
        |), cb AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
        |), lft AS (
        |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |    CAST(count(*) AS BIGINT) AS n1fw FROM cb GROUP BY 1
        |), rgt AS (
        |  SELECT w2, CAST(count(*) AS BIGINT) AS n1bw FROM cb GROUP BY 1
        |), ty AS (
        |  SELECT CAST(count(*) AS BIGINT) AS ntypes FROM cb
        |)
        |SELECT cb.w1, cb.w2, cb.c12, lft.c1, lft.n1fw, rgt.n1bw,
        |  CAST(round(1e9 * (
        |    (CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE) +
        |    (0.75 * CAST(n1fw AS DOUBLE) / CAST(c1 AS DOUBLE)) *
        |      (CAST(n1bw AS DOUBLE) / CAST(ntypes AS DOUBLE)))) AS BIGINT) AS p_kn_nano
        |FROM cb JOIN lft USING (w1) JOIN rgt USING (w2), ty
        |ORDER BY c12 DESC, w1, w2 LIMIT 100""".stripMargin),
    // ---- per-document character entropy (garbage/mojibake
    // detector): alphabet-bounded shuffle, nano-rounded ln
    // contributions summed order-free ----
    QuerySpec("q_char_entropy", (s, dir) => {
      graft.ops.Entropy.charEntropy(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // same char histogram via string_split(text, ''); the −p·ln(p)
      // tree is mirrored and nano-rounded per character
      """WITH chars AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0
        |), cnt AS (
        |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS nc
        |  FROM chars WHERE ch <> '' GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, CAST(sum(nc) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS distinct_chars
        |  FROM cnt GROUP BY 1
        |)
        |SELECT cnt.doc_id, first(tot.n) AS n_chars,
        |  first(tot.distinct_chars) AS distinct_chars,
        |  CAST(sum(CAST(round(-1e9 * (CAST(nc AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    ln(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT)) AS BIGINT) AS h_nano
        |FROM cnt JOIN tot USING (doc_id)
        |GROUP BY cnt.doc_id
        |ORDER BY cnt.doc_id""".stripMargin),
    // ---- edit-distance ranking over the skeleton-blocked candidate
    // pairs (the q_jaro_rank instance scored by Spark's built-in
    // codegen'd levenshtein — unit costs, identical in DuckDB):
    // exact integer distances, best-match-per-dirty-name via the
    // (distance, catalog key) struct arg-min ----
    QuerySpec("q_levenshtein", (s, dir) => {
      val parts = Tables.part(s, dir)
      val dirty = parts.where(col("p_partkey") % 11 === 0)
        .select(col("p_partkey").as("dirty_id"),
          regexp_replace(col("p_name"), "e", "").as("dirty_name"))
        .withColumn("__blk", graft.ops.FuzzyJoin.skeletonBlock(col("dirty_name")))
      val cat = parts
        .select(col("p_partkey"), col("p_name"))
        .withColumn("__blk", graft.ops.FuzzyJoin.skeletonBlock(col("p_name")))
      dirty.join(cat, "__blk")
        .select(col("dirty_id"),
          levenshtein(col("dirty_name"), col("p_name")).cast("long").as("dist"),
          col("p_partkey"))
        .groupBy(col("dirty_id"))
        .agg(min(struct(col("dist"), col("p_partkey").as("match_key"))).as("m"))
        .select(col("dirty_id"), col("m.dist").as("dist"),
          col("m.match_key").as("match_key"))
        .orderBy(col("dirty_id"))
    },
      // both engines implement the classic unit-cost Wagner-Fischer
      // levenshtein; min over the (distance, key) pair is the same
      // struct arg-min total order
      """WITH dirty AS (
        |  SELECT p_partkey AS dirty_id, replace(p_name, 'e', '') AS dirty_name,
        |    regexp_replace(lower(trim(replace(p_name, 'e', ''))), '[aeiou ]', '', 'g') AS blk
        |  FROM part WHERE p_partkey % 11 = 0
        |), cat AS (
        |  SELECT p_partkey, p_name,
        |    regexp_replace(lower(trim(p_name)), '[aeiou ]', '', 'g') AS blk
        |  FROM part
        |), scored AS (
        |  SELECT d.dirty_id,
        |    CAST(levenshtein(d.dirty_name, c.p_name) AS BIGINT) AS dist,
        |    c.p_partkey
        |  FROM dirty d JOIN cat c ON d.blk = c.blk
        |), ranked AS (
        |  SELECT dirty_id, dist, p_partkey AS match_key, row_number() OVER (
        |    PARTITION BY dirty_id ORDER BY dist, p_partkey) AS rn
        |  FROM scored
        |)
        |SELECT dirty_id, dist, match_key FROM ranked WHERE rn = 1
        |ORDER BY dirty_id""".stripMargin),
    // ---- Unicode normalization: accent folding (NFD + strip Mn,
    // native codegen'd expressions) and NFC recomposition over an
    // accent-injected corpus; md5 digests keep the compare exact
    // and the output narrow ----
    QuerySpec("q_normalize", (s, dir) => {
      val folded = graft.plans.Normalize.stripAccents(
        translate(col("text"), "aeiou", "àéîøü"))
      val recomposed = graft.plans.Normalize.nfc(
        concat(substring(col("text"), 1, 40), lit("e\u0301"))) // decomposed e + combining acute
      Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          md5(folded.cast("binary")).as("fold_md5"),
          length(folded).cast("long").as("fold_len"),
          md5(recomposed.cast("binary")).as("nfc_md5"))
        .orderBy(col("doc_id"))
    },
      // strip_accents/nfc_normalize are DuckDB's native pair; both
      // engines canonically decompose, drop combining marks (fold) or
      // recompose (nfc), and md5 the identical UTF-8 bytes
      """SELECT doc_id,
        |  md5(strip_accents(translate(text, 'aeiou', 'àéîøü'))) AS fold_md5,
        |  CAST(length(strip_accents(translate(text, 'aeiou', 'àéîøü'))) AS BIGINT) AS fold_len,
        |  md5(nfc_normalize(substr(text, 1, 40) || 'e' || chr(769))) AS nfc_md5
        |FROM documents WHERE text IS NOT NULL
        |ORDER BY doc_id""".stripMargin),
    // ---- blocked fuzzy match: dirty (vowel-dropped) names linked
    // back to the catalog within 2 edits. Consonant-skeleton
    // blocking (Soundex-style normalized key): block cardinality
    // tracks distinct underlying names, so candidate volume stays
    // proportional to the TRUE pair output (measured 100% verify
    // precision on this corpus — every candidate survives
    // levenshtein) instead of collapsing into a ~26-block first-char
    // key whose blocks grow linearly with the corpus ----
    QuerySpec("q_fuzzy_match", (s, dir) => {
      val parts = Tables.part(s, dir)
      val dirty = parts.where(col("p_partkey") % 7 === 0)
        .select(col("p_partkey").as("dirty_id"),
          regexp_replace(col("p_name"), "e", "").as("dirty_name"))
      graft.ops.FuzzyJoin.pairs(dirty, parts, "dirty_id", "p_partkey",
          "dirty_name", "p_name", maxDist = 2,
          blockKey = graft.ops.FuzzyJoin.skeletonBlock)
        .orderBy(col("dirty_id"), col("p_partkey"))
    },
      // replace() (DuckDB) ≡ literal-pattern regexp_replace (Spark);
      // the block key is the consonant skeleton — DuckDB needs the
      // explicit 'g' flag to match Spark's replace-all regexp_replace;
      // levenshtein has identical unit-edit semantics in both engines.
      """WITH dirty AS (
        |  SELECT p_partkey AS dirty_id, replace(p_name, 'e', '') AS dirty_name
        |  FROM part WHERE p_partkey % 7 = 0
        |)
        |SELECT d.dirty_id, c.p_partkey, d.dirty_name, c.p_name,
        |  CAST(levenshtein(d.dirty_name, c.p_name) AS INT) AS dist
        |FROM dirty d JOIN part c
        |  ON regexp_replace(lower(trim(d.dirty_name)), '[aeiou ]', '', 'g')
        |   = regexp_replace(lower(trim(c.p_name)), '[aeiou ]', '', 'g')
        |WHERE abs(len(d.dirty_name) - len(c.p_name)) <= 2
        |  AND levenshtein(d.dirty_name, c.p_name) <= 2
        |ORDER BY d.dirty_id, c.p_partkey""".stripMargin, invariant = InvariantOracles.fuzzyMatch),
    // ---- string/null cleaning kit (ETL normalization surface):
    // case folding, trim, literal + regex replace, translate,
    // substring, nullif/coalesce ----
    QuerySpec("q_clean_kit", (s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          lower(substring(col("text"), 1, 40)).as("head_lower"),
          upper(col("lang")).as("lang_upper"),
          trim(substring(col("text"), 1, 20)).as("head_trim"),
          regexp_replace(substring(col("text"), 1, 60), "[aeiou]", "_").as("devoweled"),
          translate(col("lang"), "aeiou", "AEIOU").as("lang_tr"),
          nullif(col("lang"), lit("en")).as("lang_nullif"),
          coalesce(nullif(col("lang"), lit("en")), lit("english")).as("lang_coalesced"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }, """SELECT doc_id,
        |  lower(substr(text, 1, 40)) AS head_lower,
        |  upper(lang) AS lang_upper,
        |  trim(substr(text, 1, 20)) AS head_trim,
        |  regexp_replace(substr(text, 1, 60), '[aeiou]', '_', 'g') AS devoweled,
        |  translate(lang, 'aeiou', 'AEIOU') AS lang_tr,
        |  nullif(lang, 'en') AS lang_nullif,
        |  coalesce(nullif(lang, 'en'), 'english') AS lang_coalesced,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),
    // ---- Jaro-Winkler entity scoring: the skeleton-blocked
    // candidate join of q_fuzzy_match, verified by the native
    // graft_jaro_winkler expression instead of levenshtein — the
    // transposition-tolerant, prefix-boosted scorer name-matching
    // pipelines pair with edit distance. Scores at nano resolution
    // (the q_bm25 precedent: cross-engine ulp-order differences) ----
    QuerySpec("q_jaro_rank", (s, dir) => {
      val parts = Tables.part(s, dir)
      val dirty = parts.where(col("p_partkey") % 11 === 0)
        .select(col("p_partkey").as("dirty_id"),
          regexp_replace(col("p_name"), "e", "").as("dirty_name"))
        .withColumn("__blk", graft.ops.FuzzyJoin.skeletonBlock(col("dirty_name")))
      val cat = parts
        .select(col("p_partkey"), col("p_name"))
        .withColumn("__blk", graft.ops.FuzzyJoin.skeletonBlock(col("p_name")))
      dirty.join(cat, "__blk")
        .select(col("dirty_id"), col("p_partkey"),
          round(graft.plans.JaroWinkler.jaroWinkler(
            col("dirty_name"), col("p_name")) * lit(1.0e9)).cast("long").as("jw_e9"))
        .where(col("jw_e9") >= 900000000L)
        .orderBy(col("dirty_id"), col("p_partkey"))
    },
      // Jaro-Winkler: DuckDB's jaro_winkler_similarity implements
      // the same Winkler-1990 definition (0.7 boost threshold,
      // p=0.1, prefix cap 4 — verified on the textbook pairs);
      // nano-unit rounding absorbs ulp-order differences.
      """WITH dirty AS (
        |  SELECT p_partkey AS dirty_id, replace(p_name, 'e', '') AS dirty_name,
        |    regexp_replace(lower(trim(replace(p_name, 'e', ''))), '[aeiou ]', '', 'g') AS blk
        |  FROM part WHERE p_partkey % 11 = 0
        |), cat AS (
        |  SELECT p_partkey, p_name,
        |    regexp_replace(lower(trim(p_name)), '[aeiou ]', '', 'g') AS blk
        |  FROM part
        |)
        |SELECT d.dirty_id, c.p_partkey,
        |  CAST(round(jaro_winkler_similarity(d.dirty_name, c.p_name) * CAST(1000000000.0 AS DOUBLE)) AS BIGINT) AS jw_e9
        |FROM dirty d JOIN cat c ON d.blk = c.blk
        |WHERE CAST(round(jaro_winkler_similarity(d.dirty_name, c.p_name) * CAST(1000000000.0 AS DOUBLE)) AS BIGINT) >= 900000000
        |ORDER BY d.dirty_id, c.p_partkey""".stripMargin, invariant = InvariantOracles.jaroRank),
    // ---- inverted-index retrieval: positional posting lists once,
    // then AND-search (one filtered aggregate over just the query
    // terms' postings) and exact-phrase search (positional merge) —
    // the keyword-search primitive a contamination probe or corpus
    // query console runs without ever rescanning text ----
    QuerySpec("q_search_and", (s, dir) => {
      val post = graft.ops.InvertedIndex.postings(Tables.documents(s, dir), "doc_id", "text")
      graft.ops.InvertedIndex.conjunctive(post, Seq("batch", "scan", "merge"))
        .orderBy(col("doc_id"))
    },
      // Inverted-index search: tokens with raw 0-based offsets
      // (empties dropped AFTER position assignment, matching the
      // Spark side); AND = HAVING count over distinct (doc, token),
      // phrase = positional self-join at offset + 1.
      """WITH t AS (
        |  SELECT DISTINCT doc_id, u['token'] AS token FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(sp)), i -> {'token': sp[i], 'pos': i - 1})) AS u
        |    FROM (SELECT doc_id, string_split_regex(text, ' +') AS sp FROM documents)
        |  ) WHERE len(u['token']) > 0
        |)
        |SELECT doc_id FROM t
        |WHERE token IN ('batch', 'scan', 'merge')
        |GROUP BY doc_id HAVING count(*) = 3
        |ORDER BY doc_id""".stripMargin),
    QuerySpec("q_search_phrase", (s, dir) => {
      val post = graft.ops.InvertedIndex.postings(Tables.documents(s, dir), "doc_id", "text")
      graft.ops.InvertedIndex.phrase(post, Seq("hash", "join"))
        .orderBy(col("doc_id"))
    }, """WITH t AS (
        |  SELECT doc_id, u['token'] AS token, u['pos'] AS pos FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(sp)), i -> {'token': sp[i], 'pos': i - 1})) AS u
        |    FROM (SELECT doc_id, string_split_regex(text, ' +') AS sp FROM documents)
        |  ) WHERE len(u['token']) > 0
        |)
        |SELECT a.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.token = 'join' AND b.pos = a.pos + 1
        |WHERE a.token = 'hash'
        |GROUP BY 1
        |ORDER BY a.doc_id""".stripMargin),
    // BM25 exposes the score in integer nano-units: ln() differs by
    // one ulp between the JVM and libm on some inputs (measured —
    // the TfIdf scaladoc's warning in the flesh), so the raw double
    // cannot hash-match; at 1e-9 resolution a 2e-16 ulp sits nine
    // orders below the rounding boundary and both engines agree.
    QuerySpec("q_bm25", (s, dir) => {
      val post = graft.ops.InvertedIndex.postings(Tables.documents(s, dir), "doc_id", "text")
      graft.ops.InvertedIndex.bm25(post, Seq("hash", "join", "data"), k = 20)
        .select(col("doc_id"),
          round(col("score") * lit(1.0e9)).cast("long").as("score_e9"))
    },
      // BM25: identical arithmetic shape and parenthesization as the
      // Scala side (every literal CAST to DOUBLE — DuckDB parses bare
      // decimals as DECIMAL, whose division semantics differ); the
      // per-doc score is the same fixed-order chain of single-row
      // conditional sums, so double addition order matches too.
      """WITH t AS (
        |  SELECT doc_id, u['token'] AS token FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(sp)), i -> {'token': sp[i], 'pos': i - 1})) AS u
        |    FROM (SELECT doc_id, string_split_regex(text, ' +') AS sp FROM documents)
        |  ) WHERE len(u['token']) > 0
        |), post AS (
        |  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY 1
        |), scal AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS toktotal FROM dl
        |), dft AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df
        |  FROM post WHERE token IN ('hash', 'join', 'data') GROUP BY 1
        |), s AS (
        |  SELECT p.doc_id, p.token,
        |    ln(CAST(1.0 AS DOUBLE) + (CAST(sc.n AS DOUBLE) - f.df + CAST(0.5 AS DOUBLE)) / (f.df + CAST(0.5 AS DOUBLE)))
        |      * (CAST(p.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |      / (CAST(p.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |         (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(d.dl AS DOUBLE)
        |          / (CAST(sc.toktotal AS DOUBLE) / CAST(sc.n AS DOUBLE)))) AS s
        |  FROM post p JOIN dft f USING (token) JOIN dl d USING (doc_id), scal sc
        |  WHERE p.token IN ('hash', 'join', 'data')
        |)
        |, sc2 AS (
        |  SELECT doc_id,
        |    COALESCE(sum(CASE WHEN token = 'hash' THEN s END), CAST(0.0 AS DOUBLE))
        |    + COALESCE(sum(CASE WHEN token = 'join' THEN s END), CAST(0.0 AS DOUBLE))
        |    + COALESCE(sum(CASE WHEN token = 'data' THEN s END), CAST(0.0 AS DOUBLE)) AS score
        |  FROM s GROUP BY 1
        |  ORDER BY score DESC, doc_id
        |  LIMIT 20
        |)
        |SELECT doc_id,
        |  CAST(round(score * CAST(1000000000.0 AS DOUBLE)) AS BIGINT) AS score_e9
        |FROM sc2""".stripMargin),
    // ---- URL normalization + per-domain curation stats (the
    // crawl-pipeline shape): messy URL spellings are synthesized
    // from doc fields — mixed case, www., default ports, trailing
    // dots, fragments — pushed through the full ops.Urls regexp
    // chain, and the oracle checks the result against ground-truth
    // hosts built arithmetically from the same fields ----
    QuerySpec("q_domain_stats", (s, dir) => {
      val tld = when(col("doc_id") % 2 === 0, lit("com")).otherwise(lit("org"))
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("HTTPS://WWW."), upper(col("source")), lit(".Example."), tld,
            lit(":443/docs/"), col("doc_id"), lit("?utm=x#frag")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("http://"), col("source"), lit(".example."), tld,
            lit(":80/d/"), col("doc_id")))
        .otherwise(
          concat(lit("https://cdn."), col("source"), lit(".example."), tld,
            lit("./media/"), col("doc_id"), lit("#x")))
      val host = graft.ops.Urls.host(url)
      Tables.documents(s, dir)
        .select(host.as("host"),
          graft.ops.Urls.registrableDomain(host).as("domain"),
          col("n_chars"), col("lang"))
        .groupBy(col("host"), col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy(col("host"))
    },
      // Domain stats: the oracle does NOT replicate the regexp chain —
      // it constructs the ground-truth normalized host from the same
      // doc fields, so the whole Urls.host normalization (case, www.,
      // port, trailing dot, fragment) is verified end to end.
      """WITH h AS (
        |  SELECT
        |    CASE WHEN doc_id % 3 = 2 THEN 'cdn.' || source ELSE source END
        |      || '.example.' || CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END AS host,
        |    'example.' || CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END AS domain,
        |    n_chars, lang
        |  FROM documents
        |)
        |SELECT host, domain,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM h GROUP BY host, domain
        |ORDER BY host""".stripMargin),
    // ---- BPE ENCODE under a trained merge table (the native
    // plans.BpeEncode expression — the real greedy merge chain, not
    // a regex approximation). The oracle uses a merge table whose
    // greedy application has a closed form — ("t","h") single-char
    // non-overlapping, ("e","</w>") terminal, alphabets disjoint so
    // the merges can't interact — making the general engine path
    // checkable arithmetically (the q_media_decode pattern) ----
    QuerySpec("q_bpe_encode", (s, dir) => {
      val merges = Seq(("t", "h"), ("e", graft.ops.Bpe.EndOfWord))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.ops.Bpe.bpeTokenCount(col("text"), merges).as("n_tokens"))
        .orderBy(col("doc_id"))
    },
      // BPE encode: tokens per word = (codepoints + 1 for </w>)
      // − one per greedy merge. With disjoint single-char pair (t,h)
      // and terminal pair (e,</w>), merge counts have closed forms:
      // non-overlapping 'th' occurrences + ends-with-'e'.
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS word FROM documents
        |), t AS (
        |  SELECT doc_id,
        |    CAST(len(word) + 1
        |      - (len(word) - len(replace(word, 'th', ''))) // 2
        |      - CASE WHEN word LIKE '%e' THEN 1 ELSE 0 END AS BIGINT) AS n
        |  FROM w WHERE len(word) > 0
        |)
        |SELECT d.doc_id, CAST(COALESCE(sum(t.n), 0) AS BIGINT) AS n_tokens
        |FROM documents d LEFT JOIN t ON t.doc_id = d.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),
    // ---- O5: nested-array explode with position ----
    QuerySpec("q_explode_tokens", (s, dir) => {
      Tables.documents(s, dir)
        .where(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        .orderBy(col("doc_id"), col("pos"))
    }, """SELECT doc_id,
        |  CAST(unnest(generate_series(1, len(string_split(text, ' ')))) - 1 AS INT) AS pos,
        |  unnest(string_split(text, ' ')) AS token
        |FROM documents WHERE doc_id < 50""".stripMargin),
    // ---- text statistics (token counts, punctuation, quality score) ----
    QuerySpec("q_text_stats", (s, dir) => {
      import graft.functions.{TextFunctions => TF}
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(TF.tokens(col("text"))).as("n_tokens"),
          length(col("text")).as("n_chars_actual"),
          TF.bpeishTokenCount(col("text")).as("bpeish_tokens"),
          TF.punctCount(col("text")).as("n_punct"),
          TF.qualityScore(col("text")).as("quality")
        )
        .orderBy(col("doc_id"))
    }, """SELECT doc_id,
        |  CAST(len(string_split_regex(text, ' +')) AS INT) AS n_tokens,
        |  CAST(length(text) AS INT) AS n_chars_actual,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INT) AS bpeish_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS INT) AS n_punct,
        |  least(CAST(len(string_split_regex(text, ' +')) AS DOUBLE)/64.0, 1.0)*0.4
        |    + (CASE WHEN (CAST(length(text) AS DOUBLE) - (CAST(len(string_split_regex(text, ' +')) AS DOUBLE) - 1.0))
        |                 / greatest(CAST(len(string_split_regex(text, ' +')) AS DOUBLE), 1.0) BETWEEN 3.0 AND 10.0
        |            THEN 1.0 ELSE 0.5 END)*0.3
        |    + (1.0 - least(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        |                   / greatest(CAST(length(text) AS DOUBLE), 1.0) * 4.0, 1.0))*0.3 AS quality
        |FROM documents""".stripMargin),
    // ---- token-budget chunking: model-window pieces with overlap
    // (chunk i covers tokens [i·24, i·24+32); final short chunk kept) ----
    QuerySpec("q_chunk_tokens", (s, dir) => {
      graft.ops.Chunking.chunkByTokens(Tables.documents(s, dir), "text", "doc_id",
          maxTokens = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start FROM t
        |)
        |SELECT doc_id, CAST(start // 24 AS INT) AS chunk_idx,
        |  CAST(len(toks[start+1 : start+32]) AS INT) AS n_tokens,
        |  array_to_string(toks[start+1 : start+32], ' ') AS chunk_text
        |FROM s""".stripMargin),
    // ---- PII redaction + audit counts. The PII is constructed
    // deterministically from table columns (the corpus itself is
    // synthetic and PII-free), so both engines rewrite identical
    // inputs; counts are taken on the pre-redaction text ----
    QuerySpec("q_redact", (s, dir) => {
      import graft.functions.Redact
      val pii = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com ip 10.0."),
        pmod(col("doc_id"), lit(256L)).cast("string"), lit(".7 tel +62 812-3456-789"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          Redact.redact(pii).as("redacted"),
          Redact.emailCount(pii).as("n_emails"),
          Redact.ipv4Count(pii).as("n_ips"),
          Redact.phoneCount(pii).as("n_phones"))
        .orderBy(col("doc_id"))
    }, """WITH p AS (
        |  SELECT doc_id, text || ' contact user' || doc_id || '@mail.example.com ip 10.0.'
        |    || (doc_id % 256) || '.7 tel +62 812-3456-789' AS pii
        |  FROM documents
        |)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(pii,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\+?\d{2,3}([- ]\d{3,6}){2,3}', '[PHONE]', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(pii, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(pii, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
        |  CAST(len(regexp_extract_all(pii, '\+?\d{2,3}([- ]\d{3,6}){2,3}')) AS INT) AS n_phones
        |FROM p""".stripMargin),
    // ---- intra-document n-gram repetition ratio (boilerplate signal) ----
    QuerySpec("q_repetition", (s, dir) => {
      import graft.functions.{TextFunctions => TF}
      Tables.documents(s, dir)
        .select(col("doc_id"),
          greatest(size(TF.tokens(col("text"))) - 2, lit(0)).as("n_ngrams"),
          size(TF.wordShingles(col("text"), 3)).as("n_distinct"),
          TF.repetitionRatio(col("text"), 3).as("rep_ratio"))
        .orderBy(col("doc_id"))
    }, """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, greatest(len(toks)-2, 0) AS n_ngrams,
        |    CASE WHEN len(toks) >= 3 THEN len(list_distinct(list_transform(
        |      generate_series(1, len(toks)-2),
        |      i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2]))) ELSE 0 END AS n_distinct
        |  FROM tok
        |)
        |SELECT doc_id, CAST(n_ngrams AS INT) AS n_ngrams,
        |  CAST(n_distinct AS INT) AS n_distinct,
        |  CASE WHEN n_ngrams > 0 THEN 1.0 - n_distinct * 1.0 / n_ngrams ELSE 0.0 END AS rep_ratio
        |FROM g""".stripMargin),
    // ---- per-document top terms by TF-IDF (rational idf — see
    // TfIdf Scaladoc for why not ln) ----
    QuerySpec("q_tfidf_terms", (s, dir) => {
      graft.operators.TfIdf.topTerms(Tables.documents(s, dir), "text", 5)
        .orderBy(col("doc_id"), col("rnk"))
    }, """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok WHERE len(term) > 0 GROUP BY 1, 2
        |), dft AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), n AS (
        |  SELECT count(*) AS n FROM documents
        |), s AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |    t.tf * (n.n + 1.0) / (d.df + 1.0) AS tfidf
        |  FROM tf t JOIN dft d USING (term) CROSS JOIN n
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk FROM s
        |)
        |SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS INT) AS rnk
        |FROM r WHERE rnk <= 5""".stripMargin),
    // ---- language-ID heuristic (marker words, deterministic argmax) ----
    QuerySpec("q_langid", (s, dir) => {
      import graft.functions.{TextFunctions => TF}
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), TF.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }, """WITH t AS (
        |  SELECT doc_id, lang, string_split_regex(text, ' +') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, lang, 'de' AS cand, len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','nicht','ein'], x))) AS score FROM t
        |  UNION ALL
        |  SELECT doc_id, lang, 'en', len(list_filter(toks, x -> list_contains(['the','a','and','of','to','is','in'], x))) FROM t
        |  UNION ALL
        |  SELECT doc_id, lang, 'es', len(list_filter(toks, x -> list_contains(['el','la','los','las','de','que','es'], x))) FROM t
        |  UNION ALL
        |  SELECT doc_id, lang, 'fr', len(list_filter(toks, x -> list_contains(['le','la','les','des','et','est','une'], x))) FROM t
        |  UNION ALL
        |  SELECT doc_id, lang, 'zh', len(list_filter(toks, x -> list_contains(['的','是','了','在','和'], x))) FROM t
        |)
        |SELECT doc_id, lang, cand AS lang_pred
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand ASC) AS rn FROM s)
        |WHERE rn = 1""".stripMargin),
    // ---- corpus-wide top-k bigrams (doc frequency; deterministic
    // (count desc, ngram asc) tie-break makes the LIMIT cut exact).
    // Bigrams come from codegen'd posexplode + lead rather than the
    // wordShingles HOF composition (interpreted; measured 6.5 s vs
    // <1 s for this query at sf0.1) — same pairs, same set semantics ----
    QuerySpec("q_top_ngrams", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " +")).as(Seq("pos", "tok")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      toks.withColumn("nxt", lead(col("tok"), 1).over(w))
        .where(col("nxt").isNotNull)
        .select(col("doc_id"), concat_ws("_", col("tok"), col("nxt")).as("ngram"))
        .distinct() // per-doc set semantics (matches wordShingles)
        .groupBy(col("ngram"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(desc("n_docs"), col("ngram"))
        .limit(20)
    }, """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-1),
        |    i -> toks[i] || '_' || toks[i+1])) AS grams
        |  FROM tok
        |), e AS (
        |  SELECT unnest(grams) AS ngram FROM sh
        |)
        |SELECT ngram, count(*) AS n_docs
        |FROM e GROUP BY 1
        |ORDER BY n_docs DESC, ngram
        |LIMIT 20""".stripMargin),
    // ---- vocabulary coverage curve: top-k tokens with cumulative
    // share of total token mass ----
    QuerySpec("q_vocab_coverage", (s, dir) => {
      graft.ops.Vocab.coverage(Tables.documents(s, dir), "text", 50)
        .orderBy(col("rank"))
    },
      // cum_share divides two exactly-aggregated BIGINTs — the double
      // is bit-identical across engines.
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(text, ' +')) AS token FROM documents
        |), c AS (
        |  SELECT token, count(*) AS cnt FROM tok WHERE len(token) > 0 GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c
        |), r AS (
        |  SELECT token, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank,
        |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, token) AS BIGINT) AS cum
        |  FROM c
        |)
        |SELECT token, cnt, rank,
        |  CAST(cum AS DOUBLE) / CAST((SELECT total FROM t) AS DOUBLE) AS cum_share
        |FROM r WHERE rank <= 50""".stripMargin),
    // ---- per-doc OOV rate vs the corpus' own top-20 vocabulary ----
    QuerySpec("q_oov_rate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.ops.Vocab.coverage(docs, "text", 20).select(col("token"))
      graft.ops.Vocab.oovRate(docs, "text", vocab)
        .orderBy(col("doc_id"))
    },
      // Same top-20 vocabulary derivation, then per-doc unnest + left
      // join; empty/whitespace docs report 0 tokens, rate 0.
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(text, ' +')) AS token FROM documents
        |), c AS (
        |  SELECT token, count(*) AS cnt FROM tok WHERE len(token) > 0 GROUP BY 1
        |), vocab AS (
        |  SELECT token FROM (
        |    SELECT token, row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM c
        |  ) WHERE rank <= 20
        |), u AS (
        |  SELECT d.doc_id, t.tk FROM documents d
        |  LEFT JOIN LATERAL (
        |    SELECT unnest(list_filter(string_split_regex(d.text, ' +'), x -> len(x) > 0)) AS tk
        |  ) t ON true
        |)
        |SELECT u.doc_id,
        |  CAST(count(u.tk) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN u.tk IS NOT NULL AND v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CASE WHEN count(u.tk) > 0
        |       THEN CAST(sum(CASE WHEN u.tk IS NOT NULL AND v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |            / CAST(count(u.tk) AS DOUBLE)
        |       ELSE 0.0 END AS oov_rate
        |FROM u LEFT JOIN vocab v ON u.tk = v.token
        |GROUP BY 1""".stripMargin),
    // ---- unigram surprisal: corpus-frequency quality signal in
    // exact floor-log2 bits (no IEEE log ⇒ full oracle) ----
    QuerySpec("q_surprisal", (s, dir) => {
      graft.ops.Vocab.surprisal(Tables.documents(s, dir), "text")
        .orderBy(col("doc_id"))
    }, """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, ' +'), x -> len(x) > 0)) AS token
        |  FROM documents
        |), c AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS total FROM tok
        |), per AS (
        |  SELECT t.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(length(bin(tot.total)) - length(bin(c.cnt))) AS BIGINT) AS surprisal_bits
        |  FROM tok t JOIN c USING (token), tot
        |  GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  coalesce(p.n_tokens, 0) AS n_tokens,
        |  coalesce(p.surprisal_bits, 0) AS surprisal_bits,
        |  CASE WHEN coalesce(p.n_tokens, 0) > 0
        |       THEN CAST(p.surprisal_bits AS DOUBLE) / CAST(p.n_tokens AS DOUBLE)
        |       ELSE 0.0 END AS avg_surprisal
        |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin),
    // ---- bigram perplexity, stupid backoff α=1/2 (CCNet-style
    // perplexity filter): model trained on the even-doc_id half,
    // every document scored; exact integer bits ⇒ full oracle ----
    QuerySpec("q_bigram_ppl", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      graft.ops.Vocab.bigramPerplexity(docs, docs.where(col("doc_id") % 2 === 0), "text")
        .orderBy(col("doc_id"))
    },
      // Mirrors Vocab.bigramPerplexity: same row-local bigram build
      // (range(1, len) is end-exclusive ⇔ Spark's guarded sequence),
      // same md5-prefix hash60 on w1||0x1F||w2, same min(w1h) context
      // pick under collisions, same stupid-backoff α=1/2 integer-bit
      // arithmetic (length(bin(x)) both engines), same spine join.
      """WITH tokarr AS (
        |  SELECT doc_id, list_filter(string_split_regex(coalesce(text, ''), ' +'), x -> len(x) > 0) AS t
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(concat(t[i], chr(31), t[i+1])), 1, 15)) AS BIGINT) AS bh,
        |    CAST(concat('0x', substr(md5(t[i]), 1, 15)) AS BIGINT) AS w1h,
        |    CAST(concat('0x', substr(md5(t[i+1]), 1, 15)) AS BIGINT) AS w2h
        |  FROM tokarr, unnest(range(1, len(t))) AS u(i)
        |), uni AS (
        |  SELECT CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS wh,
        |         CAST(count(*) AS BIGINT) AS u_cnt
        |  FROM (SELECT unnest(t) AS tok FROM tokarr WHERE doc_id % 2 = 0)
        |  GROUP BY 1
        |), tot AS (
        |  SELECT greatest(CAST(coalesce(sum(u_cnt), 0) AS BIGINT), 1) AS n_total FROM uni
        |), stats AS (
        |  SELECT b.bh, b.b_cnt, u.u_cnt AS ctx_cnt
        |  FROM (SELECT bh, CAST(count(*) AS BIGINT) AS b_cnt, min(w1h) AS ctx_h
        |        FROM bg WHERE doc_id % 2 = 0 GROUP BY 1) b
        |  JOIN uni u ON u.wh = b.ctx_h
        |), scored AS (
        |  SELECT g.doc_id,
        |    CASE WHEN s.b_cnt IS NOT NULL THEN length(bin(s.ctx_cnt)) - length(bin(s.b_cnt))
        |         WHEN u2.u_cnt IS NOT NULL THEN 1 + length(bin(t.n_total)) - length(bin(u2.u_cnt))
        |         ELSE length(bin(t.n_total)) END AS bits,
        |    CASE WHEN s.b_cnt IS NULL AND u2.u_cnt IS NOT NULL THEN 1 ELSE 0 END AS is_backoff,
        |    CASE WHEN u2.u_cnt IS NULL THEN 1 ELSE 0 END AS is_oov
        |  FROM bg g
        |  LEFT JOIN stats s ON s.bh = g.bh
        |  LEFT JOIN uni u2 ON u2.wh = g.w2h, tot t
        |), per AS (
        |  SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(bits) AS BIGINT) AS ppl_bits,
        |    CAST(sum(is_backoff) AS BIGINT) AS n_backoff,
        |    CAST(sum(is_oov) AS BIGINT) AS n_oov
        |  FROM scored GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  coalesce(p.n_bigrams, 0) AS n_bigrams,
        |  coalesce(p.ppl_bits, 0) AS ppl_bits,
        |  coalesce(p.n_backoff, 0) AS n_backoff,
        |  coalesce(p.n_oov, 0) AS n_oov,
        |  CASE WHEN coalesce(p.n_bigrams, 0) > 0
        |       THEN CAST(p.ppl_bits AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)
        |       ELSE 0.0 END AS avg_bits
        |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin),
    // ---- hashing-trick linear classifier inference (fasttext-style
    // quality scoring as a row-local map): fixed-point integer
    // weights in the task binary, score exact in both engines ----
    QuerySpec("q_hashed_score", (s, dir) => {
      graft.ops.HashedFeatures.linearScore(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          "text", hashedWeights, bias = 3L)
        .withColumn("kept", col("score") > 0)
        .select(col("doc_id"), col("score"), col("kept"))
        .orderBy(col("doc_id"))
    },
      // Mirrors HashedFeatures.linearScore: same md5-prefix hash60
      // mod 64 bucket, same Fibonacci-spread integer weight vector
      // rebuilt by a list comprehension, bias 3; empty/NULL token
      // lists coalesce to the bare bias in both engines.
      """WITH w AS (
        |  SELECT list_transform(range(0, 64), i -> (i * 2654435761) % 21 - 10) AS wv
        |), s AS (
        |  SELECT d.doc_id,
        |    CAST(3 + coalesce(list_sum(list_transform(
        |      list_filter(string_split_regex(d.text, ' +'), x -> len(x) > 0),
        |      t -> wv[CAST(CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 64 AS INT) + 1])), 0) AS BIGINT) AS score
        |  FROM documents d, w
        |)
        |SELECT doc_id, score, score > 0 AS kept
        |FROM s ORDER BY doc_id""".stripMargin),
    // ---- boilerplate removal: drop tokens present in >40% of all
    // docs (df-based chrome stripping), reassemble in order ----
    QuerySpec("q_boilerplate", (s, dir) => {
      graft.ops.Boilerplate.removeFrequentUnits(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          "text", " ", maxDfPermille = 400)
        .orderBy(col("doc_id"))
    },
      // Exact-integer df threshold on both sides; order-preserving
      // reassembly via string_agg(... ORDER BY pos).
      """WITH toks AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents
        |), u AS (
        |  SELECT doc_id, i.i AS pos, ts[i.i] AS unit
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) i
        |  WHERE len(ts[i.i]) > 0
        |), d AS (
        |  SELECT unit, count(DISTINCT doc_id) AS df FROM u GROUP BY 1
        |), n AS (
        |  SELECT count(*) AS n_docs FROM documents
        |), kept AS (
        |  SELECT u.doc_id, string_agg(u.unit, ' ' ORDER BY u.pos) AS t
        |  FROM u JOIN d USING (unit), n
        |  WHERE d.df * 1000 <= 400 * n.n_docs
        |  GROUP BY 1
        |)
        |SELECT doc_id,
        |  CASE WHEN doc.text IS NULL THEN NULL ELSE coalesce(k.t, '') END AS text
        |FROM documents doc LEFT JOIN kept k USING (doc_id)""".stripMargin),
    // ---- Gopher repetition signals (Rae et al. 2021 A1): duplicate
    // line/paragraph fractions, row-local. The synthetic corpus is
    // single-line, so line structure is DERIVED deterministically
    // (a break every 2 tokens, a paragraph break every 4 lines) by a
    // regex both engines apply identically ----
    QuerySpec("q_gopher_repetition", (s, dir) => {
      val lined = Tables.documents(s, dir).select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"), "(\\S+ \\S+) ", "$1\n"),
          "(([^\n]*\n){3}[^\n]*)\n", "$1\n\n").as("text2"))
      graft.ops.Gopher.repetitionSignals(lined, "text2").orderBy(col("doc_id"))
    },
      // Same derived line structure (regexes are Java/RE2-common), then
      // dup fractions as 1 − distinct/total and char-weighted twins.
      """WITH lined AS (
        |  SELECT doc_id, regexp_replace(
        |    regexp_replace(text, '(\S+ \S+) ', '\1' || chr(10), 'g'),
        |    '(([^' || chr(10) || ']*' || chr(10) || '){3}[^' || chr(10) || ']*)' || chr(10),
        |    '\1' || chr(10) || chr(10), 'g') AS t2
        |  FROM documents
        |), u AS (
        |  SELECT doc_id,
        |    list_filter(string_split(t2, chr(10)), x -> len(x) > 0) AS ls,
        |    list_filter(string_split(t2, chr(10) || chr(10)), x -> len(x) > 0) AS ps
        |  FROM lined
        |)
        |SELECT doc_id,
        |  CASE WHEN len(ls) > 0 THEN 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / CAST(len(ls) AS DOUBLE) ELSE 0.0 END AS dup_line_frac,
        |  CASE WHEN coalesce(list_sum(list_transform(ls, x -> len(x))), 0) > 0 THEN
        |    CAST(list_sum(list_transform(ls, x -> len(x))) - list_sum(list_transform(list_distinct(ls), x -> len(x))) AS DOUBLE)
        |      / CAST(list_sum(list_transform(ls, x -> len(x))) AS DOUBLE) ELSE 0.0 END AS dup_line_char_frac,
        |  CASE WHEN len(ps) > 0 THEN 1.0 - CAST(len(list_distinct(ps)) AS DOUBLE) / CAST(len(ps) AS DOUBLE) ELSE 0.0 END AS dup_para_frac,
        |  CASE WHEN coalesce(list_sum(list_transform(ps, x -> len(x))), 0) > 0 THEN
        |    CAST(list_sum(list_transform(ps, x -> len(x))) - list_sum(list_transform(list_distinct(ps), x -> len(x))) AS DOUBLE)
        |      / CAST(list_sum(list_transform(ps, x -> len(x))) AS DOUBLE) ELSE 0.0 END AS dup_para_char_frac
        |FROM u ORDER BY doc_id""".stripMargin),
    // ---- most frequent word bigram's share of token characters ----
    QuerySpec("q_gopher_topgram", (s, dir) => {
      graft.ops.Gopher.topNgramCharFrac(Tables.documents(s, dir), "text", 2)
        .orderBy(col("doc_id"))
    },
      // Top bigram by (count, token chars, lexicographic) — the same
      // deterministic argmax ranking as the Spark window.
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, ts[i.i] || ' ' || ts[i.i+1] AS gram
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(ts)-1)) AS i) i
        |  WHERE len(ts) >= 2
        |), c AS (
        |  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2
        |), r AS (
        |  SELECT doc_id, gram, cnt,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, len(gram) - 1 DESC, gram ASC) AS rn
        |  FROM c
        |), tot AS (
        |  SELECT doc_id, list_sum(list_transform(ts, x -> len(x))) AS tc FROM tok
        |)
        |SELECT d.doc_id,
        |  coalesce(t.gram, '') AS top_gram,
        |  CASE WHEN tot.tc > 0 AND t.cnt IS NOT NULL
        |    THEN CAST(t.cnt * (len(t.gram) - 1) AS DOUBLE) / CAST(tot.tc AS DOUBLE) ELSE 0.0 END AS top_gram_char_frac
        |FROM documents d
        |JOIN tot USING (doc_id)
        |LEFT JOIN (SELECT * FROM r WHERE rn = 1) t USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    // ---- token chars covered by any duplicated trigram (position-
    // unioned, the overlap-safe form) ----
    QuerySpec("q_gopher_dupgram", (s, dir) => {
      graft.ops.Gopher.dupNgramCharFrac(Tables.documents(s, dir), "text", 3)
        .orderBy(col("doc_id"))
    },
      // Duplicated trigrams back to their start positions, exploded to
      // covered token positions, UNIONED (DISTINCT), then char-summed.
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), tr AS (
        |  SELECT doc_id, i.i - 1 AS pos, ts[i.i] AS t
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) i
        |), g AS (
        |  SELECT doc_id, i.i - 1 AS gpos, ts[i.i] || ' ' || ts[i.i+1] || ' ' || ts[i.i+2] AS gram
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(ts)-2)) AS i) i
        |  WHERE len(ts) >= 3
        |), dup AS (
        |  SELECT doc_id, gram FROM g GROUP BY 1, 2 HAVING count(*) >= 2
        |), cov AS (
        |  SELECT DISTINCT g.doc_id, g.gpos + o.o AS pos
        |  FROM g JOIN dup USING (doc_id, gram),
        |       LATERAL (SELECT unnest(generate_series(0, 2)) AS o) o
        |), cc AS (
        |  SELECT cov.doc_id, sum(len(tr.t)) AS dc
        |  FROM cov JOIN tr USING (doc_id, pos) GROUP BY 1
        |), tot AS (
        |  SELECT doc_id, sum(len(t)) AS tc FROM tr GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CASE WHEN tot.tc > 0 THEN CAST(coalesce(cc.dc, 0) AS DOUBLE) / CAST(tot.tc AS DOUBLE) ELSE 0.0 END AS dup_ngram_char_frac
        |FROM documents d
        |LEFT JOIN tot USING (doc_id)
        |LEFT JOIN cc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    // ---- the Gopher rule battery; thresholds and stop words tuned
    // to the short-doc synthetic corpus so both outcomes occur ----
    QuerySpec("q_gopher_rules", (s, dir) => {
      graft.ops.Gopher.qualityRules(Tables.documents(s, dir), "text",
          minWords = 20, stops = Seq("the", "a", "data", "value", "table"))
        .orderBy(col("doc_id"))
    },
      // Rule battery: metrics in exact integers, one IEEE division per
      // fraction, thresholds compared on identical doubles.
      """WITH tok AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, ' +'), x -> len(x) > 0) AS ts,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS lts,
        |    list_filter(string_split(text, chr(10)), x -> len(x) > 0) AS ls
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    len(ts) AS nw,
        |    coalesce(list_sum(list_transform(ts, x -> len(x))), 0) AS tc,
        |    len(text) - len(replace(text, '#', '')) AS nhash,
        |    len(text) - len(replace(text, '…', '')) AS nuell,
        |    (len(replace(text, '…', '')) - len(replace(replace(text, '…', ''), '...', ''))) // 3 AS naell,
        |    len(ls) AS nl,
        |    len(list_filter(ls, x -> starts_with(trim(x), '-') OR starts_with(trim(x), '*') OR starts_with(trim(x), '•'))) AS nbul,
        |    len(list_filter(ls, x -> ends_with(trim(x), '...') OR ends_with(trim(x), '…'))) AS nell,
        |    len(list_filter(ts, x -> regexp_matches(x, '[A-Za-z]'))) AS nalpha,
        |    len(list_filter(['the', 'a', 'data', 'value', 'table'], s -> list_contains(lts, s))) AS nstop
        |  FROM tok
        |), v AS (
        |  SELECT doc_id, nw, nstop,
        |    CASE WHEN nw > 0 THEN CAST(tc AS DOUBLE) / CAST(nw AS DOUBLE) ELSE 0.0 END AS mean_word_len,
        |    CASE WHEN nw > 0 THEN CAST(nhash + nuell + naell AS DOUBLE) / CAST(nw AS DOUBLE) ELSE 0.0 END AS symbol_ratio,
        |    CASE WHEN nl > 0 THEN CAST(nbul AS DOUBLE) / CAST(nl AS DOUBLE) ELSE 0.0 END AS bullet_frac,
        |    CASE WHEN nl > 0 THEN CAST(nell AS DOUBLE) / CAST(nl AS DOUBLE) ELSE 0.0 END AS ellipsis_frac,
        |    CASE WHEN nw > 0 THEN CAST(nalpha AS DOUBLE) / CAST(nw AS DOUBLE) ELSE 0.0 END AS alpha_frac
        |  FROM m
        |)
        |SELECT doc_id, CAST(nw AS INT) AS n_words, mean_word_len, symbol_ratio,
        |  bullet_frac, ellipsis_frac, alpha_frac, CAST(nstop AS INT) AS n_stop,
        |  (nw >= 20 AND nw <= 100000) AS r_word_count,
        |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_word_len,
        |  (symbol_ratio <= 0.1) AS r_symbol,
        |  (bullet_frac <= 0.9) AS r_bullet,
        |  (ellipsis_frac <= 0.3) AS r_ellipsis,
        |  (alpha_frac >= 0.8) AS r_alpha,
        |  (nstop >= 2) AS r_stop,
        |  (nw >= 20 AND nw <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
        |    AND alpha_frac >= 0.8 AND nstop >= 2) AS pass
        |FROM v ORDER BY doc_id""".stripMargin),
    // ---- BPE training statistics: frequency-weighted adjacent
    // symbol-pair counts over the corpus word dictionary (the
    // distributed half of tokenizer training; the merge loop is
    // local over the vocab-sized dict) ----
    QuerySpec("q_bpe_pairs", (s, dir) => {
      graft.ops.Bpe.pairCounts(graft.ops.Bpe.wordFreqs(Tables.documents(s, dir), "text"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(100)
    },
      // BPE pair counts rebuilt from the same word-frequency dict and
      // 1-char-symbols + </w> model; total order (cnt, a, b) makes the
      // top-100 cutoff deterministic in both engines.
      """WITH w AS (
        |  SELECT unnest(string_split_regex(text, ' +')) AS word FROM documents
        |), f AS (
        |  SELECT word, count(*) AS freq FROM w WHERE len(word) > 0 GROUP BY 1
        |  ORDER BY freq DESC, word ASC LIMIT 1000000
        |), s AS (
        |  SELECT word, freq,
        |    list_append(list_transform(generate_series(1, len(word)), i -> word[i:i]), '</w>') AS sym
        |  FROM f
        |), p AS (
        |  SELECT sym[i.i] AS a, sym[i.i+1] AS b, freq
        |  FROM s, LATERAL (SELECT unnest(generate_series(1, len(sym)-1)) AS i) i
        |)
        |SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM p GROUP BY 1, 2
        |ORDER BY cnt DESC, a ASC, b ASC
        |LIMIT 100""".stripMargin))
}
