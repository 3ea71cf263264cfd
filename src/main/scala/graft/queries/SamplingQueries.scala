package graft
package queries

import org.apache.spark.sql.functions._
import Common._

/** Registered queries for deterministic sampling, splits, mixtures,
  * packing and curation funnels. */
private[graft] object SamplingQueries {
  /** DuckDB mirror of TextFunctions.qualityScore — shared by every
    * oracle that filters or weights on quality. */
  private val qualitySql =
    """least(CAST(len(string_split_regex(text, ' +')) AS DOUBLE)/64.0, 1.0)*0.4
      |    + (CASE WHEN (CAST(length(text) AS DOUBLE) - (CAST(len(string_split_regex(text, ' +')) AS DOUBLE) - 1.0))
      |                 / greatest(CAST(len(string_split_regex(text, ' +')) AS DOUBLE), 1.0) BETWEEN 3.0 AND 10.0
      |            THEN 1.0 ELSE 0.5 END)*0.3
      |    + (1.0 - least(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
      |                   / greatest(CAST(length(text) AS DOUBLE), 1.0) * 4.0, 1.0))*0.3""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---- shard-packing audit: the fill/waste report over the
    // q_pack_budget bins — per lang: bin count, exact token mass,
    // utilization in nano (1e9·Σtok/(bins·budget)), and the worst
    // bin's overflow (a doc straddling a boundary lands in its start
    // bin, so fill can exceed the budget — the audit is where that
    // becomes visible). One window (the pack itself) + one hash
    // aggregate ----
    QuerySpec("q_pack_audit", (s, dir) => {
      import graft.functions.{TextFunctions => TF}
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TF.bpeishTokenCount(col("text")).cast("long").as("n_tok"))
      val packed = graft.ops.Packing.packByBudget(docs, "doc_id", "n_tok", 2048, Seq("lang"))
      packed.groupBy(col("lang"), col("bin"))
        .agg(sum(col("n_tok")).as("fill"), count(lit(1)).as("n_docs"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_bins"), sum(col("fill")).as("sum_tok"),
          max(col("fill")).as("max_fill"), min(col("fill")).as("min_fill"),
          sum(col("n_docs")).as("n_docs"))
        .select(col("lang"), col("n_bins"), col("sum_tok"), col("max_fill"),
          col("min_fill"), col("n_docs"),
          round(lit(1e9) * col("sum_tok").cast("double") /
            (col("n_bins") * lit(2048L)).cast("double")).cast("long").as("util_nano"))
        .orderBy(col("lang"))
    }, """WITH d AS (
        |  SELECT doc_id, lang,
        |         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, lang, n_tok,
        |         CAST(coalesce(sum(n_tok) OVER (
        |           PARTITION BY lang ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
        |  FROM d
        |), bins AS (
        |  SELECT lang, cumb // 2048 AS bin,
        |         CAST(sum(n_tok) AS BIGINT) AS fill,
        |         count(*) AS n_docs
        |  FROM c GROUP BY 1, 2
        |)
        |SELECT lang, count(*) AS n_bins,
        |  CAST(sum(fill) AS BIGINT) AS sum_tok,
        |  max(fill) AS max_fill, min(fill) AS min_fill,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(round(1e9 * CAST(CAST(sum(fill) AS BIGINT) AS DOUBLE) /
        |       CAST(count(*) * 2048 AS DOUBLE)) AS BIGINT) AS util_nano
        |FROM bins GROUP BY 1""".stripMargin),
    // ---- rendezvous (HRW) shard routing: argmax of 16 keyed
    // hashes — minimal-disruption resharding vs modulo; per-shard
    // population + id envelope as the balance check ----
    QuerySpec("q_rendezvous", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.ops.Sampling.rendezvousShard(col("doc_id"), k = 16).as("shard"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("shard"))
    },
      // the same 16 keyed md5 hashes; argmax = first position of the
      // list max, identical tie rule
      """WITH sh AS (
        |  SELECT doc_id,
        |    CAST(list_position(l, list_max(l)) - 1 AS INT) AS shard
        |  FROM (
        |    SELECT doc_id, list_transform(range(0, 16), s ->
        |      CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':', CAST(s AS VARCHAR))), 1, 15)) AS BIGINT)) AS l
        |    FROM documents)
        |)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- deterministic contrastive negatives: 3 corpus-uniform
    // partners per doc via dense ids + hash60 mod N (no rand(), no
    // global window; self-draws dropped, not re-drawn) ----
    QuerySpec("q_negatives", (s, dir) => {
      graft.ops.Negatives.sample(
          Tables.documents(s, dir).select(col("doc_id")), "doc_id", k = 3)
        .orderBy(col("anchor_id"), col("j"))
    },
      // dense ids are the plain row_number the operator avoids; the
      // draw is hash60('0:rid:j') mod N, replicated literally.
      s"""WITH ids AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rid
         |  FROM documents
         |), n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
         |drawn AS (
         |  SELECT i.doc_id AS anchor_id, t.j, i.rid,
         |    1 + (${duckHash60.format(
                  "concat('0:', CAST(i.rid AS VARCHAR), ':', CAST(t.j AS VARCHAR))")}
         |         % n.total) AS neg_rid
         |  FROM ids i CROSS JOIN n CROSS JOIN generate_series(1, 3) AS t(j)
         |)
         |SELECT d.anchor_id, CAST(d.j AS INT) AS j, i2.doc_id AS neg_id
         |FROM drawn d JOIN ids i2 ON i2.rid = d.neg_rid
         |WHERE d.neg_rid <> d.rid
         |ORDER BY anchor_id, j""".stripMargin),
    // ---- temperature-flattened (α=1/2) language mixture: smallest
    // lang kept whole, larger langs downsampled at sqrt(n_min/n) —
    // IEEE-exact cutoffs, so the oracle replicates them bit-for-bit ----
    QuerySpec("q_temp_mix", (s, dir) => {
      graft.ops.Mixture.byTemperatureSqrt(
          Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          "doc_id", "lang")
        .orderBy(col("doc_id"))
    },
      // division, sqrt, ×2^20, floor — each correctly rounded or exact
      // under IEEE-754, so both engines compute identical cutoffs.
      """WITH c AS (
        |  SELECT lang, count(*) AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY 1
        |), cut AS (
        |  SELECT lang,
        |    CASE WHEN n = min(n) OVER () THEN 1048576
        |         ELSE CAST(floor(1048576.0 *
        |           sqrt(CAST(min(n) OVER () AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT)
        |    END AS cutoff
        |  FROM c
        |)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN cut USING (lang)
        |WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 1048576 < cutoff
        |ORDER BY d.doc_id""".stripMargin),
    // ---- deterministic hash split (train/valid/test as a pure
    // function of doc_id — engine-reproducible md5 buckets) ----
    QuerySpec("q_hash_split", (s, dir) => {
      graft.ops.Sampling.assignSplit(Tables.documents(s, dir), "doc_id", 80, 10)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("split"), col("lang"))
    },
      // Same md5 bucket on both sides (graft_hash60 ≡ first 15 md5 hex
      // chars as a non-negative int), same cut-points.
      """WITH b AS (
        |  SELECT doc_id, lang,
        |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents
        |)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'valid'
        |            ELSE 'test' END AS split,
        |       lang, count(*) AS n_docs,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM b GROUP BY 1, 2""".stripMargin),
    // ---- sequence packing: deterministic context-window layout —
    // running token total per lang shard cut at a 2048-token budget ----
    QuerySpec("q_pack_budget", (s, dir) => {
      import graft.functions.{TextFunctions => TF}
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TF.bpeishTokenCount(col("text")).cast("long").as("n_tok"))
      graft.ops.Packing.packByBudget(docs, "doc_id", "n_tok", 2048, Seq("lang"))
        .orderBy(col("lang"), col("doc_id"))
    },
      // DuckDB sum(BIGINT) over a window is HUGEINT — cast back before
      // the integer div/mod so pandas doesn't degrade it to float64.
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, lang, n_tok,
        |         CAST(coalesce(sum(n_tok) OVER (
        |           PARTITION BY lang ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
        |  FROM d
        |)
        |SELECT doc_id, lang, n_tok,
        |       cumb // 2048 AS bin, cumb % 2048 AS bin_offset
        |FROM c""".stripMargin),
    // ---- stratified deterministic sampling: per-language keep
    // percentages (the deterministic sampleBy) ----
    QuerySpec("q_strat_sample", (s, dir) => {
      graft.ops.Sampling.stratifiedSampleByHash(
          Tables.documents(s, dir), "doc_id", "lang",
          Map("en" -> 30, "de" -> 100), defaultPct = 60)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("lang"))
    }, """WITH b AS (
        |  SELECT doc_id, lang,
        |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_docs,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM b
        |WHERE bucket < (CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 100 ELSE 60 END)
        |GROUP BY 1""".stripMargin),
    // ---- water-filling domain caps: per-language char budgets —
    // the level τ with Σ min(n_g, τ) = budget; tail languages kept
    // whole, heavy ones capped at τ (+1 remainder units in group
    // order). Exact integers end to end ----
    QuerySpec("q_water_fill", (s, dir) => {
      val counts = Tables.documents(s, dir)
        .groupBy(col("lang")).agg(sum(col("n_chars")).as("n_chars"))
      graft.ops.Mixture.waterFill(counts, "lang", "n_chars", budget = 140000L)
        .orderBy(col("lang"))
    },
      // Water-filling: the same segment walk over the size-sorted
      // group frame — row i's candidate tau = (B - prefix) // m lands
      // in its own segment [prev, n) for exactly one row (none iff the
      // budget exceeds the corpus); remainder +1s in group order.
      """WITH c AS (
        |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n FROM documents GROUP BY 1
        |), p AS (
        |  SELECT lang, n,
        |    CAST(row_number() OVER (ORDER BY n, lang) AS BIGINT) AS i,
        |    CAST(sum(n) OVER (ORDER BY n, lang ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(coalesce(lag(n) OVER (ORDER BY n, lang), 0) AS BIGINT) AS prev
        |  FROM c
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS g FROM c
        |), lvl AS (
        |  SELECT CAST((140000 - (cum - n)) // (t.g - i + 1) AS BIGINT) AS tau,
        |    CAST(140000 - (cum - n)
        |         - (t.g - i + 1) * ((140000 - (cum - n)) // (t.g - i + 1)) AS BIGINT) AS r
        |  FROM p, t
        |  WHERE (140000 - (cum - n)) // (t.g - i + 1) >= prev
        |    AND (140000 - (cum - n)) // (t.g - i + 1) < n
        |), ranked AS (
        |  SELECT c.lang, c.n, l.tau, l.r,
        |    row_number() OVER (PARTITION BY (c.n > l.tau) ORDER BY c.lang) AS caprank
        |  FROM c LEFT JOIN lvl l ON TRUE
        |)
        |SELECT lang, n AS n_chars,
        |  CAST(CASE WHEN tau IS NULL OR n <= tau THEN n
        |       ELSE tau + CASE WHEN caprank <= r THEN 1 ELSE 0 END END AS BIGINT) AS alloc
        |FROM ranked ORDER BY lang""".stripMargin),
    // ---- A-ES weighted sampling without replacement: exactly k
    // docs drawn with probability tracking n_chars; the selection
    // key ln(u)/w is deterministic hash arithmetic, so both engines
    // draw the same sample ----
    QuerySpec("q_weighted_sample", (s, dir) => {
      graft.ops.Sampling.weightedSampleK(
          Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 32)
        .orderBy(col("doc_id"))
    },
      // A-ES: u = (hash60('aes:'||key)+1)/2^60 (both bounds exact in
      // doubles), selection key ln(u)/w; ln's potential 1-ulp
      // divergence cannot flip the top-k here because distinct u's
      // differ at random magnitudes (verified empirically both SFs).
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    ln(((CAST(concat('0x', substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) >> 7) + 1)
        |       / CAST(9007199254740992 AS DOUBLE)) / CAST(n_chars AS DOUBLE) AS aes
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars > 0
        |)
        |SELECT doc_id, n_chars
        |FROM (SELECT * FROM d ORDER BY aes DESC, doc_id LIMIT 32)
        |ORDER BY doc_id""".stripMargin),
    // ---- domain-level leakage-safe split (the crawl practice:
    // train/valid/test boundaries at the HOST, not the document —
    // two pages of one site must never straddle a split). Pure
    // composition: Urls.host -> Sampling.assignSplit on the host
    // string, so split membership is a deterministic function of
    // the normalized host ----
    QuerySpec("q_domain_split", (s, dir) => {
      val tld = when(col("doc_id") % 2 === 0, lit("com")).otherwise(lit("org"))
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("HTTPS://WWW."), upper(col("source")), lit(".Example."), tld,
            lit(":443/docs/"), col("doc_id"), lit("?utm=x#frag")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("http://"), col("source"), lit(".example."), tld,
            lit(":80/d/"), col("doc_id"))).otherwise(
          concat(lit("https://cdn."), col("source"), lit(".example."), tld,
            lit("./media/"), col("doc_id"), lit("#x")))
      val withHost = Tables.documents(s, dir)
        .select(col("doc_id"), graft.ops.Urls.host(url).as("host"))
      graft.ops.Sampling.assignSplit(withHost, "host", 80, 10)
        .groupBy(col("split"), col("host"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("host"))
    },
      // Domain split: ground-truth host (as in q_domain_stats) pushed
      // through the md5 hash-bucket convention on the HOST string.
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 2 THEN 'cdn.' || source ELSE source END
        |      || '.example.' || CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END AS host
        |  FROM documents
        |), b AS (
        |  SELECT host,
        |    CAST(concat('0x', substr(md5(host), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM h
        |)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'valid'
        |            ELSE 'test' END AS split,
        |       host, CAST(count(*) AS BIGINT) AS n_docs
        |FROM b GROUP BY 1, 2
        |ORDER BY host""".stripMargin),
    // ---- deterministic per-group quota cap (corpus balancing):
    // at most 25 docs per lang, selected in md5-hash order ----
    QuerySpec("q_group_cap", (s, dir) => {
      graft.ops.Sampling.capPerGroup(
          Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          "doc_id", "lang", 25)
        .orderBy(col("lang"), col("sel_rank"))
    },
      // Same md5 hash order (hash, then doc_id tie-break), ranked
      // per lang, cut at the quota.
      s"""WITH r AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${duckHash60.format("CAST(doc_id AS VARCHAR)")}, doc_id) AS sel_rank
         |  FROM documents
         |)
         |SELECT doc_id, lang, CAST(sel_rank AS INT) AS sel_rank
         |FROM r WHERE sel_rank <= 25""".stripMargin),
    // ---- weighted corpus mixture: 50/25/25 over three sources,
    // sized by the binding source, md5-threshold membership ----
    QuerySpec("q_mix", (s, dir) => {
      graft.ops.Mixture.byWeights(
          Tables.documents(s, dir).select(col("doc_id"), col("source")),
          "doc_id", "source",
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
        .orderBy(col("doc_id"))
    },
      // Same binding-source arithmetic in DOUBLE on both sides (the
      // DECIMAL-literal trap: DuckDB's bare 0.5 is DECIMAL, whose
      // division differs from Spark's double — cast explicitly).
      """WITH c AS (
        |  SELECT source, count(*) AS n FROM documents
        |  WHERE source IN ('src0','src1','src2') GROUP BY 1
        |), w(source, wt) AS (
        |  VALUES ('src0', CAST(0.5 AS DOUBLE)),
        |         ('src1', CAST(0.25 AS DOUBLE)),
        |         ('src2', CAST(0.25 AS DOUBLE))
        |), s AS (
        |  SELECT c.source, c.n, w.wt,
        |         CAST(c.n AS DOUBLE) / w.wt AS ratio,
        |         min(CAST(c.n AS DOUBLE) / w.wt) OVER () AS scale
        |  FROM c JOIN w USING (source)
        |), cut AS (
        |  SELECT source,
        |         CASE WHEN scale = ratio THEN 1048576
        |              ELSE CAST(floor(1048576.0 * scale * wt / CAST(n AS DOUBLE)) AS BIGINT)
        |         END AS cutoff
        |  FROM s
        |)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN cut USING (source)
        |WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1048576 < cutoff""".stripMargin),
    // ---- reproducible global shuffle: the first 100 docs of epoch-7
    // training order (TakeOrderedAndProject — no total sort) ----
    QuerySpec("q_shuffle_order", (s, dir) => {
      graft.ops.Shuffle.withOrder(
          Tables.documents(s, dir).select(col("doc_id")), "doc_id", seed = 7L)
        .orderBy(col("shuffle_key"), col("doc_id"))
        .limit(100)
    },
      // hash60('7:' || doc_id) replicated literally; the top-100 set
      // and the key values must both match.
      s"""SELECT doc_id,
         |  ${duckHash60.format("concat('7:', CAST(doc_id AS VARCHAR))")} AS shuffle_key
         |FROM documents
         |ORDER BY shuffle_key, doc_id
         |LIMIT 100""".stripMargin),
    // ---- curation funnel: per-lang survivor counts through four
    // cumulative filter stages, ONE scan (conditional aggregation) ----
    QuerySpec("q_curation_funnel", (s, dir) => {
      import graft.functions.{TextFunctions => TF}
      graft.ops.Funnel.counts(
          Tables.documents(s, dir),
          Seq(
            "nonempty" -> (col("text").isNotNull && length(col("text")) > 0),
            "token_min" -> (size(TF.tokens(col("text"))) >= 30),
            "quality" -> (TF.qualityScore(col("text")) >= 0.7),
            "sampled" -> (graft.ops.Sampling.hashBucket(col("doc_id")) < 50)),
          groupCols = Seq("lang"))
        .orderBy(col("lang"))
    },
      // Cumulative conditional aggregation with the same stage
      // predicates; the quality expression is the q_text_stats mirror.
      {
      val quality = qualitySql
      val c1 = "(text IS NOT NULL AND length(text) > 0)"
      val c2 = s"$c1 AND len(string_split_regex(text, ' +')) >= 30"
      val c3 = s"$c2 AND ($quality) >= 0.7"
      val c4 = s"$c3 AND ${duckHash60.format("CAST(doc_id AS VARCHAR)")} % 100 < 50"
      s"""SELECT lang, count(*) AS n_raw,
         |  CAST(sum(CASE WHEN $c1 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonempty,
         |  CAST(sum(CASE WHEN $c2 THEN 1 ELSE 0 END) AS BIGINT) AS n_token_min,
         |  CAST(sum(CASE WHEN $c3 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(sum(CASE WHEN $c4 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
         |FROM documents GROUP BY lang""".stripMargin
    }),
    // ---- score-proportional sampling: survival probability equals
    // the doc's quality score, membership deterministic by key ----
    QuerySpec("q_score_sample", (s, dir) => {
      import graft.functions.{TextFunctions => TF}
      graft.ops.Sampling.sampleByScore(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("lang"), col("text"),
              TF.qualityScore(col("text")).as("q")),
          "doc_id", "q")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      // Same clamp/floor cut on the salted md5 bucket; the quality
      // double is bit-identical cross-engine (proven by q_text_stats).
      s"""WITH q AS (
         |  SELECT doc_id, lang, ($qualitySql) AS qv FROM documents
         |)
         |SELECT doc_id, lang FROM q
         |WHERE ${duckHash60.format("concat('score:', CAST(doc_id AS VARCHAR))")} % 1048576
         |      < CAST(floor(least(greatest(qv, 0.0), 1.0) * 1048576) AS BIGINT)""".stripMargin),
    // ---- weight-proportional repetition: quality-weighted
    // upsampling (each doc appears ~2·quality times per epoch) ----
    QuerySpec("q_repeat_weight", (s, dir) => {
      import graft.functions.{TextFunctions => TF}
      graft.ops.Sampling.repeatByWeight(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("text"),
              (TF.qualityScore(col("text")) * 2.0).as("w")),
          "doc_id", "w")
        .select(col("doc_id"), col("copy_idx"))
        .orderBy(col("doc_id"), col("copy_idx"))
    },
      // floor(w) copies + one more iff the salted bucket clears the
      // fractional cut; LATERAL generate_series mirrors the explode.
      s"""WITH w AS (
         |  SELECT doc_id, 2.0 * ($qualitySql) AS wv FROM documents
         |), n AS (
         |  SELECT doc_id,
         |    CAST(floor(wv) AS INT) +
         |    (CASE WHEN ${duckHash60.format("concat('repeat:', CAST(doc_id AS VARCHAR))")} % 1048576
         |               < CAST(floor((wv - floor(wv)) * 1048576) AS BIGINT) THEN 1 ELSE 0 END) AS n
         |  FROM w
         |)
         |SELECT n.doc_id, CAST(g.i AS INT) AS copy_idx
         |FROM n, LATERAL (SELECT unnest(generate_series(0, n.n - 1)) AS i) g
         |WHERE n.n > 0""".stripMargin))
}
