package graft
package queries

import org.apache.spark.sql.functions._
import Common._

/** Registered queries for exact, near-duplicate and substring dedup,
  * duplicate clustering and contamination audits. */
private[graft] object DedupQueries {
  private val exactJaccardSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-2),
      |    i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2])) AS shingles
      |  FROM tok
      |), ex AS (
      |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
      |)
      |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common,
      |  count(*)*1.0/(any_value(a.n) + any_value(b.n) - count(*)) AS jaccard
      |FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      |GROUP BY 1,2
      |HAVING count(*)*1.0/(any_value(a.n) + any_value(b.n) - count(*)) >= 0.8""".stripMargin

  // The ONE transitive closure over the exact-Jaccard pair set
  // (shingle -> pairs -> edges -> reach); min reachable id per node
  // = the component label Spark's min-label propagation converges
  // to. Shared verbatim by the three cluster-consuming oracles so a
  // threshold/shingling tweak can never desynchronize them.
  private val closurePrefix =
    """WITH RECURSIVE tok AS (
      |  SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-2),
      |    i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2])) AS shingles
      |  FROM tok
      |), ex AS (
      |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
      |), pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1,2
      |  HAVING count(*)*1.0/(any_value(a.n) + any_value(b.n) - count(*)) >= 0.8
      |), edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM pairs
      |  UNION SELECT d2 AS src, d1 AS dst FROM pairs
      |), reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst
      |)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---- duplication-aware training weights: dedup by DOWNWEIGHTING
    // instead of dropping — each doc's sampling weight is 1/|its
    // near-dup cluster| (unclustered docs weigh 1), so a 10-clone
    // boilerplate family contributes ONE doc's worth of gradient
    // while unique text is untouched. Reuses the shared clustered-
    // shingle cache; one size aggregate + two narrow left joins on
    // top of the components frame — nothing new shuffles ----
    QuerySpec("q_dedup_weights", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = graft.operators.NearDup.documentClusters(s, dir)
        .select(col("doc_id"), col("cluster_id"))
      val sizes = clusters.groupBy(col("cluster_id")).agg(count(lit(1)).as("__n"))
      docs.select(col("doc_id"), col("lang"))
        .join(clusters, Seq("doc_id"), "left")
        .join(sizes, Seq("cluster_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("__n"), lit(1L)).as("n_members"),
          // `div`, not `/`: Column./ is always DOUBLE division; div is
          // the truncating integer form that mirrors DuckDB's `//`
          expr("1000000000L div coalesce(__n, 1L)").as("weight_nano"))
        .orderBy(col("doc_id"))
    },
      // Same closure, then cluster sizes become per-doc sampling
      // weights (1e9 // size; unclustered docs weigh 1e9) — the
      // round-9 dedup-by-downweighting audit.
      s"""$closurePrefix, clusters AS (
        |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
        |), sizes AS (
        |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n FROM clusters GROUP BY 1
        |)
        |SELECT d.doc_id, d.lang,
        |  CAST(coalesce(s.n, 1) AS BIGINT) AS n_members,
        |  CAST(1000000000 // coalesce(s.n, 1) AS BIGINT) AS weight_nano
        |FROM documents d
        |LEFT JOIN clusters c USING (doc_id)
        |LEFT JOIN sizes s USING (cluster_id)""".stripMargin, shares = Set(QuerySpec.NearDup)),
    // ---- ER survivorship: the near-dup clusters of
    // q_dup_components re-resolved to QUALITY-best golden records
    // (longest text, ties to smallest id) instead of id-min ----
    QuerySpec("q_survivorship", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = graft.operators.NearDup.documentClusters(s, dir)
      graft.operators.Components.survivors(clusters, docs, "doc_id", "text")
        .orderBy(col("cluster_id"))
    },
      // Same closure, then the survivorship pick: quality-best member
      // (longest text, ties to smallest id) per cluster instead of the
      // id-min canonical.
      s"""$closurePrefix, clusters AS (
        |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
        |), scored AS (
        |  SELECT c.cluster_id, c.doc_id, CAST(coalesce(len(d.text), 0) AS BIGINT) AS tlen
        |  FROM clusters c JOIN documents d USING (doc_id)
        |), ranked AS (
        |  SELECT cluster_id, doc_id, tlen,
        |    row_number() OVER (PARTITION BY cluster_id ORDER BY tlen DESC, doc_id ASC) AS rn,
        |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
        |  FROM scored
        |)
        |SELECT cluster_id, n_members, doc_id AS survivor_id, tlen AS survivor_len
        |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin, shares = Set(QuerySpec.NearDup)),
    // ---- SimHash banded Hamming pairs (fully oracle-mirrored) ----
    QuerySpec("q_simhash_pairs", (s, dir) => {
      graft.operators.SimHash.hammingPairs(
        graft.operators.SimHash.fingerprints(Tables.documents(s, dir), "text"), maxDist = 3)
        .select(col("d1"), col("d2"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("d1"), col("d2"))
    }, s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct(string_split_regex(text, ' +'))) AS t FROM documents
         |), h AS (
         |  SELECT doc_id, ${duckHash60.format("t")} AS hv FROM tok
         |), bits AS (
         |  SELECT doc_id, i, sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h, (SELECT unnest(generate_series(0, 59)) AS i)
         |  GROUP BY 1,2
         |), sims AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY 1
         |), banded AS (
         |  SELECT doc_id, simhash, b, (simhash >> (b*15)) & 32767 AS bucket
         |  FROM sims, (SELECT unnest(generate_series(0, 3)) AS b)
         |)
         |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM banded a JOIN banded b ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),
    // ---- URL-key exact dedup (the most common exact-dup source in
    // crawl data: spelling variants of one URL). Pairs of doc_ids
    // get the SAME page in different spellings — scheme, case, www,
    // default port, fragment — and canonicalKey must collapse each
    // pair to its min-doc_id survivor. The oracle constructs the
    // ground-truth key arithmetically, verifying the whole
    // host+path normalization chain, not replicating it ----
    QuerySpec("q_url_dedup", (s, dir) => {
      val page = floor(col("doc_id") / 2) // two spellings per page
      val site = concat(lit("site"), pmod(page, lit(10)))
      val tld = when(page % 2 === 0, lit("com")).otherwise(lit("org"))
      val url = when(col("doc_id") % 2 === 0,
          concat(lit("HTTP://WWW."), upper(site), lit(".Example."), tld,
            lit("/p/"), page, lit("?v=1#top")))
        .otherwise(
          concat(lit("https://"), site, lit(".example."), tld,
            lit(":443/p/"), page, lit("?v=1")))
      val keyed = Tables.documents(s, dir)
        .select(col("doc_id"), graft.ops.Urls.canonicalKey(url).as("url_key"))
      keyed.groupBy(col("url_key"))
        .agg(min(col("doc_id")).as("keep_doc"), count(lit(1)).as("n_variants"))
        .orderBy(col("url_key"))
    },
      // URL dedup: ground-truth canonical key built arithmetically —
      // host (lowered, www/port/fragment-stripped) + path + query.
      """WITH k AS (
        |  SELECT doc_id,
        |    'site' || CAST((doc_id // 2) % 10 AS VARCHAR) || '.example.'
        |      || CASE WHEN (doc_id // 2) % 2 = 0 THEN 'com' ELSE 'org' END
        |      || '/p/' || CAST(doc_id // 2 AS VARCHAR) || '?v=1' AS url_key
        |  FROM documents
        |)
        |SELECT url_key, min(doc_id) AS keep_doc,
        |  CAST(count(*) AS BIGINT) AS n_variants
        |FROM k GROUP BY url_key
        |ORDER BY url_key""".stripMargin),
    // ---- near-dup clusters: pair graph → connected components →
    // canonical representative (the dedup pipeline's final step;
    // components run in representative space — one node per distinct
    // shingle set — and members inherit their rep's label) ----
    // the clustering itself is memoized (NearDup.documentClusters,
    // the labelsBipartite pattern): five queries consume it, the
    // loop cost lands once in Bench's warmup_detail.neardup
    QuerySpec("q_dup_components", (s, dir) =>
      graft.operators.NearDup.documentClusters(s, dir).orderBy(col("doc_id")),
      s"""$closurePrefix
        |SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS is_canonical
        |FROM reach GROUP BY 1""".stripMargin, shares = Set(QuerySpec.NearDup)),
    // ---- the COMPLETE dedup pipeline as one query: near-dup
    // clusters (subsumes exact dups at jaccard 1) → drop every
    // non-canonical member → surviving-corpus stats per lang ----
    QuerySpec("q_dedup_pipeline", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val losers = graft.operators.NearDup.documentClusters(s, dir)
        .where(!col("is_canonical")).select(col("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"),
          sum(col("n_chars").cast("long")).as("sum_chars"))
        .orderBy(col("lang"))
    },
      // Same closure, then anti-join the non-canonical members away and
      // aggregate the survivors.
      s"""$closurePrefix, losers AS (
        |  SELECT id FROM reach GROUP BY id HAVING id <> min(r)
        |)
        |SELECT d.lang, count(*) AS n_docs, min(d.doc_id) AS min_doc,
        |       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
        |FROM documents d LEFT JOIN losers l ON d.doc_id = l.id
        |WHERE l.id IS NULL
        |GROUP BY 1""".stripMargin, shares = Set(QuerySpec.NearDup)),
    // ---- exact dedup by content hash (double-ingest simulation —
    // the distributed form of the reference's at-least-once dedup ST7) ----
    QuerySpec("q_dedup_exact", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"), col("lang"))
      val reingested = d.unionByName(d.withColumn("doc_id", col("doc_id") + 100000))
      graft.operators.ExactDedup.keepCanonical(reingested, "text", "doc_id")
        .select(col("content_hash"), col("dup_count"), col("doc_id"), col("lang"))
        .orderBy(col("content_hash"))
    }, """WITH u AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text, lang FROM documents
        |)
        |SELECT md5(text) AS content_hash, count(*) AS dup_count,
        |  min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang
        |FROM u GROUP BY 1""".stripMargin, shares = Set(QuerySpec.NearDup)),
    // ---- exact n-gram Jaccard near-dup pairs (inverted index) ----
    QuerySpec("q_ngram_jaccard", (s, dir) => {
      graft.operators.NearDup.jaccardPairs(Tables.documents(s, dir), "text", 3, 0.8)
        .orderBy(col("d1"), col("d2"))
    }, exactJaccardSql, shares = Set(QuerySpec.NearDup)),
    // ---- MinHash + LSH banding, exact-verified (the 100 TB path;
    // recall at j>=0.8 is 1-2e-8 so the exact-Jaccard oracle holds) ----
    QuerySpec("q_minhash_lsh", (s, dir) => {
      graft.operators.NearDup.minhashNearDupPairs(Tables.documents(s, dir), "text", 3, 0.8)
        .orderBy(col("d1"), col("d2"))
    }, exactJaccardSql, shares = Set(QuerySpec.NearDup)),
    // ---- SimHash fingerprints (md5-derived 60-bit, engine-reproducible) ----
    QuerySpec("q_simhash", (s, dir) => {
      graft.operators.SimHash.fingerprints(Tables.documents(s, dir), "text")
        .orderBy(col("doc_id"))
    }, s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct(string_split_regex(text, ' +'))) AS t FROM documents
         |), h AS (
         |  SELECT doc_id, ${duckHash60.format("t")} AS hv FROM tok
         |), bits AS (
         |  SELECT doc_id, i,
         |    sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h, (SELECT unnest(generate_series(0, 59)) AS i)
         |  GROUP BY 1,2
         |)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY 1""".stripMargin),
    // ---- incremental near-dup: a new batch (doc_id ≡ 0 mod 20)
    // probed against the rest of the corpus through the band-table /
    // shingle-store index shape (persistence itself is spec'd in
    // IncrementalSpec; the query runs the same frames in-memory) ----
    QuerySpec("q_incr_neardup", (s, dir) => {
      import graft.operators.{Incremental, NearDup}
      val docs = Tables.documents(s, dir)
      val newSh = NearDup.shingled(docs.where(pmod(col("doc_id"), lit(20L)) === 0), "text", 3)
      val oldSh = NearDup.shingled(docs.where(pmod(col("doc_id"), lit(20L)) =!= 0), "text", 3)
      Incremental.nearDupsAgainstFrom(newSh, NearDup.bandTable(oldSh), oldSh, 0.8)
        .orderBy(col("new_id"), col("old_id"))
    },
      // cross-batch exact Jaccard (new = doc_id ≡ 0 mod 20 vs the rest):
      // the q_incr_neardup contract, same shingle/threshold conventions
      // as exactJaccardSql below
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-2),
        |    i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2])) AS shingles
        |  FROM tok
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
        |)
        |SELECT a.doc_id AS new_id, b.doc_id AS old_id, CAST(count(*) AS INT) AS common,
        |  count(*)*1.0/(any_value(a.n) + any_value(b.n) - count(*)) AS jaccard
        |FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id % 20 = 0 AND b.doc_id % 20 <> 0
        |GROUP BY 1,2
        |HAVING count(*)*1.0/(any_value(a.n) + any_value(b.n) - count(*)) >= 0.8""".stripMargin),
    // ---- train/eval contamination: n-gram containment of a held-out
    // split (doc_id ≡ 0 mod 50) against the rest of the corpus ----
    QuerySpec("q_contamination", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Contamination.evalContamination(
          docs.where(pmod(col("doc_id"), lit(50L)) =!= 0),
          docs.where(pmod(col("doc_id"), lit(50L)) === 0),
          "text", 3, 0.8)
        .orderBy(col("doc_id"))
    }, """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-2),
        |    i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2])) AS shingles
        |  FROM tok
        |), train AS (
        |  SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 50 <> 0
        |), ev AS (
        |  SELECT doc_id, len(shingles) AS n_sh, shingles FROM sh WHERE doc_id % 50 = 0
        |), hits AS (
        |  SELECT e.doc_id, count(*) AS n_cont
        |  FROM (SELECT doc_id, unnest(shingles) AS s FROM ev) e
        |  JOIN train t ON e.s = t.s
        |  GROUP BY 1
        |)
        |SELECT ev.doc_id, CAST(ev.n_sh AS INT) AS n_shingles,
        |  CAST(coalesce(h.n_cont, 0) AS BIGINT) AS n_contaminated,
        |  CASE WHEN ev.n_sh > 0 THEN coalesce(h.n_cont, 0) * 1.0 / ev.n_sh ELSE 0.0 END AS containment,
        |  (CASE WHEN ev.n_sh > 0 THEN coalesce(h.n_cont, 0) * 1.0 / ev.n_sh ELSE 0.0 END) >= 0.8 AS is_contaminated
        |FROM ev LEFT JOIN hits h ON ev.doc_id = h.doc_id""".stripMargin),
    // ---- contamination ATTRIBUTION: top-3 training sources per
    // eval doc with >= 3 shared shingles (the decontamination list) ----
    QuerySpec("q_contam_sources", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Contamination.contaminationSources(
          docs.where(pmod(col("doc_id"), lit(50L)) =!= 0),
          docs.where(pmod(col("doc_id"), lit(50L)) === 0),
          "text", 3, minCommon = 3L, k = 3)
        .orderBy(col("eval_id"), col("rnk"))
    },
      // Same shingling and 1-in-50 split; train-side df cap mirrored
      // (a no-op at this scale, but the formula must match), then
      // per-pair counts, min-common filter, top-3 window.
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-2),
        |    i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2])) AS shingles
        |  FROM tok
        |), tr AS (
        |  SELECT doc_id AS train_id, unnest(shingles) AS s FROM sh WHERE doc_id % 50 <> 0
        |), trc AS (
        |  SELECT train_id, s FROM (
        |    SELECT train_id, s, count(*) OVER (PARTITION BY s) AS df FROM tr
        |  ) WHERE df <= 1000000
        |), ev AS (
        |  SELECT doc_id AS eval_id, unnest(shingles) AS s FROM sh WHERE doc_id % 50 = 0
        |), pairs AS (
        |  SELECT ev.eval_id, trc.train_id, count(*) AS n_common
        |  FROM ev JOIN trc ON ev.s = trc.s
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 3
        |)
        |SELECT eval_id, train_id, CAST(n_common AS BIGINT) AS n_common, CAST(rnk AS INT) AS rnk
        |FROM (
        |  SELECT eval_id, train_id, n_common,
        |    row_number() OVER (PARTITION BY eval_id ORDER BY n_common DESC, train_id) AS rnk
        |  FROM pairs
        |)
        |WHERE rnk <= 3""".stripMargin),
    // ---- rolling-hash document fingerprint (order-sensitive) ----
    QuerySpec("q_fingerprint", (s, dir) => {
      import graft.functions.{TextFunctions => TF}
      Tables.documents(s, dir)
        .select(col("doc_id"), TF.rollingFingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }, s"""SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split_regex(text, ' +'),
         |        t -> ${duckHash60.format("t")} % 1000000007)),
         |    (a, b) -> (a*31 + b) % 1000000007) AS fp
         |FROM documents""".stripMargin),
    // ---- leakage-safe split: near-dup clusters are split ATOMS —
    // hash cut-points applied to the cluster label, not the doc ----
    QuerySpec("q_leak_split", (s, dir) => {
      graft.operators.Splits.leakageSafeSplitFrom(
          graft.operators.NearDup.documentClusters(s, dir),
          Tables.documents(s, dir), 80, 10)
        .orderBy(col("doc_id"))
    },
      // Same closure, but the component label becomes the SPLIT KEY:
      // md5 cut-points on coalesce(cluster, doc_id) — the whole cluster
      // moves as one atom.
      s"""$closurePrefix, clusters AS (
        |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
        |), keyed AS (
        |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS group_key
        |  FROM documents d LEFT JOIN clusters c USING (doc_id)
        |)
        |SELECT doc_id, group_key,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, group_key,
        |    CAST(concat('0x', substr(md5(CAST(group_key AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM keyed
        |)""".stripMargin, shares = Set(QuerySpec.NearDup)),
    // ---- exact repeated-substring removal (Lee et al. 2021): every
    // duplicated 3-gram keeps its first occurrence, all other
    // occurrences' tokens are masked out ----
    QuerySpec("q_substring_dedup", (s, dir) => {
      graft.operators.SubstringDedup.removeRepeatedNgrams(
          Tables.documents(s, dir).select(col("doc_id"), col("text")), "text", 3)
        .orderBy(col("doc_id"))
    },
      // Mirrors SubstringDedup.removeRepeatedNgrams(n=3): same hash60
      // gram identity, same (doc_id, pos) first-occurrence rule
      // (row_number rn=1 ⇔ Spark's min(struct)), same mask union and
      // single-space reassembly. Token-less docs ride the tok spine.
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    coalesce(list_filter(string_split_regex(text, ' +'), x -> len(x) > 0),
         |             CAST([] AS VARCHAR[])) AS toks
         |  FROM documents
         |), occ AS (
         |  SELECT doc_id, i - 1 AS pos,
         |    ${duckHash60.format("toks[i] || '_' || toks[i+1] || '_' || toks[i+2]")} AS h
         |  FROM tok, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
         |), ranked AS (
         |  SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
         |  FROM occ
         |), cov AS (
         |  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 2)) AS idx
         |  FROM ranked WHERE rn >= 2
         |), pos AS (
         |  SELECT doc_id, i - 1 AS idx, toks[i] AS token
         |  FROM tok, unnest(generate_series(1, len(toks))) AS u(i)
         |), kept AS (
         |  SELECT p.doc_id,
         |    string_agg(p.token, ' ' ORDER BY p.idx) AS text_clean,
         |    count(*) AS n_kept
         |  FROM pos p LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.idx = p.idx
         |  WHERE c.idx IS NULL
         |  GROUP BY 1
         |)
         |SELECT t.doc_id,
         |  coalesce(k.text_clean, '') AS text_clean,
         |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  CAST(len(t.toks) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
         |FROM tok t LEFT JOIN kept k USING (doc_id)""".stripMargin, shares = Set(QuerySpec.NearDup)))
}
