package graft

import org.apache.spark.sql.functions._

/** End-to-end curation pipeline: the composition proof that a user
  * can run the whole training-data pass with this library alone —
  * boilerplate strip → quality funnel audit → filter → leakage-safe
  * split → train slice → chunk → pack — with
  * row-conservation and invariant checks at every stage boundary.
  */
class TrainingPipelineSpec extends SparkSpec {
  import spark.implicits._

  // 60 docs over a tiny vocab: every doc carries the "cookie banner"
  // prefix (boilerplate), two near-dup families, some short rejects
  private def corpus = {
    val banner = "accept all cookies"
    val family = (0 until 4).map(i => (100L + i, s"$banner alpha beta gamma delta epsilon zeta eta theta"))
    val family2 = (0 until 3).map(i => (200L + i, s"$banner one two three four five six seven eight nine"))
    val shorts = (300L until 310L).map(i => (i, s"$banner tiny"))
    val uniques = (0L until 43L).map(i =>
      (i, s"$banner doc $i body word${i % 7} word${i % 11} filler${i} extra${i} more${i} tail${i}"))
    (family ++ family2 ++ shorts ++ uniques).toDF("doc_id", "text")
  }

  test("the full curation pipeline composes with conservation at every stage") {
    val n0 = corpus.count()

    // 1. boilerplate strip: the banner tokens are in 100% of docs
    val clean = graft.ops.Boilerplate.removeFrequentUnits(corpus, "text", " ", 900)
    assert(clean.count() == n0, "boilerplate removal must not drop rows")
    assert(clean.where($"text".contains("cookies")).isEmpty, "banner survived")

    // 2. funnel audit over the cleaned corpus (single scan)
    val funnel = graft.ops.Funnel.counts(clean,
      Seq("nonempty" -> (length($"text") > 0),
        "long_enough" -> (size(split($"text", " +")) >= 5)))
      .as[(Long, Long, Long)].head()
    assert(funnel._1 == n0)
    assert(funnel._2 == n0, "nothing became empty here")
    assert(funnel._3 == n0 - 10, s"the 10 shorts fail the length stage: $funnel")

    // 3. apply the audited filter, split leakage-safely on the RAW
    // text (near-dup families must move atomically)
    val kept = clean.where(size(split($"text", " +")) >= 5)
    val keptDocs = kept.select($"doc_id", $"text")
    val splits = graft.operators.Splits.leakageSafeSplitFrom(
      graft.operators.NearDup.minhashDuplicateClusters(keptDocs, "text", 3, 0.8), keptDocs)
    assert(splits.count() == kept.count(), "every kept doc gets a split")
    for (base <- Seq(100L, 200L)) {
      val fam = splits.where($"group_key" === base)
      assert(fam.select($"split").distinct().count() == 1, s"family $base straddles splits")
    }

    // 4. train slice → chunk → pack into 16-token bins per split shard
    val train = kept.join(splits.where($"split" === "train").select($"doc_id"), Seq("doc_id"))
    val chunks = graft.ops.Chunking.chunkByTokens(train, "text", "doc_id", 8, 2)
    // chunk coverage: token mass is conserved up to overlap
    val chunkToks = chunks.agg(sum(size(split($"chunk_text", " +")))).as[Long].head()
    val trainToks = train.agg(sum(size(split($"text", " +")))).as[Long].head()
    assert(chunkToks >= trainToks, "chunks must cover every token at least once")
    val packed = graft.ops.Packing.packByBudget(
      chunks.select(concat($"doc_id" * 1000, $"chunk_idx").cast("long").as("cid"),
        size(split($"chunk_text", " +")).cast("long").as("w"),
        pmod($"doc_id", lit(2)).as("shard")),
      "cid", "w", 16L, Seq("shard"))
    assert(packed.count() == chunks.count(), "packing assigns every chunk")
    // concat-and-chunk semantics: every item STARTS inside its bin's
    // budget (straddling the end is allowed and carried by bin_offset),
    // and bins are dense 0..k within each shard
    assert(packed.where($"bin_offset" >= 16L).isEmpty, "an item started past the budget")
    val binsPerShard = packed.groupBy($"shard").agg(
      max($"bin").as("mx"), countDistinct($"bin").as("nd")).collect()
    binsPerShard.foreach(r =>
      assert(r.getAs[Long]("mx") == r.getAs[Long]("nd") - 1, s"bins not dense: $r"))
  }

  test("round-4 additions compose: expectations gate -> gopher filter -> exact dedup -> BPE token budget") {
    val n0 = corpus.count()

    // 0. input audit: the expectations battery gates the run
    val audit = graft.ops.Expectations.report(corpus,
      Seq("doc_nonnull" -> $"doc_id".isNotNull, "text_nonempty" -> (length($"text") > 0)),
      Seq("doc_unique" -> Seq("doc_id")))
    assert(audit.where(!$"passed").isEmpty, "input corpus fails its expectations")

    // 1. quality gate: the Gopher battery with fixture-tuned knobs —
    // every doc carries the banner stop words; only the 10 shorts
    // fail the word-count rule
    val rules = graft.ops.Gopher.qualityRules(corpus, "text",
      minWords = 5, stops = Seq("accept", "all"))
    val quality = corpus.join(rules.where($"pass").select($"doc_id"), Seq("doc_id"))
    assert(quality.count() == n0 - 10, "exactly the shorts fail the battery")

    // 2. exact dedup: both near-dup families are byte-identical here,
    // so hash dedup collapses each to one canonical survivor
    val deduped = graft.operators.ExactDedup.keepCanonical(quality, "text", "doc_id")
    assert(deduped.count() == quality.count() - 3 - 2,
      "4-dup and 3-dup families collapse to one doc each")

    // 3. tokenizer-aware budget: train BPE on the surviving corpus's
    // dict, count exact tokens with the native expression, pack
    val dict = graft.ops.Bpe.wordFreqs(deduped, "text")
      .as[(String, Long)].collect().toSeq
    val merges = BpeTraining.train(dict, 20)
    val weighted = deduped.select($"doc_id",
      graft.ops.Bpe.bpeTokenCount($"text", merges).as("w"),
      pmod($"doc_id", lit(2)).as("shard"))
    assert(weighted.where($"w" <= 0L).isEmpty, "every surviving doc has tokens")
    // merges compress: token count under 20 merges is strictly below
    // the zero-merge symbol count for the repeated-vocab fixture
    val w0 = deduped.select(graft.ops.Bpe.bpeTokenCount($"text", Seq.empty).as("w"))
      .agg(sum($"w")).as[Long].head()
    val wM = weighted.agg(sum($"w")).as[Long].head()
    assert(wM < w0, s"trained merges must compress: $wM vs $w0")
    val packed = graft.ops.Packing.packByBudget(
      weighted, "doc_id", "w", 64L, Seq("shard"))
    assert(packed.count() == weighted.count(), "packing assigns every doc")
  }
}
