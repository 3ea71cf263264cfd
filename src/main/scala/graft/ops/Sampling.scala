package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-reproducible sampling and train/valid/test
  * splitting for training-data pipelines.
  *
  * Random sampling (`df.sample`, `rand()`) is useless for a corpus
  * that is re-processed incrementally: membership must be a PURE
  * FUNCTION of the row key so that (a) re-runs and backfills land
  * every document in the same split, (b) two engines (or two teams)
  * agree on the split without sharing state, and (c) adding documents
  * never reshuffles existing assignments. The standard trick: hash
  * the key, take a bucket in [0, 100), compare against percentage
  * cut-points.
  *
  * The hash is the library's md5-based `graft_hash60` (native codegen
  * expression, `plans.Hash60`) — cross-engine reproducible (DuckDB:
  * `CAST(concat('0x', substr(md5(k),1,15)) AS BIGINT)`), uniform, and
  * stable across Spark versions, unlike `hash()`/`xxhash64` whose
  * seeds/variants are engine-private. Scale shape: a narrow
  * projection, no shuffle, no state — filters by bucket push down to
  * a partition-local scan.
  */
object Sampling {

  /** Uniform bucket in [0, buckets) as a pure function of `key`
    * (cast to its canonical string form first). A NULL key yields a
    * NULL bucket: null-keyed rows fail every `bucket < pct` filter
    * (dropped by samples) and fall to `assignSplit`'s otherwise-
    * branch ("test") — identically in the DuckDB mirror, since both
    * engines propagate NULL through comparison and CASE.
    *
    * The key must cast to the SAME canonical string in every engine,
    * which holds for integral and string keys only — double and
    * timestamp render differently between Spark and DuckDB, silently
    * desynchronizing the "same split everywhere" guarantee. The
    * DataFrame-level entry points enforce that; callers handing a
    * bare Column here keep that obligation themselves. */
  def hashBucket(key: Column, buckets: Int = 100): Column = {
    require(buckets > 0, "buckets must be positive")
    pmod(graft.plans.Hash60.hash60(key.cast("string")), lit(buckets.toLong))
  }

  /** Rendezvous (highest-random-weight) shard assignment (Thaler &
    * Ravishankar 1998): shard = argmax over s of hash(key ":" s) —
    * the routing hash with MINIMAL-DISRUPTION resharding, unlike
    * `hashBucket`'s modulo: removing one shard moves ONLY that
    * shard's keys (their argmax falls to their second-highest),
    * while `pmod(h, k±1)` reshuffles nearly everything. Use it to
    * pin documents/users to processing shards that must survive
    * cluster resizes. Pure per-row expression, k hashes inside one
    * codegen span; same portable-key contract as [[hashBucket]].
    * Ties (2⁻⁶⁰ likely) break to the FIRST max position — the same
    * rule in both engines. */
  def rendezvousShard(key: Column, k: Int): Column = {
    require(k >= 1, s"rendezvousShard: k must be >= 1, got $k")
    val hashes = array((0 until k).map(s =>
      graft.plans.Hash60.hash60(concat(key.cast("string"), lit(s":$s")))): _*)
    (array_position(hashes, array_max(hashes)) - 1).cast("int")
  }

  /** Cross-engine-reproducible key types: integral or string. */
  private[ops] def requirePortableKey(df: DataFrame, key: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(key).dataType
    val portable = dt match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    }
    require(portable,
      s"sampling key '$key' is $dt; only integral/string keys have one " +
        "canonical string form across engines (cast explicitly first)")
  }

  /** Stratified deterministic sampling: a different keep-percentage
    * per stratum (e.g. downsample boilerplate-heavy languages, keep
    * all of a rare one) — the deterministic form of `df.sampleBy`.
    * Strata missing from `pcts` fall back to `defaultPct`. Membership
    * stays a pure function of (key, stratum percentages), so re-runs
    * and corpus growth never reshuffle kept rows. */
  def stratifiedSampleByHash(df: DataFrame, key: String, strataCol: String,
                             pcts: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    requirePortableKey(df, key)
    val pctCol = pcts.foldLeft(lit(defaultPct)) { case (acc, (stratum, pct)) =>
      when(col(strataCol) === stratum, lit(pct)).otherwise(acc)
    }
    df.where(hashBucket(col(key)) < pctCol)
  }

  /** Assign train/valid/test by hash cut-points: [0, trainPct) →
    * train, [trainPct, trainPct+validPct) → valid, rest → test.
    * Partitions are disjoint and exhaustive by construction. */
  def assignSplit(df: DataFrame, key: String,
                  trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    require(trainPct >= 0 && validPct >= 0 && trainPct + validPct <= 100,
      "cut-points must fit in [0, 100]")
    requirePortableKey(df, key)
    val b = hashBucket(col(key))
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + validPct, "valid")
        .otherwise("test"))
  }

  /** Score-proportional sampling: keep each row with probability
    * equal to `scoreCol` (clamped to [0, 1]), deterministically —
    * soft quality filtering, where a 0.9-quality doc survives 90% of
    * the time and a 0.2 doc 20%, but WHICH docs survive is a pure
    * function of the key (re-runs and engines agree; no rand()).
    * Keep iff hashBucket(salt:key) < floor(score · 2²⁰): the score
    * and the product are computed identically by both engines (IEEE
    * doubles), so the floor cut is exact. The `salt` decorrelates
    * this decision from the other md5-bucket ops on the same key
    * (split membership, mixture draw) — unsalted, the same low-bucket
    * rows would win every probabilistic decision at once. Narrow
    * filter — no shuffle. */
  def sampleByScore(df: DataFrame, key: String, scoreCol: String,
                    salt: String = "score"): DataFrame = {
    requirePortableKey(df, key)
    val b = 1 << 20
    val clamped = least(greatest(col(scoreCol).cast("double"), lit(0.0)), lit(1.0))
    df.where(hashBucket(concat_ws(":", lit(salt), col(key).cast("string")), b)
      < floor(clamped * b).cast("long"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * A-ES, 2006): draw u = uniform(hash(salt:key)) per row and keep
    * the top `k` rows by u^(1/w) — inclusion probability tracks the
    * weight, exactly k rows come back, and (unlike `sampleByScore`'s
    * Bernoulli keep) the sample size is fixed, the property training
    * mixtures and eval-set draws usually need.
    *
    * Deterministic: u derives from hash60 (engine-reproducible md5
    * arithmetic, the `hashBucket` family), and the selection key is
    * ln(u)/w — the same ORDER as u^(1/w) (ln is monotone, u ∈ (0,1]
    * so ln(u) ≤ 0, w > 0) without the pow() call. Rows with NULL or
    * non-positive weight are never sampled (a weight of zero means
    * "never draw me"; raising instead would make one bad row kill
    * the job — the `repeatByWeight` negative-weight convention).
    *
    * Scale shape: a narrow projection plus ONE global top-k
    * (TakeOrderedAndProject — no total sort, no shuffle of losers);
    * at any corpus size the driver sees k rows. */
  def weightedSampleK(df: DataFrame, key: String, weightCol: String, k: Int,
                      salt: String = "aes"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    requirePortableKey(df, key)
    val h = graft.plans.Hash60.hash60(
      concat_ws(":", lit(salt), col(key).cast("string")))
    // u in (0, 1] from the TOP 53 bits of the hash: (h >> 7) + 1 spans
    // 53 bits, so every u value is exactly representable in a double —
    // no two distinct shifted hashes collapse to the same u. (Using all
    // 60 bits would silently merge ~2^7 adjacent hash values per double
    // near the top of the range, a systematic tie broken toward smaller
    // keys.) The oracle performs the identical >>7 conversion in SQL.
    val u = (shiftright(h, 7) + lit(1L)).cast("double") / lit(math.pow(2.0, 53))
    val w = col(weightCol).cast("double")
    // NaN guard is load-bearing: Spark orders NaN ABOVE every number,
    // so `NaN > 0` passes and a NaN selection key would win the draw
    df.where(col(weightCol).isNotNull && !isnan(w) && w > 0)
      .withColumn("__aes", log(u) / w)
      .orderBy(col("__aes").desc, col(key))
      .limit(k)
      .drop("__aes")
  }

  /** Weight-proportional repetition: emit each row `floor(w)` times
    * plus one more with probability `frac(w)` — the deterministic
    * form of quality-weighted upsampling ("see high-quality docs ~w
    * times per epoch"). Copies carry `copy_idx` (0-based) so
    * downstream shuffling can interleave them. `maxRepeat` bounds the
    * blow-up (a mis-scaled weight column multiplying the corpus by
    * 1000 should fail loudly, not OOM the shuffle): weights above it
    * raise an error at execution time. Negative weights emit nothing.
    *
    * Scale shape: a narrow sequence-explode (map-side Generate) —
    * output volume is Σw, the thing the caller asked for; no shuffle,
    * no state. */
  def repeatByWeight(df: DataFrame, key: String, weightCol: String,
                     maxRepeat: Int = 16, salt: String = "repeat"): DataFrame = {
    require(maxRepeat > 0, "maxRepeat must be positive")
    requirePortableKey(df, key)
    val b = 1 << 20
    val w = col(weightCol).cast("double")
    val guarded = when(w > maxRepeat,
      raise_error(concat(lit(s"repeatByWeight: weight exceeds maxRepeat=$maxRepeat: "),
        w.cast("string"))).cast("double"))
      .otherwise(w)
    // stage the (possibly expensive — a quality regex, say) weight as
    // its own projection; Catalyst keeps multi-referenced non-cheap
    // aliases un-inlined, so it evaluates once per row
    val staged = df.withColumn("__w", guarded)
    val wOnce = col("__w")
    val whole = floor(wOnce).cast("int")
    val extra = (hashBucket(concat_ws(":", lit(salt), col(key).cast("string")), b)
      < floor((wOnce - floor(wOnce)) * b).cast("long")).cast("int")
    val copies = greatest(whole + extra, lit(0))
    // posexplode(array_repeat) emits __n rows and NATURALLY drops
    // __n <= 0 rows — a `where(__n > 0)` here would be predicate-
    // pushed below the staging projections with the weight expression
    // inlined wholesale (measured ~6 evaluations per row on a
    // regex-scored corpus); the generator form needs no filter at all
    staged.withColumn("__n", copies)
      .select(df.columns.map(col) :+
        posexplode(array_repeat(lit(0), col("__n"))).as(Seq("copy_idx", "__z")): _*)
      .drop("__z")
  }

  /** The pseudo-random-but-deterministic per-group selection order
    * shared by both `capPerGroup` variants: hash first (uniform,
    * engine-reproducible), raw key as the total-order tie-break.
    * NULL keys hash to NULL and sort FIRST (Spark's ASC default);
    * engines disagree on null placement (DuckDB sorts them last), so
    * exclude null keys upstream when cross-engine parity matters. */
  private def selectionOrder(key: String) =
    Seq(graft.plans.Hash60.hash60(col(key).cast("string")), col(key))

  /** Keep at most `maxPerGroup` rows per group, selected in
    * deterministic hash order of `key` (a quota cap: balance a corpus
    * across languages/sources/domains without `rand()`'s
    * irreproducibility). Emits `sel_rank` (1-based position in the
    * group's selection order) with the kept rows.
    *
    * Membership is a pure function of (key, the group's key SET):
    * re-runs agree, and — unlike percentage sampling — adding rows to
    * a group can displace the highest-ranked survivors (a cap is a
    * top-k, not a coin flip).
    *
    * Scale shape: one hash-partition shuffle on the group column, then
    * a per-group sort — O(|group| log |group|) in the hot partition. */
  def capPerGroup(df: DataFrame, key: String, groupCol: String,
                  maxPerGroup: Int): DataFrame = {
    require(maxPerGroup > 0, "maxPerGroup must be positive")
    requirePortableKey(df, key)
    val w = Window.partitionBy(col(groupCol)).orderBy(selectionOrder(key): _*)
    df.withColumn("sel_rank", row_number().over(w))
      .where(col("sel_rank") <= maxPerGroup)
  }
}
