package graft

import graft.functions.TextFunctions
import graft.operators.{ExactDedup, NearDup, SimHash, Similarity}
import org.apache.spark.sql.functions._

class TrainingOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about database engines and vectorized execution plans"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "ab") // shorter than shingle width
  ).toDF("doc_id", "text")

  test("exact dedup keeps the min-id canonical row and counts dups") {
    val out = ExactDedup.keepCanonical(docs, "text", "doc_id")
    assert(out.count() == 4) // 1&4 collapse
    val canon = out.where($"dup_count" === 2).head()
    assert(canon.getAs[Long]("doc_id") == 1L)
  }

  test("exact dedup: null-content rows pass through individually, never collapse") {
    val withNulls = docs.select($"doc_id", $"text")
      .unionByName(Seq((90L, Option.empty[String]), (91L, Option.empty[String])).toDF("doc_id", "text"))
    val out = ExactDedup.keepCanonical(withNulls, "text", "doc_id")
    // 4 deduped content rows + BOTH null rows untouched
    assert(out.count() == 6)
    assert(out.where($"text".isNull).count() == 2)
    assert(out.where($"dup_count" > 1).count() == 1)
  }

  test("simhash drops token-less docs instead of assigning a sentinel") {
    val withEmpty = docs.select($"doc_id", $"text")
      .unionByName(Seq((90L, Option.empty[String])).toDF("doc_id", "text"))
    val fps = SimHash.fingerprints(withEmpty, "text")
    assert(!fps.select($"doc_id").as[Long].collect().contains(90L))
  }

  test("wordShingles: set semantics, short docs yield empty set") {
    val sh = docs.select($"doc_id", TextFunctions.wordShingles($"text", 3).as("sh"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[collection.Seq[String]]("sh")).toMap
    assert(sh(5L).isEmpty)
    assert(sh(1L).contains("the_quick_brown"))
    assert(sh(1L).toSet.size == sh(1L).size) // distinct
  }

  test("exact jaccard pairs finds the near-dup and the exact dup, not the unrelated doc") {
    val pairs = NearDup.jaccardPairs(docs, "text", 3, 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)) && pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH pairs equal exact jaccard pairs on this fixture") {
    val exact = NearDup.jaccardPairs(docs, "text", 3, 0.5)
      .select($"d1", $"d2", $"jaccard").as[(Long, Long, Double)].collect().toSet
    val lsh = NearDup.minhashNearDupPairs(docs, "text", 3, 0.5)
      .select($"d1", $"d2", $"jaccard").as[(Long, Long, Double)].collect().toSet
    assert(lsh == exact)
  }

  test("simhash: exact dups collide; near-dups land within small hamming distance") {
    val fps = SimHash.fingerprints(docs, "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(fps(1L) == fps(4L))
    val hammingNear = java.lang.Long.bitCount(fps(1L) ^ fps(2L))
    val hammingFar = java.lang.Long.bitCount(fps(1L) ^ fps(3L))
    assert(hammingNear < hammingFar)
  }

  test("hammingPairs finds exact-dup pair at distance 0") {
    val pairs = SimHash.hammingPairs(SimHash.fingerprints(docs, "text"), maxDist = 3)
      .select($"d1", $"d2", $"hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0))
  }

  private lazy val vecs = {
    // deterministic synthetic vectors: id 0 and 1 nearly parallel,
    // id 2 orthogonal-ish, id 3 antiparallel to 0
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.1f)),
      (1L, Array(0.99f, 0.01f, 0.0f, 0.1f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f, -0.1f))
    ).toDF("vec_id", "embedding")
  }

  test("bruteForceTopK ranks the nearly-parallel vector first") {
    val top = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" === 0), 2)
      .orderBy($"rnk").select($"corpus_id").as[Long].collect()
    assert(top.head == 1L)
  }

  test("lshTopK returns a subset of brute-force candidates with exact cosines") {
    val bf = Similarity.bruteForceTopK(vecs, vecs, 3)
      .select($"query_id", $"corpus_id", $"cosine").as[(Long, Long, Double)].collect().toMap2
    val lsh = Similarity.lshTopK(vecs, vecs, 3, nPlanes = 4)
      .select($"query_id", $"corpus_id", $"cosine").as[(Long, Long, Double)].collect()
    lsh.foreach { case (q, c, cos) =>
      assert(bf.contains((q, c)) && math.abs(bf((q, c)) - cos) < 1e-12)
    }
  }

  implicit private class Tuple3Ops(arr: Array[(Long, Long, Double)]) {
    def toMap2: Map[(Long, Long), Double] = arr.map(t => (t._1, t._2) -> t._3).toMap
  }

  test("connectedComponents: empty pair graph yields an empty result") {
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(graft.operators.Components.connectedComponents(empty).count() == 0)
  }

  test("connectedComponents: throws instead of emitting unconverged labels") {
    // pointer jumping covers ~2^k hops in k rounds, so forcing
    // non-convergence needs a LONG path against a tiny cap: diameter
    // 60 with maxIter 2 must still fail loudly
    val chain = (1L to 60L).map(i => (i, i + 1)).toDF("d1", "d2")
    intercept[IllegalStateException] {
      graft.operators.Components.connectedComponents(chain, maxIter = 2).count()
    }
  }

  test("connectedComponents: pointer jumping converges a diameter-200 path in O(log) rounds") {
    // plain min-label propagation would need ~200 rounds (> the
    // default 20 cap); path doubling gets there in ~8 — the round
    // budget that makes DBSCAN's percolated geometric graphs feasible
    val chain = (1L to 200L).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = graft.operators.Components.connectedComponents(chain)
      .as[(Long, Long)].collect()
    assert(labels.length == 201 && labels.forall(_._2 == 1L))
  }

  test("connectedComponentsStars ≡ propagation on random multi-component graphs") {
    // 3 seeds: ring + chains + random extra edges; both algorithms
    // must label every node with its component minimum
    for (seed <- Seq(7, 23, 91)) {
      val edges = (1 to 120).map { i =>
        val a = 1L + (i * seed) % 60
        val b = 1L + (i * i * seed + 13) % 60
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).toDF("d1", "d2")
      val viaStars = graft.operators.Components.connectedComponentsStars(edges)
        .as[(Long, Long)].collect().toMap
      val viaProp = graft.operators.Components.connectedComponents(edges, maxIter = 40)
        .as[(Long, Long)].collect().toMap
      assert(viaStars == viaProp, s"seed $seed")
    }
  }

  test("connectedComponentsStars: decreasing-id long path (the regional-minimum killer)") {
    // ids DECREASE along the path so every node's local min is just
    // its next neighbor — the shape where min-propagation crawls;
    // star contraction must still converge within its default cap
    val chain = (1L to 300L).map(i => (302L - i, 301L - i)).toDF("d1", "d2")
    val labels = graft.operators.Components.connectedComponentsStars(chain)
      .as[(Long, Long)].collect()
    assert(labels.length == 301 && labels.forall(_._2 == 1L))
  }

  test("connectedComponents: chain graph needs multi-round propagation") {
    // path 7-5-3-1 (diameter 3) + disjoint pair (2,8) + clique (4,6,9)
    val pairs = Seq((5L, 7L), (3L, 5L), (1L, 3L), (2L, 8L), (4L, 6L), (4L, 9L), (6L, 9L))
      .toDF("d1", "d2")
    val comps = graft.operators.Components.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps.size == 9)
    assert(Seq(1L, 3L, 5L, 7L).map(comps).forall(_ == 1L))
    assert(Seq(2L, 8L).map(comps).forall(_ == 2L))
    assert(Seq(4L, 6L, 9L).map(comps).forall(_ == 4L))
  }

  implicit private class TupleMapOps(arr: Array[(Long, Long, Boolean)]) {
    def toMap2b: Map[Long, (Long, Boolean)] = arr.map(t => t._1 -> (t._2, t._3)).toMap
  }

  test("rep-space minhashDuplicateClusters equals components over expanded doc pairs") {
    // exact-dup clique {1,4} ∪ near-dup 2 (one component), isolated 3 and 5,
    // plus an exact-dup pair {6,7} whose set has NO cross-set edges
    val corpus = docs.unionByName(Seq(
      (6L, "standalone duplicated sentence with enough tokens to form shingles here"),
      (7L, "standalone duplicated sentence with enough tokens to form shingles here")
    ).toDF("doc_id", "text"))
    val viaReps = NearDup.minhashDuplicateClusters(corpus, "text", 3, 0.5)
      .as[(Long, Long, Boolean)].collect().toMap2b
    val viaPairs = graft.operators.Components.connectedComponents(
        NearDup.minhashNearDupPairs(corpus, "text", 3, 0.5))
      .select($"id", $"comp", $"id" === $"comp")
      .as[(Long, Long, Boolean)].collect().toMap2b
    assert(viaReps == viaPairs)
    assert(viaReps(6L) == ((6L, true)) && viaReps(7L) == ((6L, false)))
    assert(Seq(1L, 2L, 4L).forall(viaReps(_)._1 == 1L))
    assert(!viaReps.contains(3L) && !viaReps.contains(5L))
  }

  test("cosineNearDupPairsLsh equals the exhaustive crossJoin baseline on real corpora") {
    // the shipped bucketed form must reproduce the all-pairs answer on
    // the actual test embeddings at both spec SFs (the deterministic
    // plane family is also verified offline to hold at sf0.1)
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val emb = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val exact = Similarity.cosineNearDupPairs(emb, 0.5)
        .select($"a_id", $"b_id", $"cosine").as[(Long, Long, Double)].collect().toSet
      // r=4 pinned: at the c=0.5 decision boundary only the low-r
      // regime has near-total recall (the n-scaled default trades
      // boundary recall for linear candidate volume — covered by the
      // auto-path test below)
      val lsh = Similarity.cosineNearDupPairsLsh(emb, 0.5, planesPerBand = 4)
        .select($"a_id", $"b_id", $"cosine").as[(Long, Long, Double)].collect().toSet
      assert(lsh == exact, s"$sf: lsh=${lsh.size} exact=${exact.size}")
    }
  }

  test("crossCorpusNearDup finds every planted leak and nothing below threshold") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val train = emb.where($"vec_id" < 800)
    // eval: natural (distinct) tail + exact copies of 20 train rows
    val leaked = emb.where($"vec_id" < 20).withColumn("vec_id", $"vec_id" + 5000L)
    val evalSet = emb.where($"vec_id" >= 800).unionByName(leaked)
    val pairs = Similarity.crossCorpusNearDup(train, evalSet, 0.95)
      .select($"eval_id", $"train_id", $"cosine").as[(Long, Long, Double)].collect()
    // every planted copy matches its original at cosine 1.0 (an exact
    // copy collides in every band — recall is structural, not lucky)
    val found = pairs.filter(p => p._1 >= 5000L && p._2 == p._1 - 5000L)
    // cosine of a self-copy is 1 up to one ulp of dot/(√n·√n)
    assert(found.length == 20 && found.forall(p => math.abs(p._3 - 1.0) < 1e-12))
    // equality with the brute-force cross pairs at the same threshold
    val exact = Similarity.bruteForceTopK(train, evalSet, 1)
      .where($"cosine" >= 0.95)
      .select($"query_id", $"corpus_id", $"cosine").as[(Long, Long, Double)].collect().toSet
    // brute-force top-1 is a lower bound (one match per eval row);
    // every top-1 match above threshold must be in the LSH pairs
    val pairSet = pairs.map(p => (p._1, p._2, p._3)).toSet
    assert(exact.forall(pairSet.contains), s"missed ${exact -- pairSet}")
  }

  test("native SignBands equals the composed per-band lshBucket family") {
    // the fused expression must reproduce every band's bucket id from
    // the same deterministic plane family, on real embeddings
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", Similarity.quantize($"embedding").as("v"))
    val bands = 16; val r = 4
    val composed = emb.select($"vec_id", array((0 until bands).map { b =>
      Similarity.lshBucket($"v", r, firstPlane = b * r)
    }: _*).as("buckets"))
    val native = emb.select($"vec_id",
      graft.plans.SignBands.signBands($"v", bands, r).as("buckets"))
    val c = composed.as[(Long, Seq[Long])].collect().toMap
    val n = native.as[(Long, Seq[Long])].collect().toMap
    assert(n == c)
    // wider-than-dim vectors raise, matching lshBucket's guard
    val wide = Seq((1L, Seq.fill(65)(1L))).toDF("vec_id", "v")
    val e = intercept[Exception] {
      wide.select(graft.plans.SignBands.signBands($"v", bands, r)).collect()
    }
    assert(e.getMessage.contains("wider than") ||
      Option(e.getCause).exists(_.getMessage.contains("wider than")), e.toString)
  }

  test("autoPlanesPerBand: n-scaled r pins random collisions linear (r12 verdict #2)") {
    // exact integer ceil-log2 + slack, floored and capped
    assert(Similarity.autoPlanesPerBand(1L) == 12) // floor
    assert(Similarity.autoPlanesPerBand(4000L) == 17) // ceil_log2=12, +5
    assert(Similarity.autoPlanesPerBand(4096L) == 17) // exact power: 2^12 >= 4096
    assert(Similarity.autoPlanesPerBand(4097L) == 18)
    assert(Similarity.autoPlanesPerBand(400000L) == 24) // the sf10 corpus
    assert(Similarity.autoPlanesPerBand(1L << 50) == 40) // cap < 62-bit bucket
    // the law: random collisions ~ bands*n^2/2^(r+1) <= bands/64 * n
    for (n <- Seq(1000L, 100000L, 10000000L)) {
      val r = Similarity.autoPlanesPerBand(n)
      if (r < 40) assert(n.toDouble * n / math.pow(2, r + 1) <= n.toDouble / 64.0 + 1)
    }
    intercept[IllegalArgumentException](Similarity.autoPlanesPerBand(0L))
  }

  test("auto-scaled high-threshold LSH equals the exhaustive baseline (the registered config)") {
    // q_embed_neardup_hi's registered shape since r13: r derived from
    // the corpus count, not pinned — must still find exactly the pairs
    // the all-pairs crossJoin finds on the twin-seeded corpus
    val src = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = Similarity.twinSeeded(src)
    val n = 2L * src.count()
    val exact = Similarity.cosineNearDupPairs(corpus, 0.9)
      .select($"a_id", $"b_id", $"cosine").as[(Long, Long, Double)].collect().toSet
    val lsh = Similarity.cosineNearDupPairsLsh(corpus, 0.9, bands = 28,
        planesPerBand = Similarity.autoPlanesPerBand(n))
      .select($"a_id", $"b_id", $"cosine").as[(Long, Long, Double)].collect().toSet
    assert(lsh == exact, s"lsh=${lsh.size} exact=${exact.size}")
  }

  test("tuned high-threshold LSH equals the exhaustive baseline on a twin-seeded corpus") {
    // the q_embed_neardup_hi shape: every vector gets a deterministic
    // near-dup twin (exact-double 1 + k/128 factors); banded LSH at
    // 0.9 with the tuned (28, 12) config must find exactly
    // the pairs the all-pairs crossJoin finds
    val src = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = Similarity.twinSeeded(src)
    val exact = Similarity.cosineNearDupPairs(corpus, 0.9)
      .select($"a_id", $"b_id", $"cosine").as[(Long, Long, Double)].collect().toSet
    val lsh = Similarity.cosineNearDupPairsLsh(corpus, 0.9, bands = 28, planesPerBand = 12)
      .select($"a_id", $"b_id", $"cosine").as[(Long, Long, Double)].collect().toSet
    assert(lsh == exact, s"lsh=${lsh.size} exact=${exact.size}")
    // every vector found its twin (cosine ~0.9997 >= 0.9), nothing else
    val n = src.count()
    assert(exact.size == n)
    assert(exact.forall { case (a, b, c) => b == a + 1000000L && c >= 0.99 })
  }

  test("cosineNearDupPairsLsh plan has no cartesian product") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = Similarity.cosineNearDupPairsLsh(emb, 0.5)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join Cross"), plan)
  }

  test("DEFAULT planesPerBand is the n-scaled auto law (r14 migration: was fixed r=4)") {
    // omitting planesPerBand must resolve to autoPlanesPerBand(count)
    // — proven by equality with the explicitly-derived config on the
    // twin-seeded corpus (high threshold: the regime auto is FOR),
    // and the guard message must name the resolved value as auto
    val src = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = Similarity.twinSeeded(src)
    val auto = Similarity.cosineNearDupPairsLsh(corpus, 0.9, bands = 28)
      .select($"a_id", $"b_id", $"cosine").as[(Long, Long, Double)].collect().toSet
    val pinned = Similarity.cosineNearDupPairsLsh(corpus, 0.9, bands = 28,
        planesPerBand = Similarity.autoPlanesPerBand(corpus.count()))
      .select($"a_id", $"b_id", $"cosine").as[(Long, Long, Double)].collect().toSet
    assert(auto == pinned, s"auto=${auto.size} pinned=${pinned.size}")
    // every twin found under the auto default (near-1 recall is the
    // auto law's guarantee; boundary recall is the stated trade)
    assert(auto.size == src.count())
    assert(auto.forall { case (a, b, c) => b == a + 1000000L && c >= 0.99 })
  }

  test("ivfTopK: full probe over a tiny corpus equals brute force") {
    // nLists=2, nProbe=2 → every list is probed → exact search
    val bf = Similarity.bruteForceTopK(vecs, vecs, 2)
      .select($"query_id", $"corpus_id", $"cosine").as[(Long, Long, Double)].collect().toSet
    val ivf = Similarity.ivfTopK(vecs, vecs, 2, nLists = 2, nProbe = 2)
      .select($"query_id", $"corpus_id", $"cosine").as[(Long, Long, Double)].collect().toSet
    assert(ivf == bf)
  }

  test("ivfTopK: partial probe returns exact cosines for a candidate subset") {
    val bf = Similarity.bruteForceTopK(vecs, vecs, 3)
      .select($"query_id", $"corpus_id", $"cosine").as[(Long, Long, Double)].collect().toMap2
    val ivf = Similarity.ivfTopK(vecs, vecs, 3, nLists = 2, nProbe = 1)
      .select($"query_id", $"corpus_id", $"cosine").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, c, cos) =>
      assert(bf.contains((q, c)) && bf((q, c)) == cos)
    }
  }

  test("langId is deterministic and prefers matching markers") {
    val df = Seq(
      (1L, "the cat and the dog"),          // en markers
      (2L, "der hund und die katze"),       // de markers
      (3L, "xyz qqq zzz")                   // no markers → tie → 'de' (lexicographic)
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id", TextFunctions.langId($"text").as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "de" && out(3L) == "de")
  }

  test("rollingFingerprint is order-sensitive") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha")).toDF("doc_id", "text")
    val fps = df.select($"doc_id", TextFunctions.rollingFingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) != fps(2L))
  }

  test("randomProject: integer coords match a per-plane hand fold and preserve distances in expectation") {
    // deterministic vectors; projection j = sum_i v[i]*sign(hash60(j:i))
    def sign(j: Int, i: Int): Long =
      if ((graft.plans.Hash60Impl.hash(s"$j:$i".getBytes("UTF-8")) & 1L) == 1L) 1L else -1L
    val raw = (0 until 6).map { r =>
      (r.toLong, (0 until 64).map(i => ((r * 31 + i * 7) % 13 - 6).toDouble / 10.0).toArray)
    }
    val df = raw.toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        Similarity.randomProject(Similarity.quantize(col("embedding")), k = 16).as("p"))
      .as[(Long, Seq[Long])].collect().toMap
    // exact per-coordinate check against the JVM fold
    raw.foreach { case (id, v) =>
      val qv = v.map(x => math.round(x * 10000))
      val expect = (0 until 16).map(j => (0 until 64).map(i => qv(i) * sign(j, i)).sum)
      assert(got(id) == expect, s"vec $id")
    }
    // JL sanity: E[||P(a-b)||^2] = k*||a-b||^2 -> ratio near k=16
    val pairs = for (a <- raw.indices; b <- raw.indices if a < b) yield (a, b)
    val ratios = pairs.map { case (a, b) =>
      val d = raw(a)._2.zip(raw(b)._2).map { case (x, y) => math.round(x * 10000) - math.round(y * 10000) }
      val d2 = d.map(x => x * x).sum.toDouble
      val pd = got(a.toLong).zip(got(b.toLong)).map { case (x, y) => (x - y).toDouble }
      val pd2 = pd.map(x => x * x).sum
      if (d2 == 0) 16.0 else pd2 / d2
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 8.0 && mean < 32.0, s"mean ratio $mean, expected ~16")
  }

  test("randomProject raises on vectors wider than the plane set") {
    val wide = Seq((1L, (0 until 65).map(_.toDouble).toArray)).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      wide.select(Similarity.randomProject(Similarity.quantize(col("embedding")), k = 4)).collect()
    }
    assert(e.getMessage.contains("randomProject") || e.getCause != null)
  }
}
