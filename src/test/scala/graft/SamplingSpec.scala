package graft

import graft.ops.Sampling
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def ids = (1L to 5000L).toDF("id")

  /** Keep ~pct% of rows, deterministically by `id`'s hash bucket. */
  private def sampleByHash(df: org.apache.spark.sql.DataFrame, pct: Int) =
    df.where(Sampling.hashBucket($"id") < pct)

  private def allMessages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  test("assignSplit is disjoint, exhaustive, and deterministic") {
    val a = Sampling.assignSplit(ids, "id", 80, 10)
    val counts = a.groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 5000L)
    // uniform md5 buckets: each cut lands within a loose tolerance
    assert(counts("train") > 3700 && counts("train") < 4300)
    assert(counts("valid") > 300 && counts("valid") < 700)
    assert(counts("test") > 300 && counts("test") < 700)
    // re-evaluation assigns identically (pure function of the key)
    val b = Sampling.assignSplit(ids, "id", 80, 10)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("sampleByHash(pct) is the pct-prefix of the same bucket space") {
    val s10 = sampleByHash(ids, 10).as[Long].collect().toSet
    val s20 = sampleByHash(ids, 20).as[Long].collect().toSet
    assert(s10.subsetOf(s20), "growing pct must only ADD rows (stable membership)")
    assert(s10.nonEmpty && s20.size < 5000)
  }

  test("membership is stable under corpus growth") {
    val small = sampleByHash(ids.where($"id" <= 1000), 50).as[Long].collect().toSet
    val large = sampleByHash(ids, 50).as[Long].collect().toSet
    assert(small == large.filter(_ <= 1000L), "adding rows must not reshuffle old assignments")
  }

  test("stratifiedSampleByHash applies each stratum's pct over the same bucket space") {
    val df = ids.withColumn("stratum",
      when($"id" % 3 === 0, "a").when($"id" % 3 === 1, "b").otherwise("c"))
    val out = Sampling.stratifiedSampleByHash(df, "id", "stratum",
      Map("a" -> 100, "b" -> 0), defaultPct = 20)
    val kept = out.select($"id", $"stratum").as[(Long, String)].collect()
    val byStratum = kept.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byStratum("a").size == 5000 / 3 + 1 || byStratum("a").size == 5000 / 3)
    assert(!byStratum.contains("b"))
    // stratum c at 20% = exactly the global 20% sample restricted to c
    val global20 = sampleByHash(df, 20)
      .where($"stratum" === "c").select($"id").as[Long].collect().toSet
    assert(byStratum.getOrElse("c", Set.empty) == global20)
  }

  test("hashBucket matches the documented DuckDB formula on a spot value") {
    // graft_hash60('42') = first 15 hex chars of md5('42') as a long
    val h = ids.where($"id" === 42L)
      .select(Sampling.hashBucket($"id", 100).as("b")).as[Long].head()
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("42".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = java.lang.Long.parseLong(md.take(15), 16) % 100
    assert(h == expected)
  }

  test("sampleByScore: survival rate tracks the score; deterministic; clamped") {
    val df = ids.withColumn("q",
      when($"id" % 3 === 0, 0.9).when($"id" % 3 === 1, 0.2).otherwise(5.0)) // 5.0 clamps to 1
    val out = Sampling.sampleByScore(df, "id", "q").cache()
    try {
      val hi = out.where($"q" === 0.9).count().toDouble / (5000 / 3)
      val lo = out.where($"q" === 0.2).count().toDouble / (5000 / 3)
      assert(math.abs(hi - 0.9) < 0.07, s"hi rate $hi")
      assert(math.abs(lo - 0.2) < 0.07, s"lo rate $lo")
      assert(out.where($"q" === 5.0).count() == ids.where($"id" % 3 === 2).count(),
        "score above 1 must clamp to keep-always")
      val again = Sampling.sampleByScore(df, "id", "q")
      assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    } finally out.unpersist()
  }

  test("sampleByScore: zero and negative scores keep nothing") {
    val df = ids.withColumn("q", when($"id" % 2 === 0, 0.0).otherwise(-3.0))
    assert(Sampling.sampleByScore(df, "id", "q").isEmpty)
  }

  test("repeatByWeight: floor copies always, fractional extra at the documented rate") {
    val df = ids.withColumn("w", lit(2.25))
    val out = Sampling.repeatByWeight(df, "id", "w").cache()
    try {
      val perDoc = out.groupBy($"id").count().as[(Long, Long)].collect()
      assert(perDoc.length == 5000, "every row emits at least floor(w)=2 copies")
      assert(perDoc.forall(p => p._2 == 2L || p._2 == 3L))
      val extraRate = perDoc.count(_._2 == 3L).toDouble / 5000
      assert(math.abs(extraRate - 0.25) < 0.05, s"extra rate $extraRate")
      // copy_idx dense from 0
      val idxs = out.where($"id" === perDoc.head._1).select($"copy_idx").as[Int].collect().sorted
      assert(idxs.toSeq == (0 until idxs.length))
    } finally out.unpersist()
  }

  test("repeatByWeight: weights below 1 subsample; above maxRepeat fail loudly") {
    val df = ids.withColumn("w", lit(0.5))
    val n = Sampling.repeatByWeight(df, "id", "w").count()
    assert(math.abs(n - 2500.0) < 150, s"0.5 weight should emit ~half: $n")
    val bad = ids.withColumn("w", lit(100.0))
    val e = intercept[Throwable] {
      Sampling.repeatByWeight(bad, "id", "w").collect()
    }
    assert(allMessages(e).contains("exceeds maxRepeat"), allMessages(e))
  }

  private def grouped = ids.withColumn("g",
    when($"id" % 10 === 0, "small").otherwise("big")) // 500 vs 4500 rows

  test("weightedSampleK: exactly k rows, partition-stable, weight-biased, bad weights excluded") {
    import graft.ops.Sampling
    val rows = (1L to 1000L).map(i => (i, if (i <= 100) 50.0 else 1.0)) ++
      Seq((2001L, 0.0), (2002L, -3.0), (2003L, Double.NaN))
    val df = rows.toDF("id", "w")
    val got = Sampling.weightedSampleK(df, "id", "w", k = 100)
      .as[(Long, Double)].collect()
    assert(got.length == 100)
    // zero/negative weights never sampled (NaN never compares > 0 either)
    assert(!got.exists(r => r._1 >= 2001L))
    // the 100 heavy rows (50x weight, 10% of the corpus) dominate the draw
    val heavy = got.count(_._1 <= 100L)
    assert(heavy > 50, s"heavy rows in sample: $heavy of 100")
    // deterministic under any partitioning
    val again = Sampling.weightedSampleK(df.repartition(13), "id", "w", k = 100)
      .as[(Long, Double)].collect()
    assert(got.map(_._1).sorted.sameElements(again.map(_._1).sorted))
    intercept[IllegalArgumentException](Sampling.weightedSampleK(df, "id", "w", 0))
  }

  test("capPerGroup keeps exactly the quota per group, ranked 1..cap, deterministically") {
    val out = Sampling.capPerGroup(grouped, "id", "g", 50)
    val byGroup = out.groupBy($"g").count().as[(String, Long)].collect().toMap
    assert(byGroup == Map("small" -> 50L, "big" -> 50L))
    val ranks = out.where($"g" === "big").select($"sel_rank").as[Int].collect().sorted
    assert(ranks.toSeq == (1 to 50))
    // pure function of (key set): re-evaluation picks the same rows
    val again = Sampling.capPerGroup(grouped, "id", "g", 50)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("capPerGroup with a quota above the group size keeps the whole group") {
    val out = Sampling.capPerGroup(grouped, "id", "g", 1000)
    assert(out.where($"g" === "small").count() == 500L)
  }

  test("rendezvousShard: stable under resharding except the removed shard's keys") {
    import spark.implicits._
    val keys = (1L to 400L).toDF("k")
    val s16 = keys.select($"k", graft.ops.Sampling.rendezvousShard($"k", 16).as("s"))
      .as[(Long, Int)].collect().toMap
    val s15 = keys.select($"k", graft.ops.Sampling.rendezvousShard($"k", 15).as("s"))
      .as[(Long, Int)].collect().toMap
    // shards 0..14: keys not on shard 15 keep their assignment
    val moved = s16.count { case (k, s) => s != 15 && s15(k) != s }
    assert(moved == 0, s"$moved keys moved despite their shard surviving")
    // every reassigned key came from the removed shard
    assert(s16.filter(_._2 == 15).keys.forall(k => s15(k) != 15))
    // rough balance: no empty shard across 400 keys
    assert(s16.values.toSet.size == 16)
  }
}
