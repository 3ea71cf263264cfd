package graft

import graft.ops.{Dedup, Observations, Recap}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import java.sql.Timestamp

/** ScalaCheck properties from SURVEY §5.3: dedup idempotence,
  * incremental ≡ from-scratch recap, exactly-once incremental
  * processing, fixed grid arity. Generators stay small so each
  * property runs a handful of tiny Spark jobs. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Manual ScalaCheck sampling (the scalatest-scalacheck bridge isn't
    * in the offline cache): 5 deterministic samples per property. */
  private def forAllSamples[T](gen: Gen[T])(body: T => Unit): Unit = {
    val params = Gen.Parameters.default.withSize(40)
    (1 to 5).foreach { i =>
      gen.apply(params, Seed(42L + i)).foreach(body)
    }
  }

  private val obsGen: Gen[List[(Long, Long, Timestamp, Double, String, Option[Double])]] =
    Gen.listOf(for {
      id <- Gen.choose(0L, 999L)
      loc <- Gen.choose(1L, 3L)
      minute <- Gen.choose(0, 24 * 60 - 1)
      temp <- Gen.choose(-200, 400).map(_ / 10.0)
      cond <- Gen.oneOf("sun", "rain", "hail")
      precip <- Gen.option(Gen.choose(0, 100).map(_ / 10.0))
    } yield (id, loc, Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00"), temp, cond, precip))

  private def toObs(rows: List[(Long, Long, Timestamp, Double, String, Option[Double])]): DataFrame =
    Observations.withTimeBuckets(
      rows.toDF("obs_id", "location_id", "ts", "temp_c", "condition", "precip_mm"))

  private val keys = Seq("location_id", "obs_date", "obs_hour", "obs_slot")

  test("keepFirst is idempotent") {
    forAllSamples(obsGen) { rows =>
      if (rows.nonEmpty) {
        val obs = toObs(rows)
        val once = Dedup.keepFirstAgg(obs, keys, "obs_id")
        val twice = Dedup.keepFirstAgg(once, keys, "obs_id")
        assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
      }
    }
  }

  test("recap(all rows) ≡ recap(early ∪ late) — union order/split invariance") {
    forAllSamples(obsGen.flatMap(r => Gen.choose(0, 100).map((r, _)))) { case (rows, splitPct) =>
      if (rows.nonEmpty) {
        val distinctIds = rows.groupBy(_._1).map(_._2.head).toList
        val cut = distinctIds.size * splitPct / 100
        val (early, late) = distinctIds.splitAt(cut)
        val whole = Recap.hourly(Recap.slotFirst(toObs(distinctIds)))
        val unioned = Recap.hourly(Recap.slotFirst(
          toObs(late).unionByName(toObs(early))))
        assert(whole.exceptAll(unioned).isEmpty && unioned.exceptAll(whole).isEmpty)
      }
    }
  }

  test("incremental anti-join processes each key exactly once across two batches") {
    forAllSamples(obsGen) { rows =>
      if (rows.nonEmpty) {
        val all = toObs(rows.groupBy(_._1).map(_._2.head).toList).cache()
        val batch1 = all.where($"obs_id" % 2 === 0)
        val processed = batch1.select("obs_id").distinct()
        val batch2 = Dedup.notYetProcessed(all, processed, Seq("obs_id"))
        // together they cover everything exactly once
        val together = batch1.select("obs_id").unionByName(batch2.select("obs_id"))
        assert(together.count() == all.count())
        assert(together.distinct().count() == all.count())
      }
    }
  }

  test("data_points is always exactly 6 slots, nulls only at missing slots") {
    forAllSamples(obsGen) { rows =>
      if (rows.nonEmpty) {
        val hourly = Recap.hourly(Recap.slotFirst(toObs(rows)))
        val sizes = hourly.select(size($"data_points")).as[Int].collect()
        assert(sizes.forall(_ == 6))
        val nonNullCounts = hourly.select(
          size(filter($"data_points", p => p.isNotNull)).as[Int], $"n_obs".as[Long]).collect()
        nonNullCounts.foreach { case (nn, n) => assert(nn == n.toInt) }
      }
    }
  }

  /** Random dup-heavy corpora: words from a 6-word vocabulary force
    * heavy shingle-set collisions and exact-duplicate clusters — the
    * regime the clustered pair-generation rewrite has to get right. */
  private val corpusGen: Gen[List[(Long, String)]] =
    Gen.listOf(for {
      id <- Gen.choose(0L, 199L)
      n <- Gen.choose(0, 8)
      words <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta"))
    } yield (id, words.mkString(" ")))
      .map(_.groupBy(_._1).map(_._2.head).toList) // unique doc ids

  /** Brute-force reference: exact 3-gram Jaccard over all doc pairs. */
  private def refJaccardPairs(docs: List[(Long, String)], t: Double): Set[(Long, Long)] = {
    def sh(s: String): Set[List[String]] = {
      val toks = s.split(" +", -1).toList
      if (toks.length < 3) Set.empty else toks.sliding(3).toSet
    }
    (for {
      (d1, t1) <- docs; (d2, t2) <- docs if d1 < d2
      s1 = sh(t1); s2 = sh(t2)
      inter = (s1 & s2).size
      union = s1.size + s2.size - inter
      if union > 0 && inter.toDouble / union >= t
    } yield (d1, d2)).toSet
  }

  test("jaccardPairs ≡ brute-force exact Jaccard on dup-heavy corpora") {
    forAllSamples(corpusGen) { docs =>
      if (docs.nonEmpty) {
        val df = docs.toDF("doc_id", "text")
        val got = graft.operators.NearDup.jaccardPairs(df, "text", 3, 0.6)
          .select($"d1", $"d2").as[(Long, Long)].collect().toSet
        assert(got == refJaccardPairs(docs, 0.6))
      }
    }
  }

  test("minhashNearDupPairs ≡ jaccardPairs (LSH recall at tiny scale)") {
    forAllSamples(corpusGen) { docs =>
      if (docs.nonEmpty) {
        val df = docs.toDF("doc_id", "text")
        val exact = graft.operators.NearDup.jaccardPairs(df, "text", 3, 0.6)
          .select($"d1", $"d2").as[(Long, Long)].collect().toSet
        val lsh = graft.operators.NearDup.minhashNearDupPairs(df, "text", 3, 0.6)
          .select($"d1", $"d2").as[(Long, Long)].collect().toSet
        assert(lsh == exact)
      }
    }
  }
}
