package graft

import graft.functions.Redact
import graft.operators.{Incremental, NearDup, TfIdf}
import graft.ops.Chunking
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck properties for the round-4 training-data operators,
  * using PropertySpec's manual-sampling pattern (the
  * scalatest-scalacheck bridge isn't in the offline cache). */
class TrainingPropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAllSamples[T](gen: Gen[T])(body: T => Unit): Unit = {
    val params = Gen.Parameters.default.withSize(40)
    (1 to 5).foreach { i =>
      gen.apply(params, Seed(1042L + i)).foreach(body)
    }
  }

  test("chunking: every token is covered, chunk count is ceil(n/step)") {
    val gen = for {
      n <- Gen.choose(0, 60)
      maxT <- Gen.choose(1, 12)
      ov <- Gen.choose(0, maxT - 1)
    } yield (n, maxT, ov)
    forAllSamples(gen) { case (n, maxT, ov) =>
      val text = (1 to n).map(i => s"w$i").mkString(" ")
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val chunks = Chunking.chunkByTokens(df, "text", "doc_id", maxT, ov).collect()
      val step = maxT - ov
      val nTok = if (n == 0) 1 else n // "" tokenizes to [""]
      assert(chunks.length == (nTok + step - 1) / step, s"n=$n maxT=$maxT ov=$ov")
      if (n > 0) {
        val covered = chunks.flatMap(_.getAs[String]("chunk_text").split(" ")).toSet
        assert(covered == (1 to n).map(i => s"w$i").toSet, s"n=$n maxT=$maxT ov=$ov")
      }
    }
  }

  test("redaction is idempotent: redact(redact(x)) == redact(x)") {
    val word = Gen.oneOf("alpha", "beta", "x1", "a@b.io", "c.d@e-f.org",
      "10.0.0.1", "999.12.13.14", "+62 812-3456-789", "021-555-0199", "2024-01-01", "...")
    val gen = Gen.listOf(word).map(_.mkString(" "))
    forAllSamples(gen) { text =>
      val df = Seq(text).toDF("t")
      val once = df.select(Redact.redact($"t")).head().getString(0)
      val twice = Seq(once).toDF("t").select(Redact.redact($"t")).head().getString(0)
      assert(twice == once, s"input: $text")
    }
  }

  test("incremental probe == corpus-wide exact pairs restricted to cross pairs") {
    // docs are random token lists over a TINY vocab so near-dups occur
    val docGen = Gen.choose(5, 10).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    val gen = for {
      nOld <- Gen.choose(1, 6)
      nNew <- Gen.choose(1, 4)
      docs <- Gen.listOfN(nOld + nNew, docGen)
    } yield (nOld, docs)
    forAllSamples(gen) { case (nOld, docs) =>
      val all = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val old = all.take(nOld).toDF("doc_id", "text")
      val batch = all.drop(nOld).toDF("doc_id", "text")
      val oldSh = NearDup.shingled(old, "text", 3)
      val got = Incremental
        .nearDupsAgainstFrom(NearDup.shingled(batch, "text", 3),
          NearDup.bandTable(oldSh), oldSh, 0.8)
        .select($"new_id", $"old_id").as[(Long, Long)].collect().toSet
      val oldIds = all.take(nOld).map(_._1).toSet
      val expected = NearDup
        .jaccardPairs(all.toDF("doc_id", "text"), "text", 3, 0.8)
        .select($"d1", $"d2").as[(Long, Long)].collect()
        .collect { // jaccardPairs orders d1 < d2; cross pairs flip to (new, old)
          case (d1, d2) if oldIds(d1) && !oldIds(d2) => (d2, d1)
          case (d1, d2) if !oldIds(d1) && oldIds(d2) => (d1, d2)
        }.toSet
      assert(got == expected, s"old=$nOld docs=$docs")
    }
  }

  test("tf-idf: at most k rows per doc, ranks dense from 1, tfidf positive") {
    val docGen = Gen.choose(1, 8).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("p", "q", "r", "s", "t")).map(_.mkString(" ")))
    val gen = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, docGen))
    forAllSamples(gen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = TfIdf.topTerms(df, "text", 3).collect()
      out.groupBy(_.getAs[Long]("doc_id")).values.foreach { rows =>
        assert(rows.length <= 3)
        assert(rows.map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to rows.length))
        assert(rows.forall(_.getAs[Double]("tfidf") > 0))
      }
    }
  }

  test("mixture: output is a subset, the binding source is whole, shares track weights") {
    val gen = for {
      na <- Gen.choose(50, 400)
      nb <- Gen.choose(50, 400)
      wa <- Gen.choose(1, 4)
      wb <- Gen.choose(1, 4)
    } yield (na, nb, wa.toDouble, wb.toDouble)
    forAllSamples(gen) { case (na, nb, wa, wb) =>
      val df = ((1 to na).map(i => (i.toLong, "a")) ++
        (1 to nb).map(i => ((i + 100000).toLong, "b"))).toDF("id", "src")
      val out = graft.ops.Mixture.byWeights(df, "id", "src", Map("a" -> wa, "b" -> wb))
      val got = out.groupBy($"src").count().as[(String, Long)].collect().toMap
      val scale = math.min(na / wa, nb / wb)
      val (bindSrc, bindN) = if (na / wa <= nb / wb) ("a", na.toLong) else ("b", nb.toLong)
      assert(got.getOrElse(bindSrc, 0L) == bindN,
        s"binding source not whole: $got na=$na nb=$nb wa=$wa wb=$wb")
      // the other source draws its target within md5-bucket noise
      val other = if (bindSrc == "a") "b" else "a"
      val target = scale * (if (other == "a") wa else wb)
      val tol = math.max(10.0, target * 0.25)
      assert(math.abs(got.getOrElse(other, 0L) - target) <= tol,
        s"off-target draw: $got target=$target na=$na nb=$nb wa=$wa wb=$wb")
      // subset of the corpus
      assert(out.exceptAll(df).isEmpty)
    }
  }

  test("shuffle: withOrder is a permutation-inducing pure projection (no loss, no dup)") {
    val gen = Gen.choose(1, 500)
    forAllSamples(gen) { n =>
      val df = (1L to n.toLong).toDF("id")
      val out = graft.ops.Shuffle.withOrder(df, "id", seed = 11L)
      assert(out.count() == n.toLong)
      assert(out.select($"id").distinct().count() == n.toLong)
      // hash keys are unique enough to define a total order with the
      // id tie-break: ranking twice yields identical sequences
      val o1 = out.orderBy($"shuffle_key", $"id").select($"id").as[Long].collect().toSeq
      val o2 = graft.ops.Shuffle.withOrder(df, "id", 11L)
        .orderBy($"shuffle_key", $"id").select($"id").as[Long].collect().toSeq
      assert(o1 == o2)
      assert(o1.sorted == (1L to n.toLong))
    }
  }

  test("boilerplate: with a threshold of 1000 permille the corpus round-trips (modulo separator runs)") {
    val docGen = Gen.choose(1, 10).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("u", "v", "w", "x", "y")).map(_.mkString(" ")))
    val gen = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, docGen))
    forAllSamples(gen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = graft.ops.Boilerplate.removeFrequentUnits(df, "text", " ", 1000)
        .orderBy($"doc_id").as[(Long, String)].collect()
      assert(out.map(_._2).toSeq == texts, "df<=100% must keep every unit in order")
    }
  }

  test("funnel: stage counts are monotone non-increasing for any predicate set") {
    val gen = for {
      n <- Gen.choose(1, 200)
      t1 <- Gen.choose(0, 100)
      t2 <- Gen.choose(0, 100)
    } yield (n, t1, t2)
    forAllSamples(gen) { case (n, t1, t2) =>
      val df = (1L to n.toLong).toDF("id")
      val out = graft.ops.Funnel.counts(df,
        Seq("s1" -> (pmod($"id", lit(101)) >= t1), "s2" -> (pmod($"id" * 7, lit(101)) >= t2)))
        .as[(Long, Long, Long)].head()
      assert(out._1 >= out._2 && out._2 >= out._3, s"$out n=$n t1=$t1 t2=$t2")
      assert(out._1 == n.toLong)
    }
  }

  test("bigram perplexity: n_bigrams = max(tokens-1, 0), branch counts partition, bits bounded") {
    val word = Gen.oneOf("a", "b", "c", "dd", "eee", "zq")
    val doc = Gen.listOf(word).map(_.mkString(" "))
    val gen = Gen.listOfN(6, doc)
    forAllSamples(gen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = graft.ops.Vocab
        .bigramPerplexity(docs, docs.where($"doc_id" % 2 === 0), "text")
        .orderBy($"doc_id")
        .as[(Long, Long, Long, Long, Long, Double)].collect()
      assert(out.length == texts.length)
      out.zip(texts).foreach { case ((id, nBg, bits, nBk, nOov, avg), text) =>
        val nTok = text.split(" +").count(_.nonEmpty)
        assert(nBg == math.max(nTok - 1, 0), s"doc $id: '$text'")
        // backoff and OOV are disjoint subsets of the bigrams
        assert(nBk + nOov <= nBg, s"doc $id")
        assert(bits >= 0L, s"doc $id")
        if (nBg == 0) assert(avg == 0.0) else assert(avg == bits.toDouble / nBg)
      }
    }
  }
}
