package graft

import graft.ops.{Bpe, Gopher}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck properties for the Gopher filter battery and the BPE
  * primitives (PropertySpec's manual-sampling pattern — the
  * scalatest-scalacheck bridge isn't in the offline cache). */
class FilterPropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAllSamples[T](gen: Gen[T])(body: T => Unit): Unit = {
    val params = Gen.Parameters.default.withSize(40)
    (1 to 5).foreach { i =>
      gen.apply(params, Seed(2042L + i)).foreach(body)
    }
  }

  private val wordGen = Gen.oneOf("a", "b", "ab", "ba", "ccc", "d1")
  private val docGen: Gen[Seq[String]] = Gen.choose(0, 30)
    .flatMap(n => Gen.listOfN(n, wordGen))

  test("gopher dup fractions are in [0,1] and zero exactly when all units are distinct") {
    forAllSamples(Gen.listOfN(4, docGen)) { docsWords =>
      val docs = docsWords.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString("\n")) }
        .toDF("doc_id", "text")
      val out = Gopher.repetitionSignals(docs, "text")
        .orderBy($"doc_id").as[(Long, Double, Double, Double, Double)].collect()
      out.zip(docsWords).foreach { case ((_, lf, lcf, pf, pcf), ws) =>
        Seq(lf, lcf, pf, pcf).foreach(v => assert(v >= 0.0 && v <= 1.0, s"$v for $ws"))
        val units = ws.filter(_.nonEmpty)
        val hasDup = units.size != units.distinct.size
        assert((lf > 0.0) == hasDup, s"line dup flag for $ws")
        assert((lcf > 0.0) == hasDup, s"char dup flag for $ws")
      }
    }
  }

  test("bpe pair-count mass: sum of pair counts == sum of freq * word length") {
    forAllSamples(Gen.listOfN(3, docGen)) { docsWords =>
      val docs = docsWords.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val freqs = Bpe.wordFreqs(docs, "text")
      val total = Bpe.pairCounts(freqs).agg(sum($"cnt")).as[Option[Long]].collect().head
      // every word contributes (len chars + </w>) - 1 = len pairs,
      // weighted by its frequency
      val expected = docsWords.flatten.filter(_.nonEmpty).map(_.length.toLong).sum
      assert(total.getOrElse(0L) == expected, s"docs=$docsWords")
    }
  }

  test("bpe encode conserves characters: segments concatenate back to word + </w> under any merge table") {
    val gen = for {
      dict <- Gen.listOfN(4, wordGen).map(_.distinct.map(w => (w, 2L)))
      k <- Gen.choose(0, 8)
      word <- wordGen
    } yield (dict, k, word)
    forAllSamples(gen) { case (dict, k, word) =>
      val merges = BpeTraining.train(dict, k)
      val enc = Bpe.encodeWord(word, merges)
      assert(enc.mkString == word + Bpe.EndOfWord, s"dict=$dict k=$k word=$word")
      assert(enc.nonEmpty && enc.forall(_.nonEmpty))
    }
  }

  test("bpe token count with zero merges equals sum of (word length + 1)") {
    forAllSamples(docGen) { ws =>
      val text = ws.mkString(" ")
      val docs = Seq((1L, text)).toDF("doc_id", "text")
      val n = docs.select(Bpe.bpeTokenCount($"text", Seq.empty).as("n"))
        .as[Long].collect().head
      val expected = ws.filter(_.nonEmpty).map(_.length.toLong + 1).sum
      assert(n == expected, s"ws=$ws")
    }
  }

  test("gopher quality rules never return NULL flags for any input") {
    val textGen = Gen.oneOf(
      "", " ", "the the the", "a#b ... c", "- x\n- y", "…", "\n\n\n", "w " * 30)
    forAllSamples(Gen.listOfN(6, textGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = Gopher.qualityRules(docs, "text", minWords = 2)
      val nulls = out.select(out.columns.map(c => sum(when(col(c).isNull, 1).otherwise(0))): _*)
        .collect().head.toSeq.map(_.asInstanceOf[Long]).sum
      assert(nulls == 0L, s"NULL cells in quality rules for $texts")
    }
  }
}
