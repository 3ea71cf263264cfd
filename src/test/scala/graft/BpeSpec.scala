package graft

import graft.ops.Bpe
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the classic BPE toy corpus: "low" x5, "lower" x2, "newest" x6,
  // "widest" x3 — first merges are (e,s), (es,t), (est,</w>), ...
  private val toyDict = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  test("train: the toy corpus produces the textbook first merges with deterministic ties") {
    val merges = BpeTraining.train(toyDict, 4)
    assert(merges(0) == (("e", "s"))) // 6+3=9 occurrences
    assert(merges(1) == (("es", "t"))) // 9
    assert(merges(2) == (("est", "</w>"))) // 9
    // next: "l o" (5+2=7) vs "n e"(6) vs ... — "l o" wins
    assert(merges(3) == (("l", "o")))
  }

  test("train: zero merges, empty dict, and merge exhaustion are safe") {
    assert(BpeTraining.train(toyDict, 0).isEmpty)
    assert(BpeTraining.train(Seq.empty, 5).isEmpty)
    // single 1-char word: "a</w>" has one pair, then nothing to merge
    val m = BpeTraining.train(Seq(("a", 1L)), 10)
    assert(m == Seq(("a", "</w>")))
  }

  test("encodeWord reproduces the trained segmentation of dictionary words") {
    val merges = BpeTraining.train(toyDict, 6)
    // after enough merges, high-freq words collapse to single tokens
    val enc = Bpe.encodeWord("newest", merges)
    assert(enc.mkString("|").replace("|", "") == "newest" + Bpe.EndOfWord)
    // an unseen word still segments deterministically into valid symbols
    val unk = Bpe.encodeWord("west", merges)
    assert(unk.mkString == "west" + Bpe.EndOfWord)
  }

  test("mergeOnce is greedy left-to-right: 'a a a' under (a,a) -> 'aa a'") {
    val out = Bpe.mergeOnce(Array("a", "a", "a"), ("a", "a"))
    assert(out.toSeq == Seq("aa", "a"))
  }

  test("wordFreqs: counts, empty-token drop, deterministic cap") {
    val docs = Seq((1L, "b a a"), (2L, "a b  c")).toDF("doc_id", "text")
    val all = Bpe.wordFreqs(docs, "text").as[(String, Long)].collect().toSeq
    assert(all == Seq(("a", 3L), ("b", 2L), ("c", 1L))) // freq desc, word asc
    val capped = Bpe.wordFreqs(docs, "text", maxWords = 2).as[(String, Long)].collect().toSeq
    assert(capped == Seq(("a", 3L), ("b", 2L)))
  }

  test("pairCounts matches the driver-side trainer's first-iteration counts") {
    val docs = Seq((1L, ("low " * 5 + "lower " * 2 + "newest " * 6 + "widest " * 3).trim))
      .toDF("doc_id", "text")
    val dist = Bpe.pairCounts(Bpe.wordFreqs(docs, "text"))
      .as[(String, String, Long)].collect()
      .map { case (a, b, c) => ((a, b), c) }.toMap
    // reference counts from the same dict, computed the trainer's way
    val ref = scala.collection.mutable.HashMap.empty[(String, String), Long]
    for ((w, f) <- toyDict; sym = w.map(_.toString).toArray :+ Bpe.EndOfWord;
         i <- 0 until sym.length - 1)
      ref.updateWith((sym(i), sym(i + 1)))(c => Some(c.getOrElse(0L) + f))
    assert(dist == ref.toMap)
    assert(dist(("e", "s")) == 9L)
  }

  test("bpeTokenCount: native expression counts trained segments; NULL text -> 0") {
    val merges = BpeTraining.train(toyDict, 3) // es, est, est</w>
    val docs = Seq(
      (1L, "newest widest"), // n,e,w,est</w> (4) + w,i,d,est</w> (4)
      (2L, "low"), // l,o,w,</w> = 4
      (3L, ""),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = docs.select($"doc_id", Bpe.bpeTokenCount($"text", merges).as("n"))
      .orderBy($"doc_id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 8L), (2L, 4L), (3L, 0L), (4L, 0L)))
  }

  test("symbols split by code point: astral chars stay whole and distributed counts match the trainer") {
    val emoji = new String(Character.toChars(0x1F389)) // one astral code point
    val word = emoji + "x"
    // driver-side: [emoji, x, </w>] — no lone surrogates
    val m = BpeTraining.train(Seq((word, 1L)), 1)
    assert(m.head._1 == emoji || m.head._1 == "x" || m.head._2 == "x",
      s"merge symbols must be whole code points: $m")
    assert(Bpe.encodeWord(word, Seq.empty).head == emoji)
    // distributed pair counts agree with the trainer's symbol model
    val docs = Seq((1L, word)).toDF("doc_id", "text")
    val pairs = Bpe.pairCounts(Bpe.wordFreqs(docs, "text"))
      .as[(String, String, Long)].collect().toSet
    assert(pairs == Set((emoji, "x", 1L), ("x", Bpe.EndOfWord, 1L)))
  }

  test("bpeTokenCount stays row-local and codegen-compatible") {
    val merges = BpeTraining.train(toyDict, 3)
    val docs = Seq((1L, "low newest")).toDF("doc_id", "text")
    val df = docs.select(Bpe.bpeTokenCount($"text", merges).as("n"))
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(df.as[Long].collect().head == 8L) // l,o,w,</w> + n,e,w,est</w>
  }
}
