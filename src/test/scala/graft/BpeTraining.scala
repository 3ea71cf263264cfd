package graft

import graft.ops.Bpe

/** Driver-side exact BPE training over a collected dictionary — the
  * merge tables the BPE specs encode with. `numMerges` iterations of
  * (count pairs, merge the argmax pair everywhere); ties break (count
  * desc, pair lexicographic asc). Cost is O(numMerges × Σ word lengths
  * of the dict). Returns merges in rank order. */
object BpeTraining {
  def train(dict: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    require(numMerges >= 0, "numMerges must be non-negative")
    var words: Seq[(Array[String], Long)] =
      dict.map { case (w, f) => (Bpe.symbols(w), f) }
    val merges = Seq.newBuilder[(String, String)]
    var k = 0
    while (k < numMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((sym, f) <- words; i <- 0 until sym.length - 1)
        counts.updateWith((sym(i), sym(i + 1)))(c => Some(c.getOrElse(0L) + f))
      if (counts.isEmpty) return merges.result()
      val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
      merges += best
      words = words.map { case (sym, f) => (Bpe.mergeOnce(sym, best), f) }
      k += 1
    }
    merges.result()
  }
}
