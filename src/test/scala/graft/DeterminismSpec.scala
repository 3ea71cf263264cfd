package graft

/** Every declared query must be run-to-run deterministic: the oracle
  * gate hash-compares exact values, so any shuffle-order-dependent
  * result (double summation order, unordered collect, arbitrary
  * tie-break) is a latent correctness failure even when a single run
  * happens to match. Executing each query twice in one session
  * catches the common cases cheaply (different shuffle fetch order
  * between runs). */
class DeterminismSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // one test per registered query, so a failure and its timing name the query
  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name yields identical rows on a second run") {
      val first = fn(spark, sfDir).collect().map(_.toString).toSeq
      val second = fn(spark, sfDir).collect().map(_.toString).toSeq
      assert(first == second, s"$name differs between two runs")
      // no nonEmpty assert: some pair queries legitimately find no
      // matches in the tiny sf0.001 corpus (e.g. q_embed_neardup)
    }
  }
}
