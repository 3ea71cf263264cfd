package graft

import graft.ops.Shuffle
import org.apache.spark.sql.functions._

class ShuffleSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = (1L to 5000L).toDF("id")

  test("a fixed seed is a pure function of the key; different seeds re-deal the order") {
    val a = Shuffle.withOrder(corpus, "id", 7L)
    val b = Shuffle.withOrder(corpus, "id", 7L)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val c = Shuffle.withOrder(corpus, "id", 8L)
    // the two epochs order the corpus differently (prefix disagrees)
    val first7 = a.orderBy($"shuffle_key", $"id").limit(50).select($"id").as[Long].collect().toSeq
    val first8 = c.orderBy($"shuffle_key", $"id").limit(50).select($"id").as[Long].collect().toSeq
    assert(first7 != first8, "seeds 7 and 8 produced the same order prefix")
  }

  test("the order is statistically shuffled, not id-correlated") {
    // rank correlation of (id order, shuffle order) over a sample:
    // |spearman| should be near 0 for a good re-deal
    val ranked = Shuffle.withOrder(corpus, "id", 7L)
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"shuffle_key", $"id")))
      .select($"id", $"r").as[(Long, Int)].collect()
    val n = ranked.length.toDouble
    val spearman = 1.0 - 6.0 * ranked.map { case (id, r) =>
      val d = id - r; d.toDouble * d
    }.sum / (n * (n * n - 1.0))
    assert(math.abs(spearman) < 0.05, s"spearman=$spearman — order still id-correlated")
  }
}
