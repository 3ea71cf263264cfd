package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{KMeans, SemDedup, Similarity}

/** KMeans trainer + SemDeDup: determinism, argmax correctness vs a
  * driver-side recomputation, the empty-cluster fallback, and the
  * cluster-scoped-vs-global pair relationship. */
class KMeansSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def emb = Tables.embeddings(spark, sf)

  test("train is deterministic and returns k centroids sorted by cid") {
    val a = KMeans.train(emb, 8, 2)
    val b = KMeans.train(emb, 8, 2)
    assert(a.length == 8 && a.map(_._1).toSeq == (0 until 8))
    assert(a.zip(b).forall { case ((c1, v1, n1), (c2, v2, n2)) =>
      c1 == c2 && v1.sameElements(v2) && n1 == n2
    })
    // iters=0 is exactly the seed model
    val seed = KMeans.train(emb, 8, 0)
    val direct = Similarity.centroidModel(emb, 8)
    assert(seed.zip(direct).forall { case ((c1, v1, n1), (c2, v2, n2)) =>
      c1 == c2 && v1.sameElements(v2) && n1 == n2
    })
  }

  test("assign matches a driver-side brute-force argmax under the trained model") {
    val cents = KMeans.train(emb, 8, 2)
    val got = KMeans.assign(emb, cents).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val vecs = emb.select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    assert(vecs.nonEmpty)
    vecs.foreach { case (id, v) =>
      val nv = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      val best = cents.map { case (cid, cv, cn) =>
        var dot = 0L; var i = 0
        val n = math.min(v.length, cv.length)
        while (i < n) { dot += v(i) * cv(i); i += 1 }
        (dot.toDouble / (nv * cn), -cid)
      }.max // (cos, -cid) lexicographic = highest cos, then smallest cid
      assert(got(id) == -best._2, s"vec $id: got ${got(id)} want ${-best._2}")
    }
  }

  test("training moves the centroids off the seed (the loop does work)") {
    val seed = KMeans.train(emb, 8, 0)
    val trained = KMeans.train(emb, 8, 1)
    // after one update a centroid is a cluster SUM, not a single vector
    assert(seed.zip(trained).exists { case ((_, v1, _), (_, v2, _)) =>
      !v1.sameElements(v2)
    })
  }

  test("an emptied cluster keeps its previous centroid (deterministic fallback)") {
    // 3 identical vectors + k=2: both seeds are duplicates of the same
    // point, every vector ties and goes to cid 0 (smallest-cid rule),
    // cluster 1 empties and must retain its seed centroid verbatim
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val v = Seq(0.6f, 0.8f)
    val rows = java.util.Arrays.asList(
      Row(0L, v), Row(1L, v), Row(2L, v))
    val df = spark.createDataFrame(rows, schema)
    val cents = KMeans.train(df, 2, 3)
    val seed = Similarity.centroidModel(df, 2)
    assert(cents(1)._2.sameElements(seed(1)._2) && cents(1)._3 == seed(1)._3)
    // cluster 0 holds the sum of all three members
    assert(cents(0)._2.toSeq == Seq(3 * 6000L, 3 * 8000L))
    val assigned = KMeans.assign(df, cents).collect()
    assert(assigned.forall(_.getInt(1) == 0))
  }

  test("semdedup pairs are a subset of the global all-pairs set, exact within clusters") {
    val cents = KMeans.train(emb, 8, 2)
    val thr = 0.4
    val sem = SemDedup.pairsWithModel(emb, cents, thr).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val global = Similarity.cosineNearDupPairs(emb, thr).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(global), "cluster-scoped pairs must be global pairs")
    // exactness within clusters: every global pair whose two sides are
    // in the SAME cluster must be found (recall 1 within a cluster)
    val assign = KMeans.assign(emb, cents).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sameCluster = global.filter { case (a, b) => assign(a) == assign(b) }
    assert(sem == sameCluster)
  }

  test("train rejects k larger than the seedable corpus and bad args") {
    intercept[IllegalArgumentException](KMeans.train(emb, 0, 1))
    intercept[IllegalArgumentException](KMeans.train(emb, 8, -1))
    intercept[IllegalArgumentException](KMeans.train(emb.where(col("vec_id") < 3), 8, 1))
  }
}
