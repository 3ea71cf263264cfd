package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", 2011) — the standard way a 100 TB
  * embedding store stops carrying full vectors: split each dim-D
  * vector into m subvectors, quantize each against its own k-entry
  * codebook, and store m small codes (m·log₂k bits ≈ 4 bytes here)
  * instead of D floats (256 bytes) — a ~50× compression that still
  * supports approximate nearest-neighbor search via ADC (asymmetric
  * distance computation): the query stays exact, each corpus vector
  * is approximated by its per-subspace centroids, and distance is
  * the sum of m table lookups.
  *
  * Determinism/oracle story (the `Similarity`/IVF precedent): all
  * arithmetic runs on integer-quantized components, so subspace
  * distances are EXACT integer sums — encode (argmin with ties to
  * the smallest centroid id) and ADC scores are bit-reproducible in
  * any engine, and both registered queries carry full cross-engine
  * oracles. The codebook is the deterministic stand-in the IVF path
  * uses: centroids = the first k corpus vectors' subvectors (swap in
  * `KMeans`-trained ones for production quality; every downstream
  * mechanism is identical).
  *
  * Scale shape: the codebook is model-parameter sized (m·k·subDim
  * longs), collected once and inlined as literals — encode and ADC
  * are NARROW per-row projections (no join, no shuffle) over the
  * native integer dot product. Encoding cost is m·k dots of
  * subDim-length vectors per row, embarrassingly parallel; ADC
  * scoring is a broadcast of the (small) query set, m lookups + adds
  * per (query, corpus) pair, with the usual top-k
  * TakeOrderedAndProject finish.
  */
object ProductQuantizer {

  /** Codebook: cents(s)(c) = (centroid id c, its quantized subvector
    * for subspace s, its squared norm). Deterministic: centroids are
    * corpus rows vec_id < k, subspace-sliced. */
  final case class Model(m: Int, subDim: Int, k: Int,
                         cents: Array[Array[(Int, Array[Long], Long)]])

  def model(corpus: DataFrame, m: Int, k: Int): Model = {
    require(m >= 1 && k >= 2, s"need m>=1, k>=2; got m=$m k=$k")
    val rows = corpus.where(col("vec_id") < k)
      .select(col("vec_id").cast("int"), Similarity.quantize(col("embedding")))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    require(rows.length == k, s"corpus has ${rows.length} of the $k centroid rows")
    val dim = rows.head._2.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val cents = Array.tabulate(m) { s =>
      rows.map { case (cid, v) =>
        val sub = v.slice(s * subDim, (s + 1) * subDim)
        var n2 = 0L; var i = 0
        while (i < sub.length) { n2 += sub(i) * sub(i); i += 1 }
        (cid, sub, n2)
      }
    }
    Model(m, subDim, k, cents)
  }

  /** The query-side subvector for subspace s (1-based slice). */
  private def sub(v: Column, s: Int, subDim: Int): Column =
    slice(v, s * subDim + 1, subDim)

  /** Trained codebooks: exact-integer Lloyd's per subspace —
    * assignment is argmin L2 over literal centroids (ties to the
    * smallest centroid id), the update is one (code, dim) SUM
    * aggregate plus per-code counts (both exact, order-free), and
    * the new centroid is the ROUNDED INTEGER MEAN computed
    * driver-side (floorDiv(2·sum + n, 2·n) — deterministic for
    * negative sums too). Clusters that lose every member keep their
    * previous centroid. Each of the m·iters rounds is one narrow
    * assignment projection + one bounded aggregate (≤ k·subDim sum
    * rows reach the driver — model-parameter sized, the `KMeans`
    * contract). Same `Model` shape as the stand-in, so `encode` /
    * `adcTopK` are unchanged; the stand-in stays the oracle path
    * (its codebook is SQL-replicable; a trained one would need the
    * whole Lloyd's loop in SQL), trained is the production path —
    * SCALE_NOTES' round-6 PQ table records the recall it buys. */
  def trainedModel(corpus: DataFrame, m: Int, k: Int, iters: Int): Model = {
    require(iters >= 1 && iters <= 50, s"iters in [1,50], got $iters")
    val init = model(corpus, m, k)
    val base = corpus.where(col("embedding").isNotNull)
      .select(Similarity.quantize(col("embedding")).as("v"))
      .transform(graft.ops.Checkpoints.truncate)
    val cents = init.cents.map(_.map { case (cid, cv, n2) => (cid, cv.clone(), n2) })
    for (_ <- 0 until iters; s <- 0 until m) {
      val scored = array(cents(s).map { case (cid, cv, cn2) =>
        struct(
          (lit(cn2) - lit(2L) * Similarity.qdot(sub(col("v"), s, init.subDim), typedLit(cv.toSeq))).as("d"),
          lit(cid).as("cid"))
      }: _*)
      val assigned = base.select(array_min(scored).getField("cid").as("code"),
        sub(col("v"), s, init.subDim).as("sv"))
      val stats = assigned
        .select(col("code"), posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("code"), col("dim"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getAs[Int]("code"))
      cents(s) = cents(s).map { case (cid, oldV, oldN2) =>
        stats.get(cid) match {
          case Some(rows) =>
            val nv = oldV.clone()
            rows.foreach { r =>
              val d = r.getAs[Int]("dim")
              val n = r.getAs[Long]("n")
              nv(d) = Math.floorDiv(2L * r.getAs[Long]("sx") + n, 2L * n)
            }
            var n2 = 0L; var i = 0
            while (i < nv.length) { n2 += nv(i) * nv(i); i += 1 }
            (cid, nv, n2)
          case None => (cid, oldV, oldN2) // empty cluster: keep
        }
      }
    }
    Model(m, init.subDim, k, cents)
  }

  /** Argmin centroid id for subspace s of quantized vector `v`:
    * smallest squared L2 = ||c||² − 2·⟨v_s, c⟩ (the ||v_s||² term is
    * constant per row), ties to the smallest centroid id via
    * lexicographic struct min. */
  private[graft] def codeFor(v: Column, s: Int, mdl: Model): Column = {
    val scored = array(mdl.cents(s).map { case (cid, cv, cn2) =>
      struct(
        (lit(cn2) - lit(2L) * Similarity.qdot(sub(v, s, mdl.subDim), typedLit(cv.toSeq)))
          .as("d"),
        lit(cid).as("cid"))
    }: _*)
    array_min(scored).getField("cid")
  }

  /** Encode the corpus: one INT code per subspace, as columns
    * code0..code{m-1} — m·log₂k bits of payload replacing the
    * vector. A narrow projection over literal centroids. */
  def encode(corpus: DataFrame, mdl: Model): DataFrame = {
    val v = Similarity.quantize(col("embedding"))
    corpus.where(col("embedding").isNotNull) // a NULL vector has no code
      .select(
        col("vec_id") +:
          (0 until mdl.m).map(s => codeFor(v, s, mdl).as(s"code$s")): _*)
  }

  /** ADC scores: for each (query, encoded corpus row) pair, the
    * approximate squared L2 distance Σ_s ||q_s − cent_s[code_s]||²
    * — exact integers given the codes, so ranking is deterministic
    * (ties to smallest corpus id). `queries` must carry vec_id +
    * embedding; `codes` is `encode`'s output. Top-k per query. */
  /** Query-side ADC projection: per subspace the quantized
    * subvector q{s} and its squared norm qn{s} — the columns
    * [[adcDistExpr]] consumes. Shared by [[adcTopK]] and the IVF-PQ
    * composition in [[Similarity.ivfPqTopK]]. */
  private[graft] def querySubCols(mdl: Model): Seq[Column] = {
    val qv = Similarity.quantize(col("embedding"))
    (0 until mdl.m).flatMap(s => Seq(
      sub(qv, s, mdl.subDim).as(s"q$s"),
      Similarity.qnorm2(sub(qv, s, mdl.subDim)).as(s"qn$s")))
  }

  /** The ADC squared-L2 distance: Σ_s ||q_s||² + ||c||² − 2⟨q_s, c⟩
    * with the centroid picked by the stored code — centroid
    * vectors/norms are literal arrays indexed by code (k entries,
    * model-sized). Exact integers given the codes. */
  private[graft] def adcDistExpr(mdl: Model): Column =
    (0 until mdl.m).map { s =>
      val centVecs = typedLit(mdl.cents(s).map(_._2.toSeq).toSeq)
      val centN2 = typedLit(mdl.cents(s).map(_._3).toSeq)
      col(s"qn$s") + element_at(centN2, col(s"code$s") + 1) -
        lit(2L) * Similarity.qdot(col(s"q$s"), element_at(centVecs, col(s"code$s") + 1))
    }.reduce(_ + _)

  def adcTopK(codes: DataFrame, queries: DataFrame, mdl: Model, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val q = queries.where(col("embedding").isNotNull).select(
      col("vec_id").as("query_id") +: querySubCols(mdl): _*)
    val dist = adcDistExpr(mdl)
    val scored = codes.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("corpus_id"), dist.as("adc_dist"))
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist").asc, col("corpus_id").asc)).cast("int"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), col("adc_dist"), col("rnk"))
  }
}
