package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic distributed training of a linear probabilistic
  * classifier — the quality-scorer shape every large-corpus curation
  * pipeline eventually needs (train a cheap model on labeled docs,
  * score the corpus with it), built so the TRAINING ITSELF is
  * oracle-exact across engines:
  *
  *   - the link is the ALGEBRAIC sigmoid σ̃(z) = 0.5 + 0.5·z/(1+|z|)
  *     — same shape and gradient sign structure as the logistic
  *     link, but only +, ×, ÷, |·| on doubles: every engine's IEEE
  *     arithmetic produces bit-identical values, where libm exp()
  *     provably does not (measured: Java Math.exp and DuckDB exp
  *     disagree in the last ulp across a 40k-point sweep);
  *   - per-row residuals are micro-rounded ONCE (round(1e6·(p − y)),
  *     a deterministic function of bit-identical doubles, so both
  *     engines round the same values the same way);
  *   - gradients are EXACT integer sums Σ r6·x_j accumulated in
  *     DECIMAL(38,0) — overflow-proof at any row count and, unlike
  *     float sums, ORDER-FREE: partial aggregation across thousands
  *     of partitions is bit-stable by construction (the one property
  *     a float-gradient reduce cannot give a distributed trainer);
  *   - the weight update w ← w − lr·((G/1e6)/n) runs on the driver
  *     over the F+1 collected sums (model-sized, the PCA power-
  *     iteration precedent), with the decimal→double conversion
  *     correctly rounded on both engines.
  *
  * Scale shape: each iteration is one narrow projection + one global
  * aggregate with map-side partials — no shuffle of the corpus, no
  * per-row UDF, driver state is F+1 doubles. Fixed `iters` keeps the
  * job count bounded (the synchronous-rounds contract of the graph
  * family). Feature values must be integral longs bounded by
  * `maxAbsFeature` (guarded loudly): |r6·x| ≤ 1e6·maxAbs keeps each
  * term inside a long before the decimal cast.
  */
object LogReg {

  /** Train; returns (w, n) where w(0) is the intercept and w(j+1)
    * pairs with features(j). */
  def trainDeterministic(df: DataFrame, labelCol: String, features: Seq[String],
                         lr: Double, iters: Int,
                         maxAbsFeature: Long = 1000000L): (Array[Double], Long) = {
    require(features.nonEmpty, "LogReg: at least one feature column")
    require(iters >= 1 && iters <= 64, s"LogReg: iters must be in [1,64], got $iters")
    require(lr > 0, s"LogReg: lr must be positive, got $lr")
    require(maxAbsFeature > 0 && maxAbsFeature <= 1000000000L,
      s"LogReg: maxAbsFeature must be in (0, 1e9], got $maxAbsFeature")
    val y = when(col(labelCol).isNull || (col(labelCol) =!= 0L && col(labelCol) =!= 1L),
        raise_error(concat(lit(s"LogReg: label $labelCol must be 0 or 1, got "),
          col(labelCol).cast("string"))))
      .otherwise(col(labelCol)).cast("long")
    val xs: Seq[Column] = features.map { f =>
      when(col(f).isNull, raise_error(lit(
          s"LogReg: NULL feature $f — impute or filter before training")))
        .when(col(f).cast("double") =!= col(f).cast("long").cast("double"),
          raise_error(concat(
            lit(s"LogReg: non-integral feature $f (got "), col(f).cast("string"),
            lit(") — features must be integral longs; quantize (e.g. round(1e3*x)) " +
              "before training so train and score see the same values"))))
        .when(abs(col(f).cast("long")) > maxAbsFeature, raise_error(concat(
          lit(s"LogReg: |$f| exceeds maxAbsFeature=$maxAbsFeature (got "),
          col(f).cast("string"),
          lit(") — rescale the feature; the residual product must stay in a long"))))
        .otherwise(col(f)).cast("long")
    }
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)

    val w = Array.fill(features.size + 1)(0.0)
    var n = 0L
    for (_ <- 1 to iters) {
      // z = ((w0 + w1·x1) + w2·x2) + … — the exact association order
      // the oracle mirrors
      val z = xs.zipWithIndex.foldLeft(lit(w(0))) { case (acc, (x, j)) =>
        acc + lit(w(j + 1)) * x.cast("double")
      }
      val p = lit(0.5) + lit(0.5) * (z / (lit(1.0) + abs(z)))
      val r6 = round(lit(1000000.0) * (p - y.cast("double"))).cast("long")
      val aggs =
        sum(r6.cast(dec)).as("g0") +:
          xs.zipWithIndex.map { case (x, j) => sum((r6 * x).cast(dec)).as(s"g${j + 1}") } :+
          count(lit(1)).as("n")
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      n = row.getLong(features.size + 1)
      require(n > 0, "LogReg: empty training frame")
      for (j <- 0 to features.size) {
        val g = row.getDecimal(j).doubleValue() // correctly-rounded conversion
        w(j) = w(j) - lr * ((g / 1000000.0) / n.toDouble)
      }
    }
    (w, n)
  }

  /** Trained weights as a frame: (term, weight) with term "intercept"
    * then the feature names — the registered-query surface. */
  def weightsFrame(df: DataFrame, labelCol: String, features: Seq[String],
                   lr: Double, iters: Int,
                   maxAbsFeature: Long = 1000000L): DataFrame = {
    val (w, _) = trainDeterministic(df, labelCol, features, lr, iters, maxAbsFeature)
    val spark = df.sparkSession
    import spark.implicits._
    ("intercept" +: features).zip(w.toSeq).toDF("term", "weight")
  }
}
