package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact heavy hitters, sketch-gated — "which keys make up ≥ θ of
  * the corpus" (stopword discovery, hot-entity detection, skew-key
  * discovery for `ops.Skew`) WITHOUT shuffling every distinct key.
  *
  * The naive plan is a full `groupBy(key)` + HAVING: one shuffle
  * whose width is the DISTINCT KEY set — for tokens over 100 TB,
  * that is the biggest shuffle in the pipeline, almost all of it
  * spent counting keys that could never qualify. This operator
  * gates first: a count-min grid is built (bounded shuffle: ≤
  * depth×width counter rows per map partition — `CountMin.build`),
  * collected to the driver (depth×width longs — model-parameter
  * sized, the `KMeans`/IVF literal-centroid precedent), and every
  * row then probes it as DENSE LITERAL ARRAYS (one per grid row) in
  * one narrow projection — `least()` over `depth` O(1) array
  * lookups, no explosion, no shuffle, inside whole-stage codegen.
  * (Not a literal MAP: `element_at` on a map literal linear-scans
  * the entries per probe — measured 46× slower at width 1024.) Only rows whose estimate clears the
  * threshold reach the exact `groupBy`, which now counts the few
  * genuinely-hot keys plus the sketch's bounded false positives.
  *
  * Correctness: count-min NEVER underestimates, so the gate passes
  * a SUPERSET of the true heavy hitters (no false negatives); the
  * exact re-count then removes false positives. Output is therefore
  * EXACTLY the keys with freq ≥ ⌈θ·N⌉ and their exact counts — the
  * oracle is a plain GROUP BY + HAVING, the approximation is
  * internal machinery only. Overestimates come from hash
  * collisions, bounded by ε·N with ε = e/width (Cormode &
  * Muthukrishnan 2005) — size width ≥ e/θ and the false-positive
  * row volume stays a θ-fraction of the data.
  *
  * Determinism: grid cells are exact integer counts on `Hash60`
  * addressing; the gate is a pure function of (key, grid); the
  * final counts are exact — partition-count independent end to end.
  */
object HeavyHitters {

  /** Keys with exact frequency ≥ ceil(minShare · N) and their exact
    * counts. NULL keys are skipped (no frequency identity). Collects
    * the depth×width grid to the driver at call time (an action on
    * `df`, bounded by the grid size).
    *
    * Contract change (round 6): `width` must now satisfy
    * width ≥ ceil(e/minShare) or the call throws — previously-accepted
    * permissive calls (e.g. minShare=0.001 with the default width=1024,
    * which needs width ≥ 2719) fail loudly instead of silently
    * degrading into a near-full exact re-count. Callers migrating from
    * the old behavior should size width up (a power of two keeps the
    * grid cache-friendly) rather than lower minShare. */
  def exactAtLeast(df: DataFrame, keyCol: String, minShare: Double,
                   depth: Int = 4, width: Int = 1024): DataFrame = {
    require(minShare > 0.0 && minShare <= 1.0, s"minShare must be in (0,1], got $minShare")
    // Enforce the ε = e/width ≤ minShare sizing the correctness
    // argument depends on: a width below e/minShare still returns
    // exact results, but the collision overestimate ε·N can exceed
    // the threshold for ARBITRARILY many cold keys, so the "few
    // false positives" contract silently becomes a near-full exact
    // re-count. Fail loud with the minimum compliant width instead.
    val minWidth = math.ceil(math.E / minShare).toInt
    require(width >= minWidth,
      s"width=$width is below e/minShare=$minWidth: the count-min " +
        s"overestimate bound (e/width)*N would exceed the minShare=$minShare " +
        "threshold, letting unboundedly many cold keys through the gate. " +
        s"Use width >= $minWidth (rounding up to a power of two keeps " +
        "the grid cache-friendly).")
    val rows = df.where(col(keyCol).isNotNull)
    val gridRows = CountMin.build(rows, keyCol, depth, width).collect()
    // N from the grid itself (row 0 sums every occurrence once) —
    // no second pass over the data
    val n = gridRows.filter(_.getAs[Int]("r") == 0).map(_.getAs[Long]("cnt")).sum
    val threshold = math.max(1L, math.ceil(minShare * n).toLong)
    // one DENSE literal array per grid row: element_at on an array
    // literal is O(1), where a map literal (ArrayBasedMapData) would
    // LINEAR-SCAN its entries on every probe — measured 46 s vs 1 s
    // on a 9.3M-row corpus
    val dense = Array.fill(depth)(new Array[Long](width))
    gridRows.foreach { g =>
      dense(g.getAs[Int]("r"))(g.getAs[Long]("c").toInt) = g.getAs[Long]("cnt")
    }
    val est = (0 until depth).map { r =>
      element_at(typedLit(dense(r)),
        (CountMin.cell(lit(r), col(keyCol), width) + lit(1L)).cast("int"))
    }.reduce(least(_, _))
    rows.where(est >= threshold)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= threshold)
  }
}
