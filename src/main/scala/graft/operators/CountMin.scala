package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-min sketch — the mergeable FREQUENCY summary, companion to
  * `PortableHll` (distinct counts): a depth×width grid of counters where
  * key k increments cell (r, hash_r(k) mod width) for each row r, and
  * freq̂(k) = min_r cell(r, hash_r(k)) — an overestimate by at most
  * ε·N with probability 1−δ (ε = e/width, δ = e^−depth; Cormode &
  * Muthukrishnan 2005). The heavy-hitter / frequency-cap primitive a
  * pipeline stores per shard and merges later: cell grids add
  * element-wise, so per-day sketches roll up to any coarser grain
  * without raw rescans — same artifact contract as `PortableHll`, but
  * for "how often", not "how many distinct".
  *
  * Unlike HLL registers, EVERYTHING here is deterministic integer
  * arithmetic on `Hash60(r ":" key)` — the sketch cells AND the
  * estimates are bit-identical across engines and partitionings, so
  * q_countmin is a full exact-hash oracle, not a bounded one: an
  * approximate data structure whose construction is exactly
  * reproducible.
  *
  * Scale shape: build explodes each row to `depth` (r, c) int pairs
  * that hash-aggregate with map-side partials — the shuffle carries
  * at most depth × width counter rows per map partition regardless of
  * input size (the grid, not the data). Estimates are one broadcast-
  * sized probe explode + an equi-join on (r, c). A hot key skews
  * nothing: it increments the same `depth` cells everywhere, and
  * partial aggregation collapses it map-side.
  */
object CountMin {

  private[graft] def cell(r: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column,
                          width: Int): org.apache.spark.sql.Column =
    pmod(graft.plans.Hash60.hash60(
      concat_ws(":", r.cast("string"), key.cast("string"))), lit(width.toLong))

  /** Build the (r, c, cnt) cell grid over `keyCol`. Rows with NULL
    * keys are skipped (a NULL has no frequency identity). */
  def build(df: DataFrame, keyCol: String, depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 2, s"need depth>=1, width>=2; got $depth x $width")
    df.where(col(keyCol).isNotNull)
      .select(explode(sequence(lit(0), lit(depth - 1))).as("r"), col(keyCol).as("__k"))
      .select(col("r"), cell(col("r"), col("__k"), width).as("c"))
      .groupBy(col("r"), col("c"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[build]] over a PRE-COUNTED key frame: each distinct key is
    * hashed once per grid row and contributes its count to the cell —
    * cell-for-cell identical to `build` over the raw rows (a cell's
    * count is a sum either way), but the md5 `cell` hash — the
    * dominant per-row cost — runs |distinct keys|·depth times instead
    * of |rows|·depth (r14 optimization; guide §2.3 "aggregate before
    * you shuffle", applied to the hash: q_cm_joinsize's lineitem keys
    * are ~30× duplicated and its build stage was 2.3 s of md5 on the
    * unsplittable single-row-group scan). Use when the caller already
    * has (or cheaply gets) per-key counts; `build` stays the right
    * call for near-unique keys, where the extra count aggregate would
    * shuffle the whole key set for nothing. NULL keys are the
    * caller's to drop (a NULL has no frequency identity). */
  def buildWeighted(counts: DataFrame, keyCol: String, weightCol: String,
                    depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 2, s"need depth>=1, width>=2; got $depth x $width")
    counts.where(col(keyCol).isNotNull)
      .select(explode(sequence(lit(0), lit(depth - 1))).as("r"),
        col(keyCol).as("__k"), col(weightCol).as("__n"))
      .select(col("r"), cell(col("r"), col("__k"), width).as("c"), col("__n"))
      .groupBy(col("r"), col("c"))
      .agg(sum(col("__n")).as("cnt"))
  }

  /** freq̂ for each distinct probe key: min over rows of its cells
    * (an absent cell is 0 — no key ever hashed there). Output:
    * keyCol, est (BIGINT, ≥ true frequency). */
  def estimate(cells: DataFrame, probes: DataFrame, keyCol: String,
               depth: Int = 4, width: Int = 1024): DataFrame = {
    val probeCells = probes.select(col(keyCol)).where(col(keyCol).isNotNull).distinct()
      .select(col(keyCol), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("c", cell(col("r"), col(keyCol), width))
    probeCells.join(cells, Seq("r", "c"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Equi-join cardinality estimate from two cell grids built with
    * the SAME (depth, width) over the join key of each side:
    * |A ⋈ B| = Σ_v f_A(v)·f_B(v), and the sketch inner product
    * min_r Σ_c cntA(r,c)·cntB(r,c) overestimates it by at most
    * ε·N_A·N_B with probability 1−δ (Cormode & Muthukrishnan 2005,
    * §4.2) — the query-optimizer primitive for sizing a join (pick
    * broadcast vs shuffle, pre-provision skew handling) from
    * kilobyte summaries WITHOUT scanning either input, e.g. against
    * per-partition grids a pipeline already stores and merges.
    *
    * Like `estimate`, this is deterministic integer arithmetic end
    * to end: the estimate itself replays exactly cross-engine.
    * Output: one row, `join_size_est` BIGINT.
    *
    * Scale: the work is one equi-join of two depth×width grids plus
    * two grid-sized aggregates — independent of either input's row
    * count. Self inner product (a == b) gives the second frequency
    * moment F₂, the skew statistic. */
  def joinSizeEstimate(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("r"), col("c"), col("cnt").as("__ca"))
      .join(b.select(col("r"), col("c"), col("cnt").as("__cb")), Seq("r", "c"))
      .groupBy(col("r"))
      .agg(sum(col("__ca") * col("__cb")).as("__dot"))
      .agg(min(col("__dot")).cast("long").as("join_size_est"))
}
