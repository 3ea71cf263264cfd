package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Portable HyperLogLog — the ENGINE-INDEPENDENT distinct-count
  * sketch, companion to `CountMin` (frequencies).
  *
  * The native `hll_sketch_agg` binaries are compact and fast but
  * engine-private: only Datasketches-compatible readers can merge or
  * estimate them. This variant stores the registers as PLAIN ROWS
  * (group, reg, r) built from deterministic integer arithmetic on
  * `Hash60` — any engine that can run SQL over the stored frame
  * (DuckDB, Trino, the reference's Mongo aggregations) rebuilds the
  * SAME registers and the SAME estimate, bit for bit. That is the
  * cross-engine half of the lakehouse sketch contract: Spark writes
  * per-(day, group) register rows once, anything downstream merges
  * them without re-reading raw data — and without a Spark runtime.
  * q_hll_portable is therefore a FULL exact-hash oracle (like
  * q_countmin), not the rows-only bound the native fast path carries
  * for the native path.
  *
  * Algorithm (Flajolet et al. 2007, the classic HLL): register index
  * = low `lgK` bits of the 60-bit hash; rho = 1 + trailing-zero
  * count of the remaining 60−lgK bits (the geometric observable),
  * computed branch-free as `bit_count((w & −w) − 1) + 1` — pure
  * integer ops every engine evaluates identically. Estimate =
  * alpha_m · m² / Σ 2^−r_j with the standard small-range linear-
  * counting correction (m·ln(m/V) when E ≤ 2.5m and V zero registers
  * remain). No HLL++ bias tables — those are implementation-private
  * lookup data, exactly what a portable format must not depend on.
  * The register sum is kept in EXACT integer form (Σ 2^(60−r) as
  * decimal ≡ DuckDB HUGEINT) so merge order can never perturb it;
  * the only floating point is one constant, one division, and the
  * ln of a small rational — and the estimate is rounded to a whole
  * count, so a last-ulp libm difference cannot surface.
  *
  * Scale shape: one narrow hash projection, one (group, reg) hash
  * aggregate with map-side partials — the shuffle carries at most
  * m rows per group per map partition (the registers, not the
  * data). Rollup shuffles only stored register rows; max-merge is
  * associative, commutative, idempotent, so re-delivered frames
  * cannot corrupt a register (at-least-once-safe, unlike counter
  * sums). Error: rsd ≈ 1.04/√m (~3.25% at lgK=10), spec-bounded
  * against exact counts (PortableHllSpec).
  */
object PortableHll {

  /** Build per-group register rows (groupCols + reg INT + r INT) over
    * `valueCol`'s distinct values. NULL values are skipped (no
    * distinct identity). This is the stored artifact — write it at
    * the finest rollup grain. */
  /** Register index (low lgK bits of hash60) — shared with
    * HyperBall's dense register arrays. */
  private[graft] def regCol(value: Column, lgK: Int): Column =
    (graft.plans.Hash60.hash60(value.cast("string")) % (1L << lgK)).cast("int")

  /** rho = 1 + trailing zeros of the top 60−lgK hash bits; w == 0
    * caps at the max observable, (60 − lgK) + 1. */
  private[graft] def rhoCol(value: Column, lgK: Int): Column = {
    val w = shiftrightunsigned(graft.plans.Hash60.hash60(value.cast("string")), lgK)
    when(w === 0L, lit(61 - lgK))
      .otherwise(bit_count((w.bitwiseAND(-w)) - lit(1L)).cast("int") + lit(1))
  }

  def registers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                lgK: Int = 10): DataFrame = {
    require(lgK >= 4 && lgK <= 16, s"lgK must be in [4,16], got $lgK")
    df.where(col(valueCol).isNotNull)
      .select((groupCols.map(col) :+ regCol(col(valueCol), lgK).as("reg") :+
        rhoCol(col(valueCol), lgK).as("rho")): _*)
      .groupBy((groupCols.map(col) :+ col("reg")): _*)
      .agg(max(col("rho")).as("r"))
  }

  /** Max-merge stored registers to a coarser grain (day → month,
    * (source, day) → source…) — touches only register rows. The
    * result of `rollup(registers(daily))` is bit-identical to
    * building registers over the union directly. */
  def rollup(regs: DataFrame, groupCols: Seq[String]): DataFrame =
    regs.groupBy((groupCols.map(col) :+ col("reg")): _*)
      .agg(max(col("r")).as("r"))

  /** The estimator from the two sufficient statistics — `sp` = exact
    * integer Σ 2^(60−r) over LIVE registers (decimal), `np` = live
    * register count. Shared by the grouped row path ([[estimate]])
    * and HyperBall's row-local dense path: identical expression ⇒
    * identical estimates, whatever produced (sp, np). */
  private[graft] def estimateFromParts(sp: Column, np: Column, lgK: Int,
                                       out: String): Column = {
    require(lgK >= 7, s"alpha constant assumes m >= 128 (lgK >= 7), got $lgK")
    val m = 1L << lgK
    // absent registers are zeros: each contributes 2^-0 = 1 -> 2^60
    val sTotal = (sp +
      (lit(m) - np).cast(DecimalType(38, 0)) * lit(1152921504606846976L))
      .cast("double")
    val zeros = lit(m) - np
    // alpha_m * m^2 * 2^60, folded identically by any IEEE engine
    val alphaNum = (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))) *
      lit(m.toDouble * m.toDouble) * lit(1152921504606846976.0)
    val rawE = alphaNum / sTotal
    val est = when(zeros > 0L && rawE <= lit(2.5 * m),
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
      .otherwise(rawE)
    round(est).cast("long").as(out)
  }

  /** Distinct-count estimate per group from register rows, as a whole
    * count (BIGINT). Cross-engine-exact: see the class doc. */
  def estimate(regs: DataFrame, groupCols: Seq[String], lgK: Int = 10,
               out: String = "distinct_est"): DataFrame = {
    require(lgK >= 7, s"alpha constant assumes m >= 128 (lgK >= 7), got $lgK")
    val grouped = regs.groupBy(groupCols.map(col): _*)
      .agg(
        // exact integer Σ 2^(60 - r): r in [1, 61-lgK] so each term
        // fits a long; the sum needs decimal (DuckDB: HUGEINT)
        sum(expr("cast(shiftleft(1L, 60 - r) as decimal(38,0))")).as("__sp"),
        count(lit(1)).as("__np"))
    grouped.select((groupCols.map(col) :+
      estimateFromParts(col("__sp"), col("__np"), lgK, out)): _*)
  }
}
