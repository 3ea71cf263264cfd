package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering for
  * write-time file organization — the mechanism behind
  * Delta/Iceberg-style `OPTIMIZE ZORDER BY`, built from plain Spark
  * primitives.
  *
  * Why it matters at 100 TB: parquet readers skip whole files and
  * row groups via min/max statistics. A layout sorted linearly on
  * one column gives perfect skipping on THAT column and none on any
  * other; interleaving the bits of two keys into one sort key makes
  * every file cover a tight hyper-RECTANGLE in (a, b) space, so
  * predicates on EITHER dimension (or both) prune files. The
  * trade-off is bounded: each dimension's per-file range widens by
  * ~√files vs its dedicated linear sort, in exchange for the second
  * dimension going from no pruning to √-scale pruning.
  *
  * This module builds EXACT keys: `zKey2` interleaves keys already
  * in [0, 2^bits) (ids, enum codes, day numbers, `rankBits` output)
  * with no stats pass, as pure shift/mask column arithmetic — the
  * classic magic-bits construction, no UDF, fully inside
  * whole-stage codegen, and therefore carrying an exact cross-engine
  * oracle (q_zorder) that a quantile-ranked key cannot
  * (approxQuantile cuts are engine-private).
  */
object Layout {

  /** Spread the low 16 bits of `x` to the even bit positions of a
    * 32-bit lane: abcdefgh -> a0b0c0d0... (magic-bits, 4 steps). */
  private def spread16(x: Column): Column = {
    val s1 = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
    s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order key interleaving the low 16 bits of two non-negative
    * keys (a in even bits, b in odd): locality in z-key order is
    * locality in BOTH inputs. Inputs wider than 16 bits must be
    * range-reduced first (e.g. `rankBits`); negative or NULL inputs
    * are a contract violation surfaced loudly rather than silently
    * interleaved into a wrong ordering. */
  def zKey2(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 16, s"bits must be in [1,16], got $bits")
    spread16(checked("zKey2", a, bits)).bitwiseOR(shiftleft(spread16(checked("zKey2", b, bits)), 1))
  }

  private def checked(fn: String, c: Column, bits: Int): Column = {
    val mask = (1L << bits) - 1
    when(c.isNull || c < 0 || c > mask,
      raise_error(concat(lit(s"$fn: key outside [0, $mask]: "),
        coalesce(c.cast("string"), lit("NULL")))))
      .otherwise(c.cast("long"))
  }

  /** Z-order key interleaving ANY number of non-negative keys, each
    * in [0, 2^bits): bit j of key d lands at position j·n + d, so
    * `zKeyN(Seq(a, b), 16)` equals `zKey2(a, b)` bit for bit — and
    * real lakehouse OPTIMIZE ZORDER takes 3-4 columns, which is what
    * this general form serves (q_zorder3 carries the exact 3-dim
    * cross-engine oracle). No magic-bits constants exist for general
    * n, so the interleave unrolls the bits explicitly — still pure
    * shift/mask column arithmetic inside whole-stage codegen,
    * n·bits OR-terms instead of
    * 4 masked doublings; Catalyst's subexpression elimination keeps
    * the range check per key, not per bit. The bit budget shrinks
    * with n (n·bits ≤ 63): more dimensions = coarser per-dimension
    * resolution, the inherent z-order trade. */
  def zKeyN(keys: Seq[Column], bits: Int): Column = {
    val n = keys.size
    require(n >= 2, s"zKeyN needs at least 2 keys, got $n (sort linearly for 1)")
    require(bits >= 1 && n * bits <= 63,
      s"$n keys x $bits bits = ${n * bits} must fit a long's 63 value bits")
    keys.zipWithIndex.map { case (k, d) =>
      val kc = checked("zKeyN", k, bits)
      (0 until bits).map { j =>
        shiftleft(shiftright(kc, j).bitwiseAND(lit(1L)), j * n + d)
      }.reduce(_.bitwiseOR(_))
    }.reduce(_.bitwiseOR(_))
  }

  /** Range-reduce an arbitrary numeric column to [0, 2^bits) by
    * equi-width bucketing over its observed min/max (one cheap
    * stats pass, driver holds two scalars). Monotonic, so z-order
    * locality in bucket space is locality in value space. */
  def rankBits(df: DataFrame, c: String, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 16, s"bits must be in [1,16], got $bits")
    val r = df.agg(min(col(c)).cast("double"), max(col(c)).cast("double")).head()
    require(!r.isNullAt(0) && !r.isNullAt(1),
      s"rankBits: column '$c' has no non-NULL values (empty frame or all-NULL) - " +
        "there is no range to bucket")
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    val buckets = 1L << bits
    if (hi == lo) lit(0L)
    else least(lit(buckets - 1),
      floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * buckets).cast("long"))
  }
}
