package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert-curve index for two keys — the locality-better sibling of
  * `ops.Layout.zKey2` (Morton). Both map 2-D keys onto one sort key
  * so range-partitioned files cover tight rectangles; the Hilbert
  * walk additionally never jumps (every step is Manhattan-adjacent),
  * so file envelopes avoid the Morton curve's quadrant-boundary
  * seams. HilbertSpec measures the effect directly: at file sizes
  * that don't align with quadrant boundaries, Hilbert-segment
  * bounding boxes are strictly tighter on average than Morton
  * segments of the same size — the reason modern lakehouse
  * clustering prefers Hilbert for its default. The trade: the index
  * is iterative (16 dependent reflect/rotate steps), not 4 masked
  * doublings.
  *
  * That iteration is why this is a native `BinaryExpression` rather
  * than Column arithmetic: each step's (x, y) feeds the next, so a
  * pure-Column unroll doubles the expression tree per step (2^16
  * nodes by step 16), while SQL engines express it as 16 chained
  * CTE projections. Here it is one static JVM loop inside
  * whole-stage codegen (the Hash60/JaroWinkler seam), and the
  * registered oracle (q_hilbert) IS the 16-chained-CTE replica in
  * DuckDB — same reflect/rotate recurrence, exact integers, so the
  * key hash-matches bit for bit.
  *
  * Algorithm: the standard xy→d walk (Wikipedia "Hilbert curve",
  * the classic n/2-descending loop): at scale s, quadrant bits
  * (rx, ry) contribute s²·((3rx) xor ry) and the lower quadrant is
  * reflected/rotated into canonical orientation. Inputs must lie in
  * [0, 2^bits); out-of-range or negative keys fail loud (the zKey2
  * contract — silently masking would interleave a wrong ordering).
  */
object HilbertImpl {

  /** d-index of (x, y) on the 2^bits × 2^bits Hilbert curve. */
  def key2(xIn: Long, yIn: Long, bits: Int): Long = {
    val n = 1L << bits
    if (xIn < 0 || xIn >= n || yIn < 0 || yIn >= n)
      throw new IllegalArgumentException(
        s"hilbert_key2: key outside [0, ${n - 1}]: ($xIn, $yIn)")
    var x = xIn; var y = yIn; var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) { // reflect (lower quadrants), then transpose
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

case class HilbertKey2(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hilbert_key2"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_hilbert_key2 expects (BIGINT, BIGINT), got (${l.catalogString}, ${r.catalogString})")
    }

  protected override def nullSafeEval(a: Any, b: Any): Any =
    HilbertImpl.key2(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.plans.HilbertImpl.key2($a, $b, $bits)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HilbertKey2 =
    copy(left = newLeft, right = newRight)
}

object Hilbert {
  /** Column form: Hilbert index of two BIGINT keys in [0, 2^bits). */
  def hilbertKey2(a: Column, b: Column, bits: Int = 16): Column =
    GraftSqlShim.column(HilbertKey2(
      GraftSqlShim.expression(a.cast("long")),
      GraftSqlShim.expression(b.cast("long")), bits))
}
