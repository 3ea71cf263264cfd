package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd dot product of two array<long> columns — the
  * inner loop of quantized-cosine similarity search
  * (graft.operators.Similarity).
  *
  * The composed form `aggregate(zip_with(a,b,(x,y)=>x*y),0L,+)` runs
  * through two interpreted higher-order functions per row (HOFs are
  * CodegenFallback), allocating a zipped intermediate array. At
  * corpus×query scale that's the entire cost of the scorer. This
  * expression emits a tight primitive loop inside whole-stage codegen:
  * no allocation, no lambda dispatch.
  *
  * Nulls: null if either array is null (standard binary null
  * semantics). Lengths must match — enforced by the caller (fixed-dim
  * embedding columns); shorter-length pairs use the common prefix.
  * Arithmetic wraps like Java long (quantized inputs keep it far from
  * overflow: 64 dims × (10⁴)² ≈ 6.4×10⁹).
  */
case class QDotLong(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_qdot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_qdot expects (array<bigint>, array<bigint>), got (${l.catalogString}, ${r.catalogString})")
    }

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): QDotLong =
    copy(left = newLeft, right = newRight)
}

object QDotLong {
  def qdot(a: Column, b: Column): Column =
    GraftSqlShim.column(QDotLong(GraftSqlShim.expression(a), GraftSqlShim.expression(b)))
}
