package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd 60-bit md5 hash: the first 60 bits of md5(s) as a
  * signed long — semantically identical to the composed form
  * `conv(substring(md5(s), 1, 15), 16, 10) :: long`
  * (TextFunctions.hash60) and to DuckDB's
  * `CAST('0x' || substr(md5(s),1,15) AS BIGINT)`.
  *
  * Why a custom Expression (SURVEY §7.3 decision table: prefer native
  * `Expression` over UDF when built-ins can't express it cheaply):
  * the composed form evaluates three expressions and materializes a
  * 32-char hex UTF8String per call; this one digests once and reads
  * the first 8 bytes — no intermediate allocations, and `doGenCode`
  * keeps it inside whole-stage codegen (a Scala UDF would break the
  * codegen stage and add serialization).
  */
object Hash60Impl {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(bytes), as a non-negative long. */
  def hash(bytes: Array[Byte]): Long = {
    val d = md.get()
    d.reset()
    val out = d.digest(bytes)
    // big-endian first 8 bytes, dropped low nibble = first 15 hex chars
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (out(i) & 0xffL); i += 1 }
    v >>> 4
  }
}

case class Hash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_hash60 expects STRING, got ${child.dataType.catalogString}")
  override def prettyName: String = "graft_hash60"

  protected override def nullSafeEval(input: Any): Any =
    Hash60Impl.hash(input.asInstanceOf[UTF8String].getBytes)

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Hash60Impl.hash($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Hash60 = copy(child = newChild)
}

object Hash60 {
  /** Column form for direct library use (no registration needed). */
  def hash60(c: Column): Column = GraftSqlShim.column(Hash60(GraftSqlShim.expression(c)))
}
