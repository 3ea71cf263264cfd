package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Deflate-compressed size of a string — the compression-ratio
  * quality signal (C4/Gopher family): natural prose deflates to
  * ~35-60% of its bytes, template boilerplate and padding far lower,
  * base64/random far higher, so ratio thresholds catch both failure
  * modes the character-entropy signal sees only one side of
  * (`ops.Entropy` measures the SYMBOL distribution; this measures
  * exploitable STRUCTURE — "aaabbb…" has low entropy AND low
  * deflate ratio, while "abcabcabc…" has full trigram structure the
  * histogram cannot see).
  *
  * ENGINE-PRIVATE by design, like the native Datasketches binaries:
  * deflate output length depends on the JVM's zlib, so no DuckDB
  * oracle can exist — the contract is spec-bounded (DeflateSpec pins
  * monotonicity, bounds, determinism within a JVM) rather than
  * hash-compared, and the operator is deliberately NOT registered in
  * the oracle-gated query map (the q_approx_distinct precedent).
  *
  * Same engineering shape as `Hash60`: one static JVM call inside
  * whole-stage codegen, a ThreadLocal `Deflater` reset per value (a
  * per-row allocation would dominate the compression itself).
  * Fixed level 6 (zlib default): the ratio signal is insensitive to
  * the level and a fixed one keeps results stable run to run.
  */
object DeflateImpl {

  private val local = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(6, true)
  }

  def size(s: UTF8String): Int = {
    val in = s.getBytes
    val d = local.get()
    d.reset()
    d.setInput(in)
    d.finish()
    val buf = new Array[Byte](1024)
    var total = 0
    while (!d.finished()) total += d.deflate(buf)
    total
  }
}

case class DeflateSize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_deflate_size"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_deflate_size expects STRING, got ${t.catalogString}")
  }

  protected override def nullSafeEval(v: Any): Any =
    DeflateImpl.size(v.asInstanceOf[UTF8String])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.DeflateImpl.size($c)")

  override protected def withNewChildInternal(newChild: Expression): DeflateSize =
    copy(child = newChild)
}
