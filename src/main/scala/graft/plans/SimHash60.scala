package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd 60-bit SimHash over a document's DISTINCT tokens —
  * one pass over the text: tokenize (same `split(" +", -1)` semantics
  * as graft.plans.ShingleImpl), md5-hash each first-seen token, vote
  * each of the 60 bits ±1, fold the bit signs into the fingerprint.
  *
  * Bit-compatible with the DuckDB oracle's composed simhash: the
  * per-token hash is Hash60Impl.hash = first 60 bits of md5 (the
  * `conv(substring(md5(t),1,15),16,10)` identity), bit i of the
  * fingerprint is set iff #tokens-with-bit-set ≥ #tokens-with-bit
  * -cleared. The ONLY divergence is token dedup identity: the composed
  * form dedups on the token string, this one on the full 128-bit md5
  * digest — a within-document md5 collision (≈2⁻¹²⁸) would differ.
  *
  * Replaces the explode → native-hash60 → 60-column sum aggregate
  * shape: this form is a narrow projection (no explode, no groupBy
  * exchange, no 60-expression aggregate plan to Janino-compile).
  */
object SimHash60Impl {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def simhash(s: UTF8String): Long = {
    // one copy of the whole text; tokens are (start, end) slices from
    // the shared TokenWalk boundary walk
    val bytes = s.getBytes
    val digest = md.get()
    val counts = new Array[Int](60)
    val seen = new java.util.HashSet[java.lang.Long]()
    TokenWalk.foreachToken(bytes, (start, end) => {
      digest.reset()
      digest.update(bytes, start, end - start)
      val d = digest.digest()
      var d0 = 0L; var d1 = 0L
      var j = 0
      while (j < 8) { d0 = (d0 << 8) | (d(j) & 0xffL); d1 = (d1 << 8) | (d(j + 8) & 0xffL); j += 1 }
      // dedup key: both md5 halves mixed (128-bit identity)
      if (seen.add(d0 ^ (d1 * 0x9E3779B97F4A7C15L))) {
        val hv = d0 >>> 4 // first 60 bits of md5 = Hash60 identity
        var b = 0
        while (b < 60) {
          counts(b) += (if (((hv >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
    })
    var fp = 0L
    var b = 0
    while (b < 60) { if (counts(b) >= 0) fp |= 1L << b; b += 1 }
    fp
  }
}

case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash60 expects STRING, got ${other.catalogString}")
  }

  protected override def nullSafeEval(input: Any): Any =
    SimHash60Impl.simhash(input.asInstanceOf[UTF8String])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHash60Impl.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {
  def simhash60(c: Column): Column =
    GraftSqlShim.column(SimHash60(GraftSqlShim.expression(c)))
}
