package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native exact-BPE token counting under a trained merge table
  * (see ops.Bpe): per document, split on runs of spaces, apply the
  * merge chain to each word's symbol sequence, and return the TOTAL
  * segment count — the "how many tokens is this corpus" question
  * every context-budget operator (Chunking, Packing) starts from,
  * answered with the real tokenizer instead of the bpeish regex
  * approximation in TextFunctions.
  *
  * Merge application is the SEQUENTIAL chain (merge k applied
  * everywhere over the state left by merges 1..k-1) — by
  * construction identical to the training-time evolution of the
  * BPE merge loop, so dictionary words segment exactly as trained
  * (spec-pinned). For OUT-OF-DICTIONARY words the segmentation may
  * differ from reference BPE encoders (e.g. HuggingFace) that
  * iteratively re-scan for the lowest-rank applicable merge after
  * each application: when the same symbol string is producible by
  * two different merges, the sequential chain can pick the other
  * one, so OOV token counts are self-consistent with the merge loop
  * but not guaranteed identical to external tokenizers. Cost is
  * O(merges × word length) per word; the
  * merge table is a model parameter carried in the expression (task
  * binary, codegen via `addReferenceObj` — same pattern as the bloom
  * probe).
  */
case class BpeEncodeCount(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bpe_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_count expects STRING, got ${other.catalogString}")
  }

  @transient private lazy val mergeArr: Array[(String, String)] = merges.toArray

  /** Codegen (and eval) entry — public so generated code can call it. */
  def countTokens(text: UTF8String): Long = {
    val words = text.toString.split(" +")
    var total = 0L
    var w = 0
    while (w < words.length) {
      val word = words(w)
      if (word.nonEmpty) {
        // code-point symbols (shared with the driver-side trainer —
        // UTF-16 code units would split surrogate pairs and diverge)
        var sym: Array[String] = graft.ops.Bpe.symbols(word)
        var m = 0
        while (m < mergeArr.length && sym.length > 1) {
          sym = graft.ops.Bpe.mergeOnce(sym, mergeArr(m))
          m += 1
        }
        total += sym.length
      }
      w += 1
    }
    total
  }

  protected override def nullSafeEval(input: Any): Any =
    countTokens(input.asInstanceOf[UTF8String])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("graftBpe", this, classOf[BpeEncodeCount].getName)
    defineCodeGen(ctx, ev, c => s"$self.countTokens($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeCount =
    copy(child = newChild)
}

object BpeEncode {
  /** Total exact-BPE token count of `text` under `merges`. */
  def bpeEncodeCounts(text: Column, merges: Seq[(String, String)]): Column =
    GraftSqlShim.column(BpeEncodeCount(GraftSqlShim.expression(text), merges))
}
