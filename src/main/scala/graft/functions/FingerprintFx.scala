package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: rolling polynomial fingerprint of a
  * token array with md5 hashing fused into the fold — the per-row work
  * of [[graft.operators.TextAnalysis.fingerprint]]:
  *
  * {{{ aggregate(transform(toks, t => tokenHash(t)), 0L,
  *       (h, x) => (h * 31 + x) % 1e9+7) }}}
  *
  * Semantics are EXACTLY that composition (pinned in the native-
  * expression spec): null `toks` → null; a null TOKEN nulls the
  * accumulator and the null then propagates through every later step,
  * so ANY null token → null result; otherwise
  * h ← (31·h + [[TokenHash56.hash]](tok)) mod 1e9+7 per token, seeded
  * at 0 (empty array → 0). 31·h + x < 32·10⁹ stays far inside a long.
  *
  * Why a custom Expression: the composed form runs TWO interpreted
  * higher-order passes per row — md5 per token through the hex round
  * trip inside `transform`, then an interpreted fold — on the
  * doc_fingerprint / chunk_documents hot paths. Here both eval modes
  * call one loop, the companion's `fingerprint` kernel.
  */
case class FingerprintFx(toks: Expression) extends UnaryExpression {

  override def child: Expression = toks
  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    toks.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"fingerprint_fx expects array<string>, got ${t.simpleString}")
    }

  override def eval(input: InternalRow): Any =
    FingerprintFx.fingerprint(toks.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = toks.genCode(ctx)
    KernelCall.boxed(ctx, ev, this, Seq(t),
      s"graft.functions.FingerprintFx.fingerprint(${KernelCall.orNull(t)})")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(toks = newChild)
}

object FingerprintFx {
  import org.apache.spark.sql.GraftColumnBridge._

  /** The kernel: the rolling fold over `toks`, or null when `toks` or
    * any token is null. */
  def fingerprint(toks: ArrayData): java.lang.Long = {
    if (toks == null) return null
    val n = toks.numElements()
    var h = 0L
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) return null
      h = (h * 31L + TokenHash56.hash(toks.getUTF8String(i))) % TokenHash56.HashMod
      i += 1
    }
    h
  }

  /** Column-API form: fused md5 + rolling 31-ary fold. */
  def fingerprint_fx(toks: Column): Column =
    column(FingerprintFx(expression(toks)))
}
