package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: n-bit SimHash of a TOKEN array with the
  * md5 token hashing fused into the same loop — the per-row work of
  *
  * {{{ simhashN(transform(toks, t => tokenHash(t)), nbits) }}}
  *
  * Semantics are EXACTLY that composition (pinned in TextFxSpec
  * against the literal form):
  *
  *  - null `toks` → 0L, NOT null: `transform(null)` is null, each bit's
  *    `aggregate(null, …)` vote is null, `when(null > 0, bit)` falls to
  *    the otherwise(0) — the composed form sums nbits zeros;
  *  - a null TOKEN hashes to a null tokenHash, and in the fold
  *    `acc + when(bit(h) = 1, 1, −1)` the null comparison falls to the
  *    −1 branch — a null token votes −1 on EVERY bit;
  *  - a non-null token votes ±1 per bit j from bit j of
  *    `conv(substring(md5(t),1,14),16,10) % 1e9+7` ([[TokenHash56]]);
  *  - bit j of the result is set iff its vote sum is > 0; empty arrays
  *    therefore yield 0.
  *
  * Why a custom Expression: the composed form evaluates nbits SEPARATE
  * interpreted `aggregate` passes over the hash array (16 for the
  * display sketch, 30 for the banding sketch) on top of one interpreted
  * `transform` doing md5 per token through the hex-string round trip —
  * ~31 interpreted lambda evaluations per corpus token where one fused
  * loop suffices: the `simhash` kernel, which both eval modes call.
  * simhash / simhash_neardup pay it per token, and dedup_method_matrix
  * / dedup_family embed simhash_neardup whole.
  */
case class SimHashFx(toks: Expression, nbits: Int) extends UnaryExpression {
  require(nbits >= 1 && nbits <= 30,
    s"simhash_fx supports 1..30 bits (token hashes are mod 1e9+7 < 2^30), got $nbits")

  override def child: Expression = toks
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    toks.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash_fx expects array<string>, got ${t.simpleString}")
    }

  /** The kernel: the `nbits`-bit SimHash of `toks`, 0 when `toks` is
    * null (see the class doc). */
  def simhash(toks: ArrayData): Long = {
    if (toks == null) return 0L
    val bits = nbits
    val n = toks.numElements()
    val votes = new Array[Int](bits)
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) {
        var j = 0
        while (j < bits) { votes(j) -= 1; j += 1 }
      } else {
        val h = TokenHash56.hash(toks.getUTF8String(i))
        var j = 0
        while (j < bits) {
          votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < bits) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Null input does NOT null-propagate (it yields 0L — see scaladoc),
    * hence a custom eval, not nullSafeEval. */
  override def eval(input: InternalRow): Any =
    simhash(toks.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (fx, t) = (KernelCall.self(ctx, this), toks.genCode(ctx))
    ev.copy(isNull = FalseLiteral, code = t.code +
      code"long ${ev.value} = $fx.simhash(${KernelCall.orNull(t)});")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(toks = newChild)
}

object SimHashFx {
  import org.apache.spark.sql.GraftColumnBridge._

  /** Column-API form: fused md5 + n-bit SimHash over a token array. */
  def simhash_fx(toks: Column, nbits: Int): Column =
    column(SimHashFx(expression(toks), nbits))
}
