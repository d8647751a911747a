package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: multiset count of tokens that belong to
  * a small literal word set — the per-row work of
  * [[graft.operators.TextAnalysis.occurrences]]:
  *
  * {{{ size(filter(toks, t => t.isin(words: _*))) }}}
  *
  * Semantics are EXACTLY that composition (pinned in the native-
  * expression spec): null `toks` → null (the session never sets
  * legacy sizeOfNull); a null TOKEN's `isin` is null, which `filter`
  * drops — null tokens never count; otherwise the count of elements
  * string-equal to any member of `words`. Repeats count every time
  * (multiset semantics — 'the the' is 2).
  *
  * Why a custom Expression: `filter` evaluates its lambda interpreted
  * per token (an interpreted In over the literal list), materializes
  * the surviving-elements array just to take its size, and drops the
  * enclosing projection out of whole-stage codegen. langGuess runs
  * FOUR of these per document (one per language profile) on every
  * quality/lang query, so the interpreted constant multiplies per
  * corpus token. Both eval modes call one loop, the `count` kernel,
  * which reads the word set from the instance.
  */
case class CountInFx(toks: Expression, words: Seq[String])
    extends UnaryExpression {
  require(words.nonEmpty, "count_in_fx needs a non-empty word set")

  override def child: Expression = toks
  override def nullable: Boolean = true
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    toks.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"count_in_fx expects array<string>, got ${t.simpleString}")
    }

  // the literal set as UTF8Strings, built once per expression instance
  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** The kernel: how many non-null tokens of `toks` are in the set. */
  def count(toks: ArrayData): Int = {
    val words = set
    val n = toks.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i) && words.contains(toks.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override def nullSafeEval(input: Any): Any = count(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fx = KernelCall.self(ctx, this)
    nullSafeCodeGen(ctx, ev, toks => s"${ev.value} = $fx.count($toks);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(toks = newChild)
}

object CountInFx {
  import org.apache.spark.sql.GraftColumnBridge._

  /** Column-API form: count of tokens in the literal word set. */
  def count_in_fx(toks: Column, words: Seq[String]): Column =
    column(CountInFx(expression(toks), words))
}
