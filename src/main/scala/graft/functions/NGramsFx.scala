package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: word n-grams of a token array — the
  * space-joined sliding windows `[toks[i] ⧺ " " ⧺ … ⧺ toks[i+n−1]]`
  * for i in 0 .. len−n, the per-row inner loop of
  * [[graft.operators.TextAnalysis.ngrams]].
  *
  * Semantics are EXACTLY the shifted-slice composition it replaces
  * (pinned in TextFxSpec against the literal form):
  *
  * {{{ slice(transform(arrays_zip(toks, slice(toks,2,…), …),
  *       s => concat_ws(" ", s.0, …, s.(n−1))),
  *       1, greatest(size(toks) − (n−1), 0)) }}}
  *
  *  - null `toks` → null; fewer than n tokens → empty array;
  *  - element i is `concat_ws(" ", toks[i..i+n−1])`: null tokens are
  *    SKIPPED (no separator emitted for them), all-null windows give ""
  *    — concat_ws's exact contract, delegated to
  *    [[UTF8String.concatWs]], the same runtime the built-in calls;
  *  - output length is exactly greatest(len − n + 1, 0): the padded
  *    tail windows the zip form truncates with its outer slice are
  *    simply never generated.
  *
  * Why a custom Expression: higher-order functions evaluate their
  * lambda INTERPRETED per element — per gram that costs lambda-variable
  * binding, a boxed struct access per zip field, and an interpreted
  * concat_ws, and the enclosing projection drops out of whole-stage
  * codegen. Every shingle consumer (the entire AllPairs/MinHash dedup
  * family via [[graft.operators.Dedup.shingled]], substring_dup_spans'
  * 20-gram explode, winnowing's 4-grams) pays it per corpus token, the
  * scale class the 100 TB posture cares about. This expression is one
  * primitive loop, the `grams` kernel, which both eval modes call and
  * which reads `n` from the instance.
  */
case class NGramsFx(toks: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"ngrams_fx needs n >= 1, got $n")

  override def child: Expression = toks
  override def nullable: Boolean = toks.nullable
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    toks.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ngrams_fx expects array<string>, got ${t.simpleString}")
    }

  /** The kernel: the `n`-token windows of `toks`, each joined by
    * concat_ws(" "). */
  def grams(toks: ArrayData): ArrayData = {
    val w = n
    val out = new Array[Any](math.max(toks.numElements() - (w - 1), 0))
    val window = new Array[UTF8String](w)
    var i = 0
    while (i < out.length) {
      var j = 0
      while (j < w) {
        window(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(NGramsFx.Sep, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = grams(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fx = KernelCall.self(ctx, this)
    nullSafeCodeGen(ctx, ev, toks => s"${ev.value} = $fx.grams($toks);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(toks = newChild)
}

object NGramsFx {
  private val Sep = UTF8String.fromString(" ")

  import org.apache.spark.sql.GraftColumnBridge._

  /** Column-API form: space-joined word n-grams. */
  def ngrams_fx(toks: Column, n: Int): Column =
    column(NGramsFx(expression(toks), n))
}
