package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{DotProductFx, QuantizeFx}

/** SparkSessionExtensions entry point: registers graft's native
  * Catalyst expressions as SQL functions so `spark.sql("… dot_fx(a,b)
  * …")` works alongside the Column API.
  *
  * Activate with `.config("spark.sql.extensions",
  * "graft.plans.GraftExtensions")` (done in [[graft.Sessions]]) or
  * `.withExtensions(new GraftExtensions)`. This is the sanctioned
  * extension seam — no Spark internals are patched, and additional
  * rules/strategies (e.g. a pushdown rule for similarity top-k) would
  * register here too. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("dot_fx"),
      new ExpressionInfo(classOf[DotProductFx].getName, "dot_fx"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"dot_fx takes 2 arguments, got ${args.length}")
        DotProductFx(args.head, args(1))
      }))
    // quantize_fx(arr, scale): the scale must be a literal — it is a
    // constructor parameter the kernel reads from the expression
    // instance, not a per-row operand
    e.injectFunction((
      new FunctionIdentifier("quantize_fx"),
      new ExpressionInfo(classOf[QuantizeFx].getName, "quantize_fx"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"quantize_fx takes 2 arguments, got ${args.length}")
        val scale = args(1) match {
          // SQL `1000.0` parses as a Decimal literal, `1e3` as double,
          // `1000` as int — accept all numeric literal shapes
          case Literal(v: Number, _) => v.doubleValue()
          case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
          case other => throw new IllegalArgumentException(
            s"quantize_fx scale must be a numeric literal, got $other")
        }
        QuantizeFx(args.head, scale)
      }))
  }
}
