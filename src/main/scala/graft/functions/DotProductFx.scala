package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: exact integer dot product of two
  * `array<bigint>` columns (the fixed-point embedding representation in
  * [[graft.operators.Similarity]]).
  *
  * Why a custom Expression and not `aggregate(zip_with(a,b,_*_),0,_+_)`:
  * Spark's higher-order functions evaluate their lambda per element in
  * interpreted mode (boxed Longs, closure dispatch) and sit outside
  * whole-stage codegen. This expression runs one primitive long loop
  * (the companion's `dot` kernel, called by both eval modes) — the
  * per-row cost drops from microseconds to nanoseconds, which is what
  * the inner loop of a 100 TB brute-force similarity scan needs.
  * Semantics are identical to the HOF form (pinned in
  * DotProductFxSpec), so the DuckDB oracles are unchanged.
  *
  * Null semantics — EXACTLY the HOF form's, including on corrupt
  * inputs: null if either array is null, and null if the lengths
  * differ or any element is null. zip_with pads the shorter side with
  * null and a null product poisons the fold, so the HOF (and DuckDB's list arithmetic) returns NULL for
  * both cases; an earlier version coerced them to a prefix/0 sum —
  * a silent cross-engine divergence on the first corrupt row, where
  * the engine-wide discipline (QuantizeFx) is to surface bad shape,
  * never absorb it.
  */
case class DotProductFx(left: Expression, right: Expression)
    extends BinaryExpression {

  // null is produced for mismatched/null-element inputs even when both
  // child columns are non-nullable
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _                      => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_fx expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType

  override def eval(input: InternalRow): Any =
    DotProductFx.dot(left.eval(input).asInstanceOf[ArrayData],
      right.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (x, y) = (left.genCode(ctx), right.genCode(ctx))
    KernelCall.boxed(ctx, ev, this, Seq(x, y), "graft.functions.DotProductFx.dot(" +
      s"${KernelCall.orNull(x)}, ${KernelCall.orNull(y)})")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProductFx {
  import org.apache.spark.sql.GraftColumnBridge._

  /** The kernel: `x · y`, or null when either array is null, their
    * lengths differ or an element is null. */
  def dot(x: ArrayData, y: ArrayData): java.lang.Long = {
    if (x == null || y == null) return null
    val n = x.numElements()
    if (y.numElements() != n || !ArrayLoops.noNulls(x) || !ArrayLoops.noNulls(y)) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  /** Column-API form: exact long dot product of two array<bigint>
    * columns, whole-stage-codegen'd. */
  def dot_fx(a: Column, b: Column): Column =
    column(DotProductFx(expression(a), expression(b)))
}
