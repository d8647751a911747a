package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression: fixed-point quantization of a float
  * embedding — `floor(x · scale)` per element as `array<bigint>` (the
  * representation every fixed-point similarity operator in
  * [[graft.operators.Similarity]] consumes).
  *
  * Why a custom Expression and not `transform(arr, x -> floor(x*s))`:
  * higher-order functions evaluate their lambda interpreted per
  * ELEMENT (boxed values, closure dispatch) and exclude the enclosing
  * projection from whole-stage codegen — and quantization runs over
  * every element of every embedding in every similarity query, the
  * hottest per-row loop in the family. This expression runs one
  * primitive double→long loop, the `quantize` kernel, which both eval
  * modes call, keeping the scan codegen span intact. float→double
  * widening then `Math.floor` is exactly the arithmetic of the HOF
  * form (pinned in DotProductFxSpec), so the DuckDB oracles are
  * unchanged.
  *
  * `maxAbs` (when finite) is the fixed-point ENVELOPE: an element with
  * |x| > maxAbs fails fast with a named contract error instead of
  * letting a downstream BIGINT dot/L2 accumulation overflow — under
  * the session's ANSI default Spark would throw a cryptic
  * ARITHMETIC_OVERFLOW deep in some later stage while DuckDB silently
  * widens to HUGEINT, the engine-divergence class the r11 adversarial
  * corpus (±10⁶ components) exposed in kcenter_seeds.
  *
  * Null semantics: null input array → null (UnaryExpression default);
  * a null ELEMENT throws. Quantized arrays are never null-valued in
  * this codebase, but the HOF form (and DuckDB's list_transform in
  * every similarity oracle) would PROPAGATE an element null — silently
  * coercing to 0 here would make Spark and the oracle diverge without
  * an error. Failing fast keeps the output `containsNull = false` an
  * enforced guarantee (downstream native loops rely on it) rather than
  * an assumed one.
  */
case class QuantizeFx(child: Expression, scale: Double,
    maxAbs: Double = Double.PositiveInfinity)
    extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"quantize_fx expects array<float|double>, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // lazy val, not def: constant for the expression's lifetime
  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** The kernel: `floor(x · scale)` per element, reading `scale`,
    * `maxAbs` and the element type from the instance. A null element
    * throws; so does an element outside the envelope. The result is an
    * `UnsafeArrayData` over the primitive `long[]`: no element is boxed,
    * and the projection writing it copies its bytes. */
  def quantize(x: ArrayData): ArrayData = {
    val f = isFloat
    val s = scale
    val m = maxAbs
    val enveloped = !m.isInfinite
    val n = x.numElements()
    val out = new Array[Long](n)
    // Envelope check is BRANCHLESS in the hot loop (r12, the knn_cosine
    // clawback): accumulate a violation FLAG (two compares + bitwise
    // or, no branch) and test it ONCE after the loop; only the cold
    // failure path rescans for the offending index. The flag — not the
    // r12 Math.max(|v|) accumulator — is NaN-SAFE: max poisons to NaN
    // and `NaN > maxAbs` is false, so one NaN element used to MASK a
    // later element's genuine violation (r12 advice). A NaN element
    // itself still passes both compares, exactly as every prior form
    // did (floor(NaN·s).toLong = 0). With no envelope (m = +∞) the
    // compares are skipped.
    var bad = false
    var i = 0
    while (i < n) {
      if (x.isNullAt(i))
        throw new IllegalArgumentException(
          s"quantize_fx: null element at index $i (oracle list_transform would propagate NULL; refusing to coerce to 0)")
      val v = if (f) x.getFloat(i).toDouble else x.getDouble(i)
      if (enveloped) bad |= (v > m) | (v < -m)
      out(i) = math.floor(v * s).toLong
      i += 1
    }
    if (bad) envelopeViolation(x)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def nullSafeEval(a: Any): Any = quantize(a.asInstanceOf[ArrayData])

  /** Cold path: rescan for the first out-of-envelope element and throw
    * the named contract error with its index. Called only AFTER the
    * branchless flag accumulation detected a violation, so the rescan
    * cost is paid exclusively by failing rows. The rescan's compares
    * are NaN-transparent like the hot loop's, so the flagged element is
    * always found (a NaN can set neither). */
  private def envelopeViolation(x: ArrayData): Unit = {
    val n = x.numElements()
    var i = 0
    while (i < n) {
      val v = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      if (v > maxAbs || v < -maxAbs)
        throw new IllegalArgumentException(
          s"quantize_fx: |element| $v at index $i exceeds the fixed-point envelope ±$maxAbs — downstream BIGINT dot/L2 accumulation would overflow; normalize or clip embeddings upstream")
      i += 1
    }
    throw new IllegalStateException(
      "quantize_fx: envelope violation detected but no element exceeds it (unreachable)")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fx = KernelCall.self(ctx, this)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $fx.quantize($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QuantizeFx {
  import org.apache.spark.sql.GraftColumnBridge._

  /** Column-API form: floor(x · scale) per element. */
  def quantize_fx(a: Column, scale: Double): Column =
    column(QuantizeFx(expression(a), scale))

  /** Envelope-enforcing form (see [[graft.operators.Similarity.MaxAbs]]). */
  def quantize_fx(a: Column, scale: Double, maxAbs: Double): Column =
    column(QuantizeFx(expression(a), scale, maxAbs))
}
