package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** Native Catalyst expression: top-1 centroid assignment —
  * `argmax over cs of (cos(qe, c.ce), -c.cluster)` — the per-row inner
  * loop of [[graft.queries.SimilarityQueries.nearestClusters]]; each
  * step of [[graft.operators.Lloyd]] calls its `argmax` kernel directly.
  *
  * Semantics are EXACTLY the composed form it replaces (pinned in
  * ArgMaxCosFxSpec against the literal composition, and transitively in
  * RetrievalOpsSpec against the window form):
  *
  * {{{ array_max(transform(cs, c => struct(
  *       cosFx(dotFx(qe, c.ce), nq, c.nc), -c.cluster)))  → cluster }}}
  *
  *  - cos per candidate: NULL when qe/nq/ce/nc is null, lengths differ,
  *    an element is null, or either norm is 0 (the dotFx/cosFx null
  *    contract); otherwise `(double) dot / sqrt((double) nq * (double)
  *    nc)` — the identical IEEE op sequence, so every compared double
  *    is bit-equal to the HOF form's.
  *  - ordering: lexicographic on (cos, -cluster) with a null field
  *    below every value (Spark struct ordering) — max cosine wins,
  *    ties to the LOWEST cluster id, all-null cosines fall back to the
  *    lowest cluster id. `-cluster` is two's-complement negation
  *    exactly like the `lit(0L) - cluster` it replaces.
  *  - empty or null `cs` → NULL (the caller filters the degenerate
  *    empty-centroid row set to match the window form — see
  *    nearestClusters' scaladoc).
  *
  * Why a custom Expression and not the transform/array_max composition:
  * higher-order functions evaluate their lambda interpreted per
  * ELEMENT — per centroid this costs lambda-variable binding, a boxed
  * struct allocation, and an interpreted ordering comparison, and the
  * enclosing projection drops out of whole-stage codegen. At the
  * registered verify SFs (k = 8) that overhead is noise, but under the
  * X-110 scale law k = ⌈n/2000⌉ GROWS with the corpus: assignment
  * evaluates n·k candidates per Lloyd round (n²/2000 FLOPs — the r13
  * verdict's named next-decade ceiling), so the per-candidate constant
  * IS the binding cost at exactly the scale the law exists for. This
  * expression runs one primitive fused loop (dot + compare, no
  * allocation per candidate), the `argmax` kernel that both eval modes
  * call; measured in
  * graft.MicroBench at the ladder's k=100 regime and at k=1000 (the
  * decade the flat scan was flagged for).
  */
case class ArgMaxCosFx(qe: Expression, nq: Expression, cs: Expression)
    extends TernaryExpression {

  override def first: Expression = qe
  override def second: Expression = nq
  override def third: Expression = cs

  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  private lazy val csStruct: StructType =
    cs.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val numFields = csStruct.length
  private lazy val clusterIdx = csStruct.fieldIndex("cluster")
  private lazy val ceIdx = csStruct.fieldIndex("ce")
  private lazy val ncIdx = csStruct.fieldIndex("nc")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def fail(msg: String) =
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(msg)
    (qe.dataType, nq.dataType, cs.dataType) match {
      case (ArrayType(LongType, _), LongType,
          ArrayType(st: StructType, _)) =>
        def fieldType(name: String): Option[DataType] =
          st.fields.find(_.name == name).map(_.dataType)
        val ok = fieldType("cluster").contains(LongType) &&
          fieldType("ce").exists {
            case ArrayType(LongType, _) => true; case _ => false
          } &&
          fieldType("nc").contains(LongType)
        if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        else fail(s"argmax_cos_fx centroid struct needs (cluster bigint, " +
          s"ce array<bigint>, nc bigint), got ${st.simpleString}")
      case (a, b, c) => fail("argmax_cos_fx expects (array<bigint>, bigint, " +
        s"array<struct>), got (${a.simpleString}, ${b.simpleString}, ${c.simpleString})")
    }
  }

  /** The kernel: the winning cluster id over `cs`, or null when `cs` is
    * null or empty. `qe` is null when the query embedding or its norm
    * `nq` is null: every cosine is then null (the composed form's
    * behavior), which still resolves to the lowest cluster id. */
  def argmax(qe: ArrayData, nq: Long, cs: ArrayData): java.lang.Long = {
    if (cs == null) return null
    val fields = numFields
    val clIdx = clusterIdx
    val ceI = ceIdx
    val ncI = ncIdx
    val n = cs.numElements()
    // the query vector, read once per row; null when no cosine is defined
    val q = if (qe == null || nq == 0L || !ArrayLoops.noNulls(qe)) null
      else qe.toLongArray()
    var bestSet = false
    var bestCosNull = true; var bestCos = 0.0
    var bestNegcNull = true; var bestNegc = 0L
    var i = 0
    while (i < n) {
      var cosNull = true; var cos = 0.0
      var negcNull = true; var negc = 0L
      if (!cs.isNullAt(i)) {
        val st = cs.getStruct(i, fields)
        if (!st.isNullAt(clIdx)) { negcNull = false; negc = -st.getLong(clIdx) }
        if (q != null && !st.isNullAt(ceI) && !st.isNullAt(ncI)) {
          val ce = st.getArray(ceI)
          val nc = st.getLong(ncI)
          if (ce.numElements() == q.length && nc != 0L && ArrayLoops.noNulls(ce)) {
            cosNull = false
            cos = ArrayLoops.dot(q, ce).toDouble / math.sqrt(nq.toDouble * nc.toDouble)
          }
        }
      }
      val better =
        if (!bestSet) true
        else if (cosNull != bestCosNull) !cosNull
        else if (!cosNull && java.lang.Double.compare(cos, bestCos) != 0)
          java.lang.Double.compare(cos, bestCos) > 0
        else if (negcNull != bestNegcNull) !negcNull
        else if (!negcNull) negc > bestNegc
        else false
      if (better) {
        bestSet = true
        bestCos = cos; bestCosNull = cosNull
        bestNegc = negc; bestNegcNull = negcNull
      }
      i += 1
    }
    if (!bestSet || bestNegcNull) null else -bestNegc
  }

  /** Null children do NOT null-propagate uniformly: a null `cs` is a
    * null result, but a null `qe`/`nq` only nulls every candidate's
    * COSINE. Hence a custom eval, not nullSafeEval. */
  override def eval(input: InternalRow): Any = {
    val nqV = nq.eval(input)
    val qeV = if (nqV == null) null else qe.eval(input).asInstanceOf[ArrayData]
    argmax(qeV, if (nqV == null) 0L else nqV.asInstanceOf[Long],
      cs.eval(input).asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fx = KernelCall.self(ctx, this)
    val (q, n, c) = (qe.genCode(ctx), nq.genCode(ctx), cs.genCode(ctx))
    KernelCall.boxed(ctx, ev, this, Seq(q, n, c), s"$fx.argmax(${n.isNull} ? null : " +
      s"${KernelCall.orNull(q)}, ${n.value}, ${KernelCall.orNull(c)})")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(qe = newFirst, nq = newSecond, cs = newThird)
}

object ArgMaxCosFx {
  import org.apache.spark.sql.GraftColumnBridge._

  /** Column-API form: the winning cluster id (max cosine, ties to the
    * lowest cluster, null on empty/null `cs`). */
  def argmax_cos_fx(qe: Column, nq: Column, cs: Column): Column =
    column(ArgMaxCosFx(expression(qe), expression(nq), expression(cs)))
}
