package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Native Catalyst expression: argmin squared-L2 code assignment —
  * the per-row inner loop of the PQ family's
  * [[graft.queries.SimilarityQueries]] `pqAssign`. Returns the
  * winning `struct(cluster, dist)` over a packed candidate array
  * `cs: array<struct<cluster bigint, ce array<bigint>>>`.
  *
  * Semantics are EXACTLY the window form it replaces (pinned in
  * ArgMinL2FxSpec against the literal composition): per candidate,
  * `dist = aggregate(zip_with(sv, ce, (x,y) -> (x-y)*(x-y)), 0L, +)`
  * — NULL when sv/ce is null, lengths differ, or an element is null
  * (zip_with's null pad poisons the fold) — and the winner is the
  * `row_number() OVER (ORDER BY dist, cluster)` rank-1 row: ascending
  * dist with NULLS FIRST (a null dist outranks every real distance —
  * Spark's ASC default), ties to the lowest cluster (null cluster
  * first, same default). Empty or null `cs` → null struct (the caller
  * joins the packed candidates per subspace, so an empty-codebook
  * subspace produces no rows either way).
  *
  * Why native: same argument as [[ArgMaxCosFx]] — the window form
  * SHUFFLES n·(M·K) candidate rows per PQ training round / code
  * assignment and sorts them per (vec, sub); the fused loop (the
  * `argmin` kernel, which both eval modes call) folds the argmin into
  * the scan, exchange-free, at ~ns/candidate instead of an
  * interpreted lambda + boxed struct + sort comparison.
  */
case class ArgMinL2Fx(sv: Expression, cs: Expression)
    extends BinaryExpression {

  override def left: Expression = sv
  override def right: Expression = cs

  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("cluster", LongType, nullable = true),
    StructField("dist", LongType, nullable = true)))

  private lazy val csStruct: StructType =
    cs.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val numFields = csStruct.length
  private lazy val clusterIdx = csStruct.fieldIndex("cluster")
  private lazy val ceIdx = csStruct.fieldIndex("ce")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def fail(msg: String) =
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(msg)
    (sv.dataType, cs.dataType) match {
      case (ArrayType(LongType, _), ArrayType(st: StructType, _)) =>
        def fieldType(name: String): Option[DataType] =
          st.fields.find(_.name == name).map(_.dataType)
        val ok = fieldType("cluster").contains(LongType) &&
          fieldType("ce").exists {
            case ArrayType(LongType, _) => true; case _ => false
          }
        if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        else fail(s"argmin_l2_fx candidate struct needs (cluster bigint, " +
          s"ce array<bigint>), got ${st.simpleString}")
      case (a, b) => fail("argmin_l2_fx expects (array<bigint>, array<struct>), " +
        s"got (${a.simpleString}, ${b.simpleString})")
    }
  }

  /** The kernel: the winning `struct(cluster, dist)` over `cs`, or null
    * when `cs` is null or empty. A null `sv` only nulls every
    * candidate's DISTANCE, which then ranks FIRST (ascending NULLS
    * FIRST). */
  def argmin(sv: ArrayData, cs: ArrayData): InternalRow = {
    if (cs == null) return null
    val fields = numFields
    val clIdx = clusterIdx
    val ceI = ceIdx
    val n = cs.numElements()
    // the query vector, read once per row; null when no distance is defined
    val q = if (sv == null || !ArrayLoops.noNulls(sv)) null
      else sv.toLongArray()
    var bestSet = false
    var bestDistNull = true; var bestDist = 0L
    var bestClNull = true; var bestCl = 0L
    var i = 0
    while (i < n) {
      var distNull = true; var dist = 0L
      var clNull = true; var cl = 0L
      if (!cs.isNullAt(i)) {
        val st = cs.getStruct(i, fields)
        if (!st.isNullAt(clIdx)) { clNull = false; cl = st.getLong(clIdx) }
        if (q != null && !st.isNullAt(ceI)) {
          val ce = st.getArray(ceI)
          if (ce.numElements() == q.length && ArrayLoops.noNulls(ce)) {
            distNull = false
            dist = ArrayLoops.l2(q, ce)
          }
        }
      }
      // ascending (dist NULLS FIRST, cluster NULLS FIRST) — smaller wins
      val better =
        if (!bestSet) true
        else if (distNull != bestDistNull) distNull
        else if (!distNull && dist != bestDist) dist < bestDist
        else if (clNull != bestClNull) clNull
        else if (!clNull) cl < bestCl
        else false
      if (better) {
        bestSet = true
        bestDist = dist; bestDistNull = distNull
        bestCl = cl; bestClNull = clNull
      }
      i += 1
    }
    if (!bestSet) null
    else InternalRow(
      if (bestClNull) null else bestCl,
      if (bestDistNull) null else bestDist)
  }

  /** Null children don't null-propagate uniformly (see `argmin`):
    * custom eval, not nullSafeEval. */
  override def eval(input: InternalRow): Any =
    argmin(sv.eval(input).asInstanceOf[ArrayData], cs.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fx = KernelCall.self(ctx, this)
    val (s, c) = (sv.genCode(ctx), cs.genCode(ctx))
    KernelCall.boxed(ctx, ev, this, Seq(s, c),
      s"$fx.argmin(${KernelCall.orNull(s)}, ${KernelCall.orNull(c)})")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(sv = newLeft, cs = newRight)
}

object ArgMinL2Fx {
  import org.apache.spark.sql.GraftColumnBridge._

  /** Column-API form: the winning `struct(cluster, dist)` (min exact
    * squared-L2, ascending NULLS FIRST, ties to the lowest cluster). */
  def argmin_l2_fx(sv: Column, cs: Column): Column =
    column(ArgMinL2Fx(expression(sv), expression(cs)))
}
