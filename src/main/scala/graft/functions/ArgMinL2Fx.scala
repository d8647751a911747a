package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
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
  * assignment and sorts them per (vec, sub); the fused loop folds the
  * argmin into the scan, exchange-free, at ~ns/candidate instead of an
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

  /** A null `sv` only nulls every candidate's DISTANCE (which then
    * ranks FIRST — ascending NULLS FIRST), so null children don't
    * null-propagate uniformly: custom eval, not nullSafeEval. */
  override def eval(input: InternalRow): Any = {
    val csV = cs.eval(input)
    if (csV == null) return null
    val arr = csV.asInstanceOf[ArrayData]
    val svV = sv.eval(input)
    val svArr = if (svV == null) null else svV.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var bestSet = false
    var bestDistNull = true; var bestDist = 0L
    var bestClNull = true; var bestCl = 0L
    var i = 0
    while (i < n) {
      var distNull = true; var dist = 0L
      var clNull = true; var cl = 0L
      if (!arr.isNullAt(i)) {
        val st = arr.getStruct(i, numFields)
        if (!st.isNullAt(clusterIdx)) { clNull = false; cl = st.getLong(clusterIdx) }
        if (svArr != null && !st.isNullAt(ceIdx)) {
          val ce = st.getArray(ceIdx)
          val m = svArr.numElements()
          if (ce.numElements() == m) {
            var dNull = false
            var acc = 0L
            var j = 0
            while (j < m && !dNull) {
              if (svArr.isNullAt(j) || ce.isNullAt(j)) dNull = true
              else {
                val diff = svArr.getLong(j) - ce.getLong(j)
                acc += diff * diff
              }
              j += 1
            }
            if (!dNull) { distNull = false; dist = acc }
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val svGen = sv.genCode(ctx)
    val csGen = cs.genCode(ctx)
    val arr = ctx.freshName("csArr")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val st = ctx.freshName("st")
    val ce = ctx.freshName("ce")
    val m = ctx.freshName("m")
    val acc = ctx.freshName("acc")
    val diff = ctx.freshName("diff")
    val dNull = ctx.freshName("dNull")
    val distNull = ctx.freshName("distNull")
    val distV = ctx.freshName("dist")
    val clNull = ctx.freshName("clNull")
    val clV = ctx.freshName("cl")
    val bestSet = ctx.freshName("bestSet")
    val bestDistNull = ctx.freshName("bestDistNull")
    val bestDist = ctx.freshName("bestDist")
    val bestClNull = ctx.freshName("bestClNull")
    val bestCl = ctx.freshName("bestCl")
    val better = ctx.freshName("better")
    val vals = ctx.freshName("vals")
    val rowCls = classOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow].getName
    val code =
      code"""
         |${csGen.code}
         |boolean ${ev.isNull} = true;
         |InternalRow ${ev.value} = null;
         |if (!${csGen.isNull}) {
         |  ${svGen.code}
         |  org.apache.spark.sql.catalyst.util.ArrayData $arr = ${csGen.value};
         |  boolean $bestSet = false;
         |  boolean $bestDistNull = true; long $bestDist = 0L;
         |  boolean $bestClNull = true; long $bestCl = 0L;
         |  for (int $i = 0; $i < $arr.numElements(); $i++) {
         |    boolean $distNull = true; long $distV = 0L;
         |    boolean $clNull = true; long $clV = 0L;
         |    if (!$arr.isNullAt($i)) {
         |      org.apache.spark.sql.catalyst.InternalRow $st = $arr.getStruct($i, $numFields);
         |      if (!$st.isNullAt($clusterIdx)) {
         |        $clNull = false; $clV = $st.getLong($clusterIdx);
         |      }
         |      if (!${svGen.isNull} && !$st.isNullAt($ceIdx)) {
         |        org.apache.spark.sql.catalyst.util.ArrayData $ce = $st.getArray($ceIdx);
         |        int $m = ${svGen.value}.numElements();
         |        if ($ce.numElements() == $m) {
         |          boolean $dNull = false;
         |          long $acc = 0L;
         |          for (int $j = 0; $j < $m; $j++) {
         |            if (${svGen.value}.isNullAt($j) || $ce.isNullAt($j)) { $dNull = true; break; }
         |            long $diff = ${svGen.value}.getLong($j) - $ce.getLong($j);
         |            $acc += $diff * $diff;
         |          }
         |          if (!$dNull) { $distNull = false; $distV = $acc; }
         |        }
         |      }
         |    }
         |    boolean $better;
         |    if (!$bestSet) { $better = true; }
         |    else if ($distNull != $bestDistNull) { $better = $distNull; }
         |    else if (!$distNull && $distV != $bestDist) { $better = $distV < $bestDist; }
         |    else if ($clNull != $bestClNull) { $better = $clNull; }
         |    else if (!$clNull) { $better = $clV < $bestCl; }
         |    else { $better = false; }
         |    if ($better) {
         |      $bestSet = true;
         |      $bestDist = $distV; $bestDistNull = $distNull;
         |      $bestCl = $clV; $bestClNull = $clNull;
         |    }
         |  }
         |  if ($bestSet) {
         |    ${ev.isNull} = false;
         |    Object[] $vals = new Object[2];
         |    $vals[0] = $bestClNull ? null : (Object) java.lang.Long.valueOf($bestCl);
         |    $vals[1] = $bestDistNull ? null : (Object) java.lang.Long.valueOf($bestDist);
         |    ${ev.value} = new $rowCls($vals);
         |  }
         |}
       """.stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(sv = newLeft, cs = newRight)
}

object ArgMinL2Fx {
  import org.apache.spark.sql.GraftColumnBridge._

  /** Column-API form: the winning `struct(cluster, dist)` (min exact
    * squared-L2, ascending NULLS FIRST, ties to the lowest cluster),
    * fused-loop codegen'd. */
  def argmin_l2_fx(sv: Column, cs: Column): Column =
    column(ArgMinL2Fx(expression(sv), expression(cs)))
}
