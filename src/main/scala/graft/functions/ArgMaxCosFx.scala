package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** Native Catalyst expression: top-1 centroid assignment —
  * `argmax over cs of (cos(qe, c.ce), -c.cluster)` — the per-row inner
  * loop of [[graft.queries.SimilarityQueries.nearestClusters]].
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
  * expression generates one primitive fused loop (dot + compare, no
  * allocation per candidate) via `doGenCode`; measured in
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

  /** Null children do NOT null-propagate uniformly: a null `cs` is a
    * null result, but a null `qe`/`nq` only nulls every candidate's
    * COSINE (the composed form's behavior), which still resolves to
    * the lowest cluster id. Hence a custom eval, not nullSafeEval. */
  override def eval(input: InternalRow): Any = {
    val csV = cs.eval(input)
    if (csV == null) return null
    val arr = csV.asInstanceOf[ArrayData]
    val qeV = qe.eval(input)
    val nqV = nq.eval(input)
    val qeArr = if (qeV == null) null else qeV.asInstanceOf[ArrayData]
    val nqL = if (nqV == null) 0L else nqV.asInstanceOf[Long]
    val n = arr.numElements()
    var bestSet = false
    var bestCosNull = true; var bestCos = 0.0
    var bestNegcNull = true; var bestNegc = 0L
    var i = 0
    while (i < n) {
      var cosNull = true; var cos = 0.0
      var negcNull = true; var negc = 0L
      if (!arr.isNullAt(i)) {
        val st = arr.getStruct(i, numFields)
        if (!st.isNullAt(clusterIdx)) { negcNull = false; negc = -st.getLong(clusterIdx) }
        if (qeArr != null && nqV != null &&
            !st.isNullAt(ceIdx) && !st.isNullAt(ncIdx)) {
          val ce = st.getArray(ceIdx)
          val nc = st.getLong(ncIdx)
          val m = qeArr.numElements()
          if (ce.numElements() == m && nqL != 0L && nc != 0L) {
            var dNull = false
            var acc = 0L
            var j = 0
            while (j < m && !dNull) {
              if (qeArr.isNullAt(j) || ce.isNullAt(j)) dNull = true
              else acc += qeArr.getLong(j) * ce.getLong(j)
              j += 1
            }
            if (!dNull) {
              cosNull = false
              cos = acc.toDouble / math.sqrt(nqL.toDouble * nc.toDouble)
            }
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qeGen = qe.genCode(ctx)
    val nqGen = nq.genCode(ctx)
    val csGen = cs.genCode(ctx)
    val arr = ctx.freshName("csArr")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val st = ctx.freshName("st")
    val ce = ctx.freshName("ce")
    val nc = ctx.freshName("nc")
    val m = ctx.freshName("m")
    val acc = ctx.freshName("acc")
    val dNull = ctx.freshName("dNull")
    val cosNull = ctx.freshName("cosNull")
    val cosV = ctx.freshName("cos")
    val negcNull = ctx.freshName("negcNull")
    val negcV = ctx.freshName("negc")
    val bestSet = ctx.freshName("bestSet")
    val bestCosNull = ctx.freshName("bestCosNull")
    val bestCos = ctx.freshName("bestCos")
    val bestNegcNull = ctx.freshName("bestNegcNull")
    val bestNegc = ctx.freshName("bestNegc")
    val better = ctx.freshName("better")
    val cmp = ctx.freshName("cmp")
    val code =
      code"""
         |${csGen.code}
         |boolean ${ev.isNull} = true;
         |long ${ev.value} = -1L;
         |if (!${csGen.isNull}) {
         |  ${qeGen.code}
         |  ${nqGen.code}
         |  org.apache.spark.sql.catalyst.util.ArrayData $arr = ${csGen.value};
         |  boolean $bestSet = false;
         |  boolean $bestCosNull = true; double $bestCos = 0.0;
         |  boolean $bestNegcNull = true; long $bestNegc = 0L;
         |  for (int $i = 0; $i < $arr.numElements(); $i++) {
         |    boolean $cosNull = true; double $cosV = 0.0;
         |    boolean $negcNull = true; long $negcV = 0L;
         |    if (!$arr.isNullAt($i)) {
         |      org.apache.spark.sql.catalyst.InternalRow $st = $arr.getStruct($i, $numFields);
         |      if (!$st.isNullAt($clusterIdx)) {
         |        $negcNull = false; $negcV = -$st.getLong($clusterIdx);
         |      }
         |      if (!${qeGen.isNull} && !${nqGen.isNull} &&
         |          !$st.isNullAt($ceIdx) && !$st.isNullAt($ncIdx)) {
         |        org.apache.spark.sql.catalyst.util.ArrayData $ce = $st.getArray($ceIdx);
         |        long $nc = $st.getLong($ncIdx);
         |        int $m = ${qeGen.value}.numElements();
         |        if ($ce.numElements() == $m && ${nqGen.value} != 0L && $nc != 0L) {
         |          boolean $dNull = false;
         |          long $acc = 0L;
         |          for (int $j = 0; $j < $m; $j++) {
         |            if (${qeGen.value}.isNullAt($j) || $ce.isNullAt($j)) { $dNull = true; break; }
         |            $acc += ${qeGen.value}.getLong($j) * $ce.getLong($j);
         |          }
         |          if (!$dNull) {
         |            $cosNull = false;
         |            $cosV = (double) $acc /
         |              java.lang.Math.sqrt((double) ${nqGen.value} * (double) $nc);
         |          }
         |        }
         |      }
         |    }
         |    boolean $better;
         |    if (!$bestSet) { $better = true; }
         |    else if ($cosNull != $bestCosNull) { $better = !$cosNull; }
         |    else if (!$cosNull &&
         |        java.lang.Double.compare($cosV, $bestCos) != 0) {
         |      int $cmp = java.lang.Double.compare($cosV, $bestCos);
         |      $better = $cmp > 0;
         |    }
         |    else if ($negcNull != $bestNegcNull) { $better = !$negcNull; }
         |    else if (!$negcNull) { $better = $negcV > $bestNegc; }
         |    else { $better = false; }
         |    if ($better) {
         |      $bestSet = true;
         |      $bestCos = $cosV; $bestCosNull = $cosNull;
         |      $bestNegc = $negcV; $bestNegcNull = $negcNull;
         |    }
         |  }
         |  if ($bestSet && !$bestNegcNull) {
         |    ${ev.isNull} = false;
         |    ${ev.value} = -$bestNegc;
         |  }
         |}
       """.stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(qe = newFirst, nq = newSecond, cs = newThird)
}

object ArgMaxCosFx {
  import org.apache.spark.sql.GraftColumnBridge._

  /** Column-API form: the winning cluster id (max cosine, ties to the
    * lowest cluster, null on empty/null `cs`), fused-loop codegen'd. */
  def argmax_cos_fx(qe: Column, nq: Column, cs: Column): Column =
    column(ArgMaxCosFx(expression(qe), expression(nq), expression(cs)))
}
