package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DataType

/** An array value held on the driver and read by every row through one
  * Spark broadcast: the centroid table that
  * [[graft.queries.SimilarityQueries.nearestClusters]] passes to
  * [[ArgMaxCosFx]] as its `cs` input.
  *
  * A literal of the same value would print every element into the plan
  * string, and a one-row frame crossed into the scan would need a join
  * and a broadcast exchange job. Here the plan prints only `label`, the
  * value ships once per executor, and generated code reads it once per
  * task. Not foldable: constant folding would turn it back into a
  * literal.
  */
case class BroadcastArray(value: Broadcast[ArrayData], dataType: DataType, label: String)
    extends LeafExpression {

  override def nullable: Boolean = false

  @transient private lazy val array: ArrayData = value.value

  override def eval(input: InternalRow): Any = array

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(nodeName, this)
    val v = ctx.addMutableState("ArrayData", "served",
      v => s"$v = (ArrayData) $self.eval(null);")
    ev.copy(code = code"final ArrayData ${ev.value} = $v;", isNull = FalseLiteral)
  }

  override def toString: String = label
  override def sql: String = label
}

object BroadcastArray {
  import org.apache.spark.sql.GraftColumnBridge._

  /** Column-API form: `value` broadcast once and served to every row. */
  def served(value: Broadcast[ArrayData], dataType: DataType, label: String): Column =
    column(BroadcastArray(value, dataType, label))
}
