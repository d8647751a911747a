package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** Generated code for the native expressions of this package. Each one
  * keeps its per-row loop in one Scala kernel method, which `eval` runs;
  * its `doGenCode` evaluates the children and calls that same method, so
  * every loop is written once. Parameters (scale, n, word set, struct
  * field indices) are read by the kernel from the expression instance
  * and never written into the generated source: plans that differ only
  * in a parameter compile to the same class. */
private[functions] object KernelCall {

  /** Java expression for the expression instance `fx`, on which
    * generated code calls the kernel. */
  def self(ctx: CodegenContext, fx: Expression): String =
    ctx.addReferenceObj(fx.nodeName, fx)

  /** Java expression for a child's object value, null when it is null. */
  def orNull(child: ExprCode): String = s"(${child.isNull} ? null : ${child.value})"

  /** Evaluates `children`, then binds `ev` to `call`: a kernel call that
    * returns `fx`'s result boxed, or null for a null result. */
  def boxed(ctx: CodegenContext, ev: ExprCode, fx: Expression,
      children: Seq[ExprCode], call: String): ExprCode = {
    val r = ctx.freshName("r")
    ev.copy(code = children.map(_.code).reduce(_ + _) + code"""
      |${CodeGenerator.boxedType(fx.dataType)} $r = $call;
      |boolean ${ev.isNull} = $r == null;
      |${CodeGenerator.javaType(fx.dataType)} ${ev.value} = ${CodeGenerator.defaultValue(fx.dataType)};
      |if ($r != null) ${ev.value} = $r;
      """.stripMargin)
  }
}
