package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.StringType

/** The shape every graft kernel expression shares: the algorithm is ONE
  * Scala method on a `*Kernel` object. `nullSafeEval` calls it directly,
  * and `doGenCode` emits one static call to the same method, so the
  * interpreted and generated paths cannot drift apart and no algorithm is
  * written a second time as Java in a string (where a mistake only shows
  * at run time, as a silent fallback to interpreted execution).
  *
  * `kernel` names the method (`graft.functions.XKernel.compute`);
  * `kernelArgs` are the Java expressions passed after the inputs —
  * constants and `addReferenceObj` handles. They are built before
  * `nullSafeCodeGen`, so reference objects are registered in the same
  * order as the input code that follows them.
  */
private[functions] object KernelCall {
  def apply(ev: ExprCode, kernel: String, args: Seq[String]): String =
    s"${ev.value} = $kernel(${args.mkString(", ")});"
}

abstract class UnaryKernel extends UnaryExpression {
  protected def kernel: String
  protected def kernelArgs(ctx: CodegenContext): Seq[String] = Nil

  /** The string-input check; kernels over other inputs override it. */
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = kernelArgs(ctx)
    nullSafeCodeGen(ctx, ev, c => KernelCall(ev, kernel, c +: args))
  }
}

abstract class BinaryKernel extends BinaryExpression {
  protected def kernel: String
  protected def kernelArgs(ctx: CodegenContext): Seq[String] = Nil

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = kernelArgs(ctx)
    nullSafeCodeGen(ctx, ev, (a, b) => KernelCall(ev, kernel, a +: b +: args))
  }
}
