package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** Whole-stage-codegen participation for kernels whose logic lives in a
  * compiled Scala method rather than emitted Java: the generated code
  * calls the expression instance directly (shipped into the generated
  * class as a codegen reference object, the same mechanism literals and
  * broadcast values use).
  *
  * Why this beats `CodegenFallback`: the fallback's cost was never the
  * kernel itself (already a tight compiled loop) — it was breaking
  * whole-stage codegen for the ENTIRE enclosing stage, forcing every
  * neighbouring operator back to the interpreted Volcano path with
  * per-row boxing. With this trait the stage stays one generated method
  * and only the kernel call crosses a (JIT-inlinable, megamorphic at
  * worst) virtual dispatch per row.
  *
  * Spark's lambda built-ins are `CodegenFallback`: `filter`,
  * `aggregate`, `transform`, `array_sort` and `exists` (and the other
  * higher-order functions) evaluate interpreted, element by element.
  * A per-row hot path that needs one gets a kernel here instead.
  */
trait UnaryKernelCodegen extends UnaryExpression {

  /** Exactly the expression's null-safe evaluation; public because the
    * generated code calls it. Must NEVER return null.
    */
  def kernel(input: Any): Any

  override protected def nullSafeEval(input: Any): Any = kernel(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this, getClass.getName)
    // cast via the boxed type: Java auto-unboxes for primitive slots and
    // plain-casts for reference slots (ArrayData, UTF8String, ...)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (${CodeGenerator.boxedType(dataType)}) $ref.kernel($a);")
  }
}

/** Unary variant whose kernel also takes a NULL input, for kernels whose
  * result on null is a value, not null: the kernel never returns null.
  */
trait UnaryKernelCodegenNullInput extends UnaryExpression {

  /** The expression's evaluation; `input` may be null. Public because
    * the generated code calls it. Must NEVER return null.
    */
  def kernel(input: Any): Any

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = kernel(child.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this, getClass.getName)
    val in = child.genCode(ctx)
    ev.copy(code = code"""
      ${in.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        (${CodeGenerator.boxedType(dataType)}) $ref.kernel(${in.isNull} ? null : ${in.value});
      """, isNull = FalseLiteral)
  }
}

/** Binary twin of [[UnaryKernelCodegen]]: kernel must never return
  * null (null inputs short-circuit via nullSafeCodeGen as usual).
  */
trait BinaryKernelCodegen extends BinaryExpression {

  /** Exactly the expression's null-safe evaluation; public because the
    * generated code calls it. Must NEVER return null.
    */
  def kernel(a: Any, b: Any): Any

  override protected def nullSafeEval(a: Any, b: Any): Any = kernel(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (${CodeGenerator.boxedType(dataType)}) $ref.kernel($a, $b);")
  }
}

/** Binary variant whose kernel MAY return null (SQL NULL result from
  * non-null inputs); the expression must override `nullable = true`.
  */
trait BinaryKernelCodegenNullable extends BinaryExpression {

  /** Null-safe evaluation; public for generated code. May return null. */
  def kernel(a: Any, b: Any): Any

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = kernel(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("res")
      s"""
         |Object $res = $ref.kernel($a, $b);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $res;
         |}
       """.stripMargin
    })
  }
}
