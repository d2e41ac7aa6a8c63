package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  LeafExpression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode, JavaCode}
import org.apache.spark.sql.types.DataType

/** Real whole-stage codegen for the native per-row expressions (r14/r15).
  *
  * CodegenFallback routes evaluation through `expr.eval(INPUT_ROW)`, which
  * forces the surrounding stage to materialize the input row and evaluates
  * the CHILD subtree interpreted — breaking the whole-stage pipeline around
  * Generate/aggregate/join consumers (measured +0.5 s per BPE row when
  * WsSplit was a fallback). These traits instead codegen the children
  * normally and call the expression instance's row-level worker through a
  * plan reference — the per-row loop itself is unchanged.
  *
  * Only for expressions whose nullSafeEval never returns null (defineCodeGen
  * assumes a non-null result once the children are non-null). A null
  * result raises an `IllegalStateException` naming the expression, where
  * the generated code would otherwise unbox it into an NPE or pass it on
  * as a silent null.
  */
trait RefCodegen extends UnaryExpression {
  /** public bridge — generated Java cannot call the protected nullSafeEval */
  def evalOne(v: Any): Any = RefCodegen.nonNull(nullSafeEval(v), this)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", this,
      "graft.functions.RefCodegen")
    val boxed = CodeGenerator.boxedType(dataType)
    defineCodeGen(ctx, ev, c => s"(($boxed) $ref.evalOne($c))")
  }
}

object RefCodegen {
  private[functions] def nonNull(result: Any, e: Expression): Any = {
    if (result == null) throw new IllegalStateException(
      s"${e.prettyName} ($e) returned null from nullSafeEval on non-null " +
        "input; its generated code requires a non-null result")
    result
  }
}

/** [[RefCodegen]] for binary expressions. */
trait RefCodegen2 extends BinaryExpression {
  def evalTwo(l: Any, r: Any): Any = RefCodegen.nonNull(nullSafeEval(l, r), this)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", this,
      "graft.functions.RefCodegen2")
    val boxed = CodeGenerator.boxedType(dataType)
    defineCodeGen(ctx, ev, (l, r) => s"(($boxed) $ref.evalTwo($l, $r))")
  }
}

/** A primitive constant passed to generated code as a parameter.
  *
  * Spark writes a primitive [[Literal]] into the generated Java source
  * (`pow(x, 0.73D)`), so two plans that differ only in a constant produce
  * different source, miss the codegen cache and are compiled again. This
  * leaf carries the same value through the class's `references` array:
  * the source names a primitive field, set once when the generated object
  * is initialized (`addMutableState`), and rows read that field. Plans
  * that differ only in such constants share one compiled class.
  *
  * Not foldable, so no parent evaluates it while generating code and
  * inlines the value after all. Equality and canonicalization include the
  * value (by `equals` of the boxed value, so 0.0 and -0.0 differ), so
  * exchange and subquery reuse never merge two different constants; the
  * hash does not, so hash-ordered codegen does not depend on values.
  * `toString`/`sql` print the value as the literal would.
  * [[graft.plans.ParameterizeLiterals]] puts it into physical plans. */
final case class ParamLiteral(value: Any, dataType: DataType)
    extends LeafExpression {
  require(value != null, "a ParamLiteral holds a non-null value")
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }

  private def asLiteral = Literal(value, dataType)
  override def toString: String = asLiteral.toString
  override def sql: String = asLiteral.sql

  override def equals(o: Any): Boolean = o match {
    case p: ParamLiteral => dataType == p.dataType && java.util.Objects.equals(value, p.value)
    case _ => false
  }
  // by type only: subexpression elimination orders equal-height common
  // subexpressions by hash-map iteration, i.e. by their semantic hashes,
  // so a value in the hash would reorder the generated functions per
  // request (seen with resample constants). Equality still compares
  // values.
  override def hashCode: Int = dataType.hashCode
}
