package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native codegen dot product over two numeric arrays, summing
  * left-to-right in double precision — IEEE-identical to the
  * `aggregate(zip_with(...))` HOF formulation (and to DuckDB's ordered-
  * aggregate oracle), but ~10× faster: Spark's higher-order functions are
  * CodegenFallback (interpreted per element, boxing every lambda call),
  * while this compiles to a tight primitive loop inside whole-stage
  * codegen. The embedding similarity/dedup hot path runs |pairs| × dim
  * multiply-adds — at 100 TB that difference is the job.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float|double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemType(left).get == FloatType
    val rf = elemType(right).get == FloatType
    var s = 0.0; var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv; i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(e: Expression, arr: String, i: String): String =
      if (elemType(e).get == FloatType) s"(double) $arr.getFloat($i)"
      else s"$arr.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      // nullSafeCodeGen has already DECLARED ev.value — re-declaring it
      // here is a Janino "Redefinition of local variable" compile error
      // that silently dropped the whole stage to interpreted eval;
      // accumulate in a fresh local and assign
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${getter(left, a, i)} * ${getter(right, b, i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  private val name = "graft_dot"

  /** injectFunction payloads — see [[graft.GraftExtensions]]. */
  val injectables: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[DotProduct].getName, name),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"$name takes 2 arguments")
        DotProduct(children.head, children(1))
      }))

  /** Codegen dot product column; registers the function on first use. */
  def dot(a: Column, b: Column): Column = {
    graft.GraftExtensions.registerActive()
    call_function(name, a, b)
  }
}
