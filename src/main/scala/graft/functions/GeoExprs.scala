package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, Expression, ExpressionInfo, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{call_function, lit, struct}
import org.apache.spark.sql.types._

/** Per-row coordinate reprojection as a native Catalyst expression.
  *
  * The reference reprojects whole cubes through GDAL/pyproj at load time
  * (load_odc_collection.py:128-173, openeo_odc_driver.py:175-202). Here
  * the registry projections of [[graft.ops.Proj]] run directly inside the
  * executor projection — pure JVM math, both CRS definitions resolved
  * once per expression instance, no Python/GDAL boundary — and the regrid
  * that follows is the usual groupBy bin. Used by the resample_spatial
  * projection fold. */
object GeoExprs {

  case class ReprojectPoint(left: Expression, right: Expression,
      fromEpsg: Int, toEpsg: Int)
      extends BinaryExpression with RefCodegen2 {
    override def dataType: DataType = StructType(Seq(
      StructField("x", DoubleType, nullable = false),
      StructField("y", DoubleType, nullable = false)))
    override def prettyName: String = "graft_reproject"
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (DoubleType, DoubleType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"graft_reproject needs (double, double), got ($l, $r)")
      }

    // resolved once, not per row (a TransverseMercator precomputes its
    // meridian-arc origin on construction)
    @transient private lazy val fromDef = graft.ops.Crs.projDef(fromEpsg)
    @transient private lazy val toDef = graft.ops.Crs.projDef(toEpsg)

    override def nullSafeEval(xv: Any, yv: Any): Any = {
      val x = xv.asInstanceOf[Double]; val y = yv.asInstanceOf[Double]
      val (nx, ny) =
        if (fromEpsg == toEpsg) (x, y)
        else graft.ops.Crs.transformPoint(x, y, fromDef, toDef)
      new GenericInternalRow(Array[Any](nx, ny))
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an int literal, got $other")
  }

  /** injectFunction payloads — see [[graft.GraftExtensions]]. */
  val injectables: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_reproject"),
      new ExpressionInfo(classOf[ReprojectPoint].getName, "graft_reproject"),
      (cs: Seq[Expression]) => ReprojectPoint(cs(0), cs(1),
        intLit(cs(2), "graft_reproject fromEpsg"),
        intLit(cs(3), "graft_reproject toEpsg"))))

  /** `reproject(x, y)` → struct(x, y) in the target CRS. */
  def reproject(x: Column, y: Column, fromEpsg: Int, toEpsg: Int): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_reproject", x.cast("double"), y.cast("double"),
      lit(fromEpsg), lit(toEpsg))
  }
}
