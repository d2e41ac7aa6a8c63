package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, Expression, ExpressionInfo, GenericInternalRow, Literal,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{call_function, lit, struct}
import org.apache.spark.sql.types._

/** Native per-row geometry expressions: coordinate reprojection and the
  * point-in-polygon kernel.
  *
  * The reference reprojects whole cubes through GDAL/pyproj at load time
  * (load_odc_collection.py:128-173, openeo_odc_driver.py:175-202). Here
  * the registry projections of [[graft.ops.Proj]] run directly inside the
  * executor projection — pure JVM math, both CRS definitions resolved
  * once per expression instance, no Python/GDAL boundary — and the regrid
  * that follows is the usual groupBy bin. Used by the resample_spatial
  * projection fold. The point-in-polygon kernel is [[graft.ops.Geo]]'s;
  * [[PointInPolygons]] only carries it into the plan. */
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

  /** Ids of the [[graft.ops.Geo.Polygons]] rings containing (x, y), in
    * ring order. The rings are an argument, not children: generated code
    * calls this instance through a plan reference, whatever their size. */
  case class PointInPolygons(left: Expression, right: Expression,
      polygons: graft.ops.Geo.Polygons)
      extends BinaryExpression with RefCodegen2 {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "graft_point_in_polygons"
    // built only by `containing`, which casts both inputs to double
    override def nullSafeEval(xv: Any, yv: Any): Any =
      UnsafeArrayData.fromPrimitiveArray(polygons.containing(
        xv.asInstanceOf[Double], yv.asInstanceOf[Double]))

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** [[PointInPolygons]] as a Column (null when x or y is null); no SQL
    * function name is registered for it. */
  def containing(x: Column, y: Column,
      polygons: graft.ops.Geo.Polygons): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(PointInPolygons(Bridge.expression(x.cast("double")),
      Bridge.expression(y.cast("double")), polygons))
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
