package graft.cube

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Regular-grid georeferencing for a cube: cell (i,j) has center
  * (x0 + i*dx, y0 + j*dy). Needed by operators that work on dense integer
  * pixel indices (coarsen / stencils / convolution / regrid) rather than
  * raw double coordinates — see SURVEY.md §7.5 item 5. The reference keeps
  * this implicit in xarray coordinate arrays.
  */
final case class GridRef(x0: Double, y0: Double, dx: Double, dy: Double) {
  def xIdx(x: Column): Column = round((x - lit(x0)) / lit(dx)).cast("long")
  def yIdx(y: Column): Column = round((y - lit(y0)) / lit(dy)).cast("long")
  def xCoord(i: Column): Column = lit(x0) + i.cast("double") * lit(dx)
  def yCoord(j: Column): Column = lit(y0) + j.cast("double") * lit(dy)
}

/** Typed replacement for the reference's fragile metadata side-channel
  * (`self.crs`, band attrs probed with five distinct try/excepts —
  * openeo_odc_driver/openeo_odc_driver.py:88,220,297-300,1052-1057).
  * Travels with the DataFrame inside [[Cube]].
  *
  * @param bandOrder  positional order of band labels; needed for
  *                   `array_element(index=i)` (openeo_odc_driver.py:594-611)
  * @param yDescending raster row order convention (the reference y-flips at
  *                   sinks, openeo_odc_driver.py:1623-1627)
  */
final case class CubeMeta(
    crs: Option[String] = None,
    bandOrder: Seq[String] = Nil,
    yDescending: Boolean = true,
    nodata: Option[Double] = None,
    grid: Option[GridRef] = None) {
  def requireGrid: GridRef = grid.getOrElse(
    throw new IllegalArgumentException(
      "operator requires a regular grid (CubeMeta.grid); set it at scan time"))
}

/** Canonical dimension vocabulary. The reference hard-codes
  * `variable`/`time`/`y`/`x` and folds openEO aliases at each use site
  * (openeo_odc_driver.py:295-296,726,889,1087,1109); we canonicalize once.
  */
object Dim {
  val Time = "time"; val Band = "band"; val Y = "y"; val X = "x"
  val All: Seq[String] = Seq(Time, Band, Y, X)
  def canonical(name: String): String = name match {
    case "t" | "temporal" | "DATE" | "date" | "time"    => Time
    case "bands" | "variable" | "band" | "spectral"     => Band
    case "y" | "latitude"                               => Y
    case "x" | "longitude"                              => X
    case other                                          => other
  }
}

/** The engine's single data abstraction: a labeled datacube in long form.
  *
  * Long schema: any subset of the dimension columns
  * `(time TIMESTAMP, band STRING, y DOUBLE, x DOUBLE)` plus `value`.
  * A reduced dimension simply disappears from the schema — matching xarray
  * reduce semantics (SURVEY.md §1.6). Dimension reduction = groupBy over the
  * remaining keys; per-pixel math = column expressions; everything stays a
  * declarative Catalyst plan until a sink materializes it.
  *
  * Values are whatever numeric type flows in; the openEO graph compiler
  * applies the reference's float32-forcing casts
  * (openeo_odc_driver.py:424,446,465,484) — library ops are type-preserving
  * so they compose with the relational harness tables without precision loss.
  */
final case class Cube(df: DataFrame, meta: CubeMeta = CubeMeta()) {
  import Cube.ValueCol
  def dims: Seq[String] = Dim.All.filter(df.columns.contains)
  def has(dim: String): Boolean = df.columns.contains(dim)
  def value: Column = df.col(ValueCol)
  def withDF(d: DataFrame): Cube = copy(df = d)
  /** Element-wise transform of the value column (stays in codegen). */
  def mapValue(f: Column => Column): Cube =
    withDF(df.withColumn(ValueCol, f(col(ValueCol))))
  /** Keys to keep when reducing away `dim`. */
  def dimsExcept(dim: String): Seq[String] = dims.filterNot(_ == dim)

  /** Wide (one column per band) view for band math — the analogue of the
    * reference's DataArray→Dataset flip (openeo_odc_driver.py:1513).
    * With a known `meta.bandOrder` the pivot takes those labels and stays
    * lazy; only without one does Spark collect the distinct bands first,
    * which runs the cube's plan eagerly. */
  def wide: DataFrame = {
    require(has(Dim.Band), "wide view needs a band dimension")
    val g = df.groupBy(dimsExcept(Dim.Band).map(col): _*)
    (if (meta.bandOrder.nonEmpty) g.pivot(Dim.Band, meta.bandOrder)
      else g.pivot(Dim.Band))
      .agg(first(col(ValueCol), ignoreNulls = true))
  }
}

object Cube {
  val ValueCol = "value"
}
