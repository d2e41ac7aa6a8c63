package graft.ops

import graft.cube.{Cube, Dim}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Filter / projection operators (SURVEY.md §2.2). All compile to `where`
  * clauses so Catalyst pushes them into the parquet scan (PushedFilters +
  * partition pruning) — the scan-level pushdown the reference hand-builds
  * into its ODC query (load_odc_collection.py:81-105) is free here.
  */
object Filters {

  /** openEO temporal extent string → Timestamp. The reference truncates
    * sub-day precision in filter_temporal (splits at 'T',
    * openeo_odc_driver.py:1024-1027) but keeps it at scan; we accept both.
    */
  def parseTime(s: String, dayOnly: Boolean = false): Timestamp = {
    val core = if (dayOnly) s.split('T')(0) else s.stripSuffix("Z")
    val norm =
      if (core.contains('T')) core.replace('T', ' ')
      else core + " 00:00:00"
    Timestamp.valueOf(norm)
  }

  /** `filter_temporal` — label-slice on the time dimension. The reference's
    * `.loc` slice is END-INCLUSIVE at day granularity
    * (openeo_odc_driver.py:1021-1029); the scan path applies exclusive end
    * via a -1 ms adjustment (load_odc_collection.py:78-79). `inclusiveEnd`
    * selects which contract is wanted. */
  def filterTemporal(c: Cube, from: String, to: String,
      inclusiveEnd: Boolean = true): Cube = {
    val t0 = parseTime(from, dayOnly = true)
    val t1 = parseTime(to, dayOnly = true)
    val timeCol = c.df(Dim.Time)
    val upper = if (inclusiveEnd) timeCol <= lit(t1) else timeCol < lit(t1)
    c.withDF(c.df.where(timeCol >= lit(t0) && upper))
  }

  /** `filter_bands` — keep listed bands (openeo_odc_driver.py:1031-1034). */
  def filterBands(c: Cube, bands: Seq[String]): Cube =
    Cube(c.df.where(c.df(Dim.Band).isin(bands: _*)),
      c.meta.copy(bandOrder = bands))

  /** The bbox corners projected into the cube's own coordinate space —
    * the bounds [[filterBboxRef]] compares against, also reused by
    * [[Scan.loadCollection]]'s spatial partition pruning. */
  def projectBboxToCube(cubeCrs: Option[String], west: Double, south: Double,
      east: Double, north: Double,
      bboxCrs: CrsRef): (Double, Double, Double, Double) = {
    val corners = Seq((west, south), (east, south), (east, north), (west, north))
    // a cube without a parseable CRS keeps the long-standing convention:
    // assume it lives in the bbox's CRS and compare raw coordinates (for
    // an EPSG bbox that falls out of transformRing's from==to identity;
    // a proj-string bbox must skip the transform explicitly — assuming
    // 4326 here would compare degrees against projected meters)
    val proj = cubeCrs.flatMap(crsEpsg) match {
      case Some(cubeEpsg) => Crs.transformRingFrom(corners, bboxCrs, cubeEpsg)
      case None => corners
    }
    Geo.bboxOf(proj)
  }

  /** `filter_bbox` — transform bbox corners from the given CRS to the cube
    * CRS on the driver (openeo_odc_driver.py:1036-1078 uses pyproj; we use
    * [[Crs]]), then plain range predicates that Catalyst turns into
    * row-group skipping on x/y. The bbox CRS is a general [[CrsRef]]: a
    * registered EPSG code or a proj-string-defined CRS (e.g. a national
    * grid with a datum shift). */
  def filterBboxRef(c: Cube, west: Double, south: Double, east: Double,
      north: Double, bboxCrs: CrsRef): Cube = {
    val (xmin, ymin, xmax, ymax) =
      projectBboxToCube(c.meta.crs, west, south, east, north, bboxCrs)
    c.withDF(c.df.where(
      c.df(Dim.X).between(xmin, xmax) && c.df(Dim.Y).between(ymin, ymax)))
  }

  def crsEpsg(crs: String): Option[Int] =
    crs.toUpperCase.stripPrefix("EPSG:").toIntOption

  /** `filter_spatial` — clip to polygon(s): reproject vertices driver-side,
    * then the point-in-polygon kernel ([[Geo.pointInPolygons]];
    * openeo_odc_driver.py:686-707 rasterizes instead). Rows outside are
    * dropped (semi-join semantics). Same CRS conventions as
    * [[filterBboxRef]]. */
  def filterSpatialRef(c: Cube, rings: Seq[Geo.Ring], ringsCrs: CrsRef): Cube = {
    val proj = c.meta.crs.flatMap(crsEpsg) match {
      case Some(cubeEpsg) =>
        rings.map(Crs.transformRingFrom(_, ringsCrs, cubeEpsg))
      case None => rings // CRS-less cube: assume it lives in the rings' CRS
    }
    // cheap bbox pre-filter first so parquet row-group stats can skip,
    // then the exact point-in-polygon test
    val boxes = proj.map(Geo.bboxOf)
    val bboxPred = boxes.map { case (x0, y0, x1, y1) =>
      c.df(Dim.X).between(x0, x1) && c.df(Dim.Y).between(y0, y1)
    }.reduce(_ || _)
    c.withDF(c.df.where(bboxPred &&
      Geo.pointInPolygons(c.df(Dim.X), c.df(Dim.Y), proj)))
  }

  /** `array_element` — select one band by label or position; drops the band
    * dimension (openeo_odc_driver.py:594-611). Positional index resolves
    * through CubeMeta.bandOrder at compile time. */
  def arrayElement(c: Cube, label: Option[String], index: Option[Int]): Cube = {
    val lbl = label.getOrElse {
      val i = index.getOrElse(throw new IllegalArgumentException(
        "array_element needs label or index"))
      require(c.meta.bandOrder.nonEmpty, "positional array_element needs bandOrder")
      c.meta.bandOrder(i)
    }
    Cube(
      c.df.where(c.df(Dim.Band) === lbl).drop(Dim.Band),
      c.meta.copy(bandOrder = Nil))
  }

  /** `mask` — null out data where the mask is truthy (openEO masks where
    * mask != 0), optional replacement (openeo_odc_driver.py:1339-1352).
    * Join on the dims shared with the mask cube; a mask lacking `time`
    * broadcasts over it, mirroring xarray alignment. The mask side is
    * usually far smaller after its own reduction — Catalyst/AQE picks
    * broadcast when it is. */
  def mask(c: Cube, maskCube: Cube, replacement: Option[Double] = None): Cube = {
    // squeeze the mask's singleton band dim like the reference's
    // min('variable') trick (openeo_odc_driver.py:1344-1345)
    val m0 = if (maskCube.has(Dim.Band)) {
      val keys = maskCube.dimsExcept(Dim.Band)
      maskCube.df.groupBy(keys.map(col): _*)
        .agg(min(col(Cube.ValueCol)).as("mask_value"))
    } else maskCube.df.withColumnRenamed(Cube.ValueCol, "mask_value")
    val keys = c.dims.intersect(m0.columns.toSeq.filter(Dim.All.contains))
    val joined = c.df.join(m0, keys, "left")
    val maskedOff = col("mask_value").isNotNull && col("mask_value") =!= 0.0
    val replaced = replacement.map(r => lit(r)).getOrElse(lit(null))
    c.withDF(joined.withColumn(Cube.ValueCol,
      when(maskedOff, replaced).otherwise(col(Cube.ValueCol)))
      .drop("mask_value"))
  }
}
