package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geometry primitives used by the spatial operators.
  *
  * Point-in-polygon is compiled to a pure `Column` expression (even-odd ray
  * casting unrolled over the polygon's edges) so it stays inside
  * whole-stage codegen — no UDF, no driver round-trip. The geometry is
  * always small (query literals), the cube is the 100 TB side; unrolling the
  * edges into the expression tree is the broadcast-free way to filter.
  * Reference behavior: rasterize-polygon-then-mask
  * (load_odc_collection.py:190-226, openeo_odc_driver.py:641-652).
  */
object Geo {

  /** Closed ring as (x, y) vertex list (first vertex need not be repeated). */
  type Ring = Seq[(Double, Double)]

  /** Even-odd rule point-in-polygon as a codegen-friendly expression:
    * count edge crossings of the rightward ray from (px, py); odd = inside.
    */
  def pointInRing(px: Column, py: Column, ring: Ring): Column = {
    val n = ring.length
    val crossings: Seq[Column] = (0 until n).map { i =>
      val (x1, y1) = ring(i)
      val (x2, y2) = ring((i + 1) % n)
      if (y1 == y2) lit(0) // horizontal edge never crosses the ray
      else {
        val straddles = (lit(y1) > py) =!= (lit(y2) > py)
        val xAtY = lit(x1) + (py - lit(y1)) * lit((x2 - x1) / (y2 - y1))
        when(straddles && px < xAtY, 1).otherwise(0)
      }
    }
    (crossings.reduce(_ + _) % 2) === 1
  }

  /** Point in any ring of a multi-polygon (no hole support — the reference's
    * rasterize path has none either). */
  def pointInPolygons(px: Column, py: Column, rings: Seq[Ring]): Column =
    rings.map(pointInRing(px, py, _)).reduce(_ || _)

  /** Feature-id assignment: first polygon containing the point, else null.
    * Mirrors the per-feature clip loop of aggregate_spatial
    * (openeo_odc_driver.py:662-684) as one expression. */
  def featureId(px: Column, py: Column, features: Seq[Ring]): Column =
    features.zipWithIndex.foldRight(lit(null).cast("int")) {
      case ((ring, i), acc) => when(pointInRing(px, py, ring), lit(i)).otherwise(acc)
    }

  def bboxOf(ring: Ring): (Double, Double, Double, Double) =
    (ring.map(_._1).min, ring.map(_._2).min, ring.map(_._1).max, ring.map(_._2).max)

  /** Point-in-polygon JOIN against a polygon SET — the 2-D analog of
    * [[graft.ops.TableJoins.rangeJoin]]'s binning trick: every polygon
    * registers the grid cells its bbox covers (driver-side — the
    * polygon set is compile-time literal, like every spatial filter in
    * this engine), points map to their one cell, a BROADCAST equi-join
    * on the cell proposes candidates, and the exact unrolled ray-cast
    * ([[pointInRing]], whole-stage codegen) decides. Each (point,
    * polygon) pair meets in exactly one cell — the point's — so no
    * dedup. Output: point rows + `poly_id`, one row per containing
    * polygon. Choose `cellSize` near the typical polygon diameter:
    * candidate factor stays O(1). */
  def spatialJoin(points: org.apache.spark.sql.DataFrame,
      px: Column, py: Column, polys: Seq[(Int, Ring)],
      cellSize: Double): org.apache.spark.sql.DataFrame = {
    require(polys.nonEmpty, "spatialJoin needs at least one polygon")
    require(cellSize > 0, "cellSize must be positive")
    val spark = points.sparkSession
    import spark.implicits._
    val cells = polys.flatMap { case (pid, ring) =>
      val (x0, y0, x1, y1) = bboxOf(ring)
      for {
        cx <- math.floor(x0 / cellSize).toLong to
          math.floor(x1 / cellSize).toLong
        cy <- math.floor(y0 / cellSize).toLong to
          math.floor(y1 / cellSize).toLong
      } yield (cx, cy, pid)
    }
    val cellDf = org.apache.spark.sql.functions.broadcast(
      cells.toDF("_cx", "_cy", "poly_id"))
    val exact = polys.map { case (pid, ring) =>
      col("poly_id") === lit(pid) && pointInRing(px, py, ring)
    }.reduce(_ || _)
    points
      .withColumn("_cx", floor(px / lit(cellSize)).cast("long"))
      .withColumn("_cy", floor(py / lit(cellSize)).cast("long"))
      .join(cellDf, Seq("_cx", "_cy"))
      .where(exact)
      .drop("_cx", "_cy")
  }
}

/** CRS dispatch for driver-side vertex transforms and the per-row
  * `graft_reproject` expression: every code in the [[Proj]] registry
  * (EPSG:4326, WGS84/ETRS89 UTM, LAEA Europe, Web-Mercator, Lambert-93,
  * the national grids and polar/Albers codes), all transforms going
  * through WGS84 degrees — the reference hands every CRS to pyproj
  * (openeo_odc_driver.py:1036-1078). Anything else raises the typed
  * openEO error the reference surfaces through pyproj failures. */
object Crs {
  def supported(epsg: Int): Boolean = Proj.forEpsg(epsg).isDefined

  /** The registry definition of `epsg`, or the typed openEO error. */
  def projDef(epsg: Int): ProjDef =
    Proj.forEpsg(epsg).getOrElse(throw graft.OpenEoError.crsNotSupported(epsg))

  /** Point transform between supported CRSs (via 4326). */
  def transformPoint(x: Double, y: Double, fromEpsg: Int,
      toEpsg: Int): (Double, Double) =
    if (fromEpsg == toEpsg) (x, y)
    else transformPoint(x, y, projDef(fromEpsg), projDef(toEpsg))

  /** Point transform between two resolved definitions (via 4326) — the
    * per-row form: callers resolve both definitions once. */
  def transformPoint(x: Double, y: Double, from: ProjDef,
      to: ProjDef): (Double, Double) = {
    val (lon, lat) = from.toLonLat(x, y)
    to.fromLonLat(lon, lat)
  }

  /** Transform a ring between any two supported CRSs (via 4326). */
  def transformRing(ring: Geo.Ring, fromEpsg: Int, toEpsg: Int): Geo.Ring =
    if (fromEpsg == toEpsg) ring
    else {
      val (from, to) = (projDef(fromEpsg), projDef(toEpsg))
      ring.map(p => transformPoint(p._1, p._2, from, to))
    }

  /** Transform a ring from any [[CrsRef]] (EPSG code or proj-string
    * definition) into a registered EPSG CRS. */
  def transformRingFrom(ring: Geo.Ring, from: CrsRef, toEpsg: Int): Geo.Ring =
    from match {
      case EpsgRef(e) => transformRing(ring, e, toEpsg)
      case DefRef(pd) =>
        transformRing(ring.map(p => pd.toLonLat(p._1, p._2)), 4326, toEpsg)
    }
}

/** A CRS reference as openEO requests carry it: a numeric EPSG code, an
  * "EPSG:NNNN" string, or a full proj-string ("+proj=tmerc +lat_0=49 …").
  * The reference hands all three to pyproj (openeo_odc_driver.py:1036-1078);
  * here strings parse to either the EPSG dispatch or a [[ProjDef]]. */
sealed trait CrsRef
final case class EpsgRef(epsg: Int) extends CrsRef
final case class DefRef(pd: ProjDef) extends CrsRef

object CrsRef {
  def parse(s: String): CrsRef = {
    val t = s.trim
    if (t.startsWith("+")) DefRef(Proj.parse(t))
    else Filters.crsEpsg(t) match { // single definition of the EPSG syntax
      case Some(e) => EpsgRef(e)
      case None => throw graft.OpenEoError("CrsNotSupported",
        s"cannot parse CRS reference: $s")
    }
  }
}
