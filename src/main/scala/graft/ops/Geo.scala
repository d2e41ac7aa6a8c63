package graft.ops

import graft.functions.GeoExprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._

/** Geometry primitives used by the spatial operators.
  *
  * Point-in-polygon has one implementation: the rings become data
  * ([[Geo.Polygons]], built once on the driver) that one native expression
  * ([[graft.functions.GeoExprs.PointInPolygons]]) reads per row, so the
  * plan and generated code do not grow with the vertex count — as in the
  * reference, which rasterizes each polygon once and masks the cube
  * (load_odc_collection.py:190-226, openeo_odc_driver.py:641-684).
  * `filter_spatial`, `aggregate_spatial` and [[spatialJoin]] wrap it.
  */
object Geo {

  /** Closed ring as (x, y) vertex list (first vertex need not be repeated). */
  type Ring = Seq[(Double, Double)]

  /** Rings as data: each ring's non-horizontal edges as a stride-4 flat
    * array of (x1, y1, y2, slope), `slope = (x2 - x1) / (y2 - y1)`, ring
    * r's at edges `start(r) until start(r + 1)`, plus its y range.
    * `ids(r)` is what [[containing]] reports for ring r.
    *
    * The even-odd crossing test is `(y1 > py) != (y2 > py) &&
    * px < x1 + (py - y1) * slope`, an odd count meaning inside, with every
    * comparison in Spark's double ordering (NaN above every number), so
    * it agrees with the same predicate written as Catalyst comparisons.
    * The y-range skip is exact: an edge straddles `py` only if
    * `min(y1, y2) <= py < max(y1, y2)`. (An x-range skip would not be:
    * `x1 + (py - y1) * slope` can round past the ring's largest x.) */
  final class Polygons private (ids: Array[Int], start: Array[Int],
      yRange: Array[Double], edge: Array[Double]) extends Serializable {

    /** Ids of every ring containing (px, py), in ring order. */
    def containing(px: Double, py: Double): Array[Int] = {
      val hit = new Array[Int](ids.length)
      var n = 0
      var r = 0
      while (r < ids.length) {
        var odd = false
        if (compareDoubles(yRange(2 * r), py) <= 0 && compareDoubles(yRange(2 * r + 1), py) > 0) {
          var e = 4 * start(r)
          while (e < 4 * start(r + 1)) {
            if ((compareDoubles(edge(e + 1), py) > 0) != (compareDoubles(edge(e + 2), py) > 0) &&
                compareDoubles(px, edge(e) + (py - edge(e + 1)) * edge(e + 3)) < 0) odd = !odd
            e += 4
          }
        }
        if (odd) { hit(n) = ids(r); n += 1 }
        r += 1
      }
      java.util.Arrays.copyOf(hit, n)
    }

    override def toString: String =
      s"Polygons(${ids.length} rings, ${edge.length / 4} edges)"
  }

  object Polygons {
    def apply(ids: Seq[Int], rings: Seq[Ring]): Polygons = {
      require(ids.length == rings.length, "one id per ring")
      val edges = rings.map(ring => ring.indices.flatMap { i =>
        val ((x1, y1), (x2, y2)) = (ring(i), ring((i + 1) % ring.length))
        // a horizontal edge never crosses the ray
        if (y1 == y2) None else Some(Seq(x1, y1, y2, (x2 - x1) / (y2 - y1)))
      })
      val ys = edges.map(_.flatMap(_.slice(1, 3)).sortWith(compareDoubles(_, _) < 0))
      new Polygons(ids.toArray, edges.scanLeft(0)(_ + _.length).toArray,
        // an edgeless ring gets the empty range [0, 0): nothing is inside
        ys.flatMap(y => if (y.isEmpty) Seq(0.0, 0.0) else Seq(y.head, y.last)).toArray,
        edges.flatten.flatten.toArray)
    }
  }

  /** Even-odd rule point-in-ring; a null coordinate is outside. */
  def pointInRing(px: Column, py: Column, ring: Ring): Column =
    pointInPolygons(px, py, Seq(ring))

  /** Point in any ring of a multi-polygon (no hole support — the reference's
    * rasterize path has none either). */
  def pointInPolygons(px: Column, py: Column, rings: Seq[Ring]): Column =
    coalesce(size(GeoExprs.containing(px, py, Polygons(rings.indices, rings))) > 0, lit(false))

  /** Feature-id assignment: first polygon containing the point, else null.
    * Mirrors the per-feature clip loop of aggregate_spatial
    * (openeo_odc_driver.py:662-684) as one expression. */
  def featureId(px: Column, py: Column, features: Seq[Ring]): Column =
    get(GeoExprs.containing(px, py, Polygons(features.indices, features)), lit(0))

  def bboxOf(ring: Ring): (Double, Double, Double, Double) =
    (ring.map(_._1).min, ring.map(_._2).min, ring.map(_._1).max, ring.map(_._2).max)

  /** Point-in-polygon JOIN against a polygon SET: point rows + `poly_id`,
    * one row per containing polygon (none for a point in no polygon). */
  def spatialJoin(points: DataFrame, px: Column, py: Column,
      polys: Seq[(Int, Ring)]): DataFrame =
    points.withColumn("poly_id", explode(GeoExprs.containing(px, py,
      Polygons(polys.map(_._1), polys.map(_._2)))))
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
