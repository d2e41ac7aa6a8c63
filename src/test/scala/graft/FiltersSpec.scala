package graft

import graft.cube.{Cube, Dim}
import graft.ops.{Crs, EpsgRef, Filters, Geo, SphericalMercator}
import org.apache.spark.sql.functions._

class FiltersSpec extends SparkSpec {

  test("LAEA (EPSG:3035): false origin is exact; transforms roundtrip") {
    val (x0, y0) = Crs.transformPoint(10.0, 52.0, 4326, 3035)
    x0 shouldBe 4321000.0 +- 1e-6
    y0 shouldBe 3210000.0 +- 1e-6
    for ((lo, la) <- Seq((11.3, 46.5), (-9.1, 38.7), (24.9, 60.2))) {
      val (x, y) = Crs.transformPoint(lo, la, 4326, 3035)
      val (lo2, la2) = Crs.transformPoint(x, y, 3035, 4326)
      lo2 shouldBe lo +- 1e-9
      la2 shouldBe la +- 1e-9
    }
  }

  test("filter_bbox on an EPSG:3035 cube reprojects the 4326 bbox (LAEA)") {
    val (x1, y1) = Crs.transformPoint(11.30, 46.50, 4326, 3035) // inside the bbox below
    val (x2, y2) = Crs.transformPoint(11.60, 46.80, 4326, 3035) // outside
    val c0 = cubeOf(
      ("2024-01-01", "B04", y1, x1, 1.0),
      ("2024-01-01", "B04", y2, x2, 2.0))
    val c = Cube(c0.df, c0.meta.copy(crs = Some("EPSG:3035")))
    val r = Filters.filterBboxRef(c, west = 11.2, south = 46.4,
      east = 11.4, north = 46.6, EpsgRef(4326))
    r.df.select("value").collect().map(_.getDouble(0)).toSeq shouldBe Seq(1.0)
  }

  test("Web-Mercator (EPSG:3857): known point is exact; transforms roundtrip") {
    // canonical check: lon 180° maps to pi*R
    val (xe, _) = Crs.transformPoint(180.0, 0.0, 4326, 3857)
    xe shouldBe 20037508.342789244 +- 1e-6
    val (_, ye) = Crs.transformPoint(0.0, SphericalMercator.Limit, 4326, 3857)
    ye shouldBe 20037508.342789244 +- 1e-5 // square world: top edge == right edge
    for ((lo, la) <- Seq((11.3, 46.5), (-122.4, 37.8), (151.2, -33.9))) {
      val (x, y) = Crs.transformPoint(lo, la, 4326, 3857)
      val (lo2, la2) = Crs.transformPoint(x, y, 3857, 4326)
      lo2 shouldBe lo +- 1e-9
      la2 shouldBe la +- 1e-9
    }
    // beyond the square-world edge latitudes CLAMP (the universal
    // Web-Mercator convention): a whole-world bbox must map to the top
    // edge, not crash
    Crs.transformPoint(0.0, 90.0, 4326, 3857)._2 shouldBe
      Crs.transformPoint(0.0, SphericalMercator.Limit, 4326, 3857)._2
    Crs.transformPoint(0.0, -90.0, 4326, 3857)._2 shouldBe
      Crs.transformPoint(0.0, -SphericalMercator.Limit, 4326, 3857)._2
  }

  test("filter_bbox on an EPSG:3857 cube reprojects the 4326 bbox") {
    val (x1, y1) = Crs.transformPoint(11.30, 46.50, 4326, 3857) // inside the bbox
    val (x2, y2) = Crs.transformPoint(11.60, 46.80, 4326, 3857) // outside
    val c0 = cubeOf(
      ("2024-01-01", "B04", y1, x1, 1.0),
      ("2024-01-01", "B04", y2, x2, 2.0))
    val c = Cube(c0.df, c0.meta.copy(crs = Some("EPSG:3857")))
    val r = Filters.filterBboxRef(c, west = 11.2, south = 46.4,
      east = 11.4, north = 46.6, EpsgRef(4326))
    r.df.select("value").collect().map(_.getDouble(0)).toSeq shouldBe Seq(1.0)
  }

  test("Lambert-93 (EPSG:2154): projection origin is exact; transforms roundtrip") {
    // the false origin sits at (lon0, lat0) = (3°E, 46.5°N) by definition
    val (x0, y0) = Crs.transformPoint(3.0, 46.5, 4326, 2154)
    x0 shouldBe 700000.0 +- 1e-6
    y0 shouldBe 6600000.0 +- 1e-6
    for ((lo, la) <- Seq((2.35, 48.86), (-1.55, 47.22), (5.37, 43.30))) {
      val (x, y) = Crs.transformPoint(lo, la, 4326, 2154)
      val (lo2, la2) = Crs.transformPoint(x, y, 2154, 4326)
      lo2 shouldBe lo +- 1e-9
      la2 shouldBe la +- 1e-9
    }
    // formula-independent invariant: a 2SP conformal conic has scale
    // EXACTLY 1 along both standard parallels (44° and 49°). Compare a
    // projected east-west step against the geometric parallel-circle arc
    // (radius a·cosφ/√(1−e²sin²φ) — plain ellipsoid geometry, no shared
    // code with the projection constants under test).
    val aa = 6378137.0; val ee2 = 1.0 / 298.257222101 * (2 - 1.0 / 298.257222101)
    for (latSP <- Seq(44.0, 49.0)) {
      val phi = math.toRadians(latSP)
      val (xA, yA) = Crs.transformPoint(3.0, latSP, 4326, 2154)
      val (xB, yB) = Crs.transformPoint(3.001, latSP, 4326, 2154)
      val projected = math.hypot(xB - xA, yB - yA)
      val arc = aa * math.cos(phi) /
        math.sqrt(1 - ee2 * math.sin(phi) * math.sin(phi)) *
        math.toRadians(0.001)
      projected / arc shouldBe 1.0 +- 1e-7
    }
  }

  test("ETRS89 UTM (EPSG:25832) transforms agree with WGS84 UTM zone 32") {
    // same zone, ellipsoids differ sub-mm — the dispatch must accept 258xx
    val (e1, n1) = Crs.transformPoint(11.3, 46.5, 4326, 25832)
    val (e2, n2) = Crs.transformPoint(11.3, 46.5, 4326, 32632)
    e1 shouldBe e2 +- 1e-6
    n1 shouldBe n2 +- 1e-6
    graft.ops.Crs.supported(25832) shouldBe true
  }

  test("filter_bbox on an EPSG:2154 cube reprojects the 4326 bbox") {
    val (x1, y1) = Crs.transformPoint(2.35, 48.86, 4326, 2154) // inside (Paris)
    val (x2, y2) = Crs.transformPoint(5.37, 43.30, 4326, 2154) // outside (Marseille)
    val c0 = cubeOf(
      ("2024-01-01", "B04", y1, x1, 1.0),
      ("2024-01-01", "B04", y2, x2, 2.0))
    val c = Cube(c0.df, c0.meta.copy(crs = Some("EPSG:2154")))
    val r = Filters.filterBboxRef(c, west = 2.0, south = 48.5,
      east = 2.7, north = 49.1, EpsgRef(4326))
    r.df.select("value").collect().map(_.getDouble(0)).toSeq shouldBe Seq(1.0)
  }

  test("filter_bbox on an unsupported CRS raises the typed openEO error") {
    // 27700 moved into the supported set in round 3 (Proj registry with
    // OSGB36 Helmert shift); 99999 is not a real EPSG code
    val c0 = cubeOf(("2024-01-01", "B04", 0, 0, 1.0))
    val c = Cube(c0.df, c0.meta.copy(crs = Some("EPSG:99999")))
    val e = the[graft.OpenEoError] thrownBy
      Filters.filterBboxRef(c, 0, 0, 1, 1, EpsgRef(4326))
    e.code shouldBe "CrsNotSupported"
  }

  def base: graft.cube.Cube = cubeOf(
    ("2024-01-01", "B04", 0, 0, 1.0), ("2024-01-01", "B08", 0, 0, 2.0),
    ("2024-01-02", "B04", 0, 0, 3.0), ("2024-01-02", "B08", 0, 0, 4.0),
    ("2024-01-03", "B04", 1, 1, 5.0), ("2024-01-03", "B08", 1, 1, 6.0))

  test("filter_temporal is end-inclusive at day granularity (reference .loc slice)") {
    val r = Filters.filterTemporal(base, "2024-01-01", "2024-01-02")
    r.df.count() shouldBe 4
    // exclusive-end contract (scan path, -1ms) drops the end day
    val rx = Filters.filterTemporal(base, "2024-01-01", "2024-01-02", inclusiveEnd = false)
    rx.df.count() shouldBe 2
  }

  test("filter_bands keeps listed bands and updates bandOrder") {
    val r = Filters.filterBands(base, Seq("B08"))
    r.df.select(Dim.Band).distinct().collect().map(_.getString(0)).toSet shouldBe Set("B08")
    r.meta.bandOrder shouldBe Seq("B08")
  }

  test("array_element by label drops the band dimension") {
    val r = Filters.arrayElement(base, Some("B04"), None)
    r.has(Dim.Band) shouldBe false
    r.df.count() shouldBe 3
  }

  test("array_element by positional index resolves through bandOrder") {
    val r = Filters.arrayElement(base, None, Some(1)) // bandOrder=(B04,B08)
    rowSet(r.df.select(Cube.ValueCol)).map(_.head) shouldBe Set(2.0, 4.0, 6.0)
  }

  test("mask nulls out where mask!=0, keeps elsewhere; replacement fills") {
    val data = cubeOf(("2024-01-01", "B04", 0, 0, 10.0), ("2024-01-01", "B04", 0, 1, 20.0))
    val m = Cube(
      data.df.select(col(Dim.Time), col(Dim.Y), col(Dim.X),
        when(col(Dim.X) === 1.0, 1.0).otherwise(0.0).as(Cube.ValueCol)),
      data.meta.copy(bandOrder = Nil))
    val r = Filters.mask(data, m, None).df.orderBy(Dim.X).collect()
    r(0).getDouble(4) shouldBe 10.0
    r(1).isNullAt(4) shouldBe true
    val r2 = Filters.mask(data, m, Some(-9.0)).df.orderBy(Dim.X).collect()
    r2(1).getDouble(4) shouldBe -9.0
  }

  test("filter_bbox slices x/y ranges") {
    val r = Filters.filterBboxRef(base, west = 0.5, south = 0.5, east = 1.5,
      north = 1.5, EpsgRef(4326))
    r.df.count() shouldBe 2 // only the (1,1) rows
  }

  test("filter_spatial point-in-polygon keeps inside points only") {
    // unit square around (0,0) only
    val r = Filters.filterSpatialRef(base,
      Seq(Seq((-0.5, -0.5), (0.5, -0.5), (0.5, 0.5), (-0.5, 0.5))), EpsgRef(4326))
    r.df.count() shouldBe 4
    r.df.select(Dim.X).distinct().collect().map(_.getDouble(0)).toSet shouldBe Set(0.0)
  }

  test("point_in_ring even-odd rule: boundary-free interior test") {
    import spark.implicits._
    // triangle below the y=x diagonal: inside iff y < x within the box
    val pts = Seq((0.5, 0.0), (-0.5, 0.5), (2.0, 0.0)).toDF("x", "y")
    val tri: Geo.Ring = Seq((-1.0, -1.0), (1.0, -1.0), (1.0, 1.0))
    val r = pts.withColumn("in", Geo.pointInRing(col("x"), col("y"), tri))
      .orderBy("x").collect().map(_.getBoolean(2))
    r shouldBe Array(false, true, false)
  }

  test("UTM round-trip accuracy ~1e-2 m (Snyder series)") {
    val (e, n) = Crs.transformPoint(11.35, 46.5, 4326, 32632) // Bolzano, zone 32N
    val (lon, lat) = Crs.transformPoint(e, n, 32632, 4326)
    math.abs(lon - 11.35) should be < 1e-6
    math.abs(lat - 46.5) should be < 1e-6
    // known fixed point: zone central meridian at equator → easting 500000
    val (e0, n0) = Crs.transformPoint(9.0, 0.0, 4326, 32632)
    math.abs(e0 - 500000.0) should be < 1e-6
    math.abs(n0) should be < 1e-6
  }
}
