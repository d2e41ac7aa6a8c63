package graft

import graft.cube.Cube
import graft.ops._

class ProjSpec extends SparkSpec {

  private val samplePoints = Seq(
    (9.05, 48.52), (11.3, 46.5), (7.8, 51.1), (10.0, 50.0))

  // Golden outputs of the earlier fixed-parameter UTM / Lambert-93 /
  // LAEA implementations at these sample points: the parameterized
  // classes and the registry reproduce them bit for bit.
  private val utm32Golden = Seq(
    (503692.13923207036, 5374099.899188137),
    (676480.9218737711, 5152173.458263671),
    (415978.904063794, 5661630.157455167),
    (571666.447503449, 5539109.815705419))

  test("generic TransverseMercator reproduces the golden UTM outputs") {
    val utm32 = TransverseMercator(Ellipsoid.Wgs84, 0.0, 9.0, 0.9996,
      500000.0, 0.0)
    for (((lo, la), golden) <- samplePoints.zip(utm32Golden)) {
      val (xg, yg) = utm32.forward(lo, la)
      (xg, yg) shouldBe golden
      Crs.transformPoint(lo, la, 4326, 32632) shouldBe golden
      val (lo2, la2) = utm32.inverse(xg, yg)
      lo2 shouldBe lo +- 1e-8 // Snyder series truncation (~1 mm)
      la2 shouldBe la +- 1e-8
    }
    // southern hemisphere false northing
    val utm33s = TransverseMercator(Ellipsoid.Wgs84, 0.0, 15.0, 0.9996,
      500000.0, 10000000.0)
    val golden33s = (629443.1750237456, 6248049.584295082)
    utm33s.forward(16.4, -33.9) shouldBe golden33s
    Crs.transformPoint(16.4, -33.9, 4326, 32733) shouldBe golden33s
  }

  test("generic LCC-2SP reproduces the golden Lambert-93 outputs") {
    val l93 = LambertConformal2SP(Ellipsoid.Grs80, 46.5, 3.0, 49.0, 44.0,
      700000.0, 6600000.0)
    val golden = Seq(
      (652301.5648305281, 6861302.725899576),
      (892394.7774196876, 6247424.645813702),
      (355860.02969167865, 6689884.836136014))
    for (((lo, la), g) <- Seq((2.35, 48.85), (5.37, 43.3), (-1.55, 47.22))
        .zip(golden)) {
      l93.forward(lo, la) shouldBe g
      Crs.transformPoint(lo, la, 4326, 2154) shouldBe g
    }
  }

  test("generic LAEA reproduces the golden EPSG:3035 outputs") {
    val laea = LambertAzimuthalEA(Ellipsoid.Grs80, 52.0, 10.0,
      4321000.0, 3210000.0)
    val golden = Seq(
      (4250795.7733572, 2823404.371953424),
      (4420890.148725535, 2599397.273083172),
      (4166922.0179542704, 3112185.442459929),
      (4321000.0, 2987510.566964945))
    for (((lo, la), g) <- samplePoints.zip(golden)) {
      laea.forward(lo, la) shouldBe g
      Crs.transformPoint(lo, la, 4326, 3035) shouldBe g
    }
  }

  test("British National Grid: OS worked example matches to the centimeter") {
    // Published OSGB worked example (OS "A guide to coordinate systems in
    // Great Britain", Annex C): OSGB36 lat 52°39'27.2531"N,
    // lon 1°43'4.5177"E -> E 651409.903, N 313177.270. Projection-only
    // (input is OSGB36 geodetic, so no Helmert step).
    val bng = TransverseMercator(Ellipsoid.Airy1830, 49.0, -2.0,
      0.9996012717, 400000.0, -100000.0)
    val lat = 52.0 + 39.0 / 60 + 27.2531 / 3600
    val lon = 1.0 + 43.0 / 60 + 4.5177 / 3600
    val (e, n) = bng.forward(lon, lat)
    e shouldBe 651409.903 +- 0.01
    n shouldBe 313177.270 +- 0.01
  }

  test("registry CRSs roundtrip WGS84 -> projected -> WGS84 incl. datum shift") {
    val domains = Map(
      27700 -> Seq((-0.13, 51.51), (-3.2, 55.95), (-5.9, 54.6)),
      2193 -> Seq((174.78, -41.29), (172.64, -43.53)),
      3034 -> Seq((10.0, 50.0), (-3.7, 40.4), (25.3, 54.7)),
      3978 -> Seq((-75.7, 45.42), (-123.1, 49.28)),
      31370 -> Seq((4.35, 50.85), (3.22, 51.21)),
      31467 -> Seq((9.18, 48.78), (11.58, 48.14)),
      26917 -> Seq((-79.38, 43.65), (-83.05, 42.33)))
    for ((epsg, pts) <- domains; (lo, la) <- pts) {
      val pd = Proj.forEpsg(epsg).get
      val (x, y) = pd.fromLonLat(lo, la)
      val (lo2, la2) = pd.toLonLat(x, y)
      // Helmert forward+inverse uses the standard negated-parameter
      // approximation: residual well under 1e-6 deg (~0.1 m)
      lo2 shouldBe lo +- 1e-6
      la2 shouldBe la +- 1e-6
    }
    // the Helmert shift is real: OSGB36 grid coords of a WGS84 point must
    // differ from the no-datum-shift projection by the ~100 m OSGB offset
    val bngNoShift = TransverseMercator(Ellipsoid.Airy1830, 49.0, -2.0,
      0.9996012717, 400000.0, -100000.0)
    val pd = Proj.forEpsg(27700).get
    val (xs, ys) = pd.fromLonLat(-0.13, 51.51)
    val (xn, yn) = bngNoShift.forward(-0.13, 51.51)
    val d = math.hypot(xs - xn, ys - yn)
    d should be > 50.0
    d should be < 200.0
  }

  test("Crs dispatch reaches registry codes and keeps typed errors") {
    Crs.supported(27700) shouldBe true
    Crs.supported(3978) shouldBe true
    Crs.supported(99999) shouldBe false
    val (x, y) = Crs.transformPoint(-0.13, 51.51, 4326, 27700)
    val (lo, la) = Crs.transformPoint(x, y, 27700, 4326)
    lo shouldBe -0.13 +- 1e-6
    la shouldBe 51.51 +- 1e-6
    val err = intercept[OpenEoError](Crs.transformPoint(0, 0, 4326, 99999))
    err.code shouldBe "CrsNotSupported"
  }

  test("proj-string parser: utm/tmerc/lcc/longlat + malformed -> typed error") {
    // +proj=utm == the EPSG:32632 registry entry
    val utm = Proj.parse("+proj=utm +zone=32 +ellps=WGS84")
    for ((lo, la) <- samplePoints) {
      val (xg, yg) = utm.fromLonLat(lo, la)
      val (xl, yl) = Crs.transformPoint(lo, la, 4326, 32632)
      xg shouldBe xl +- 1e-6
      yg shouldBe yl +- 1e-6
    }
    // full BNG proj-string == the registry entry (incl. towgs84)
    val bng = Proj.parse("+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 " +
      "+x_0=400000 +y_0=-100000 +ellps=airy " +
      "+towgs84=446.448,-125.157,542.060,0.1502,0.2470,0.8421,-20.4894")
    val reg = Proj.forEpsg(27700).get
    val (xa, ya) = bng.fromLonLat(-0.13, 51.51)
    val (xb, yb) = reg.fromLonLat(-0.13, 51.51)
    xa shouldBe xb +- 1e-6
    ya shouldBe yb +- 1e-6
    // lcc with lat_2 defaulting to lat_1 and spherical-mercator web string
    Proj.parse("+proj=lcc +lat_1=49 +lat_0=49 +lon_0=-95 +ellps=GRS80")
    val web = Proj.parse("+proj=merc +a=6378137 +b=6378137")
    val (xw, _) = web.fromLonLat(180.0, 0.0)
    xw shouldBe 20037508.342789244 +- 1e-6
    // longlat is the identity
    Proj.parse("+proj=longlat +ellps=WGS84").fromLonLat(5.0, 45.0) shouldBe
      ((5.0, 45.0))
    // PROJ default: omitted +lat_0 is 0, not lat_1
    val lccDefault = Proj.parse("+proj=lcc +lat_1=33 +lat_2=45 +lon_0=-95 +ellps=GRS80")
    val lccExplicit = Proj.parse("+proj=lcc +lat_0=0 +lat_1=33 +lat_2=45 +lon_0=-95 +ellps=GRS80")
    val (xd, yd) = lccDefault.fromLonLat(-90.0, 40.0)
    val (xe2, ye2) = lccExplicit.fromLonLat(-90.0, 40.0)
    xd shouldBe xe2 +- 1e-9
    yd shouldBe ye2 +- 1e-9
    // malformed inputs keep the typed-error contract; ellipsoidal merc is
    // rejected rather than silently computed on the sphere
    for (bad <- Seq("+proj=foo", "+proj=utm", "+proj=utm +zone=99",
        "+proj=tmerc +lat_0=abc", "+proj=lcc",
        "+proj=tmerc +towgs84=1,2,3,4,5", "no plus prefix",
        "+proj=merc +ellps=WGS84", "+proj=merc",
        "+proj=merc +a=6378137 +b=6378137 +lat_ts=30"))
      intercept[OpenEoError] {
        val pd = CrsRef.parse(bad) match {
          case DefRef(p) => p
          case EpsgRef(_) => throw OpenEoError("CrsNotSupported", bad)
        }
        pd.fromLonLat(0, 0)
      }.code shouldBe "CrsNotSupported"
  }

  test("polar stereographic: Snyder worked example + pole + true scale") {
    // Snyder PP 1395 numerical example (pp. 314-315): ellipsoidal polar
    // stereographic, SOUTH aspect, International 1924 ellipsoid,
    // phi_c = -71, lam_0 = -100; point phi = -75, lam = 150 ->
    // x = -1540033.6, y = -560526.4
    val ps = PolarStereographic(Ellipsoid.Intl1924, -71.0, -100.0,
      1.0, 0.0, 0.0)
    val (x, y) = ps.forward(150.0, -75.0)
    x shouldBe -1540033.6 +- 0.5
    y shouldBe -560526.4 +- 0.5
    val (lo, la) = ps.inverse(x, y)
    lo shouldBe 150.0 +- 1e-8
    la shouldBe -75.0 +- 1e-8
    // the pole projects to the grid origin in both aspects
    Proj.forEpsg(3031).get.fromLonLat(77.0, -90.0)._1 shouldBe 0.0 +- 1e-6
    Proj.forEpsg(3031).get.fromLonLat(77.0, -90.0)._2 shouldBe 0.0 +- 1e-6
    Proj.forEpsg(3413).get.fromLonLat(13.0, 90.0)._1 shouldBe 0.0 +- 1e-6
    // scale factor k = rho * sqrt(1 - e^2 sin^2 phi) / (a cos phi) must be
    // exactly 1 on the standard parallel (the defining property of
    // variant B) — EPSG:3031 at lat -71
    val e3031 = Ellipsoid.Wgs84
    val (x71, y71) = Proj.forEpsg(3031).get.fromLonLat(33.0, -71.0)
    val rho = math.hypot(x71, y71)
    val s71 = math.sin(math.toRadians(-71.0))
    val k = rho * math.sqrt(1 - e3031.e2 * s71 * s71) /
      (e3031.a * math.cos(math.toRadians(-71.0)))
    k shouldBe 1.0 +- 1e-9
  }

  test("albers: Snyder worked example + equal-area invariant") {
    // Snyder PP 1395 numerical example (pp. 291-292): ellipsoidal Albers,
    // Clarke 1866, lat0 = 23, lon0 = -96, lat1 = 29.5, lat2 = 45.5;
    // point phi = 35, lam = -75 -> x = 1885472.7, y = 1535925.0
    val aea = AlbersEqualArea(Ellipsoid.Clarke1866, 23.0, -96.0,
      29.5, 45.5, 0.0, 0.0)
    val (x, y) = aea.forward(-75.0, 35.0)
    x shouldBe 1885472.7 +- 0.5
    y shouldBe 1535925.0 +- 0.5
    val (lo, la) = aea.inverse(x, y)
    lo shouldBe -75.0 +- 1e-8
    la shouldBe 35.0 +- 1e-8
    // equal-area law: the projected Jacobian determinant equals the
    // ellipsoidal area element M*N*cos(phi) everywhere, not just at the
    // standard parallels — checked numerically at an off-parallel point
    val ell = Ellipsoid.Grs80
    val conus = Proj.forEpsg(5070).get
    val (lam0, phi0) = (-105.0, 39.5)
    val dDeg = 1e-4
    val (x0, y0) = conus.fromLonLat(lam0, phi0)
    val (xl, yl) = conus.fromLonLat(lam0 + dDeg, phi0)
    val (xp, yp) = conus.fromLonLat(lam0, phi0 + dDeg)
    val jac = math.abs((xl - x0) * (yp - y0) - (xp - x0) * (yl - y0))
    val phiR = math.toRadians(phi0)
    val w2 = 1 - ell.e2 * math.sin(phiR) * math.sin(phiR)
    val bigM = ell.a * (1 - ell.e2) / math.pow(w2, 1.5)
    val bigN = ell.a / math.sqrt(w2)
    val cell = bigM * bigN * math.cos(phiR) * math.pow(math.toRadians(dDeg), 2)
    jac / cell shouldBe 1.0 +- 1e-6
  }

  test("polar/albers registry codes roundtrip and reach Crs dispatch") {
    val domains = Map(
      3031 -> Seq((0.0, -75.0), (166.67, -77.85), (-68.1, -67.6)),
      3413 -> Seq((-45.0, 75.0), (-156.8, 71.3), (15.6, 78.2)),
      3976 -> Seq((0.0, -75.0), (110.5, -66.3)),
      5070 -> Seq((-75.0, 35.0), (-122.3, 47.6), (-96.0, 23.0)),
      3577 -> Seq((132.0, -25.0), (115.9, -31.9), (153.0, -27.5)))
    for ((epsg, pts) <- domains; (lo, la) <- pts) {
      val pd = Proj.forEpsg(epsg).get
      val (x, y) = pd.fromLonLat(lo, la)
      val (lo2, la2) = pd.toLonLat(x, y)
      lo2 shouldBe lo +- 1e-7
      la2 shouldBe la +- 1e-7
      Crs.supported(epsg) shouldBe true
    }
    // cross-dispatch: 4326 -> 3031 -> 4326 through the Crs entry point
    val (px, py) = Crs.transformPoint(45.0, -80.0, 4326, 3031)
    val (blo, bla) = Crs.transformPoint(px, py, 3031, 4326)
    blo shouldBe 45.0 +- 1e-7
    bla shouldBe -80.0 +- 1e-7
  }

  test("proj-string parser: stere/aea match registry; oblique -> typed error") {
    val st = Proj.parse("+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=0 " +
      "+x_0=0 +y_0=0 +ellps=WGS84")
    val reg = Proj.forEpsg(3031).get
    val (xa, ya) = st.fromLonLat(120.0, -74.0)
    val (xb, yb) = reg.fromLonLat(120.0, -74.0)
    xa shouldBe xb +- 1e-6
    ya shouldBe yb +- 1e-6
    val ab = Proj.parse("+proj=aea +lat_0=23 +lon_0=-96 +lat_1=29.5 " +
      "+lat_2=45.5 +ellps=GRS80")
    val reg5070 = Proj.forEpsg(5070).get
    val (xc, yc) = ab.fromLonLat(-100.0, 40.0)
    val (xd, yd) = reg5070.fromLonLat(-100.0, 40.0)
    xc shouldBe xd +- 1e-6
    yc shouldBe yd +- 1e-6
    // north-pole variant A (k0 at the pole) parses too
    val va = Proj.parse("+proj=stere +lat_0=90 +k=0.994 +lon_0=0 +ellps=WGS84")
    val (_, yv) = va.fromLonLat(0.0, 80.0)
    yv should be < 0.0 // south of the pole on the grid
    for (bad <- Seq("+proj=stere +lat_0=52 +lon_0=5", // oblique (9809)
        "+proj=stere +lat_0=90 +lat_ts=-71", // parallel on wrong pole
        "+proj=aea +lat_0=23"))
      intercept[OpenEoError](Proj.parse(bad))
        .code shouldBe "CrsNotSupported"
  }

  test("oblique (double) stereographic: EPSG worked example for RD New") {
    // EPSG Guidance Note 7-2, method 9809 example — Amersfoort / RD New:
    // Bessel 1841, lat0 52°09'22.178"N, lon0 5°23'15.500"E, k0 0.9999079,
    // FE 155000, FN 463000; point 53°N 6°E (Amersfoort geodetic) ->
    // E 196105.283, N 557057.739
    val rd = ObliqueStereographic(Ellipsoid.Bessel1841,
      52.0 + 9.0 / 60 + 22.178 / 3600, 5.0 + 23.0 / 60 + 15.5 / 3600,
      0.9999079, 155000.0, 463000.0)
    val (x, y) = rd.forward(6.0, 53.0)
    x shouldBe 196105.283 +- 0.01
    y shouldBe 557057.739 +- 0.01
    val (lo, la) = rd.inverse(x, y)
    lo shouldBe 6.0 +- 1e-9
    la shouldBe 53.0 +- 1e-9
    // registry code dispatches incl. the Amersfoort datum shift: the
    // WGS84 result must land ~100 m from the no-shift projection
    val pd = Proj.forEpsg(28992).get
    val (xs, ys) = pd.fromLonLat(5.387, 52.156)
    val (xn, yn) = rd.forward(5.387, 52.156)
    val dist = math.hypot(xs - xn, ys - yn)
    dist should be > 30.0
    dist should be < 300.0
    val (lo2, la2) = pd.toLonLat(xs, ys)
    lo2 shouldBe 5.387 +- 1e-6
    la2 shouldBe 52.156 +- 1e-6
    // +proj=sterea parses to the same projection
    val ps = Proj.parse("+proj=sterea +lat_0=52.15616055555555 " +
      "+lon_0=5.38763888888889 +k=0.9999079 +x_0=155000 +y_0=463000 " +
      "+ellps=bessel")
    val (xp, yp) = ps.fromLonLat(6.0, 53.0)
    xp shouldBe x +- 0.5 // lat0/lon0 decimal rounding in the proj string
    yp shouldBe y +- 0.5
  }

  test("filter_bbox accepts polar and albers bboxes") {
    import graft.cube.Cube
    // cube in EPSG:3031 meters around (0, -75): inside vs far point
    val (xi, yi) = Crs.transformPoint(0.0, -75.0, 4326, 3031)
    val (xo, yo) = Crs.transformPoint(20.0, -70.0, 4326, 3031)
    val c0 = cubeOf(
      ("2024-01-01", "B04", yi, xi, 1.0),
      ("2024-01-01", "B04", yo, xo, 2.0))
    val c = Cube(c0.df, c0.meta.copy(crs = Some("EPSG:3031")))
    val r = Filters.filterBboxRef(c, west = -1.0, south = -75.5,
      east = 1.0, north = -74.5, bboxCrs = CrsRef.parse("EPSG:4326"))
    r.df.select("value").collect().map(_.getDouble(0)).toSeq shouldBe Seq(1.0)
    // albers: CONUS cube, bbox in geographic degrees
    val (ax, ay) = Crs.transformPoint(-105.0, 39.7, 4326, 5070)
    val (bx, by) = Crs.transformPoint(-80.0, 25.8, 4326, 5070)
    val c1 = cubeOf(
      ("2024-01-01", "B04", ay, ax, 3.0),
      ("2024-01-01", "B04", by, bx, 4.0))
    val cc = Cube(c1.df, c1.meta.copy(crs = Some("EPSG:5070")))
    val r2 = Filters.filterBboxRef(cc, west = -106.0, south = 39.0,
      east = -104.0, north = 40.5, bboxCrs = CrsRef.parse("EPSG:4326"))
    r2.df.select("value").collect().map(_.getDouble(0)).toSeq shouldBe Seq(3.0)
  }

  test("filter_bbox accepts a proj-string crs for the bbox") {
    import org.apache.spark.sql.functions._
    val (x1, y1) = Crs.transformPoint(11.30, 46.50, 4326, 32632) // inside
    val (x2, y2) = Crs.transformPoint(11.60, 46.80, 4326, 32632) // outside
    val c0 = cubeOf(
      ("2024-01-01", "B04", y1, x1, 1.0),
      ("2024-01-01", "B04", y2, x2, 2.0))
    val c = Cube(c0.df, c0.meta.copy(crs = Some("EPSG:32632")))
    // bbox given in plain geographic coordinates via proj-string
    val r = Filters.filterBboxRef(c, west = 11.2, south = 46.4,
      east = 11.4, north = 46.6,
      bboxCrs = CrsRef.parse("+proj=longlat +ellps=WGS84"))
    r.df.select("value").collect().map(_.getDouble(0)).toSeq shouldBe Seq(1.0)
    // and the string "EPSG:4326" resolves identically
    val r2 = Filters.filterBboxRef(c, 11.2, 46.4, 11.4, 46.6,
      CrsRef.parse("EPSG:4326"))
    r2.df.select("value").collect().map(_.getDouble(0)).toSeq shouldBe Seq(1.0)
    // a cube WITHOUT a parseable CRS keeps the assume-same-CRS convention
    // even for a proj-string bbox: raw-coordinate compare, no silent
    // 4326 transform (which would compare degrees against meters)
    val noCrs = Cube(c0.df, c0.meta.copy(crs = None))
    val r3 = Filters.filterBboxRef(noCrs,
      west = x1 - 1, south = y1 - 1, east = x1 + 1, north = y1 + 1,
      bboxCrs = CrsRef.parse("+proj=utm +zone=32 +ellps=WGS84"))
    r3.df.select("value").collect().map(_.getDouble(0)).toSeq shouldBe Seq(1.0)
  }
}
