package graft

import graft.cube.{Cube, CubeMeta, Dim, GridRef}
import graft.ops.{Crs, Sar2Cube}
import org.apache.spark.sql.functions._

class Sar2CubeSpec extends SparkSpec {

  test("Column-expression UTM forward matches the driver-side Scala version") {
    import spark.implicits._
    val pts = Seq((11.35, 46.5), (11.0, 46.0), (11.9, 46.9))
    val df = pts.toDF("lon", "lat")
    val (e, n) = Sar2Cube.utmFromLonLatCols(col("lon"), col("lat"), 32632)
    val got = df.select(e.as("e"), n.as("n")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    pts.zip(got).foreach { case ((lon, lat), (ge, gn)) =>
      val (we, wn) = Crs.transformPoint(lon, lat, 4326, 32632)
      ge shouldBe we +- 1e-6
      gn shouldBe wn +- 1e-6
    }
  }

  test("geocode regrids data bands using grid_lon/grid_lat bands") {
    import spark.implicits._
    // radar-geometry cube: 2 pixels with known lon/lat, one data band
    val t = ts("2024-01-01 00:00:00")
    val rows = Seq(
      // (time, band, y, x, value) — y/x are radar grid indices here
      (t, "grid_lon", 0.0, 0.0, 11.350), (t, "grid_lat", 0.0, 0.0, 46.500),
      (t, "grid_lon", 0.0, 1.0, 11.351), (t, "grid_lat", 0.0, 1.0, 46.500),
      (t, "VV", 0.0, 0.0, 5.0), (t, "VV", 0.0, 1.0, 7.0))
    val c = Cube(rows.toDF("time", "band", "y", "x", "value"),
      CubeMeta(bandOrder = Seq("grid_lon", "grid_lat", "VV")))
    val r = Sar2Cube.geocode(c, targetEpsg = 32632, resolution = 10.0)
    // ~77 m apart in easting at this latitude → distinct 10 m cells
    r.df.count() shouldBe 2
    r.df.select(Dim.Band).distinct().head().getString(0) shouldBe "VV"
    r.meta.crs shouldBe Some("EPSG:32632")
    rowSet(r.df.select(Cube.ValueCol)).map(_.head) shouldBe Set(5.0, 7.0)
  }

  test("geocode fills interior pinholes but not cells outside the footprint") {
    import spark.implicits._
    val t = ts("2024-01-01 00:00:00")
    // 8 radar samples landing exactly on the centers of a 3×3 ring of
    // 10 m cells (center cell left empty). Delaunay-quality output must
    // interpolate the center; cells outside the ring must stay empty.
    val (bx, by) = Crs.transformPoint(11.35, 46.5, 4326, 32632)
    val cx0 = math.floor(bx / 10.0); val cy0 = math.floor(by / 10.0)
    val ring = for {
      oy <- -1 to 1; ox <- -1 to 1 if ox != 0 || oy != 0
    } yield (ox, oy)
    val rows = ring.zipWithIndex.flatMap { case ((ox, oy), i) =>
      val (lon, lat) = Crs.transformPoint(
        (cx0 + ox + 0.5) * 10.0, (cy0 + oy + 0.5) * 10.0, 32632, 4326)
      Seq((t, "grid_lon", 0.0, i.toDouble, lon),
        (t, "grid_lat", 0.0, i.toDouble, lat),
        (t, "VV", 0.0, i.toDouble, 10.0 + i))
    }
    val c = Cube(rows.toDF("time", "band", "y", "x", "value"),
      CubeMeta(bandOrder = Seq("grid_lon", "grid_lat", "VV")))
    val r = Sar2Cube.geocode(c, targetEpsg = 32632, resolution = 10.0)
    r.df.count() shouldBe 9 // 8 ring samples + interpolated center
    val center = r.df.where(
      col(Dim.X) === (cx0 + 0.5) * 10.0 && col(Dim.Y) === (cy0 + 0.5) * 10.0)
      .select(Cube.ValueCol).head().getDouble(0)
    center should (be >= 10.0 and be <= 17.0) // IDW mean of the ring
    // with fillGaps off the hole stays
    Sar2Cube.geocode(c, 32632, 10.0, fillGaps = false).df.count() shouldBe 8
  }

  test("geocode(method=linear) == nearest-bin on a smooth dense field " +
      "(every cell center sampled)") {
    import spark.implicits._
    val t = ts("2024-01-01 00:00:00")
    val (bx, by) = Crs.transformPoint(11.35, 46.5, 4326, 32632)
    val cx0 = math.floor(bx / 10.0); val cy0 = math.floor(by / 10.0)
    val rows = (for { oy <- 0 until 5; ox <- 0 until 5 } yield {
      val i = oy * 5 + ox
      val (lon, lat) = Crs.transformPoint(
        (cx0 + ox + 0.5) * 10.0, (cy0 + oy + 0.5) * 10.0, 32632, 4326)
      Seq((t, "grid_lon", 0.0, i.toDouble, lon),
        (t, "grid_lat", 0.0, i.toDouble, lat),
        (t, "VV", 0.0, i.toDouble, math.sin(ox * 0.3) + oy * 0.1))
    }).flatten
    val c = Cube(rows.toDF("time", "band", "y", "x", "value"),
      CubeMeta(bandOrder = Seq("grid_lon", "grid_lat", "VV")))
    def keyVals(cube: graft.cube.Cube) = cube.df
      .select(Dim.Y, Dim.X, Cube.ValueCol).collect()
      .map(r => ((r.getDouble(0), r.getDouble(1)), r.getDouble(2))).toMap
    val near = keyVals(Sar2Cube.geocode(c, 32632, 10.0, fillGaps = false))
    val lin = keyVals(Sar2Cube.geocode(c, 32632, 10.0, method = "linear"))
    near.size shouldBe 25
    lin shouldBe near
  }

  test("geocode(method=linear): validity mask is the sample hull — " +
      "interior holes take the NEAREST value (not IDW), exterior stays empty") {
    import spark.implicits._
    val t = ts("2024-01-01 00:00:00")
    val (bx, by) = Crs.transformPoint(11.35, 46.5, 4326, 32632)
    val cx0 = math.floor(bx / 10.0); val cy0 = math.floor(by / 10.0)
    val centerX = (cx0 + 0.5) * 10.0; val centerY = (cy0 + 0.5) * 10.0
    // ring at ±14 m (1.4 cells) with margin ≫ UTM round-trip noise, so
    // the hull STRICTLY contains exactly the 3×3 block of cell centers;
    // one extra sample 11 m north is the unique nearest to the center
    val ring = Seq((1.4, 0.0, 10.0), (-1.4, 0.0, 11.0), (0.0, -1.4, 12.0),
      (1.4, 1.4, 13.0), (1.4, -1.4, 14.0), (-1.4, 1.4, 15.0),
      (-1.4, -1.4, 16.0), (0.0, 1.1, 99.0))
    val rows = ring.zipWithIndex.flatMap { case ((ox, oy, v), i) =>
      val (lon, lat) = Crs.transformPoint(
        centerX + ox * 10.0, centerY + oy * 10.0, 32632, 4326)
      Seq((t, "grid_lon", 0.0, i.toDouble, lon),
        (t, "grid_lat", 0.0, i.toDouble, lat),
        (t, "VV", 0.0, i.toDouble, v))
    }
    val c = Cube(rows.toDF("time", "band", "y", "x", "value"),
      CubeMeta(bandOrder = Seq("grid_lon", "grid_lat", "VV")))
    val r = Sar2Cube.geocode(c, 32632, 10.0, method = "linear")
    // exactly the 3×3 centers lie inside the hull (the ±2-cell centers
    // at ±20 m are outside the ±14 m hull): exterior masked
    r.df.count() shouldBe 9
    val center = r.df.where(
      col(Dim.X) === centerX && col(Dim.Y) === centerY)
      .select(Cube.ValueCol).head().getDouble(0)
    center shouldBe 99.0 // nearest sample, NOT an IDW mean — pinned divergence
    // the default path IDW-fills the same hole with a weighted mean
    val idw = Sar2Cube.geocode(c, 32632, 10.0).df.where(
      col(Dim.X) === centerX && col(Dim.Y) === centerY)
      .select(Cube.ValueCol).head().getDouble(0)
    idw should not be 99.0
  }

  test("geocode(method=linear) is tile-layout invariant on dense fields " +
      "(halo replication correct across tile borders)") {
    import spark.implicits._
    val t = ts("2024-01-01 00:00:00")
    val (bx, by) = Crs.transformPoint(11.35, 46.5, 4326, 32632)
    val cx0 = math.floor(bx / 10.0); val cy0 = math.floor(by / 10.0)
    val rows = (for { oy <- 0 until 12; ox <- 0 until 12 } yield {
      val i = oy * 12 + ox
      val (lon, lat) = Crs.transformPoint(
        (cx0 + ox + 0.5) * 10.0, (cy0 + oy + 0.5) * 10.0, 32632, 4326)
      Seq((t, "grid_lon", 0.0, i.toDouble, lon),
        (t, "grid_lat", 0.0, i.toDouble, lat),
        (t, "VV", 0.0, i.toDouble, i * 0.25))
    }).flatten
    val c = Cube(rows.toDF("time", "band", "y", "x", "value"),
      CubeMeta(bandOrder = Seq("grid_lon", "grid_lat", "VV")))
    def keyVals(tileCells: Int) = Sar2Cube.geocodeLinear(
        c, 32632, 10.0, tileCells = tileCells)
      .df.select(Dim.Y, Dim.X, Cube.ValueCol).collect()
      .map(r => ((r.getDouble(0), r.getDouble(1)), r.getDouble(2))).toMap
    val big = keyVals(64)
    big.size shouldBe 144
    keyVals(9) shouldBe big
    keyVals(16) shouldBe big
  }

  test("filterBboxByLonLatBands keeps pixels whose lon/lat data fall inside") {
    import spark.implicits._
    val t = ts("2024-01-01 00:00:00")
    val rows = Seq(
      (t, "grid_lon", 0.0, 0.0, 11.0), (t, "grid_lat", 0.0, 0.0, 46.0),
      (t, "grid_lon", 0.0, 1.0, 12.5), (t, "grid_lat", 0.0, 1.0, 46.0),
      (t, "VV", 0.0, 0.0, 5.0), (t, "VV", 0.0, 1.0, 7.0))
    val c = Cube(rows.toDF("time", "band", "y", "x", "value"), CubeMeta())
    val r = Sar2Cube.filterBboxByLonLatBands(c, west = 10.5, south = 45.5,
      east = 11.5, north = 46.5)
    r.df.where(col(Dim.Band) === "VV").count() shouldBe 1
    r.df.where(col(Dim.Band) === "VV").head().getDouble(4) shouldBe 5.0
  }

  test("radar_mask emits 3 mask bands over the DEM grid") {
    import spark.implicits._
    val t = ts("2024-01-01 00:00:00")
    // small DEM ramp + LIA band
    val dem = for { y <- 0 to 3; x <- 0 to 3 }
      yield (t, "DEM", y.toDouble, x.toDouble, 100.0 + 50.0 * x)
    val lia = for { y <- 0 to 3; x <- 0 to 3 }
      yield (t, "LIA", y.toDouble, x.toDouble, 35.0)
    val c = Cube((dem ++ lia).toDF("time", "band", "y", "x", "value"),
      CubeMeta(grid = Some(GridRef(0, 0, 1, 1)), bandOrder = Seq("DEM", "LIA")))
    val r = Sar2Cube.radarMask(c, foreshorteningTh = 0.1, layoverTh = 1.0,
      orbitDirection = "DSC")
    r.df.select(Dim.Band).distinct().collect().map(_.getString(0)).toSet shouldBe
      Set("1", "2", "3")
    // masks are 0/1 valued
    r.df.select(Cube.ValueCol).distinct().collect().map(_.getDouble(0)).toSet
      .subsetOf(Set(0.0, 1.0)) shouldBe true
  }
}
