package graft

import graft.cube.{Cube, Dim, GridRef}
import graft.ops.{Crs, Filters, Joins}
import org.apache.spark.sql.functions._

class JoinsSpec extends SparkSpec {

  test("merge_cubes band-disjoint → unionByName concat (no join)") {
    val a = cubeOf(("2024-01-01", "B04", 0, 0, 1.0))
    val b = cubeOf(("2024-01-01", "B08", 0, 0, 2.0))
    val r = Joins.mergeCubes(a, b)
    r.df.count() shouldBe 2
    r.meta.bandOrder shouldBe Seq("B04", "B08")
  }

  test("merge_cubes overlap → full outer + coalesce (combine_first bias to cube1)") {
    val a = cubeOf(("2024-01-01", "B", 0, 0, 1.0), ("2024-01-02", "B", 0, 0, 2.0))
    val b = cubeOf(("2024-01-02", "B", 0, 0, 99.0), ("2024-01-03", "B", 0, 0, 3.0))
    val r = Joins.mergeCubes(a, b)
    val m = r.df.collect().map(row =>
      row.getTimestamp(0).toString.take(10) -> row.getDouble(4)).toMap
    m shouldBe Map("2024-01-01" -> 1.0, "2024-01-02" -> 2.0, "2024-01-03" -> 3.0)
  }

  test("merge_cubes partially common bands raises the typed openEO error") {
    // reference: openeo_odc_driver.py:1195-1198 raises instead of guessing
    val a = cubeOf(("2024-01-01", "B04", 0, 0, 1.0),
      ("2024-01-01", "B08", 0, 0, 2.0))
    val b = cubeOf(("2024-01-01", "B08", 0, 0, 3.0),
      ("2024-01-01", "B11", 0, 0, 4.0))
    val e = the[graft.OpenEoError] thrownBy Joins.mergeCubes(a, b)
    e.code shouldBe "BandsPartiallyCommon"
  }

  test("merge_cubes identical band sets in different order take the resolver path") {
    // band ORDER is presentation metadata; [B04,B08] vs [B08,B04] is the
    // same band set and must resolve, not raise BandsPartiallyCommon
    val a0 = cubeOf(("2024-01-01", "B04", 0, 0, 1.0),
      ("2024-01-01", "B08", 0, 0, 2.0))
    val b0 = cubeOf(("2024-01-02", "B08", 0, 0, 3.0),
      ("2024-01-02", "B04", 0, 0, 4.0))
    val a = Cube(a0.df, a0.meta.copy(bandOrder = Seq("B04", "B08")))
    val b = Cube(b0.df, b0.meta.copy(bandOrder = Seq("B08", "B04")))
    val r = Joins.mergeCubes(a, b)
    r.df.count() shouldBe 4
  }

  test("merge_cubes mixed dims (t,band,y,x vs band,y,x): static side joins every slice") {
    // reference case openeo_odc_driver.py:1266-1289 — a time-less cube
    // (e.g. a DEM layer) merges against every time slice via the shared
    // (band, y, x) keys
    val temporal = cubeOf(
      ("2024-01-01", "B", 0, 0, 10.0), ("2024-01-02", "B", 0, 0, 20.0))
    val static0 = cubeOf(("2024-01-01", "B", 0, 0, 5.0))
    val static = Cube(static0.df.drop(Dim.Time), static0.meta)
    val r = Joins.mergeCubes(temporal, static,
      resolver = Some((x, y) => x - y))
    val m = r.df.collect().map(row =>
      row.getAs[java.sql.Timestamp](Dim.Time).toString.take(10) ->
        row.getAs[Double](Cube.ValueCol)).toMap
    m shouldBe Map("2024-01-01" -> 5.0, "2024-01-02" -> 15.0)
  }

  test("merge_cubes custom overlap resolver receives (cube1, cube2) columns") {
    val a = cubeOf(("2024-01-01", "B", 0, 0, 10.0))
    val b = cubeOf(("2024-01-01", "B", 0, 0, 4.0))
    val r = Joins.mergeCubes(a, b,
      resolver = Some((x, y) => x - y)) // subtract resolver subgraph
    r.df.head().getDouble(4) shouldBe 6.0
  }

  test("reprojectCube transforms coordinates with the native expression") {
    // build a cube whose x/y are the UTM32N coords of two known lon/lat
    // points; reprojecting to 4326 must recover the lon/lat (within the
    // Snyder series' accuracy)
    val pts = Seq((11.3, 46.5), (11.6, 46.8))
    val utm = pts.map { case (lo, la) => Crs.transformPoint(lo, la, 4326, 32632) }
    val c0 = cubeOf(
      ("2024-01-01", "B", utm(0)._2, utm(0)._1, 1.0),
      ("2024-01-01", "B", utm(1)._2, utm(1)._1, 2.0))
    val c = Cube(c0.df, c0.meta.copy(crs = Some("EPSG:32632")))
    val r = Joins.reprojectCube(c, 32632, 4326)
    r.meta.crs shouldBe Some("EPSG:4326")
    val got = r.df.orderBy("value").collect()
      .map(row => (row.getAs[Double](Dim.X), row.getAs[Double](Dim.Y)))
    got.zip(pts).foreach { case ((lo, la), (wlo, wla)) =>
      lo shouldBe wlo +- 1e-6
      la shouldBe wla +- 1e-6
    }
  }

  test("graft_reproject to EPSG:27700 matches Crs.transformPoint row by row") {
    import spark.implicits._
    // a registry code with a Helmert datum shift (OSGB36), both directions
    val pts = Seq((-0.13, 51.51), (-3.19, 55.95), (-5.93, 54.6), (1.3, 52.63))
    val bng = pts.toDF("lon", "lat")
      .select(graft.functions.GeoExprs.reproject(
        col("lon"), col("lat"), 4326, 27700).as("p"))
      .select("p.x", "p.y").as[(Double, Double)].collect().toSeq
    bng shouldBe pts.map { case (lo, la) => Crs.transformPoint(lo, la, 4326, 27700) }
    val back = bng.toDF("x", "y")
      .select(graft.functions.GeoExprs.reproject(
        col("x"), col("y"), 27700, 4326).as("p"))
      .select("p.x", "p.y").as[(Double, Double)].collect().toSeq
    back shouldBe bng.map { case (x, y) => Crs.transformPoint(x, y, 27700, 4326) }
  }

  test("resample_cube_temporal: nearest as-of relabel onto the target axis") {
    val src = cubeOf(
      ("2024-01-01", "B", 0, 0, 1.0), ("2024-01-10", "B", 0, 0, 10.0))
    val tgt = cubeOf(
      ("2024-01-02", "B", 0, 0, 0.0), ("2024-01-09", "B", 0, 0, 0.0))
    val r = Joins.resampleCubeTemporal(src, tgt)
    val m = r.df.collect().map(row =>
      row.getTimestamp(r.df.columns.indexOf(Dim.Time)).toString.take(10) ->
        row.getDouble(r.df.columns.indexOf(Cube.ValueCol))).toMap
    m shouldBe Map("2024-01-02" -> 1.0, "2024-01-09" -> 10.0)
  }

  test("resample_cube_spatial nearest: bin to target cell, nearest-to-center wins") {
    // source 1m grid; target 2m grid with centers at 0.25, 2.25, ...
    val c = cubeOf(
      ("2024-01-01", "B", 0, 0, 1.0), ("2024-01-01", "B", 0, 1, 2.0),
      ("2024-01-01", "B", 0, 2, 3.0), ("2024-01-01", "B", 0, 3, 4.0))
    val r = Joins.resampleCubeSpatialNearest(c, GridRef(0.25, 0.25, 2.0, 2.0))
    val m = r.df.collect().map(row =>
      row.getAs[Double](Dim.X) -> row.getAs[Double](Cube.ValueCol)).toMap
    // x=0 → cell 0 (center 0.25, d=0.25) beats x=1 (d=0.75);
    // x=2 → cell 1 (center 2.25) beats x=3
    m shouldBe Map(0.25 -> 1.0, 2.25 -> 3.0)
  }

  test("resample_cube_spatial cubic: identity on-grid, true Catmull-Rom value off-grid") {
    // K(0)=1, K(±1)=K(±2)=0 → same-grid regrid reproduces samples exactly
    val c = cubeOf(
      ("2024-01-01", "B", 0, 0, 0.0), ("2024-01-01", "B", 0, 1, 1.0),
      ("2024-01-01", "B", 0, 2, 8.0), ("2024-01-01", "B", 0, 3, 27.0))
    val ident = Joins.resampleCubeSpatialCubic(c, GridRef(0.0, 0.0, 1.0, 1.0))
    ident.df.collect().map(r =>
      r.getAs[Double](Dim.X) -> r.getAs[Double](Cube.ValueCol)).toMap
      .view.filterKeys(x => x >= 0 && x <= 3).toMap shouldBe
      Map(0.0 -> 0.0, 1.0 -> 1.0, 2.0 -> 8.0, 3.0 -> 27.0)
    // target center midway between samples 1 and 2: full 4-point stencil
    // weights [-1/16, 9/16, 9/16, -1/16] → for v = x³ the Catmull-Rom
    // value at x=1.5 is (9·1 + 9·8 - 27)/16 = 3.375 — the cubic x³
    // evaluated exactly (order-3 reproduction on this symmetric stencil)
    val half = Joins.resampleCubeSpatialCubic(c, GridRef(1.5, 0.0, 10.0, 10.0))
    val v = half.df.where(col(Dim.X) === 1.5).head().getAs[Double](Cube.ValueCol)
    v shouldBe 3.375 +- 1e-12
  }

  test("resample_cube_spatial bilinear: same-grid regrid is identity; midpoint averages") {
    val c = cubeOf(
      ("2024-01-01", "B", 0, 0, 1.0), ("2024-01-01", "B", 0, 1, 3.0))
    // target grid offset by half a cell → each target center sits midway
    val r = Joins.resampleCubeSpatialBilinear(c, GridRef(0.5, 0.0, 1.0, 1.0))
    val m = r.df.collect().map(row =>
      row.getAs[Double](Dim.X) -> row.getAs[Double](Cube.ValueCol)).toMap
    m(0.5) shouldBe 2.0 +- 1e-12 // midway between 1 and 3
  }
}
