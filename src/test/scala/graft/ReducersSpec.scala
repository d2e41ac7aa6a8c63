package graft

import graft.cube.{Cube, Dim}
import graft.ops.Reducers
import org.apache.spark.sql.functions._

class ReducersSpec extends SparkSpec {

  def series: graft.cube.Cube = cubeOf(
    ("2024-01-01", "B04", 0, 0, 1.0), ("2024-01-02", "B04", 0, 0, 2.0),
    ("2024-01-03", "B04", 0, 0, 3.0), ("2024-01-04", "B04", 0, 0, 4.0),
    ("2024-01-01", "B04", 0, 1, 10.0), ("2024-01-02", "B04", 0, 1, 20.0))

  test("reduce_dimension over time: max/min/mean/median/sum collapse the dim") {
    val maxed = Reducers.reduceDimension(series, "t", "max") // alias → time
    maxed.has(Dim.Time) shouldBe false
    rowSet(maxed.df.select(Dim.X, Cube.ValueCol)) shouldBe
      Set(Seq(0.0, 4.0), Seq(1.0, 20.0))
    val med = Reducers.reduceDimension(series, "time", "median")
    rowSet(med.df.select(Dim.X, Cube.ValueCol)) shouldBe
      Set(Seq(0.0, 2.5), Seq(1.0, 15.0))
    val mean = Reducers.reduceDimension(series, "time", "mean")
    rowSet(mean.df.select(Dim.X, Cube.ValueCol)) shouldBe
      Set(Seq(0.0, 2.5), Seq(1.0, 15.0))
  }

  test("product reducer is exact (incl. negatives / zeros — no exp-log trick)") {
    val c = cubeOf(
      ("2024-01-01", "B", 0, 0, -2.0), ("2024-01-02", "B", 0, 0, 3.0),
      ("2024-01-01", "B", 0, 1, 0.0), ("2024-01-02", "B", 0, 1, 5.0))
    val r = Reducers.reduceDimension(c, "time", "product")
    rowSet(r.df.select(Dim.X, Cube.ValueCol)) shouldBe
      Set(Seq(0.0, -6.0), Seq(1.0, 0.0))
  }

  test("variance = sd² quirk preserved (zonal stats reference line 678)") {
    val c = cubeOf(
      ("2024-01-01", "B", 0, 0, 1.0), ("2024-01-02", "B", 0, 0, 3.0))
    val r = Reducers.reduceDimension(c, "time", "variance")
    r.df.select(Cube.ValueCol).head().getDouble(0) shouldBe 2.0 +- 1e-12
  }

  test("aggregate_temporal_period: day + season (Dec-anchored quarters)") {
    import java.sql.Timestamp
    val c = cubeOf(
      ("2023-12-15", "B", 0, 0, 1.0), // DJF season → 2023-12-01
      ("2024-01-15", "B", 0, 0, 2.0), // DJF
      ("2024-03-15", "B", 0, 0, 4.0), // MAM → 2024-03-01
      ("2024-11-15", "B", 0, 0, 8.0)) // SON → 2024-09-01
    val r = Reducers.aggregateTemporalPeriod(c, "season", "sum")
    val m = r.df.collect().map(row => row.getTimestamp(0).toString -> row.getDouble(4)).toMap
    m shouldBe Map(
      "2023-12-01 00:00:00.0" -> 3.0,
      "2024-03-01 00:00:00.0" -> 4.0,
      "2024-09-01 00:00:00.0" -> 8.0)
    an[IllegalArgumentException] should be thrownBy
      Reducers.periodBucket("dekad", col(Dim.Time)) // rejected like reference
  }

  test("aggregate_temporal: arbitrary intervals, overlap counts a row in " +
      "BOTH groups, labels are interval starts, [start, end) half-open") {
    val c = cubeOf(
      ("2024-01-05", "B", 0.0, 0.0, 1.0),  // first interval only
      ("2024-01-12", "B", 0.0, 0.0, 2.0),  // OVERLAP: both intervals
      ("2024-01-20", "B", 0.0, 0.0, 4.0),  // second only
      ("2024-02-01", "B", 0.0, 0.0, 8.0))  // end-exclusive: matches none
    val r = Reducers.aggregateTemporal(c, Seq(
      ("2024-01-01", "2024-01-15"), ("2024-01-10", "2024-02-01")), "sum")
    val m = r.df.collect()
      .map(row => row.getTimestamp(0).toString -> row.getDouble(4)).toMap
    m shouldBe Map(
      "2024-01-01 00:00:00.0" -> 3.0, // 1 + 2
      "2024-01-10 00:00:00.0" -> 6.0) // 2 + 4
  }

  test("aggregate_spatial_window trim drops partial edge blocks; pad keeps them") {
    // 3x3 grid, 2x2 windows: only block (0,0) is complete
    val rows = for { y <- 0 to 2; x <- 0 to 2 }
      yield ("2024-01-01", "B", y.toDouble, x.toDouble, (y * 3 + x).toDouble)
    val c = cubeOf(rows: _*)
    val trimmed = Reducers.aggregateSpatialWindow(c, 2, 2, "max", "trim")
    rowSet(trimmed.df.select(Dim.Y, Dim.X, Cube.ValueCol)) shouldBe
      Set(Seq(0.0, 0.0, 4.0)) // max of {0,1,3,4}
    val padded = Reducers.aggregateSpatialWindow(c, 2, 2, "max", "pad")
    padded.df.count() shouldBe 4
    // the coarsened grid doubles the cell size
    trimmed.meta.grid.get.dx shouldBe 2.0
  }

  test("quantiles: q=4 → probabilities (0.25,0.5,0.75) = arange(0,1,1/q)[1:]") {
    val c = cubeOf((1 to 8).map(i =>
      (f"2024-01-0$i", "B", 0.0, 0.0, i.toDouble)): _*)
    val r = Reducers.quantiles(c, "time", q = Some(4))
    val byIdx = r.df.collect().map(row =>
      row.getAs[Int]("quantile_idx") -> row.getAs[Double](Cube.ValueCol)).toMap
    byIdx shouldBe Map(0 -> 2.75, 1 -> 4.5, 2 -> 6.25)
    val conflict = the[graft.OpenEoError] thrownBy
      Reducers.quantiles(c, "time", Seq(0.5), Some(2))
    conflict.code shouldBe "QuantilesParameterConflict"
    val missing = the[graft.OpenEoError] thrownBy
      Reducers.quantiles(c, "time")
    missing.code shouldBe "QuantilesParameterMissing"
  }

  test("anomaly = cube − monthly climatology, exact") {
    val c = cubeOf(
      ("2023-06-01", "B", 0, 0, 10.0), ("2024-06-01", "B", 0, 0, 20.0),
      ("2024-07-01", "B", 0, 0, 5.0))
    val normals = Reducers.climatologicalNormal(c)
    val r = Reducers.anomaly(c, normals)
    rowSet(r.df.select(Cube.ValueCol)).map(_.head) shouldBe Set(-5.0, 5.0, 0.0)
  }

  test("aggregate_spatial assigns first containing feature, reduces per zone") {
    val c = cubeOf(
      ("2024-01-01", "B", 0, 0, 1.0), ("2024-01-01", "B", 0, 1, 2.0),
      ("2024-01-01", "B", 0, 2, 7.0), ("2024-01-01", "B", 0, 3, 9.0))
    val zones = Seq(
      Seq((-0.5, -0.5), (1.5, -0.5), (1.5, 0.5), (-0.5, 0.5)),  // x∈{0,1}
      Seq((1.5, -0.5), (3.5, -0.5), (3.5, 0.5), (1.5, 0.5)))    // x∈{2,3}
    val r = Reducers.aggregateSpatial(c, zones, "mean")
    rowSet(r.select("result", Cube.ValueCol)) shouldBe
      Set(Seq(0, 1.5), Seq(1, 8.0))
  }

  /** A star-shaped ring of `v` vertices around (64, 64), within a
    * 128 × 128 pixel grid. */
  private def star(v: Int): Seq[(Double, Double)] = {
    val rnd = new scala.util.Random(v)
    (0 until v).map { i =>
      val a = 2 * math.Pi * i / v
      val r = 40 + 15 * math.sin(7 * a) + rnd.nextDouble() * 4
      (64.3 + r * math.cos(a), 63.7 + r * math.sin(a))
    }
  }

  test("aggregate_spatial over a 4,096-vertex polygon equals a plain " +
      "even-odd reference; the plan does not grow with vertex count") {
    val pixels = for (y <- 0 until 128; x <- 0 until 128)
      yield ("2024-01-01", "B", y.toDouble, x.toDouble, ((x * 7 + y * 13) % 100).toDouble)
    val c = cubeOf(pixels: _*)
    val features = Seq(star(4096), Seq((20.0, 20.0), (110.0, 30.0), (60.0, 100.0)))
    def inside(ring: Seq[(Double, Double)], px: Double, py: Double): Boolean = {
      var odd = false
      for (i <- ring.indices) {
        val (x1, y1) = ring(i); val (x2, y2) = ring((i + 1) % ring.length)
        if (y1 != y2 && ((y1 > py) != (y2 > py)) &&
            px < x1 + (py - y1) * ((x2 - x1) / (y2 - y1))) odd = !odd
      }
      odd
    }
    val expected = pixels.flatMap { case (_, _, y, x, v) =>
      features.indexWhere(inside(_, x, y)) match {
        case -1 => None
        case f => Some(f -> v)
      }
    }.groupBy(_._1).map { case (f, vs) => Seq(f, vs.map(_._2).sum / vs.size) }.toSet
    expected.size shouldBe 2
    rowSet(Reducers.aggregateSpatial(c, features, "mean")
      .select("result", Cube.ValueCol)) shouldBe expected

    def planSize(v: Int): Int =
      Reducers.aggregateSpatial(c, Seq(star(v)), "mean").queryExecution
        .optimizedPlan.collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }
        .sum
    planSize(512) shouldBe planSize(8)
  }
}
