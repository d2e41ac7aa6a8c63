package graft

import graft.compile.GraphCompiler
import graft.cube.{Cube, Dim, GridRef}
import graft.graph.ProcessGraph
import graft.ops.Scan
import org.apache.spark.sql.functions._

/** End-to-end: openEO process-graph JSON → compiled Spark plan → result.
  * The golden graph mirrors the reference's single acceptance fixture
  * (tests/process_graphs/NDVI_Bolzano_median.json): load_collection →
  * reduce bands (NDVI expression) → reduce time (median) → save_result. */
class GraphCompilerSpec extends SparkSpec {

  lazy val collectionDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-coll").toString
    // 2 bands × 3 days × 2×2 pixels; value = f(band, day, pixel)
    val rows = for {
      day <- 1 to 3; band <- Seq("B04", "B08"); y <- 0 to 1; x <- 0 to 1
    } yield (ts(f"2022-06-0$day 00:00:00"), band,
      y.toDouble, x.toDouble,
      (if (band == "B08") 800.0 else 400.0) + day * 10 + y + x)
    rows.toDF("time", "band", "y", "x", "value")
      .write.mode("overwrite").parquet(s"$dir/s2")
    dir
  }

  def catalog: Map[String, Scan.CollectionSpec] = Map(
    "s2_l2a" -> Scan.CollectionSpec(s"$collectionDir/s2",
      crs = Some("EPSG:32632"), bandOrder = Seq("B04", "B08"),
      grid = Some(GridRef(0, 0, 1, 1))))

  def compiler = new GraphCompiler(spark, catalog,
    java.nio.file.Files.createTempDirectory("graft-res").toString)

  val ndviGraph: String =
    """{
      "load": {"process_id": "load_collection", "arguments": {
        "id": "s2_l2a", "bands": ["B04", "B08"],
        "temporal_extent": ["2022-06-01", "2022-06-30"]}},
      "ndvi": {"process_id": "reduce_dimension", "arguments": {
        "data": {"from_node": "load"}, "dimension": "bands",
        "reducer": {"process_graph": {
          "red":  {"process_id": "array_element",
                   "arguments": {"data": {"from_parameter": "data"}, "label": "B04"}},
          "nir":  {"process_id": "array_element",
                   "arguments": {"data": {"from_parameter": "data"}, "label": "B08"}},
          "nd":   {"process_id": "normalized_difference",
                   "arguments": {"x": {"from_node": "nir"}, "y": {"from_node": "red"}},
                   "result": true}}}}},
      "med": {"process_id": "reduce_dimension", "arguments": {
        "data": {"from_node": "ndvi"}, "dimension": "t",
        "reducer": {"process_graph": {
          "m": {"process_id": "median",
                "arguments": {"data": {"from_parameter": "data"}},
                "result": true}}}},
        "result": true}
    }"""

  test("parser: topo order puts dependencies first; result node found") {
    val g = ProcessGraph.parse(ndviGraph)
    val order = g.topoSorted.map(_.id)
    order.indexOf("load") should be < order.indexOf("ndvi")
    order.indexOf("ndvi") should be < order.indexOf("med")
    g.resultNode.id shouldBe "med"
  }

  test("golden NDVI + temporal median matches hand-computed values") {
    val c = compiler.run(ProcessGraph.parse(ndviGraph)).asInstanceOf[Cube]
    c.dims shouldBe Seq(Dim.Y, Dim.X) // time and band reduced away
    val got = c.df.collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // per (y,x,day): nir = 800+10d+y+x, red = 400+10d+y+x
    // ndvi = 400 / (1200 + 20d + 2(y+x)); median over d = value at d=2
    for (y <- 0 to 1; x <- 0 to 1) {
      val want = 400.0 / (1200.0 + 40.0 + 2 * (y + x))
      got((y.toDouble, x.toDouble)) shouldBe want +- 1e-12
    }
  }

  test("apply callback compiles to one element-wise expression") {
    val g = s"""{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "sc": {"process_id": "apply", "arguments": {
        "data": {"from_node": "load"},
        "process": {"process_graph": {
          "m": {"process_id": "multiply",
                "arguments": {"x": {"from_parameter": "x"}, "y": 2}},
          "a": {"process_id": "add",
                "arguments": {"x": {"from_node": "m"}, "y": 1}, "result": true}}}},
        "result": true}}"""
    val c = compiler.compile(g).asInstanceOf[Cube]
    val base = compiler.compile(
      """{"load": {"process_id": "load_collection",
         "arguments": {"id": "s2_l2a"}, "result": true}}""").asInstanceOf[Cube]
    val want = base.df.agg(sum(col("value") * 2 + 1)).head().getDouble(0)
    c.df.agg(sum("value")).head().getDouble(0) shouldBe want +- 1e-9
  }

  test("top-level cube arithmetic joins on shared dims (apply position)") {
    val g = s"""{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "b4": {"process_id": "array_element",
             "arguments": {"data": {"from_node": "load"}, "label": "B04"}},
      "b8": {"process_id": "array_element",
             "arguments": {"data": {"from_node": "load"}, "label": "B08"}},
      "d": {"process_id": "subtract",
            "arguments": {"x": {"from_node": "b8"}, "y": {"from_node": "b4"}},
            "result": true}}"""
    val c = compiler.compile(g).asInstanceOf[Cube]
    // B08 - B04 = 400 everywhere
    c.df.select("value").distinct().collect().map(_.getDouble(0)) shouldBe Array(400.0)
  }

  test("scalar-only subgraph folds on the driver") {
    val g = """{
      "a": {"process_id": "add", "arguments": {"x": 2, "y": 3}},
      "m": {"process_id": "multiply",
            "arguments": {"x": {"from_node": "a"}, "y": 4}, "result": true}}"""
    compiler.compile(g) shouldBe 20.0
  }

  test("divide by literal zero raises DivisionByZero like the reference") {
    val g = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "d": {"process_id": "divide",
            "arguments": {"x": {"from_node": "load"}, "y": 0}, "result": true}}"""
    val e = the[graft.OpenEoError] thrownBy compiler.compile(g)
    e.code shouldBe "DivisionByZero"
  }

  test("multiply with a missing operand raises MultiplicandMissing") {
    val g = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "m": {"process_id": "multiply",
            "arguments": {"x": {"from_node": "load"}}, "result": true}}"""
    val e = the[graft.OpenEoError] thrownBy compiler.compile(g)
    e.code shouldBe "MultiplicandMissing"
  }

  test("all-literal top-level nodes fold through the element-wise table; " +
      "unknown processes and bad operands raise typed errors") {
    def one(p: String, args: String) = compiler.compile(
      s"""{"n": {"process_id": "$p", "arguments": {$args}, "result": true}}""")
    one("exp", """"x": 1""") shouldBe StrictMath.exp(1.0) // Spark's exp
    one("gt", """"x": 3, "y": 2""") shouldBe true
    one("clip", """"x": 5, "min": 0, "max": 1""") shouldBe 1.0
    one("sum", """"data": [1, 2, 3.5]""") shouldBe 6.5
    one("pi", "") shouldBe math.Pi
    (the[graft.OpenEoError] thrownBy one("divide", """"x": 1, "y": 0""")
      ).code shouldBe "DivisionByZero"
    (the[graft.OpenEoError] thrownBy one("multiply", """"x": 2""")
      ).code shouldBe "MultiplicandMissing"
    (the[graft.OpenEoError] thrownBy one("frobnicate", """"x": 1""")
      ).code shouldBe "ProcessUnsupported"
    (the[graft.OpenEoError] thrownBy one("subtract", """"x": 1""")
      ).code shouldBe "ProcessParameterMissing"
    (the[graft.OpenEoError] thrownBy one("add", """"x": 1, "y": "two"""")
      ).code shouldBe "ProcessParameterInvalid"
    (the[graft.OpenEoError] thrownBy one("sum", """"data": [1, [2]]""")
      ).code shouldBe "ProcessParameterInvalid"
    def inApply(p: String) = compiler.compile(s"""{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "ap": {"process_id": "apply", "arguments": {"data": {"from_node": "load"},
        "process": {"process_graph": {"f": {"process_id": "$p",
          "arguments": {"x": {"from_parameter": "x"}}, "result": true}}}},
        "result": true}}""")
    (the[graft.OpenEoError] thrownBy inApply("frobnicate")
      ).code shouldBe "ProcessUnsupported"
    inApply("exp").asInstanceOf[Cube].df.count() shouldBe 24
  }

  /** A collection with a year of samples: 24 scenes 15 days apart, one
    * band, two pixels, a seasonal signal plus noise. */
  lazy val seasonDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-season").toString
    val rows = for { i <- 0 until 24; x <- 0 to 1 } yield {
      val t = 1.64e9 + i * 15 * 86400.0
      val w = 2 * math.Pi / 31557600.0 * t
      (new java.sql.Timestamp((t * 1000).toLong), "B04", 0.0, x.toDouble,
        300.0 + 40 * x + 80 * math.cos(w) - 50 * math.sin(w) +
          5 * math.sin(3.0 * i + x))
    }
    rows.toDF("time", "band", "y", "x", "value")
      .write.mode("overwrite").parquet(s"$dir/season")
    dir
  }

  test("fit_curve -> predict_curve through the graph: params equal a direct " +
      "fitCurve, predictions equal the model in plain Scala") {
    val season = new GraphCompiler(spark, Map("season" -> Scan.CollectionSpec(
      s"$seasonDir/season", crs = Some("EPSG:32632"), bandOrder = Seq("B04"),
      grid = Some(GridRef(0, 0, 1, 1)))),
      java.nio.file.Files.createTempDirectory("graft-res").toString)
    val param = (i: Int) => s""""a$i": {"process_id": "array_element",
      "arguments": {"data": {"from_parameter": "parameters"}, "index": $i}}"""
    // a0 + a1·cos(2πx/year) + a2·sin(2πx/year), with the pi process
    val harmonic = Seq(param(0), param(1), param(2),
      """"pi": {"process_id": "pi", "arguments": {}}""",
      """"tp": {"process_id": "multiply", "arguments": {"x": 2, "y": {"from_node": "pi"}}}""",
      """"om": {"process_id": "divide", "arguments": {"x": {"from_node": "tp"}, "y": 31557600}}""",
      """"w": {"process_id": "multiply", "arguments": {"x": {"from_node": "om"}, "y": {"from_parameter": "x"}}}""",
      """"c": {"process_id": "cos", "arguments": {"x": {"from_node": "w"}}}""",
      """"s": {"process_id": "sin", "arguments": {"x": {"from_node": "w"}}}""",
      """"t1": {"process_id": "multiply", "arguments": {"x": {"from_node": "a1"}, "y": {"from_node": "c"}}}""",
      """"t2": {"process_id": "multiply", "arguments": {"x": {"from_node": "a2"}, "y": {"from_node": "s"}}}""",
      """"m": {"process_id": "sum", "arguments": {"data": [{"from_node": "a0"}, {"from_node": "t1"}, {"from_node": "t2"}]}, "result": true}""")
    // a0 + a1·exp(cos(2πx/year)): exp, which the models did not support
    val expModel = Seq(param(0), param(1),
      """"w": {"process_id": "multiply", "arguments": {"x": 1.9909865927683788E-7, "y": {"from_parameter": "x"}}}""",
      """"c": {"process_id": "cos", "arguments": {"x": {"from_node": "w"}}}""",
      """"e": {"process_id": "exp", "arguments": {"x": {"from_node": "c"}}}""",
      """"t": {"process_id": "multiply", "arguments": {"x": {"from_node": "a1"}, "y": {"from_node": "e"}}}""",
      """"m": {"process_id": "add", "arguments": {"x": {"from_node": "a0"}, "y": {"from_node": "t"}}, "result": true}""")
    val omega = 2 * math.Pi / 31557600.0
    val cases = Seq[(Seq[String], Int, (Double, Seq[Double]) => Double)](
      (harmonic, 3, (x, p) => p(0) + p(1) * math.cos(omega * x) + p(2) * math.sin(omega * x)),
      (expModel, 2, (x, p) => p(0) + p(1) * StrictMath.exp(math.cos(1.9909865927683788E-7 * x))))
    for ((nodes, nParams, plain) <- cases) {
      val fn = nodes.mkString("""{"process_graph": {""", ",", "}}")
      val load = """"load": {"process_id": "load_collection", "arguments": {"id": "season"}}"""
      def fit(result: Boolean) = s""""fit": {"process_id": "fit_curve", "arguments": {
        "data": {"from_node": "load"}, "dimension": "t", "function": $fn,
        "parameters": ${Seq.fill(nParams)(1).mkString("[", ",", "]")}}, "result": $result}"""
      val fitted = season.compile(s"{$load, ${fit(true)}}")
        .asInstanceOf[org.apache.spark.sql.DataFrame]
      val predicted = season.compile(s"""{$load, ${fit(false)},
        "pred": {"process_id": "predict_curve", "arguments": {"data": {"from_node": "load"},
          "parameters": {"from_node": "fit"}, "dimension": "t", "function": $fn},
          "result": true}}""").asInstanceOf[Cube]
      val model = GraphCompiler.model(ProcessGraph.parse(nodes.mkString("{", ",", "}")))
      model.nParams shouldBe nParams
      val cube = season.compile(
        """{"l": {"process_id": "load_collection", "arguments": {"id": "season"}, "result": true}}""")
        .asInstanceOf[Cube]
      val direct = graft.functions.CurveFit.fitCurve(cube, model)
      def params(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Double](Dim.X) -> r.getSeq[Double](r.fieldIndex("params"))).toMap
      val p = params(fitted)
      p.keySet shouldBe Set(0.0, 1.0)
      p.foreach { case (x, ps) =>
        ps.size shouldBe nParams
        ps.zip(params(direct)(x)).foreach { case (a, b) => a shouldBe b +- 1e-9 }
      }
      val pred = predicted.df
        .select(unix_timestamp(col(Dim.Time)).cast("double"), col(Dim.X), col("value"))
        .collect()
      pred.length shouldBe 48
      pred.foreach { r =>
        r.getDouble(2) shouldBe plain(r.getDouble(0), p(r.getDouble(1))) +- 1e-9
      }
    }
  }

  test("merge_cubes with overlap resolver subgraph") {
    val g = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "b4": {"process_id": "array_element",
             "arguments": {"data": {"from_node": "load"}, "label": "B04"}},
      "b4b": {"process_id": "apply", "arguments": {
        "data": {"from_node": "b4"},
        "process": {"process_graph": {
          "m": {"process_id": "multiply",
                "arguments": {"x": {"from_parameter": "x"}, "y": 3}, "result": true}}}}},
      "mg": {"process_id": "merge_cubes", "arguments": {
        "cube1": {"from_node": "b4"}, "cube2": {"from_node": "b4b"},
        "overlap_resolver": {"process_graph": {
          "s": {"process_id": "subtract",
                "arguments": {"x": {"from_parameter": "y"}, "y": {"from_parameter": "x"}},
                "result": true}}}}, "result": true}}"""
    val c = compiler.compile(g).asInstanceOf[Cube]
    // resolver: 3v - v = 2v; spot check one cell: (d=1,y=0,x=0) → 2*410=820
    // band dim was dropped by array_element → (time, y, x, value)
    val v = c.df.where(col(graft.cube.Dim.Y) === 0.0 &&
      col(graft.cube.Dim.X) === 0.0).orderBy("time").head().getDouble(3)
    v shouldBe 820.0
  }

  test("save_result writes parquet rendition") {
    val resDir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val comp = new GraphCompiler(spark, catalog, resDir)
    val g = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "save": {"process_id": "save_result", "arguments": {
        "data": {"from_node": "load"}, "format": "PARQUET"}, "result": true}}"""
    val path = comp.compile(g).asInstanceOf[String]
    spark.read.parquet(path).count() shouldBe 24
  }

  test("load_result of a NETCDF save goes through the V2 source — the " +
      "job-chaining loop with plane partitioning") {
    val resDir = java.nio.file.Files.createTempDirectory("graft-chain").toString
    val comp = new GraphCompiler(spark, catalog, resDir)
    val g1 = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "save": {"process_id": "save_result", "arguments": {
        "data": {"from_node": "load"}, "format": "NETCDF"}, "result": true}}"""
    comp.compile(g1) // writes result.parquet + result.nc under resDir
    val g2 = """{
      "prev": {"process_id": "load_result",
               "arguments": {"id": "result.nc"}, "result": true}}"""
    val c = comp.compile(g2).asInstanceOf[graft.cube.Cube]
    c.df.count() shouldBe 24
    // it IS the V2 source: one partition per (time, band) plane
    c.df.rdd.getNumPartitions should be > 1
    c.df.queryExecution.executedPlan.toString should include("BatchScan")
  }

  test("aggregate_temporal graph dispatch: JSON interval arrays resolve " +
      "and match the direct call; bad intervals rejected") {
    val g = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "at": {"process_id": "aggregate_temporal", "arguments": {
        "data": {"from_node": "load"},
        "intervals": [["2022-06-01", "2022-06-02"],
                      ["2022-06-02", "2022-06-04"]],
        "reducer": {"process_graph": {
          "m": {"process_id": "max",
                "arguments": {"data": {"from_parameter": "data"}},
                "result": true}}}}, "result": true}}"""
    val viaGraph = compiler.compile(g).asInstanceOf[graft.cube.Cube]
    val direct = graft.ops.Reducers.aggregateTemporal(
      graft.ops.Scan.loadCollection(spark, catalog("s2_l2a")),
      Seq(("2022-06-01", "2022-06-02"), ("2022-06-02", "2022-06-04")), "max")
    rowSet(viaGraph.df) shouldBe rowSet(direct.df)
    // duplicate starts (the labels) and inverted intervals fail loudly
    an[IllegalArgumentException] should be thrownBy compiler.compile(
      g.replace("[\"2022-06-02\", \"2022-06-04\"]",
        "[\"2022-06-01\", \"2022-06-04\"]"))
    an[IllegalArgumentException] should be thrownBy compiler.compile(
      g.replace("[\"2022-06-02\", \"2022-06-04\"]",
        "[\"2022-06-04\", \"2022-06-02\"]"))
  }

  test("apply_neighborhood compiles to focal stats (square window, " +
      "named reducer callback)") {
    val g = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "nb": {"process_id": "apply_neighborhood", "arguments": {
        "data": {"from_node": "load"}, "size": 3,
        "process": {"process_graph": {
          "m": {"process_id": "mean",
                "arguments": {"data": {"from_parameter": "data"}},
                "result": true}}}}, "result": true}}"""
    val viaGraph = compiler.compile(g).asInstanceOf[graft.cube.Cube]
    val direct = graft.ops.Neighborhood.focalStats(
      graft.ops.Scan.loadCollection(spark, catalog("s2_l2a")),
      radius = 1, stat = "mean")
    rowSet(viaGraph.df) shouldBe rowSet(direct.df)
    // even size rejected; list form allowed only when square
    an[IllegalArgumentException] should be thrownBy compiler.compile(
      g.replace("\"size\": 3", "\"size\": 4"))
    val squareList = compiler.compile(g.replace("\"size\": 3",
      "\"size\": [3, 3]")).asInstanceOf[graft.cube.Cube]
    rowSet(squareList.df) shouldBe rowSet(direct.df)
    an[IllegalArgumentException] should be thrownBy compiler.compile(
      g.replace("\"size\": 3", "\"size\": [3, 5]"))
  }

  test("load_collection spatial_extent honors its crs field") {
    // bbox given in the cube's own CRS (EPSG:32632) must pass through
    // untransformed: keeps only the (0,0) pixel
    val g = """{
      "load": {"process_id": "load_collection", "arguments": {
        "id": "s2_l2a",
        "spatial_extent": {"west": -0.5, "south": -0.5,
                           "east": 0.5, "north": 0.5, "crs": 32632}},
        "result": true}}"""
    val c = compiler.compile(g).asInstanceOf[Cube]
    c.df.count() shouldBe 6 // 2 bands × 3 days × 1 pixel
    c.df.select("x").distinct().head().getDouble(0) shouldBe 0.0
    // the same extent as a +proj STRING resolves through the parser (the
    // DefRef path round-trips via lon/lat: mm error, same pixel)
    val gp = """{
      "load": {"process_id": "load_collection", "arguments": {
        "id": "s2_l2a",
        "spatial_extent": {"west": -0.5, "south": -0.5,
                           "east": 0.5, "north": 0.5,
                           "crs": "+proj=utm +zone=32 +ellps=WGS84"}},
        "result": true}}"""
    val cp = compiler.compile(gp).asInstanceOf[Cube]
    cp.df.count() shouldBe 6
  }

  test("run_udf with element-wise R source executes via the expression compiler") {
    val g = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "udf": {"process_id": "run_udf", "arguments": {
        "data": {"from_node": "load"},
        "udf": "function(x, context) { x * 2 + 1 }",
        "runtime": "R"}, "result": true}}"""
    val c = compiler.compile(g).asInstanceOf[Cube]
    val base = compiler.compile(
      """{"load": {"process_id": "load_collection",
         "arguments": {"id": "s2_l2a"}, "result": true}}""").asInstanceOf[Cube]
    val want = base.df.agg(sum(col("value") * 2 + 1)).head().getDouble(0)
    c.df.agg(sum("value")).head().getDouble(0) shouldBe want +- 1e-9
  }

  test("resample_spatial fold regrids the data, not just the metadata") {
    // collection grid is 1×1 m; resample to 2 m → coordinates land on the
    // coarse grid and the cube's grid step changes
    val g = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "rs": {"process_id": "resample_spatial", "arguments": {
        "data": {"from_node": "load"}, "resolution": 2}, "result": true}}"""
    val c = compiler.compile(g).asInstanceOf[Cube]
    val grid = c.meta.grid.get
    grid.dx shouldBe 2.0
    grid.dy shouldBe 2.0
    // source x ∈ {0,1}: x=0 → cell 0 (coord 0), x=1 → cell 1 (coord 2)
    c.df.select("x").distinct().collect().map(_.getDouble(0)).sorted shouldBe
      Array(0.0, 2.0)
    // nearest regrid keeps the source values (unique bin per cell here)
    c.df.count() shouldBe 24
  }

  test("resample_spatial bilinear fold averages into the coarse grid") {
    val g = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "rs": {"process_id": "resample_spatial", "arguments": {
        "data": {"from_node": "load"}, "resolution": 2, "method": "bilinear"},
        "result": true}}"""
    val c = compiler.compile(g).asInstanceOf[Cube]
    c.meta.grid.get.dx shouldBe 2.0
    // target cell (0,0) at coords (0,0): weights (1-|dx/1|)... the source
    // points (0,0),(0,1),(1,0),(1,1) have |offset| 0/1/1/√2 in SOURCE cells
    // → only the coincident point has weight → value preserved there
    val v = c.df.where(col("band") === "B04" && col("y") === 0.0 &&
      col("x") === 0.0).orderBy("time").select("value").head().getDouble(0)
    v shouldBe 410.0 +- 1e-9
  }

  test("resample_spatial with a projection change warps then regrids") {
    val g = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "rs": {"process_id": "resample_spatial", "arguments": {
        "data": {"from_node": "load"}, "projection": 4326,
        "resolution": 0.1}, "result": true}}"""
    val c = compiler.compile(g).asInstanceOf[Cube]
    c.meta.crs shouldBe Some("EPSG:4326")
    c.meta.grid.get.dx shouldBe 0.1
    // the fixture's 2x2 UTM32 metre coords collapse into one 0.1 deg cell
    // near the zone's far west edge — regrid keeps rows, coords in degrees
    c.df.count() should be > 0L
    val x = c.df.select("x").head().getDouble(0)
    x should (be >= -180.0 and be <= 180.0)
  }

  test("resample_spatial projection change without resolution is rejected") {
    val g = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "rs": {"process_id": "resample_spatial", "arguments": {
        "data": {"from_node": "load"}, "projection": 4326},
        "result": true}}"""
    an[IllegalArgumentException] should be thrownBy compiler.compile(g)
  }

  test("apply_kernel numeric border means constant-fill with that cval") {
    // openEO shorthand: "border": 100 ≡ mode=constant, cval=100
    // (openeo_odc_driver.py:1405-1415)
    val g = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "k": {"process_id": "apply_kernel", "arguments": {
        "data": {"from_node": "load"},
        "kernel": [[1,1,1],[1,1,1],[1,1,1]],
        "border": 100}, "result": true}}"""
    val c = compiler.compile(g).asInstanceOf[Cube]
    // corner (0,0) of the 2x2 grid: 4 in-grid taps + 5 border taps * 100
    // B04 day 1 values: (0,0)=410 (0,1)=411 (1,0)=411 (1,1)=412 → 1644
    val v = c.df.where(col("band") === "B04" &&
      col("y") === 0.0 && col("x") === 0.0)
      .orderBy("time").head().getDouble(4)
    v shouldBe (1644.0 + 5 * 100.0) +- 1e-9
  }

  test("aggregate_temporal_period via graph uses the named reducer callback") {
    val g = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
      "agg": {"process_id": "aggregate_temporal_period", "arguments": {
        "data": {"from_node": "load"}, "period": "month",
        "reducer": {"process_graph": {
          "m": {"process_id": "max",
                "arguments": {"data": {"from_parameter": "data"}}, "result": true}}}},
        "result": true}}"""
    val c = compiler.compile(g).asInstanceOf[Cube]
    c.df.select("time").distinct().count() shouldBe 1 // one month bucket
    // max over days: d=3 slice
    c.df.where(col("band") === "B08" && col("y") === 0.0 && col("x") === 0.0)
      .head().getDouble(4) shouldBe 830.0
  }

  test("a named-reducer callback with more than one node, or over another " +
      "node's output, is ProcessUnsupported") {
    // the reducer {a: absolute(data), m: mean(a)} must not reduce with the
    // mean of the raw values, for any process that takes a named reducer
    val twoNodes = """{"process_graph": {
      "a": {"process_id": "absolute", "arguments": {"x": {"from_parameter": "data"}}},
      "m": {"process_id": "mean", "arguments": {"data": {"from_node": "a"}},
            "result": true}}}"""
    val overLiteral = """{"process_graph": {
      "m": {"process_id": "mean", "arguments": {"data": [1, 2]}, "result": true}}}"""
    val load = """"load": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}}"""
    for (cb <- Seq(twoNodes, overLiteral); (p, extra, arg) <- Seq(
        ("aggregate_temporal_period", """"period": "month"""", "reducer"),
        ("aggregate_temporal", """"intervals": [["2024-01-01", "2024-02-01"]]""", "reducer"),
        ("aggregate_spatial_window", """"size": [2, 2]""", "reducer"),
        ("aggregate_spatial", """"geometries": {"type": "Polygon", "coordinates":
          [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]]}""", "reducer"),
        ("apply_neighborhood", """"size": 3""", "process"))) {
      val g = s"""{$load, "n": {"process_id": "$p", "arguments": {
        "data": {"from_node": "load"}, $extra, "$arg": $cb}, "result": true}}"""
      val e = intercept[OpenEoError](compiler.compile(g))
      withClue(p) { e.code shouldBe "ProcessUnsupported" }
    }
  }

  test("malformed graphs fail with explanatory errors, never NPE/MatchError") {
    // systematic corruptions of a valid graph: every one must raise SOME
    // exception with a message — never a bare NullPointerException,
    // MatchError, or StackOverflowError (the crash classes a fuzzer
    // would count as compiler bugs rather than input errors)
    val broken = Seq(
      // unknown process id
      """{"n": {"process_id": "frobnicate", "arguments": {}, "result": true}}""",
      // missing arguments object
      """{"n": {"process_id": "load_collection", "result": true}}""",
      // from_node referencing a nonexistent node
      """{"n": {"process_id": "reduce_dimension", "arguments": {
           "data": {"from_node": "ghost"}, "dimension": "t",
           "reducer": {"process_graph": {"m": {"process_id": "max",
             "arguments": {"data": {"from_parameter": "data"}},
             "result": true}}}}, "result": true}}""",
      // unknown collection id
      """{"n": {"process_id": "load_collection",
           "arguments": {"id": "nope"}, "result": true}}""",
      // no result node at all
      """{"n": {"process_id": "load_collection",
           "arguments": {"id": "s2_l2a"}}}""",
      // reducer with an empty process graph
      """{"l": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
          "n": {"process_id": "reduce_dimension", "arguments": {
           "data": {"from_node": "l"}, "dimension": "t",
           "reducer": {"process_graph": {}}}, "result": true}}""",
      // argument of the wrong JSON type
      """{"l": {"process_id": "load_collection", "arguments": {"id": "s2_l2a"}},
          "n": {"process_id": "filter_bands", "arguments": {
           "data": {"from_node": "l"}, "bands": 42}, "result": true}}""",
      // cyclic from_node reference
      """{"a": {"process_id": "merge_cubes", "arguments": {
           "cube1": {"from_node": "b"}, "cube2": {"from_node": "b"}}},
          "b": {"process_id": "merge_cubes", "arguments": {
           "cube1": {"from_node": "a"}, "cube2": {"from_node": "a"}},
           "result": true}}""",
      // not json at all
      """this is not json""")
    broken.foreach { g =>
      val e = intercept[Throwable](compiler.compile(g))
      withClue(s"graph: ${g.take(60)}... threw ${e.getClass.getName}: ") {
        e should not be a[NullPointerException]
        e should not be a[MatchError]
        e should not be a[StackOverflowError]
      }
    }
  }

  test("curation DAG through the graph surface equals the Scala API") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    // corpus with a planted exact dup (1,2) and a planted near-dup (3,4)
    // in one (lang, source) block, plus low-quality junk the gate drops
    val docs = Seq(
      (1L, "en", "web", "the quick brown fox jumps over the lazy dog " +
        "near the river bank today and every day thereafter without fail"),
      (2L, "en", "web", "the quick brown fox jumps over the lazy dog " +
        "near the river bank today and every day thereafter without fail"),
      (3L, "en", "web", "spark structured streaming keeps bounded state " +
        "in partitioned stores and emits results per micro batch window"),
      (4L, "en", "web", "spark structured streaming keeps bounded state " +
        "in partitioned stores and emits results per micro batch windows"),
      (5L, "de", "news", "viele verschiedene woerter bilden hier einen " +
        "ganz normalen deutschen beispielsatz mit ausreichend laenge"),
      (6L, "en", "web", "aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa " +
        "aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa"))
      .toDF("doc_id", "lang", "source", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val graph = """{
      "load": {"process_id": "load_table", "arguments": {"id": "documents"}},
      "gate": {"process_id": "text_quality_gate", "arguments": {
        "data": {"from_node": "load"},
        "min_quality": 0.5, "max_repetition": 0.2}},
      "exact": {"process_id": "dedup_exact",
                "arguments": {"data": {"from_node": "gate"}}},
      "near": {"process_id": "dedup_near", "arguments": {
        "data": {"from_node": "exact"},
        "blocking": ["lang", "source"], "shingle_n": 3, "threshold": 0.5}},
      "split": {"process_id": "split_grouped", "arguments": {
        "data": {"from_node": "near"},
        "fractions": {"train": 0.8, "val": 0.1, "test": 0.1}}},
      "stats": {"process_id": "token_stats", "arguments": {
        "data": {"from_node": "split"}, "by": ["split", "lang"]},
        "result": true}}"""
    val viaGraph = new GraphCompiler(spark, Map.empty,
        java.nio.file.Files.createTempDirectory("graft-cres").toString,
        tables = Map("documents" -> s"$dir/documents.parquet"))
      .compile(graph)
      .asInstanceOf[org.apache.spark.sql.DataFrame]
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    // the Scala-API composition of the SAME shared stages
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val c = graft.text.Curation
    val viaScala = c.tokenStats(
        c.groupedSplit(
          c.nearDupCanonical(
            c.dedupExactKeepMin(c.qualityGate(d, 0.5, 0.2)),
            Seq("lang", "source"), shingleN = 3, threshold = 0.5),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
        Seq("split", "lang"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    viaGraph shouldBe viaScala
    viaGraph should not be empty
    // the planted dups collapsed: total surviving docs < gate survivors
    val totalDocs = viaGraph.toSeq.map(_._3).sum
    totalDocs should be < 5L // 6 docs - junk - exact dup - near dup
  }

  test("table processes raise typed errors on unknown tables and bad wiring") {
    val comp = new GraphCompiler(spark, Map.empty,
      java.nio.file.Files.createTempDirectory("graft-cres0").toString,
      tables = Map("documents" -> "/nonexistent/never-read.parquet"))
    // unknown table id: typed TableNotFound naming the catalog
    val e1 = intercept[graft.OpenEoError](comp.compile("""{
      "load": {"process_id": "load_table", "arguments": {"id": "nope"},
               "result": true}}"""))
    e1.code shouldBe "TableNotFound"
    e1.msg should include("documents")
    // missing id argument
    val e2 = intercept[graft.OpenEoError](comp.compile("""{
      "load": {"process_id": "load_table", "arguments": {}, "result": true}}"""))
    e2.code shouldBe "TableIdMissing"
    // a table process fed a cube (wrong input type) must explain, not NPE
    val e3 = intercept[Throwable](comp.compile("""{
      "gate": {"process_id": "text_quality_gate",
               "arguments": {"data": 42}, "result": true}}"""))
    e3 should not be a[NullPointerException]
    e3 should not be a[MatchError]
  }

  test("hygiene processes pii_redact→gopher_gate→dedup_paragraph equal the Scala ops") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-docs3").toString
    val para = "this shared boilerplate paragraph appears in every document"
    val docs = Seq(
      (1L, "en", "web", s"the quick brown fox writes to alice@example.com " +
        s"about the river bank meeting agenda\n\n$para"),
      (2L, "en", "web", s"the slow green turtle reads the daily news with " +
        s"interest every single morning\n\n$para"),
      (3L, "en", "web", "too short")) // gated out by the word floor
      .toDF("doc_id", "lang", "source", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val graph = """{
      "load": {"process_id": "load_table", "arguments": {"id": "documents"}},
      "pii": {"process_id": "pii_redact",
              "arguments": {"data": {"from_node": "load"}}},
      "gop": {"process_id": "gopher_gate", "arguments": {
        "data": {"from_node": "pii"}, "min_words": 10}},
      "par": {"process_id": "dedup_paragraph",
              "arguments": {"data": {"from_node": "gop"}}, "result": true}}"""
    val viaGraph = new GraphCompiler(spark, Map.empty,
        java.nio.file.Files.createTempDirectory("graft-cres3").toString,
        tables = Map("documents" -> s"$dir/documents.parquet"))
      .compile(graph).asInstanceOf[org.apache.spark.sql.DataFrame]
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    viaGraph.keySet shouldBe Set(1L, 2L) // doc 3 gated
    // the email redacted, the duplicated paragraph survives only in the
    // earliest doc
    viaGraph(1L) should include("<EMAIL>")
    viaGraph(1L) should include(para)
    viaGraph(2L) should not include para
    // equality with the Scala composition of the same operators
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val redacted = graft.text.TextAnalysis.piiPatterns
      .foldLeft(col("text")) { case (acc, (_, pat, repl)) =>
        regexp_replace(acc, pat, repl) }
    val st = d.withColumn("text", redacted).localCheckpoint(true)
    val F = org.apache.spark.sql.functions
    val words = split(trim(col("text")), "\\s+")
    val stops = F.size(F.filter(
      array(graft.text.TextAnalysis.gopherStops.map(lit): _*),
      w => array_contains(words, w)))
    val gated = st.where(F.size(words) >= lit(10) && stops >= lit(1))
    val viaScala = gated.drop("text").join(
        graft.text.Dedup.dedupParagraphs(
          gated.select(col("doc_id"), col("text")), "text", "doc_id")
          .select(col("doc_id"), col("clean_text").as("text")), "doc_id")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    viaGraph shouldBe viaScala
  }

  test("sampler and cap processes drive through the graph") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-docs4").toString
    val docs = (0L until 200L).map(i =>
        (i, if (i < 160) "big" else s"tail${i % 4}", "en",
          s"document number $i with some words", (i % 37 + 10).toInt))
      .toDF("doc_id", "source", "lang", "text", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def comp = new GraphCompiler(spark, Map.empty,
      java.nio.file.Files.createTempDirectory("graft-cres4").toString,
      tables = Map("documents" -> s"$dir/documents.parquet"))
    val viaGraph = comp.compile("""{
        "load": {"process_id": "load_table", "arguments": {"id": "documents"}},
        "mix": {"process_id": "sample_unimax", "arguments": {
          "data": {"from_node": "load"}, "budget": 60}},
        "cap": {"process_id": "cap_per_group", "arguments": {
          "data": {"from_node": "mix"}, "group_columns": ["source"],
          "score_column": "n_chars", "k": 5}, "result": true}}""")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val viaScala = graft.text.Sampling.capPerGroup(
        graft.text.Sampling.unimaxSample(d, "source", "doc_id", 60L),
        Seq("source"), col("n_chars"), "doc_id", 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    viaGraph shouldBe viaScala
    viaGraph should not be empty
    // a missing budget raises the typed error
    val err = intercept[graft.OpenEoError](comp.compile("""{
        "load": {"process_id": "load_table", "arguments": {"id": "documents"}},
        "mix": {"process_id": "sample_unimax",
                "arguments": {"data": {"from_node": "load"}},
                "result": true}}"""))
    err.code shouldBe "ArgumentMissing"
    // max_epochs dispatches to the up-sampling variant (epoch column)
    val withEpochs = comp.compile("""{
        "load": {"process_id": "load_table", "arguments": {"id": "documents"}},
        "mix": {"process_id": "sample_unimax", "arguments": {
          "data": {"from_node": "load"}, "budget": 300, "max_epochs": 3},
          "result": true}}""")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    withEpochs.columns should contain("epoch")
    val viaScalaEpochs = graft.text.Sampling
      .unimaxSampleEpochs(d, "source", "doc_id", 300L, 3L)
      .select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    withEpochs.select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe viaScalaEpochs
    // the tail sources (40 docs over 4 names) up-sample under the cap
    viaScalaEpochs.map(_._2).max should be > 1L
  }

  test("decontaminate process wires two table inputs through the graph") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-docs5").toString
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "totally original corpus content with no overlap at all"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/corpus.parquet")
    Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/evalset.parquet")
    val out = new GraphCompiler(spark, Map.empty,
        java.nio.file.Files.createTempDirectory("graft-cres5").toString,
        tables = Map(
          "corpus" -> s"$dir/corpus.parquet",
          "evalset" -> s"$dir/evalset.parquet"))
      .compile("""{
        "c": {"process_id": "load_table", "arguments": {"id": "corpus"}},
        "e": {"process_id": "load_table", "arguments": {"id": "evalset"}},
        "dec": {"process_id": "decontaminate", "arguments": {
          "data": {"from_node": "c"}, "eval": {"from_node": "e"},
          "shingle_n": 3}, "result": true}}""")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    out shouldBe Map(1L -> true, 2L -> false) // the plant flags, the rest pass
  }

  test("distribution_drift / drift_top_movers processes equal the Scala API") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val oldSnap = Seq((1L, "alpha beta gamma"), (2L, "alpha alpha delta"))
      .toDF("doc_id", "text")
    val newSnap = Seq((3L, "alpha beta beta"), (4L, "epsilon beta"))
      .toDF("doc_id", "text")
    oldSnap.write.mode("overwrite").parquet(s"$dir/old.parquet")
    newSnap.write.mode("overwrite").parquet(s"$dir/new.parquet")
    def run(g: String) = new GraphCompiler(spark, Map.empty,
        java.nio.file.Files.createTempDirectory("graft-dres").toString,
        tables = Map("olds" -> s"$dir/old.parquet",
          "news" -> s"$dir/new.parquet"))
      .compile(g).asInstanceOf[org.apache.spark.sql.DataFrame]
    val drift = run("""{
        "o": {"process_id": "load_table", "arguments": {"id": "olds"}},
        "n": {"process_id": "load_table", "arguments": {"id": "news"}},
        "d": {"process_id": "distribution_drift", "arguments": {
          "old": {"from_node": "o"}, "new": {"from_node": "n"}},
          "result": true}}""")
    rowSet(drift) shouldBe rowSet(graft.text.TextAnalysis
      .distributionDrift(oldSnap, newSnap, "text"))
    val movers = run("""{
        "o": {"process_id": "load_table", "arguments": {"id": "olds"}},
        "n": {"process_id": "load_table", "arguments": {"id": "news"}},
        "m": {"process_id": "drift_top_movers", "arguments": {
          "old": {"from_node": "o"}, "new": {"from_node": "n"}, "k": 3},
          "result": true}}""")
    rowSet(movers) shouldBe rowSet(graft.text.TextAnalysis
      .driftTopMovers(oldSnap, newSnap, "text", k = 3))
  }

  test("char_entropy / apply_changelog processes equal the Scala API") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ce").toString
    val docs = Seq((1L, "abab"), (2L, "abcd")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/docs.parquet")
    def run(tables: Map[String, String], g: String) =
      new GraphCompiler(spark, Map.empty,
        java.nio.file.Files.createTempDirectory("graft-ceres").toString,
        tables = tables)
      .compile(g).asInstanceOf[org.apache.spark.sql.DataFrame]
    val ent = run(Map("docs" -> s"$dir/docs.parquet"), """{
        "d": {"process_id": "load_table", "arguments": {"id": "docs"}},
        "e": {"process_id": "char_entropy", "arguments": {
          "data": {"from_node": "d"}}, "result": true}}""")
    rowSet(ent) shouldBe rowSet(
      graft.text.TextAnalysis.charEntropy(docs, "text", "doc_id"))
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val base = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price")
    val changes = Seq((1L, ts("2024-01-01"), "U", 11.0),
        (2L, ts("2024-01-02"), "D", 0.0))
      .toDF("id", "change_ts", "op", "price")
    base.write.mode("overwrite").parquet(s"$dir/base.parquet")
    changes.write.mode("overwrite").parquet(s"$dir/chg.parquet")
    val merged = run(Map("base" -> s"$dir/base.parquet",
        "chg" -> s"$dir/chg.parquet"), """{
        "b": {"process_id": "load_table", "arguments": {"id": "base"}},
        "c": {"process_id": "load_table", "arguments": {"id": "chg"}},
        "m": {"process_id": "apply_changelog", "arguments": {
          "base": {"from_node": "b"}, "changes": {"from_node": "c"},
          "keys": ["id"]}, "result": true}}""")
    rowSet(merged) shouldBe rowSet(graft.ops.TableJoins.applyChangelog(
      base, changes, Seq("id"), "change_ts", "op"))
    merged.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSet shouldBe Set((1L, 11.0))
  }

  test("bm25 / ranking_metrics processes equal the Scala API; bm25 " +
      "requires terms") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bm").toString
    val docs = Seq((1L, "spark spark merge"), (2L, "spark table"),
      (3L, "merge window window"), (4L, "other words"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/docs.parquet")
    def run(g: String) =
      new GraphCompiler(spark, Map.empty,
        java.nio.file.Files.createTempDirectory("graft-bmres").toString,
        tables = Map("docs" -> s"$dir/docs.parquet"))
      .compile(g).asInstanceOf[org.apache.spark.sql.DataFrame]
    val scored = run("""{
        "d": {"process_id": "load_table", "arguments": {"id": "docs"}},
        "s": {"process_id": "bm25", "arguments": {
          "data": {"from_node": "d"},
          "terms": ["spark", "merge", "window"], "k1": 1.6, "b": 0.4},
          "result": true}}""")
    rowSet(scored) shouldBe rowSet(graft.text.Search.bm25(
      docs, "text", "doc_id", Seq("spark", "merge", "window"),
      k1 = 1.6, b = 0.4))
    val metrics = run("""{
        "d": {"process_id": "load_table", "arguments": {"id": "docs"}},
        "s": {"process_id": "bm25", "arguments": {
          "data": {"from_node": "d"}, "terms": ["spark", "merge"]}},
        "m": {"process_id": "ranking_metrics", "arguments": {
          "data": {"from_node": "s"}, "k": 3}, "result": true}}""")
    rowSet(metrics) shouldBe rowSet(graft.text.Search.rankingMetrics(
      graft.text.Search.bm25(docs, "text", "doc_id",
        Seq("spark", "merge")), "doc_id", k = 3))
    val e = intercept[graft.OpenEoError] { run("""{
        "d": {"process_id": "load_table", "arguments": {"id": "docs"}},
        "s": {"process_id": "bm25", "arguments": {
          "data": {"from_node": "d"}}, "result": true}}""") }
    e.code shouldBe "ArgumentMissing"
  }

  test("lm_score process scores and optionally gates through the graph") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-docs2").toString
    val docs = Seq(
      (1L, "en", "web", "alpha beta alpha beta alpha beta"),
      (2L, "en", "web", "alpha beta alpha beta gamma delta"),
      (3L, "en", "web", "zeta eta theta iota kappa lambda"))
      .toDF("doc_id", "lang", "source", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def comp = new GraphCompiler(spark, Map.empty,
      java.nio.file.Files.createTempDirectory("graft-cres2").toString,
      tables = Map("documents" -> s"$dir/documents.parquet"))
    val scored = comp.compile("""{
        "load": {"process_id": "load_table", "arguments": {"id": "documents"}},
        "lm": {"process_id": "lm_score", "arguments": {
          "data": {"from_node": "load"}, "min_count": 2}, "result": true}}""")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    scored.columns should contain allOf ("doc_id", "n_bigrams", "avg_nll")
    val byId = scored.collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    byId.keySet shouldBe Set(1L, 2L, 3L)
    // the repetitive in-model doc scores lower nll than the one full of
    // rare continuations
    byId(1L) should be < byId(3L)
    // gated form keeps the document shape and drops high-nll docs
    val gated = comp.compile("""{
        "load": {"process_id": "load_table", "arguments": {"id": "documents"}},
        "lm": {"process_id": "lm_score", "arguments": {
          "data": {"from_node": "load"}, "min_count": 2,
          "max_avg_nll": 2.0}},
        "stats": {"process_id": "token_stats", "arguments": {
          "data": {"from_node": "lm"}, "by": ["lang"]}, "result": true}}""")
      .asInstanceOf[org.apache.spark.sql.DataFrame].collect()
    gated.length shouldBe 1
    gated.head.getLong(1) should be < 3L // at least doc 3 gated out
  }

  test("embedding processes diversify_prototypes / pca_project / " +
      "dedup_prefix drive through the graph, matching the Scala API") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-emb1").toString
    val rnd = new scala.util.Random(9)
    (0L until 24L).map(i => (i, Array.fill(4)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),  // exact dup of 1
      (3L, "totally different words here now then"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def gc = new GraphCompiler(spark, Map.empty,
      java.nio.file.Files.createTempDirectory("graft-eres").toString,
      tables = Map("embeddings" -> s"$dir/embeddings.parquet",
        "documents" -> s"$dir/documents.parquet"))
    val div = gc.compile("""{
        "e": {"process_id": "load_table", "arguments": {"id": "embeddings"}},
        "d": {"process_id": "diversify_prototypes", "arguments": {
          "data": {"from_node": "e"}, "n_clusters": 4, "drop_frac": 0.5},
          "result": true}}""")
      .asInstanceOf[org.apache.spark.sql.DataFrame].collect()
    div.length shouldBe 24
    div.count(_.getBoolean(3)) should be < 24 // some dropped
    val pca = gc.compile("""{
        "e": {"process_id": "load_table", "arguments": {"id": "embeddings"}},
        "p": {"process_id": "pca_project", "arguments": {
          "data": {"from_node": "e"}, "dim": 4, "k": 2, "iterations": 10},
          "result": true}}""")
      .asInstanceOf[org.apache.spark.sql.DataFrame].collect()
    pca.length shouldBe 24
    pca.head.getSeq[Double](1).length shouldBe 2
    val pairs = gc.compile("""{
        "d": {"process_id": "load_table", "arguments": {"id": "documents"}},
        "j": {"process_id": "dedup_prefix", "arguments": {
          "data": {"from_node": "d"}, "threshold": 0.9}, "result": true}}""")
      .asInstanceOf[org.apache.spark.sql.DataFrame].collect()
    pairs.map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((1L, 2L))
  }

  test("knn_join / pca_whiten / sample_by_weight / contamination_report " +
      "drive through the graph, matching the Scala API") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-emb2").toString
    val rnd = new scala.util.Random(13)
    val emb = (0L until 24L).map(i => (i, Array.fill(4)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Seq((1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "alpha beta gamma delta epsilon eta"),
        (3L, "totally different words here now then"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def gc = new GraphCompiler(spark, Map.empty,
      java.nio.file.Files.createTempDirectory("graft-eres2").toString,
      tables = Map("embeddings" -> s"$dir/embeddings.parquet",
        "documents" -> s"$dir/documents.parquet"))
    // knn_join ≡ Scala knnJoinIvf under the same lowest-id centroids
    val knn = gc.compile("""{
        "e": {"process_id": "load_table", "arguments": {"id": "embeddings"}},
        "k": {"process_id": "knn_join", "arguments": {
          "data": {"from_node": "e"}, "k": 2, "n_centroids": 4,
          "n_probe": 4, "salt_factor": 2}, "result": true}}""")
      .asInstanceOf[org.apache.spark.sql.DataFrame].collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val bf = graft.text.Similarity.topKBruteForce(emb, emb,
        "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    knn shouldBe bf // nProbe == nCentroids → exact
    val wh = gc.compile("""{
        "e": {"process_id": "load_table", "arguments": {"id": "embeddings"}},
        "w": {"process_id": "pca_whiten", "arguments": {
          "data": {"from_node": "e"}, "dim": 4, "k": 2, "iterations": 30},
          "result": true}}""")
      .asInstanceOf[org.apache.spark.sql.DataFrame].collect()
    wh.length shouldBe 24
    val ss = wh.map(_.getSeq[Double](1).head).map(x => x * x).sum
    ss shouldBe (1.0 +- 1e-3)
    // sample_by_weight over a table carrying its weight column
    spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("w", when(col("doc_id") === 3L, 0.0).otherwise(1.0))
      .write.mode("overwrite").parquet(s"$dir/weighted.parquet")
    val gcw = new GraphCompiler(spark, Map.empty,
      java.nio.file.Files.createTempDirectory("graft-eres3").toString,
      tables = Map("weighted" -> s"$dir/weighted.parquet"))
    val sampled = gcw.compile("""{
        "d": {"process_id": "load_table", "arguments": {"id": "weighted"}},
        "s": {"process_id": "sample_by_weight", "arguments": {
          "data": {"from_node": "d"}, "id_column": "doc_id",
          "weight_column": "w"}, "result": true}}""")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
      .select("doc_id").collect().map(_.getLong(0)).toSet
    sampled shouldBe Set(1L, 2L) // w=1 kept, w=0 dropped
    val rep = gc.compile("""{
        "t": {"process_id": "load_table", "arguments": {"id": "documents"}},
        "e": {"process_id": "load_table", "arguments": {"id": "documents"}},
        "r": {"process_id": "contamination_report", "arguments": {
          "data": {"from_node": "t"}, "eval": {"from_node": "e"},
          "shingle_n": 5}, "result": true}}""")
      .asInstanceOf[org.apache.spark.sql.DataFrame].head()
    // eval == train → full contamination
    rep.getLong(0) shouldBe rep.getLong(1)
    rep.getDouble(2) shouldBe 1.0 +- 1e-9
  }

  test("funnel / salted_join / hll_key_overlap / compaction_plan / " +
      "sample_weighted_k processes equal the Scala API") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("graph-r6b").toString
    Seq((1L, "signup", t("2024-01-01 09:00:00"), 2.0),
      (1L, "click", t("2024-01-01 10:00:00"), 3.0),
      (1L, "purchase", t("2024-01-01 11:00:00"), 4.0),
      (2L, "signup", t("2024-01-01 09:00:00"), 5.0))
      .toDF("user_id", "event_type", "ts", "w")
      .write.mode("overwrite").parquet(s"$dir/ev")
    val tables = Map("ev" -> s"$dir/ev")
    def compile(graph: String) =
      new graft.compile.GraphCompiler(spark, Map.empty, s"$dir/res",
        tables = tables).compile(graph)
        .asInstanceOf[org.apache.spark.sql.DataFrame]
    def ev = spark.read.parquet(s"$dir/ev")

    val fun = compile("""{
      "d": {"process_id": "load_table", "arguments": {"id": "ev"}},
      "f": {"process_id": "funnel", "arguments": {
        "data": {"from_node": "d"}, "key": "user_id", "ts": "ts",
        "stage": "event_type", "stages": ["signup", "click", "purchase"]},
        "result": true}}""")
    rowSet(fun) shouldBe rowSet(graft.ops.Funnel.funnel(ev, "user_id",
      "ts", "event_type", Seq("signup", "click", "purchase")))

    val sj = compile("""{
      "l": {"process_id": "load_table", "arguments": {"id": "ev"}},
      "r": {"process_id": "load_table", "arguments": {"id": "ev"}},
      "j": {"process_id": "salted_join", "arguments": {
        "left": {"from_node": "l"}, "right": {"from_node": "r"},
        "keys": ["user_id"], "salt_factor": 2}, "result": true}}""")
    sj.count() shouldBe ev.join(ev, Seq("user_id")).count()

    val hll = compile("""{
      "l": {"process_id": "load_table", "arguments": {"id": "ev"}},
      "r": {"process_id": "load_table", "arguments": {"id": "ev"}},
      "o": {"process_id": "hll_key_overlap", "arguments": {
        "left": {"from_node": "l"}, "right": {"from_node": "r"},
        "left_key": "user_id", "right_key": "user_id"}, "result": true}}""")
    val h = hll.head()
    h.getDouble(0) shouldBe h.getDouble(3) // identical sets: common == side

    val cp = compile("""{
      "d": {"process_id": "load_table", "arguments": {"id": "ev"}},
      "p": {"process_id": "compaction_plan", "arguments": {
        "files": {"from_node": "d"}, "path_column": "event_type",
        "bytes_column": "user_id", "target_bytes": 3}, "result": true}}""")
    cp.count() shouldBe 4

    val wk = compile("""{
      "d": {"process_id": "load_table", "arguments": {"id": "ev"}},
      "s": {"process_id": "sample_weighted_k", "arguments": {
        "data": {"from_node": "d"}, "id_column": "user_id",
        "weight_column": "w", "k": 2}, "result": true}}""")
    wk.count() shouldBe 2
  }

  test("asof_join / range_join / zorder_key processes equal the Scala API") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("graph-tj").toString
    Seq((1L, "u1", t("2024-01-01 10:00:00")), (2L, "u2", t("2024-01-01 11:00:00")))
      .toDF("id", "user", "ts").write.mode("overwrite").parquet(s"$dir/l")
    Seq(("u1", t("2024-01-01 09:00:00"), 7.0), ("u2", t("2024-01-01 12:00:00"), 9.0))
      .toDF("user", "rts", "rv").write.mode("overwrite").parquet(s"$dir/r")
    val tables = Map("l" -> s"$dir/l", "r" -> s"$dir/r")
    def compile(graph: String) =
      new graft.compile.GraphCompiler(spark, Map.empty, s"$dir/res",
        tables = tables).compile(graph)
        .asInstanceOf[org.apache.spark.sql.DataFrame]

    val asof = compile("""{
      "l": {"process_id": "load_table", "arguments": {"id": "l"}},
      "r": {"process_id": "load_table", "arguments": {"id": "r"}},
      "j": {"process_id": "asof_join", "arguments": {
        "left": {"from_node": "l"}, "right": {"from_node": "r"},
        "keys": ["user"], "left_ts": "ts", "right_ts": "rts",
        "payload": ["rv"]}, "result": true}}""")
    val asofApi = graft.ops.TableJoins.asofJoin(
      spark.read.parquet(s"$dir/l"), spark.read.parquet(s"$dir/r"),
      Seq("user"), "ts", "rts", Seq("rv"))
    rowSet(asof) shouldBe rowSet(asofApi)

    val rj = compile("""{
      "p": {"process_id": "load_table", "arguments": {"id": "l"}},
      "i": {"process_id": "load_table", "arguments": {"id": "r"}},
      "j": {"process_id": "range_join", "arguments": {
        "points": {"from_node": "p"}, "intervals": {"from_node": "i"},
        "point_ts": "ts", "start": "rts", "end": "rts",
        "bin_us": 60000000}, "result": true}}""")
    rj.count() shouldBe 0 // degenerate instant intervals match nothing here

    val z = compile("""{
      "d": {"process_id": "load_table", "arguments": {"id": "l"}},
      "z": {"process_id": "zorder_key", "arguments": {
        "data": {"from_node": "d"}, "bits": 4,
        "dims": [["id", 0.0, 16.0], ["id", 0.0, 16.0]]},
        "result": true}}""")
    val zApi = spark.read.parquet(s"$dir/l").withColumn("zval",
      graft.functions.ZOrder.zvalue(4,
        graft.functions.ZOrder.quantize(col("id"), 0.0, 16.0, 4),
        graft.functions.ZOrder.quantize(col("id"), 0.0, 16.0, 4)))
    rowSet(z) shouldBe rowSet(zApi)
  }

  test("load_snapshot / snapshot_changes processes equal the Scala API, " +
      "incl. version_as_of and the stats-pruned where form") {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graph-snap").toString +
      "/t"
    val mk = (r: Range) => r.map(i => (i.toLong, i * 2.0)).toDF("id", "v")
    graft.ops.Snapshots.append(mk(1 to 50), p)
    graft.ops.Snapshots.append(mk(51 to 80), p)
    graft.ops.Snapshots.overwrite(mk(100 to 110), p)
    def compile(graph: String) =
      new graft.compile.GraphCompiler(spark, Map.empty)
        .compile(graph).asInstanceOf[org.apache.spark.sql.DataFrame]

    // latest read
    rowSet(compile(s"""{
      "t": {"process_id": "load_snapshot", "arguments": {"path": "$p"},
        "result": true}}""")) shouldBe
      rowSet(graft.ops.Snapshots.read(spark, p))
    // time travel + where == scanWhere (stats-pruned planning)
    rowSet(compile(s"""{
      "t": {"process_id": "load_snapshot", "arguments": {
        "path": "$p", "version_as_of": 2, "where": "id >= 40 AND id < 60"},
        "result": true}}""")) shouldBe
      rowSet(graft.ops.Snapshots.scanWhere(spark, p,
        col("id") >= 40L && col("id") < 60L, Some(2L)))
    // incremental changes
    rowSet(compile(s"""{
      "c": {"process_id": "snapshot_changes", "arguments": {
        "path": "$p", "from_exclusive": 1, "to_inclusive": 2},
        "result": true}}""")) shouldBe
      rowSet(graft.ops.Snapshots.changes(spark, p, 1L, 2L))
    // missing path is a typed error
    val e = intercept[graft.OpenEoError] {
      compile("""{
        "t": {"process_id": "load_snapshot", "arguments": {},
          "result": true}}""")
    }
    e.code shouldBe "SnapshotPathMissing"

    // timestamp_as_of == readAsOfTimestamp; conflicts and pre-history
    // times are typed errors
    val ts2 = graft.ops.Snapshots.manifestAt(spark, p, 2L).get.ts
    rowSet(compile(s"""{
      "t": {"process_id": "load_snapshot", "arguments": {
        "path": "$p", "timestamp_as_of": $ts2}, "result": true}}""")) shouldBe
      rowSet(graft.ops.Snapshots.readAsOfTimestamp(spark, p, ts2))
    intercept[graft.OpenEoError] {
      compile(s"""{
        "t": {"process_id": "load_snapshot", "arguments": {
          "path": "$p", "version_as_of": 1, "timestamp_as_of": $ts2},
          "result": true}}""")
    }.code shouldBe "SnapshotPinConflict"
    intercept[graft.OpenEoError] {
      compile(s"""{
        "t": {"process_id": "load_snapshot", "arguments": {
          "path": "$p", "timestamp_as_of": 1}, "result": true}}""")
    }.code shouldBe "SnapshotTimestampTooEarly"

    // the row-level delete feed: process == Scala API
    graft.ops.Snapshots.deleteMor(spark, p, col("id") >= 105L)
    val dv = graft.ops.Snapshots.versions(spark, p).last._1
    rowSet(compile(s"""{
      "d": {"process_id": "snapshot_deleted_rows", "arguments": {
        "path": "$p", "version": $dv}, "result": true}}""")) shouldBe
      rowSet(graft.ops.Snapshots.deletedRows(spark, p, dv))
    intercept[graft.OpenEoError] {
      compile(s"""{
        "d": {"process_id": "snapshot_deleted_rows", "arguments": {
          "path": "$p"}, "result": true}}""")
    }.code shouldBe "SnapshotVersionMissing"
  }

  test("apply_change_feed / merge_changes processes equal the Scala " +
      "API, with typed errors for missing keys") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graph-cdc")
      .toString
    val p = s"$base/t"
    val mk = (r: Range) => r.map(i => (i.toLong, i * 2.0)).toDF("id", "v")
    graft.ops.Snapshots.append(mk(1 to 20), p)
    graft.ops.Snapshots.delete(spark, p, col("id") <= 3L) // CoW + sidecar
    graft.ops.Snapshots.append(mk(21 to 25), p)
    def compile(graph: String) =
      new graft.compile.GraphCompiler(spark, Map.empty)
        .compile(graph).asInstanceOf[org.apache.spark.sql.DataFrame]
    // apply_change_feed: graph == API, over a range with a CoW delete
    rowSet(compile(s"""{
      "b": {"process_id": "load_snapshot", "arguments": {
        "path": "$p", "version_as_of": 1}},
      "f": {"process_id": "snapshot_change_feed", "arguments": {
        "path": "$p", "from_exclusive": 1, "to_inclusive": 3}},
      "o": {"process_id": "apply_change_feed", "arguments": {
        "base": {"from_node": "b"}, "feed": {"from_node": "f"},
        "keys": ["id"]}, "result": true}}""")) shouldBe
      rowSet(graft.ops.Snapshots.read(spark, p))
    // merge_changes: fold a feed slice into a second table via the
    // graph, result == the folded table == API state
    val m = s"$base/m"
    graft.ops.Snapshots.overwrite(
      graft.ops.Snapshots.read(spark, p, Some(1L)), m)
    val out = compile(s"""{
      "f": {"process_id": "snapshot_change_feed", "arguments": {
        "path": "$p", "from_exclusive": 1, "to_inclusive": 3}},
      "o": {"process_id": "merge_changes", "arguments": {
        "changes": {"from_node": "f"}, "path": "$m",
        "keys": ["id"]}, "result": true}}""")
    rowSet(out) shouldBe rowSet(graft.ops.Snapshots.read(spark, p))
    rowSet(graft.ops.Snapshots.read(spark, m)) shouldBe
      rowSet(graft.ops.Snapshots.read(spark, p))
    // typed errors: missing keys on both processes
    intercept[graft.OpenEoError] {
      compile(s"""{
        "b": {"process_id": "load_snapshot", "arguments": {"path": "$p"}},
        "o": {"process_id": "apply_change_feed", "arguments": {
          "base": {"from_node": "b"}, "feed": {"from_node": "b"}},
          "result": true}}""")
    }.code shouldBe "ChangeFeedKeysMissing"
    intercept[graft.OpenEoError] {
      compile(s"""{
        "b": {"process_id": "load_snapshot", "arguments": {"path": "$p"}},
        "o": {"process_id": "merge_changes", "arguments": {
          "changes": {"from_node": "b"}, "path": "$m"},
          "result": true}}""")
    }.code shouldBe "ChangeFeedKeysMissing"
  }

  test("merge_into process equals the Scala API; source-qualifier " +
      "rewrite is parse-based; typed clause errors") {
    import spark.implicits._
    def compile(graph: String) = new GraphCompiler(spark, Map.empty,
      java.nio.file.Files.createTempDirectory("graft-res").toString)
      .compile(graph)
    val base = java.nio.file.Files
      .createTempDirectory("graft_gmig_").toString
    def seed(tag: String): (String, String) = {
      val t = s"$base/t_$tag"; val s2 = s"$base/s_$tag"
      graft.ops.Snapshots.append(
        (1 to 8).map(i => (i.toLong, i * 10.0, s"t$i"))
          .toDF("id", "v", "tag"), t)
      graft.ops.Snapshots.append(
        (3 to 10).map(i => (i.toLong, i.toDouble)).toDF("id", "d"), s2)
      (t, s2)
    }
    val (t1, s1) = seed("a")
    // graph face — note the string literal containing "source." which
    // a textual substitution would corrupt; the parse-based rewrite
    // leaves it intact
    compile(s"""{
      "src": {"process_id": "load_snapshot", "arguments": {"path": "$s1"}},
      "o": {"process_id": "merge_into", "arguments": {
        "path": "$t1", "source": {"from_node": "src"}, "keys": ["id"],
        "matched": [
          {"condition": "source.d <= 4", "set": {"v": "v + source.d"}},
          {"condition": "source.d = 5", "delete": true}],
        "not_matched": [
          {"condition": "source.d >= 10",
           "values": {"id": "source.id", "v": "source.d",
                      "tag": "'source.x'"}}]},
        "result": true}}""")
    // API face on an identical pair
    val (t2, _) = seed("b")
    import graft.ops.Snapshots.{mergeSource => ms}
    graft.ops.Snapshots.mergeInto(spark, t2,
      (3 to 10).map(i => (i.toLong, i.toDouble)).toDF("id", "d"),
      Seq("id"),
      matched = Seq(
        graft.ops.Snapshots.WhenMatched(Some(ms("d") <= 4.0),
          graft.ops.Snapshots.MergeUpdate(
            Map("v" -> (org.apache.spark.sql.functions.col("v") + ms("d"))))),
        graft.ops.Snapshots.WhenMatched(Some(ms("d") === 5.0),
          graft.ops.Snapshots.MergeDelete)),
      notMatched = Seq(graft.ops.Snapshots.WhenNotMatched(
        Some(ms("d") >= 10.0),
        Map("id" -> ms("id"), "v" -> ms("d"),
          "tag" -> org.apache.spark.sql.functions.lit("source.x")))))
    rowSet(graft.ops.Snapshots.read(spark, t1)) shouldBe
      rowSet(graft.ops.Snapshots.read(spark, t2))
    // the literal survived the rewrite
    graft.ops.Snapshots.read(spark, t1)
      .where(org.apache.spark.sql.functions.col("id") === 10L)
      .select("tag").as[String].head() shouldBe "source.x"
    // typed errors: no keys; a clause with neither set nor delete
    intercept[graft.OpenEoError] {
      compile(s"""{
        "src": {"process_id": "load_snapshot", "arguments": {"path": "$s1"}},
        "o": {"process_id": "merge_into", "arguments": {
          "path": "$t1", "source": {"from_node": "src"},
          "matched": [{"delete": true}]}, "result": true}}""")
    }.code shouldBe "MergeKeysMissing"
    intercept[graft.OpenEoError] {
      compile(s"""{
        "src": {"process_id": "load_snapshot", "arguments": {"path": "$s1"}},
        "o": {"process_id": "merge_into", "arguments": {
          "path": "$t1", "source": {"from_node": "src"}, "keys": ["id"],
          "matched": [{"condition": "source.d = 1"}]}, "result": true}}""")
    }.code shouldBe "MergeClauseInvalid"
    // a clause OBJECT where an ARRAY is expected fails typed — silently
    // coercing to Nil would drop the whole clause family
    intercept[graft.OpenEoError] {
      compile(s"""{
        "src": {"process_id": "load_snapshot", "arguments": {"path": "$s1"}},
        "o": {"process_id": "merge_into", "arguments": {
          "path": "$t1", "source": {"from_node": "src"}, "keys": ["id"],
          "matched": {"delete": true}}, "result": true}}""")
    }.code shouldBe "MergeClauseInvalid"
  }

  test("merge_into with schema_evolution widens the table like MERGE " +
      "WITH SCHEMA EVOLUTION (nullable ADD + merge; old rows null)") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_gmiev_").toString
    val t = s"$base/t"; val s2 = s"$base/s"
    graft.ops.Snapshots.append(
      (1 to 4).map(i => (i.toLong, i * 10.0)).toDF("id", "v"), t)
    graft.ops.Snapshots.append(
      Seq((3L, 300.0, "hot"), (9L, 900.0, "new"))
        .toDF("id", "v", "tag"), s2)
    val out = new GraphCompiler(spark, Map.empty).compile(s"""{
      "src": {"process_id": "load_snapshot", "arguments": {"path": "$s2"}},
      "o": {"process_id": "merge_into", "arguments": {
        "path": "$t", "source": {"from_node": "src"}, "keys": ["id"],
        "schema_evolution": true,
        "matched": [{"set": {"v": "source.v", "tag": "source.tag"}}],
        "not_matched": [{"values": {"id": "source.id",
          "v": "source.v", "tag": "source.tag"}}]},
        "result": true}}""").asInstanceOf[org.apache.spark.sql.DataFrame]
    val got = out.select("id", "v", "tag").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2))).toMap
    got(3L) shouldBe ((300.0, "hot"))
    got(9L) shouldBe ((900.0, "new"))
    got(1L) shouldBe ((10.0, null))
    got.size shouldBe 5
    // without the flag, the same graph fails typed (unknown column)
    intercept[Exception] {
      new GraphCompiler(spark, Map.empty).compile(s"""{
        "src": {"process_id": "load_snapshot", "arguments": {"path": "$s2"}},
        "o": {"process_id": "merge_into", "arguments": {
          "path": "$t", "source": {"from_node": "src"}, "keys": ["id"],
          "matched": [{"set": {"nope": "source.tag"}}]},
          "result": true}}""")
    }.getMessage should include("nope")
    // a MALFORMED clause must leave the table untouched even with
    // schema_evolution requested: clause validation runs BEFORE the
    // widening commit (leaves-nothing-behind)
    val s3 = s"$base/s3"
    graft.ops.Snapshots.append(
      Seq((1L, 1.0, 1L)).toDF("id", "v", "extra"), s3)
    val vBefore = graft.ops.Snapshots.latestVersion(spark, t)
    intercept[graft.OpenEoError] {
      new GraphCompiler(spark, Map.empty).compile(s"""{
        "src": {"process_id": "load_snapshot", "arguments": {"path": "$s3"}},
        "o": {"process_id": "merge_into", "arguments": {
          "path": "$t", "source": {"from_node": "src"}, "keys": ["id"],
          "schema_evolution": true,
          "matched": [{}]}, "result": true}}""")
    }.code shouldBe "MergeClauseInvalid"
    graft.ops.Snapshots.latestVersion(spark, t) shouldBe vBefore
    graft.ops.Snapshots.read(spark, t).columns should not contain "extra"
    // a mistyped schema_evolution (string, not boolean) fails typed
    intercept[graft.OpenEoError] {
      new GraphCompiler(spark, Map.empty).compile(s"""{
        "src": {"process_id": "load_snapshot", "arguments": {"path": "$s2"}},
        "o": {"process_id": "merge_into", "arguments": {
          "path": "$t", "source": {"from_node": "src"}, "keys": ["id"],
          "schema_evolution": "true",
          "matched": [{"set": {"v": "source.v"}}]},
          "result": true}}""")
    }.code shouldBe "MergeClauseInvalid"
    // a case-variant source column is NOT a new column (SQL resolution
    // is case-insensitive) — the schema must not gain a duplicate
    val s4 = s"$base/s4"
    graft.ops.Snapshots.append(
      Seq((2L, 222.0)).toDF("id", "V"), s4)
    new GraphCompiler(spark, Map.empty).compile(s"""{
      "src": {"process_id": "load_snapshot", "arguments": {"path": "$s4"}},
      "o": {"process_id": "merge_into", "arguments": {
        "path": "$t", "source": {"from_node": "src"}, "keys": ["id"],
        "schema_evolution": true,
        "matched": [{"set": {"v": "source.V"}}]},
        "result": true}}""")
    graft.ops.Snapshots.read(spark, t).columns
      .count(_.equalsIgnoreCase("v")) shouldBe 1
  }

  test("table_changes / call_procedure processes equal the SQL TVF " +
      "and CALL faces, with typed errors") {
    import spark.implicits._
    def compile(graph: String) =
      new GraphCompiler(spark, Map.empty)
        .compile(graph).asInstanceOf[org.apache.spark.sql.DataFrame]
    val base = java.nio.file.Files
      .createTempDirectory("graft_gtvf_").toString
    val p = s"$base/t"
    graft.ops.Snapshots.append(
      (1 to 20).map(i => (i.toLong, i * 2.0)).toDF("id", "v"), p)
    graft.ops.Snapshots.delete(spark, p, col("id") <= 3L)
    // graph == TVF: identical rows (incl. the meta columns)
    rowSet(compile(s"""{
      "c": {"process_id": "table_changes", "arguments": {
        "target": "$p", "from_version": 0, "to_version": 2},
        "result": true}}""")) shouldBe
      rowSet(spark.sql(s"SELECT * FROM graft_table_changes('$p', 0, 2)"))
    // ... and the target accepts catalog identifiers like the TVF
    val slug = System.nanoTime().toString
    val cat = s"gtvf_$slug"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.SnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base)
    rowSet(compile(s"""{
      "c": {"process_id": "table_changes", "arguments": {
        "target": "$cat.t", "from_version": 0, "to_version": 1},
        "result": true}}""")) shouldBe
      rowSet(spark.sql(s"SELECT * FROM graft_table_changes('$p', 0, 1)"))
    // call_procedure == CALL: history over a catalog-managed table
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v DOUBLE)")
    (1 to 5).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .createOrReplaceTempView(s"gtvf_src_$slug")
    spark.sql(s"INSERT INTO $cat.db.t SELECT * FROM gtvf_src_$slug")
    rowSet(compile(s"""{
      "h": {"process_id": "call_procedure", "arguments": {
        "catalog": "$cat", "procedure": "history",
        "args": {"table": "db.t"}}, "result": true}}""")) shouldBe
      rowSet(spark.sql(s"CALL $cat.system.history(`table` => 'db.t')"))
    // a side-effecting procedure through the graph: optimize commits
    compile(s"""{
      "o": {"process_id": "call_procedure", "arguments": {
        "catalog": "$cat", "procedure": "optimize",
        "args": {"table": "db.t", "num_files": 1}}, "result": true}}""")
      .as[Long].head() shouldBe 3L
    graft.ops.Snapshots.snapshotAt(spark, s"$base/db/t")
      .get.files.size shouldBe 1
    // typed errors: missing args, invalid names, unresolvable target
    intercept[graft.OpenEoError] {
      compile("""{
        "c": {"process_id": "table_changes", "arguments": {
          "from_version": 0, "to_version": 1}, "result": true}}""")
    }.code shouldBe "TableChangesTargetMissing"
    intercept[graft.OpenEoError] {
      compile("""{
        "c": {"process_id": "table_changes", "arguments": {
          "target": "lonesegment", "from_version": 0, "to_version": 1},
          "result": true}}""")
    }.code shouldBe "TableChangesTargetInvalid"
    intercept[graft.OpenEoError] {
      compile(s"""{
        "h": {"process_id": "call_procedure", "arguments": {
          "procedure": "history", "args": {"table": "db.t"}},
          "result": true}}""")
    }.code shouldBe "ProcedureCatalogMissing"
    intercept[graft.OpenEoError] {
      compile(s"""{
        "h": {"process_id": "call_procedure", "arguments": {
          "catalog": "$cat", "procedure": "hi; DROP",
          "args": {}}, "result": true}}""")
    }.code shouldBe "ProcedureNameInvalid"
    // a trailing newline must not sneak past the anchor ($ matches
    // BEFORE a final terminator under find(); matches() rejects)
    intercept[graft.OpenEoError] {
      compile(s"""{
        "h": {"process_id": "call_procedure", "arguments": {
          "catalog": "$cat", "procedure": "history\\n",
          "args": {}}, "result": true}}""")
    }.code shouldBe "ProcedureNameInvalid"
    // a string value ending in a backslash must not swallow its closing
    // quote (backslash-escaped literals are Spark's default): the WHOLE
    // value reaches the procedure as one literal and fails ITS typed
    // segment validation, never a half-parsed CALL statement
    val eInj = intercept[Exception] {
      compile(s"""{
        "h": {"process_id": "call_procedure", "arguments": {
          "catalog": "$cat", "procedure": "history",
          "args": {"table": "db\\\\.t', x => 'y"}},
          "result": true}}""")
    }
    eInj.getMessage should include("db\\")
  }

  test("multimodal processes encode_binary / image_decode / " +
      "image_features / frame_sample / audio_features equal the " +
      "Scala API (round-13 graph-surface parity)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gmm").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "some longer text payload with enough bytes to pool into " +
        "several feature blocks and audio frames"),
      (3L, "x")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def compileG(g: String) = new GraphCompiler(spark, Map.empty,
        java.nio.file.Files.createTempDirectory("graft-gmmres").toString,
        tables = Map("documents" -> s"$dir/documents.parquet"))
      .compile(g).asInstanceOf[org.apache.spark.sql.DataFrame]
    val m = graft.multimodal.Multimodal
    val bin = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("payload", encode(col("text"), "UTF-8"))

    val viaFeat = compileG("""{
      "load": {"process_id": "load_table", "arguments": {"id": "documents"}},
      "bin": {"process_id": "encode_binary", "arguments": {
        "data": {"from_node": "load"}}},
      "dec": {"process_id": "image_decode", "arguments": {
        "data": {"from_node": "bin"}}},
      "feat": {"process_id": "image_features", "arguments": {
        "data": {"from_node": "dec"}, "dim": 4}, "result": true}}""")
      .select(col("doc_id"), col("meta.width").as("w"), col("mean_px"),
        col("features"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getSeq[Float](3))).toSet
    val apiFeat = m.featureExtract(m.decodeMeta(bin, "payload"),
        "payload", dim = 4)
      .select(col("doc_id"), col("meta.width").as("w"), col("mean_px"),
        col("features"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getSeq[Float](3))).toSet
    viaFeat shouldBe apiFeat

    val viaFrames = compileG("""{
      "load": {"process_id": "load_table", "arguments": {"id": "documents"}},
      "bin": {"process_id": "encode_binary", "arguments": {
        "data": {"from_node": "load"}}},
      "fr": {"process_id": "frame_sample", "arguments": {
        "data": {"from_node": "bin"}, "every_n": 1}, "result": true}}""")
      .select(col("doc_id"), col("frame_idx"), md5(col("payload")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    val apiFrames = m.frameSample(bin, "payload", everyN = 1)
      .select(col("doc_id"), col("frame_idx"), md5(col("payload")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    viaFrames shouldBe apiFrames

    val viaAudio = compileG("""{
      "load": {"process_id": "load_table", "arguments": {"id": "documents"}},
      "bin": {"process_id": "encode_binary", "arguments": {
        "data": {"from_node": "load"}}},
      "au": {"process_id": "audio_features", "arguments": {
        "data": {"from_node": "bin"}, "frame_len": 8}, "result": true}}""")
      .select(col("doc_id"), col("frame_idx"), col("n_samples"),
        col("energy"), col("zcr"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val apiAudio = m.audioFrameFeatures(bin, "payload", frameLen = 8)
      .select(col("doc_id"), col("frame_idx"), col("n_samples"),
        col("energy"), col("zcr"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4))).toSet
    viaAudio shouldBe apiAudio

    // unknown codec fails typed
    intercept[graft.OpenEoError] {
      compileG("""{
        "load": {"process_id": "load_table", "arguments": {"id": "documents"}},
        "bin": {"process_id": "encode_binary", "arguments": {
          "data": {"from_node": "load"}}},
        "dec": {"process_id": "image_decode", "arguments": {
          "data": {"from_node": "bin"}, "codec": "gif"}, "result": true}}""")
    }.code shouldBe "CodecUnknown"
  }

  test("normalize_unicode / script_counts processes equal the Scala " +
      "API (r13 Unicode tier graph parity)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-guni").toString
    val docs = Seq(
      (1L, "\ufb01nance \u2460 and x\u00b2"),
      (2L, "\u4e2d\u6587 \u043f\u0440\u0438\u0432\u0435\u0442 plain"),
      (3L, "zero\u200bwidth\u0007ctl  runs")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val viaGraph = new GraphCompiler(spark, Map.empty,
        java.nio.file.Files.createTempDirectory("graft-gunires").toString,
        tables = Map("documents" -> s"$dir/documents.parquet"))
      .compile("""{
        "load": {"process_id": "load_table",
                 "arguments": {"id": "documents"}},
        "norm": {"process_id": "normalize_unicode", "arguments": {
          "data": {"from_node": "load"}}},
        "sc": {"process_id": "script_counts", "arguments": {
          "data": {"from_node": "norm"}}, "result": true}}""")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("text",
        graft.text.TextAnalysis.normalizeUnicode(col("text")))
    val sc = graft.functions.UnicodeExprs.scriptCounts(col("text"))
    val viaScala = d
      .withColumn("n_latin", sc.getField("latin"))
      .withColumn("n_cyrillic", sc.getField("cyrillic"))
      .withColumn("n_han", sc.getField("han"))
      .select(col("doc_id"), col("text"), col("n_latin"),
        col("n_cyrillic"), col("n_han"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    viaGraph.map(t => (t._1, t._2)) shouldBe viaScala.map(t => (t._1, t._2))
    // graph output column ORDER: n_latin, n_cyrillic, n_han lead the
    // appended block, so positions 2-4 compare directly
    viaGraph shouldBe viaScala
  }

  test("langid process equals the Scala langIdScript API (r14 graph " +
      "parity)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-glid").toString
    val docs = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "ab \u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440"),
      (3L, "\u6f22\u5b57\u6f22\u5b57\u3072\u3089"),
      (4L, "xyzzy plugh")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val viaGraph = new GraphCompiler(spark, Map.empty,
        java.nio.file.Files.createTempDirectory("graft-glidres").toString,
        tables = Map("documents" -> s"$dir/documents.parquet"))
      .compile("""{
        "load": {"process_id": "load_table",
                 "arguments": {"id": "documents"}},
        "lid": {"process_id": "langid", "arguments": {
          "data": {"from_node": "load"}}, "result": true}}""")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    viaGraph.columns should contain ("lang_pred")
    viaGraph.columns should not contain ("_sc")
    val got = viaGraph.select("doc_id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got(1L) shouldBe "en"
    got(2L) shouldBe "ru"
    got(3L) shouldBe "ja" // kana present, han+kana > latin
    got(4L) shouldBe null
    val viaScala = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("_sc",
        graft.functions.UnicodeExprs.scriptCounts(col("text")))
      .select(col("doc_id"), graft.text.TextAnalysis
        .langIdScript(col("text"), col("_sc")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got shouldBe viaScala
  }
}
