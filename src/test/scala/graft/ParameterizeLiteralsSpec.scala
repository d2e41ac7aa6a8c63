package graft

import graft.compile.GraphCompiler
import graft.cube.{Cube, CubeMeta, GridRef}
import graft.functions.ParamLiteral
import graft.ops.{Proj, Scan, Sinks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, TestSessions}
import org.apache.spark.sql.types._

/** Per-request constants as generated-code parameters
  * ([[graft.plans.ParameterizeLiterals]]): graphs that differ only in
  * constants share compiled classes, compute what the unrewritten plan
  * computes, and scan exactly as before. */
class ParameterizeLiteralsSpec extends SparkSpec {

  // a small S2-like store: 4 bands on a 10 m UTM-32N grid, one scene
  // every 5 days from 2022-05-02, 16 x 16 px x 8 scenes
  private val Bands = Seq("B02", "B03", "B04", "B08")
  private val (n, scenes, d, x0, y0) = (16, 8, 10.0, 677005.0, 5148005.0)
  private val epoch = java.time.LocalDate.parse("2022-05-02")
  private def x(i: Int) = x0 + d * i
  private def y(j: Int) = y0 + d * j
  private def date(t: Int) = epoch.plusDays(5L * t)

  lazy val catalog: Map[String, Scan.CollectionSpec] = {
    val path = java.nio.file.Files.createTempDirectory("param-store").toString + "/s2"
    val id = col("id")
    val (t, b) = ((id / (4 * n * n)).cast("int"), ((id / (n * n)) % 4).cast("int"))
    val (j, i) = (((id / n) % n).cast("int"), (id % n).cast("int"))
    val df = spark.range(4L * n * n * scenes).select(
      to_timestamp(date_add(lit(epoch.toString).cast("date"), t * 5)).as("time"),
      element_at(array(Bands.map(lit): _*), b + 1).as("band"),
      (lit(y0) + j * d).as("y"), (lit(x0) + i * d).as("x"),
      (lit(0.05) + (b + 1) * 0.01 * sin(i * 0.3 + j * 0.7 + t * 0.5 + b))
        .cast("float").as("value"))
    val grid = GridRef(x0, y0, d, d)
    Sinks.writeCubeStore(Cube(df, CubeMeta(crs = Some("EPSG:32632"),
      bandOrder = Bands, grid = Some(grid))), path, filesPerDir = 1)
    Map("s2" -> Scan.CollectionSpec(path, crs = Some("EPSG:32632"),
      bandOrder = Bands, grid = Some(grid)))
  }

  /** One request's constants: an 8 x 8 px window at (i0, j0), 4 scenes
    * from t0, and the template's own constants. */
  case class Req(i0: Int, j0: Int, t0: Int, bands: Seq[String] = Nil,
      res: Int = 20, p: Double = 1.0)
  private val (side, span) = (8, 4)

  private def extent(q: Req) =
    s"""{"west":${x(q.i0) - d / 2},"south":${y(q.j0) - d / 2},""" +
    s""""east":${x(q.i0 + side - 1) + d / 2},"north":${y(q.j0 + side - 1) + d / 2},"crs":32632}"""
  private def load(q: Req, bands: Seq[String], spatial: Boolean = true) =
    s""""load":{"process_id":"load_collection","arguments":{"id":"s2",""" +
    s""""bands":${bands.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
    (if (spatial) s""""spatial_extent":${extent(q)},""" else "") +
    s""""temporal_extent":["${date(q.t0)}","${date(q.t0 + span - 1).plusDays(1)}"]}"""
  private def reducer(p: String) =
    s"""{"process_graph":{"r":{"process_id":"$p","arguments":{"data":{"from_parameter":"data"}},"result":true}}}"""
  /** A rectangle 2.5 m off the pixel centres inside the window, in lon/lat. */
  private def polygon(q: Req) = {
    val utm = Proj.forEpsg(32632).get
    val (w, e) = (x(q.i0 + 1) - 2.5, x(q.i0 + 5) + 2.5)
    val (s, nn) = (y(q.j0 + 2) - 2.5, y(q.j0 + 6) + 2.5)
    Seq((w, s), (e, s), (e, nn), (w, nn), (w, s)).map { case (px, py) =>
      val (lon, lat) = utm.toLonLat(px, py); s"[$lon,$lat]" }.mkString("[[", ",", "]]")
  }

  /** The four serve templates; `save` ends the graph with its
    * `save_result`, otherwise the last process is the result. */
  def graph(template: String, q: Req, save: Boolean): String = {
    val (nodes, last, format) = template match {
      case "ndvi_median_gtiff" =>
        val nd = """{"process_graph":{
          |"red":{"process_id":"array_element","arguments":{"data":{"from_parameter":"data"},"label":"B04"}},
          |"nir":{"process_id":"array_element","arguments":{"data":{"from_parameter":"data"},"label":"B08"}},
          |"nd":{"process_id":"normalized_difference","arguments":{"x":{"from_node":"nir"},"y":{"from_node":"red"}},"result":true}}}""".stripMargin
        (Seq(load(q, Seq("B04", "B08")),
          s""""ndvi":{"process_id":"reduce_dimension","arguments":{"data":{"from_node":"load"},"dimension":"bands","reducer":$nd}""",
          s""""med":{"process_id":"reduce_dimension","arguments":{"data":{"from_node":"ndvi"},"dimension":"t","reducer":${reducer("median")}}"""),
          "med", """"GTIFF"""")
      case "monthly_mean_netcdf" =>
        (Seq(load(q, q.bands, spatial = false),
          s""""bb":{"process_id":"filter_bbox","arguments":{"data":{"from_node":"load"},"extent":${extent(q)}}""",
          s""""agg":{"process_id":"aggregate_temporal_period","arguments":{"data":{"from_node":"bb"},"period":"month","reducer":${reducer("mean")}}"""),
          "agg", """"NETCDF"""")
      case "zonal_mean_json" =>
        val feats = s"""[{"type":"Feature","properties":{},"geometry":{"type":"Polygon","coordinates":${polygon(q)}}}]"""
        (Seq(load(q, q.bands),
          s""""zs":{"process_id":"aggregate_spatial","arguments":{"data":{"from_node":"load"},"geometries":{"type":"FeatureCollection","features":$feats},"reducer":${reducer("mean")}}"""),
          "zs", """"JSON"""")
      case "resample_apply_png" =>
        (Seq(load(q, Seq("B04")),
          s""""rs":{"process_id":"resample_spatial","arguments":{"data":{"from_node":"load"},"resolution":${q.res},"method":"near"}""",
          s""""tmax":{"process_id":"reduce_dimension","arguments":{"data":{"from_node":"rs"},"dimension":"t","reducer":${reducer("max")}}""",
          s""""ap":{"process_id":"apply","arguments":{"data":{"from_node":"tmax"},"process":{"process_graph":{"p":{"process_id":"power","arguments":{"base":{"from_parameter":"x"},"p":${q.p}},"result":true}}}}"""),
          "ap", """"PNG","options":{"gray":"B04"}""")
    }
    val closed = nodes.init.map(_ + "}") :+
      (if (save) nodes.last + "}" else nodes.last + ""","result":true}""")
    val saveNode = s""""save":{"process_id":"save_result","arguments":{"data":{"from_node":"$last"},"format":$format},"result":true}"""
    (if (save) closed :+ saveNode else closed).mkString("{", ",\n", "}")
  }

  /** Each template's first request and a second one that moves every
    * constant the template has: window, dates, bands, resolution,
    * exponent. */
  private val requests = Seq(
    "ndvi_median_gtiff" -> (Req(2, 3, 0), Req(6, 5, 3)),
    "monthly_mean_netcdf" -> (Req(1, 2, 2, Seq("B02", "B08")),
      Req(7, 4, 4, Seq("B03", "B04"))),
    "zonal_mean_json" -> (Req(1, 1, 1, Seq("B04")), Req(6, 7, 3, Seq("B08"))),
    "resample_apply_png" -> (Req(0, 4, 1, res = 20, p = 0.73),
      Req(8, 1, 4, res = 30, p = 1.41)))

  private def out(): String =
    java.nio.file.Files.createTempDirectory("param-out").toString

  private def run(s: SparkSession, json: String): Any =
    new GraphCompiler(s, catalog, out()).compile(json)

  private def frame(v: Any): DataFrame = v match {
    case c: Cube => c.df
    case df: org.apache.spark.sql.Dataset[_] => df.toDF()
    case other => fail(s"not a cube or frame: $other")
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private def executed(df: DataFrame): SparkPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan

  private def params(plan: SparkPlan): Seq[ParamLiteral] =
    Plans.collect(plan) { case p => p.expressions.flatMap(_.collect {
      case l: ParamLiteral => l }) }.flatten

  /** Each file scan's partition, pushed and data filters, with expression
    * ids masked (the two sessions analyze separately). */
  private def scanFilters(plan: SparkPlan): Seq[Map[String, String]] =
    Plans.collect(plan) { case s: FileSourceScanExec =>
      s.metadata.filter { case (k, _) =>
        Set("PartitionFilters", "PushedFilters", "DataFilters")(k)
      }.map { case (k, v) => k -> v.replaceAll("#\\d+L?", "#") }
    }

  /** Run `f` with the codegen mode set on every session given. */
  private def inMode[T](mode: (String, String), sessions: SparkSession*)(f: => T): T = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = sessions.map(s => keys.map(k => k -> s.conf.getOption(k)))
    sessions.foreach { s =>
      s.conf.set(keys(0), mode._1); s.conf.set(keys(1), mode._2) }
    try f finally sessions.zip(saved).foreach { case (s, kv) => kv.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    } }
  }
  private val Modes = Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")

  private def withActive[T](s: SparkSession)(f: => T): T = {
    SparkSession.setActiveSession(s)
    try f finally SparkSession.setActiveSession(spark)
  }

  lazy val plain: SparkSession = TestSessions.withoutExtensions(spark)

  for ((template, (first, second)) <- requests) {
    test(s"$template: a graph that differs only in constants compiles 0 classes") {
      run(spark, graph(template, first, save = true))
      val (_, compiles) = compilesDuring(run(spark, graph(template, second, save = true)))
      compiles shouldBe 0L
    }

    test(s"$template: output and scan filters equal the plan without the rule") {
      for (mode <- Modes; q <- Seq(first, second)) inMode(mode, spark, plain) {
        val json = graph(template, q, save = false)
        val withRule = frame(run(spark, json))
        val without = withActive(plain)(frame(run(plain, json)))
        val rows = withRule.collect().map(_.toString).sorted.toSeq
        rows should not be empty
        rows shouldBe withActive(plain)(without.collect().map(_.toString).sorted.toSeq)
        val (p, p0) = (executed(withRule), executed(without))
        withClue(s"$mode ${p.treeString}") { params(p) should not be empty }
        params(p0) shouldBe empty
        scanFilters(p) should not be empty
        scanFilters(p) shouldBe scanFilters(p0)
      }
    }
  }

  /** A parquet table of 200 rows: k in 0..3, v = id. */
  lazy val table: DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("param-reuse").toString + "/t"
    spark.range(200).select((col("id") % 4).as("k"), col("id").cast("double").as("v"))
      .write.parquet(path)
    spark.read.parquet(path)
  }

  test("exchange reuse never merges branches that differ only in a constant") {
    val t = table
    def branch(lo: Double) = t.where(col("v") > lo).groupBy("k").agg(sum("v").as("s"))
    def expect(lo: Double) = (0 until 200).filter(_ > lo).groupBy(_ % 4)
      .map { case (k, vs) => s"[$k,${vs.sum.toDouble}]" }
    for (aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try {
        val union = branch(10).union(branch(150))
        union.collect().map(_.toString).sorted.toSeq shouldBe
          (expect(10) ++ expect(150)).toSeq.sorted
        withClue(s"aqe=$aqe") { params(executed(union)).map(_.value).toSet shouldBe
          Set(10.0, 150.0) }
        val joined = branch(10).as("a").join(branch(150).as("b"), "k")
          .select(col("k"), col("a.s"), col("b.s"))
        val byK = (k: Int, lo: Double) => (0 until 200).filter(v => v > lo && v % 4 == k).sum.toDouble
        joined.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
          .sorted.toSeq shouldBe (0 until 4).map(k => (k.toLong, byK(k, 10), byK(k, 150)))
      } finally spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("a ParamLiteral computes what its Literal computes, codegen and interpreted") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    // per type: the column's values and the constants tried against it
    val cases: Seq[(DataType, Seq[Any], Seq[Any])] = Seq(
      (IntegerType, Seq(-2, 0, 1, 100), Seq(0, -7, 123456)),
      (LongType, Seq(-2L, 0L, 1L, 100L), Seq(0L, 3L, 1L << 40)),
      (DoubleType, Seq(-2.0, -0.0, 0.0, 1.5, 1e300, Double.NaN),
        Seq(0.0, -0.0, 0.73, Double.NaN, Double.PositiveInfinity,
          Double.NegativeInfinity, Double.MinPositiveValue)),
      (FloatType, Seq(-2f, -0f, 1.5f, Float.NaN), Seq(0.5f, -0f, Float.NaN, Float.MaxValue)),
      (ShortType, Seq[Short](-2, 0, 1, 100), Seq[Short](0, -300)),
      (ByteType, Seq[Byte](-2, 0, 1, 100), Seq[Byte](1, -1)),
      (DateType, Seq(0, 19000, 19001, -1), Seq(0, 19000, -1)),
      (TimestampType, Seq(0L, 1651449600000000L, -1L), Seq(0L, 1651449600000000L, -1L)),
      (TimestampNTZType, Seq(0L, 1651449600000000L), Seq(1651449600000000L)))
    // the constant is a parameter in `spark`; the Literal side runs where
    // no rule rewrites it
    def run(s: SparkSession, t: DataType, column: Seq[Any], c: org.apache.spark.sql.Column) = {
      val a = element_at(array(column.map(v => Bridge.column(Literal(v, t))): _*),
        (col("id") % column.size + 1).cast("int"))
      val numeric = Seq(a + c, c - a, a * c) ++
        (if (t == DoubleType) Seq(pow(a, c), pow(c, a)) else Nil)
      val exprs = Seq(a < c, a === c, a <=> c, c >= a, greatest(a, c), least(c, a)) ++
        (t match {
          case DateType | TimestampType | TimestampNTZType => Nil
          case _ => numeric
        })
      s.range(0, column.size, 1, 2).select(exprs: _*).collect().map(_.toString).toSeq
    }
    for (mode <- Modes; (t, column, values) <- cases; v <- values) inMode(mode, spark, plain) {
      withClue(s"$mode $t $v") {
        run(spark, t, column, Bridge.column(ParamLiteral(v, t))) shouldBe
          withActive(plain)(run(plain, t, column, Bridge.column(Literal(v, t))))
      }
    }
    ParamLiteral(0.0, DoubleType) should not be ParamLiteral(-0.0, DoubleType)
    ParamLiteral(Double.NaN, DoubleType) shouldBe ParamLiteral(Double.NaN, DoubleType)
    ParamLiteral(1, IntegerType) should not be ParamLiteral(1, DateType)
    ParamLiteral(19000, DateType).sql shouldBe Literal(19000, DateType).sql
    ParamLiteral(0.73, DoubleType).toString shouldBe Literal(0.73, DoubleType).toString
  }
}
