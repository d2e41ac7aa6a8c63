package graft

import graft.compile.GraphCompiler
import graft.cube.{Cube, Dim}
import graft.functions.{CurveFit, ProductAgg, RefCodegen, RefCodegen2}
import graft.graph.ProcessGraph
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType,
  StructField, StructType}

class FunctionsSpec extends SparkSpec {

  /** Each process of the element-wise table with its arguments, numeric
    * ('n') or boolean ('b'); `d0`..`d2` are the items of a `data` array. */
  private val processArgs: Map[String, Seq[(String, Char)]] = {
    def args(spec: String*) = spec.map(a => a.takeWhile(_ != ':') -> a.last)
    val xy = args("x:n", "y:n")
    val x = args("x:n")
    Map(
      "add" -> xy, "subtract" -> xy, "multiply" -> xy, "divide" -> xy,
      "sum" -> args("d0:n", "d1:n", "d2:n"),
      "product" -> args("d0:n", "d1:n", "d2:n"),
      "lt" -> xy, "lte" -> xy, "gt" -> xy, "gte" -> xy, "eq" -> xy,
      "neq" -> xy, "not" -> args("x:b"), "and" -> args("x:b", "y:b"),
      "or" -> args("x:b", "y:b"), "sqrt" -> x, "power" -> args("base:n", "p:n"),
      "absolute" -> x, "ln" -> x, "log" -> args("x:n", "base:n"), "exp" -> x,
      "sin" -> x, "cos" -> x, "pi" -> Nil, "normalized_difference" -> xy,
      "clip" -> args("x:n", "min:n", "max:n"),
      "linear_scale_range" -> args("x:n", "inputMin:n", "inputMax:n",
        "outputMin:n", "outputMax:n"),
      "if" -> args("value:b", "accept:n", "reject:n"),
      "is_nodata" -> x, "is_nan" -> x)
  }

  /** The process over the given operands, by argument position. */
  private def processColumn(p: String, operand: Int => Column): Column = {
    val args = processArgs(p).map(_._1)
    GraphCompiler.scalarOp(p, k => Some(args.indexOf(k)).filter(_ >= 0).map(operand),
      args.indices.filter(args(_).matches("d[0-9]")).map(operand))
  }

  /** Equal values: NaN equals NaN, 0.0 and -0.0 differ. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case _ => a == b
  }

  private def withCodegen[T](mode: String, wholeStage: String)(f: => T): T = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), mode); spark.conf.set(keys(1), wholeStage)
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("one element-wise process table: the literal fold of every process " +
      "equals its Column on a one-row frame (CODEGEN_ONLY and NO_CODEGEN), " +
      "and starts no job") {
    processArgs.keySet shouldBe GraphCompiler.scalarOpByName.keySet
    val compiler = new GraphCompiler(spark, Map.empty)
    val rnd = new scala.util.Random(20261020)
    val special: Seq[Any] = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.0, -0.0, null, 1.0)
    def number(): Any =
      if (rnd.nextInt(3) == 0) special(rnd.nextInt(special.size))
      else rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)
    def bool(): Any = Seq(true, false, null)(rnd.nextInt(3))
    for ((p, args) <- processArgs.toSeq.sortBy(_._1)) {
      // each special value in every argument, then random draws
      val cases: Seq[Seq[Any]] = (if (args.isEmpty) Seq(Nil) else
        args.indices.flatMap { i =>
          (if (args(i)._2 == 'b') Seq(true, false, null) else special).map(v =>
            args.indices.map(j => if (j == i) v
              else if (args(j)._2 == 'b') bool() else number()))
        } ++ Seq.fill(24)(args.map(a => if (a._2 == 'b') bool() else number())))
      // the fold: Catalyst over literal operands, as a top-level node runs it
      val (folded, jobs) = jobsDuring(cases.map(c =>
        scala.util.Try(compiler.fold(processColumn(p, i => lit(c(i)))))))
      withClue(s"$p: ") { jobs shouldBe 0 }
      val schema = StructType(args.map { case (k, t) =>
        StructField(k, if (t == 'b') BooleanType else DoubleType: DataType) })
      def frame(rows: Seq[Seq[Any]]): DataFrame = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row.fromSeq), 1), schema)
      val column = processColumn(p, i => col(args(i)._1))
      for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true",
          "NO_CODEGEN" -> "false")) withCodegen(mode, wholeStage) {
        // all cases in one frame, one row each; where a case throws (ANSI
        // division by zero), one frame per case
        val evaluated = scala.util.Try(frame(cases).select(column).collect()
            .map(r => scala.util.Try(r.get(0))).toSeq)
          .getOrElse(cases.map(c => scala.util.Try(
            frame(Seq(c)).select(column).collect().head.get(0))))
        cases.indices.foreach { i =>
          withClue(s"$mode $p${cases(i).mkString("(", ", ", ")")}: " +
              s"fold ${folded(i)}, frame ${evaluated(i)}: ") {
            folded(i).isSuccess shouldBe evaluated(i).isSuccess
            if (folded(i).isSuccess)
              same(folded(i).get, evaluated(i).get) shouldBe true
          }
        }
      }
    }
  }

  test("a fit_curve model built by the callback walker fits like the " +
      "plain-Scala harmonic model (CODEGEN_ONLY and NO_CODEGEN)") {
    import spark.implicits._
    // a0 + (a1·cos(ωx) + a2·sin(ωx)), ω = 2π / 1 year: the seasonal
    // harmonic of the openEO fit_curve docs, as arithmetic in this order
    val omega = 2 * math.Pi / 31557600.0
    def harmonic(x: Double, p: Array[Double]): Double =
      p(0) + (p(1) * math.cos(omega * x) + p(2) * math.sin(omega * x))
    val model = GraphCompiler.model(ProcessGraph.fromJson(
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(s"""{
        "a0": {"process_id": "array_element", "arguments": {
          "data": {"from_parameter": "parameters"}, "index": 0}},
        "a1": {"process_id": "array_element", "arguments": {
          "data": {"from_parameter": "parameters"}, "index": 1}},
        "a2": {"process_id": "array_element", "arguments": {
          "data": {"from_parameter": "parameters"}, "index": 2}},
        "w": {"process_id": "multiply", "arguments": {
          "x": $omega, "y": {"from_parameter": "x"}}},
        "c": {"process_id": "cos", "arguments": {"x": {"from_node": "w"}}},
        "s": {"process_id": "sin", "arguments": {"x": {"from_node": "w"}}},
        "t1": {"process_id": "multiply", "arguments": {
          "x": {"from_node": "a1"}, "y": {"from_node": "c"}}},
        "t2": {"process_id": "multiply", "arguments": {
          "x": {"from_node": "a2"}, "y": {"from_node": "s"}}},
        "h": {"process_id": "add", "arguments": {
          "x": {"from_node": "t1"}, "y": {"from_node": "t2"}}},
        "m": {"process_id": "add", "arguments": {
          "x": {"from_node": "a0"}, "y": {"from_node": "h"}},
          "result": true}}""")))
    model.nParams shouldBe 3
    // two pixels, 30 samples 12 days apart, seasonal signal plus noise
    val rows = for { g <- 0 to 1; i <- 1 to 30 } yield {
      val t = 1.6e9 + i * 12 * 86400.0
      (new java.sql.Timestamp((t * 1000).toLong), g.toDouble, 0.0,
        harmonic(t, Array(5.0 + g, 2.0, -3.0)) + math.sin(7.0 * i) * 0.3)
    }
    val c = Cube(rows.toDF("time", "y", "x", "value"))
    for (g <- Seq(0.0, 1.0)) {
      val samples = rows.filter(_._2 == g).map(r =>
        CurveFit.Sample(r._1.getTime / 1000.0, r._4)).toArray
      val want = CurveFit.fit(harmonic, 3, samples)
      for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true",
          "NO_CODEGEN" -> "false")) withCodegen(mode, wholeStage) {
        val got = CurveFit.fitCurve(c, model).where(col(Dim.Y) === g)
          .head().getSeq[Double](2)
        withClue(s"$mode pixel $g: ") {
          got.zip(want).foreach { case (a, b) => a shouldBe b +- 1e-9 }
          got(1) shouldBe 2.0 +- 0.5
        }
      }
    }
  }

  test("fit_curve recovers a clean linear model per group") {
    import spark.implicits._
    // y = 2 + 3x sampled 20 times (values ≠ 0 so the zero-mask keeps all)
    val rows = (1 to 20).map { i =>
      (new java.sql.Timestamp(i * 86400000L), 0.0, 0.0, 2.0 + 3.0 * (i * 86400.0))
    }
    val c = Cube(rows.toDF("time", "y", "x", "value"))
    val fitted = CurveFit.fitCurve(c, CurveFit.linear, minSamples = 12)
    val p = fitted.head().getSeq[Double](fitted.columns.indexOf("params"))
    p(0) shouldBe 2.0 +- 1e-3
    p(1) shouldBe 3.0 +- 1e-9
  }

  test("fit_curve yields zero params below the 12-sample threshold (reference)") {
    import spark.implicits._
    val rows = (1 to 5).map { i =>
      (new java.sql.Timestamp(i * 86400000L), 0.0, 0.0, 1.0 + i)
    }
    val c = Cube(rows.toDF("time", "y", "x", "value"))
    val fitted = CurveFit.fitCurve(c, CurveFit.linear)
    val p = fitted.head().getSeq[Double](fitted.columns.indexOf("params"))
    p shouldBe Seq(0.0, 0.0)
  }

  /** Closed-form linear least squares over the time axis for the linear
    * model `a0 + a1·x`: one aggregation pass with five running sums per
    * group, the same zero-mask and min-sample rule as
    * [[CurveFit.fitCurve]] (openeo_odc_driver.py:1532-1543) — the
    * reference the LM fit is checked against. */
  private def fitCurveLinear(c: Cube, minSamples: Int = 12): DataFrame = {
    require(c.has(Dim.Time), "fit_curve needs a time dimension")
    val keep = c.dimsExcept(Dim.Time).map(col)
    val tx = unix_timestamp(col(Dim.Time)).cast("double")
    val v = col(Cube.ValueCol).cast("double")
    val m = v =!= 0.0 && !isnan(v) // zero-mask like the reference
    val agg = c.df.groupBy(keep: _*).agg(
      count(when(m, lit(1))).cast("double").as("_n"),
      sum(when(m, tx)).as("_sx"),
      sum(when(m, v)).as("_sy"),
      sum(when(m, tx * v)).as("_sxy"),
      sum(when(m, tx * tx)).as("_sxx"))
    val denom = col("_n") * col("_sxx") - col("_sx") * col("_sx")
    val degenerate = col("_n") < minSamples || denom === 0.0
    val a1 = when(degenerate, 0.0)
      .otherwise((col("_n") * col("_sxy") - col("_sx") * col("_sy")) / denom)
    val a0 = when(degenerate, 0.0)
      .otherwise((col("_sy") - a1 * col("_sx")) / col("_n"))
    agg.select(keep :+ array(a0, a1).as("params"): _*)
  }

  test("fit_curve LM agrees with the closed-form linear least squares") {
    import spark.implicits._
    // noisy linear series per group so LM actually optimizes (sin noise
    // keeps the residual nonzero); two pixel groups
    val rows = for { g <- 0 to 1; i <- 1 to 20 } yield
      (new java.sql.Timestamp(i * 86400000L), g.toDouble, 0.0,
        5.0 + g + 0.5 * (i * 86400.0) + math.sin(i.toDouble) * 3.0)
    val c = Cube(rows.toDF("time", "y", "x", "value"))
    val lm = CurveFit.fitCurve(c, CurveFit.linear, minSamples = 12)
      .collect().map(r => r.getDouble(0) -> r.getSeq[Double](2)).toMap
    val cf = fitCurveLinear(c, minSamples = 12)
      .collect().map(r => r.getDouble(0) -> r.getSeq[Double](2)).toMap
    for (g <- Seq(0.0, 1.0)) {
      lm(g)(0) shouldBe cf(g)(0) +- 1e-3
      lm(g)(1) shouldBe cf(g)(1) +- 1e-9
    }
  }

  test("fit_curve closed form yields zero params below the sample threshold") {
    import spark.implicits._
    val rows = (1 to 5).map { i =>
      (new java.sql.Timestamp(i * 86400000L), 0.0, 0.0, 1.0 + i)
    }
    val c = Cube(rows.toDF("time", "y", "x", "value"))
    val fitted = fitCurveLinear(c)
    fitted.head().getSeq[Double](2) shouldBe Seq(0.0, 0.0)
  }

  test("predict_curve evaluates the fitted model at the cube timestamps") {
    import spark.implicits._
    val rows = (1 to 20).map { i =>
      (new java.sql.Timestamp(i * 86400000L), 0.0, 0.0, 2.0 + 3.0 * (i * 86400.0))
    }
    val c = Cube(rows.toDF("time", "y", "x", "value"))
    val fitted = CurveFit.fitCurve(c, CurveFit.linear)
    val pred = CurveFit.predictCurve(c, fitted, CurveFit.linear)
    val got = pred.df.orderBy("time").select("value").collect().map(_.getDouble(0))
    val want = rows.map(_._4)
    got.zip(want).foreach { case (g, w) => g shouldBe w +- 1e-2 }
  }

  test("product aggregate ignores nulls; all-null group → null") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(2.0)), ("a", None), ("a", Some(-3.0)),
      ("b", Option.empty[Double])).toDF("k", "v")
    val r = df.groupBy("k").agg(ProductAgg.product(col("v")).as("p"))
      .collect().map(row => row.getString(0) ->
        (if (row.isNullAt(1)) null else row.getDouble(1))).toMap
    r("a") shouldBe -6.0
    assert(r("b") == null)
  }

  test("a RefCodegen expression whose nullSafeEval returns null fails loudly in codegen") {
    val id = col("id")
    val cases = Seq(
      "nullmixer" -> NullMixer(Bridge.expression(id.cast("string"))),
      "nullmixer2" -> NullMixer2(Bridge.expression(id.cast("double")),
        Bridge.expression(id.cast("double"))))
    for ((name, e) <- cases) {
      val df = spark.range(0, 3, 1, 1).select(Bridge.column(e).as("v"))
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      val err = try intercept[Exception](df.collect())
        finally spark.conf.unset("spark.sql.codegen.factoryMode")
      val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
      withClue(causes.mkString("\n")) {
        causes.exists(c => c.isInstanceOf[IllegalStateException] &&
          c.getMessage.contains(name)) shouldBe true
      }
    }
  }
}

/** Test-only [[graft.functions.RefCodegen]] mixers that break the
  * contract: a null result on non-null input. */
case class NullMixer(child: Expression) extends UnaryExpression with RefCodegen {
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StringType
  override protected def nullSafeEval(v: Any): Any = null
  override protected def withNewChildInternal(c: Expression): NullMixer = copy(child = c)
}

case class NullMixer2(left: Expression, right: Expression)
    extends BinaryExpression with RefCodegen2 {
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.DoubleType
  override protected def nullSafeEval(l: Any, r: Any): Any = null
  override protected def withNewChildrenInternal(l: Expression, r: Expression): NullMixer2 =
    copy(left = l, right = r)
}
