package graft

import graft.cube.Cube
import graft.functions.{CurveFit, ProductAgg, RefCodegen, RefCodegen2, ScalarExpr}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

class FunctionsSpec extends SparkSpec {

  test("ScalarExpr eval and toColumn agree (codegen ↔ scalar parity)") {
    import spark.implicits._
    val m = ScalarExpr.harmonic()
    val p = Array(1.0, 2.0, 3.0)
    val xs = Seq(0.0, 1e7, 2e7)
    val scalar = xs.map(m.eval(_, p))
    val viaCol = xs.toDF("x")
      .select(m.toColumn(col("x"), typedLit(p.toSeq)).as("v"))
      .collect().map(_.getDouble(0)).toSeq
    viaCol.zip(scalar).foreach { case (a, b) => a shouldBe b +- 1e-9 }
  }

  test("fit_curve recovers a clean linear model per group") {
    import spark.implicits._
    // y = 2 + 3x sampled 20 times (values ≠ 0 so the zero-mask keeps all)
    val rows = (1 to 20).map { i =>
      (new java.sql.Timestamp(i * 86400000L), 0.0, 0.0, 2.0 + 3.0 * (i * 86400.0))
    }
    val c = Cube(rows.toDF("time", "y", "x", "value"))
    val fitted = CurveFit.fitCurve(c, ScalarExpr.linear, minSamples = 12)
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
    val fitted = CurveFit.fitCurve(c, ScalarExpr.linear)
    val p = fitted.head().getSeq[Double](fitted.columns.indexOf("params"))
    p shouldBe Seq(0.0, 0.0)
  }

  test("fit_curve LM agrees with the closed-form linear least squares") {
    import spark.implicits._
    // noisy linear series per group so LM actually optimizes (sin noise
    // keeps the residual nonzero); two pixel groups
    val rows = for { g <- 0 to 1; i <- 1 to 20 } yield
      (new java.sql.Timestamp(i * 86400000L), g.toDouble, 0.0,
        5.0 + g + 0.5 * (i * 86400.0) + math.sin(i.toDouble) * 3.0)
    val c = Cube(rows.toDF("time", "y", "x", "value"))
    val lm = CurveFit.fitCurve(c, ScalarExpr.linear, minSamples = 12)
      .collect().map(r => r.getDouble(0) -> r.getSeq[Double](2)).toMap
    val cf = CurveFit.fitCurveLinear(c, minSamples = 12)
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
    val fitted = CurveFit.fitCurveLinear(c)
    fitted.head().getSeq[Double](2) shouldBe Seq(0.0, 0.0)
  }

  test("predict_curve evaluates the fitted model at the cube timestamps") {
    import spark.implicits._
    val rows = (1 to 20).map { i =>
      (new java.sql.Timestamp(i * 86400000L), 0.0, 0.0, 2.0 + 3.0 * (i * 86400.0))
    }
    val c = Cube(rows.toDF("time", "y", "x", "value"))
    val fitted = CurveFit.fitCurve(c, ScalarExpr.linear)
    val pred = CurveFit.predictCurve(c, fitted, ScalarExpr.linear)
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
