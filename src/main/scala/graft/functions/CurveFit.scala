package graft.functions

import graft.cube.{Cube, Dim}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.catalyst.expressions.{Attribute, MutableProjection,
  NamedExpression, SpecificInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.commons.math3.fitting.leastsquares.{
  LeastSquaresBuilder, LevenbergMarquardtOptimizer}
import org.apache.commons.math3.linear.{Array2DRowRealMatrix, ArrayRealVector}

/** `fit_curve` / `predict_curve` (SURVEY.md §2.4 A9/A10).
  *
  * Reference: per-pixel nonlinear least squares over the time axis with
  * scipy.curve_fit through apply_ufunc (openeo_odc_driver.py:1506-1555),
  * model compiled from a process subgraph by string-exec codegen. Here the
  * model is a Column over the sample time and the parameters ([[Model]]);
  * predict_curve selects it, and fitting is a typed `Aggregator` that
  * evaluates the same Column, analyzed and bound to one (x, p0..pn-1) row,
  * through a Spark projection (collect the per-group series, run
  * Levenberg–Marquardt from commons-math3 with a forward-difference
  * Jacobian), so Catalyst gives the partial/final aggregation split and
  * per-group parallelism for free — each (pixel, band) group is one
  * independent fit, exactly the distribution axis the reference gets from
  * Dask chunks.
  *
  * Reference quirks preserved: time is converted to Unix seconds
  * (openeo_odc_driver.py:1541-1543); zero values are masked out; groups
  * with < 12 usable samples yield all-zero parameters
  * (openeo_odc_driver.py:1532-1536).
  */
object CurveFit {

  final case class Sample(x: Double, v: Double)

  /** A model of `nParams` parameters: `at(x, p)` is its Column for the
    * sample time `x` (Unix seconds), with `p(i)` bound to parameter i. */
  final case class Model(nParams: Int, at: (Column, Int => Column) => Column)

  /** The line a0 + a1·x (closed-form checkable against SQL regr_*). */
  val linear: Model = Model(2, (x, p) => p(0) + p(1) * x)

  /** The sample time: the time label in Unix seconds. */
  private def seconds: Column = unix_timestamp(col(Dim.Time)).cast("double")

  /** Fits `model`, an analyzed Column over the `input` row (x, p0..pn-1),
    * to each group's samples. */
  final class FitAgg(model: NamedExpression, input: Seq[Attribute],
      minSamples: Int) extends Aggregator[Sample, Seq[Sample], Seq[Double]] {
    private val n = input.length - 1
    /** The model as a function of (x, p): generated code, or the
      * interpreted projection where codegen is off or fails. */
    @transient private lazy val eval: (Double, Array[Double]) => Double = {
      val proj = MutableProjection.create(Seq(model), input)
        .target(new SpecificInternalRow(Seq(DoubleType)))
      val row = new SpecificInternalRow(input.map(_.dataType))
      (x, p) => {
        row.setDouble(0, x)
        var i = 0
        while (i < n) { row.setDouble(i + 1, p(i)); i += 1 }
        val out = proj(row)
        if (out.isNullAt(0)) Double.NaN else out.getDouble(0)
      }
    }
    def zero: Seq[Sample] = Vector.empty
    def reduce(b: Seq[Sample], s: Sample): Seq[Sample] =
      if (s.v == 0.0 || s.v.isNaN) b else b :+ s // zero-mask like the reference
    def merge(a: Seq[Sample], b: Seq[Sample]): Seq[Sample] = a ++ b
    def finish(samples: Seq[Sample]): Seq[Double] =
      if (samples.length < minSamples) Vector.fill(n)(0.0)
      else fit(eval, n, samples.toArray).toVector
    def bufferEncoder: Encoder[Seq[Sample]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Sample]]()
    def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** LM fit of the `n`-parameter `model(x, p)` with numeric Jacobian;
    * p0 = all ones (scipy curve_fit default). */
  def fit(model: (Double, Array[Double]) => Double, n: Int,
      samples: Array[Sample]): Array[Double] = {
    val xs = samples.map(_.x); val ys = samples.map(_.v)
    val problem = new LeastSquaresBuilder()
      .start(Array.fill(n)(1.0))
      .target(ys)
      .model { p =>
        val params = p.toArray
        val values = xs.map(model(_, params))
        val jac = Array.ofDim[Double](xs.length, n)
        val h = 1e-7
        var j = 0
        while (j < n) {
          val pj = params.clone(); pj(j) += h
          var i = 0
          while (i < xs.length) {
            jac(i)(j) = (model(xs(i), pj) - values(i)) / h; i += 1
          }
          j += 1
        }
        org.apache.commons.math3.util.Pair.create(
          new ArrayRealVector(values): org.apache.commons.math3.linear.RealVector,
          new Array2DRowRealMatrix(jac): org.apache.commons.math3.linear.RealMatrix)
      }
      .maxEvaluations(1000).maxIterations(1000)
      .build()
    try new LevenbergMarquardtOptimizer().optimize(problem)
      .getPoint.toArray
    catch { case _: Exception => Array.fill(n)(0.0) }
  }

  /** fit_curve over a cube: reduces the time dimension to a `params` array
    * column per remaining key. */
  def fitCurve(c: Cube, model: Model, minSamples: Int = 12): DataFrame = {
    require(c.has(Dim.Time), "fit_curve needs a time dimension")
    // the model analyzed over an empty (x, p0..pn-1) relation
    val input = StructType(("x" +: (0 until model.nParams).map("p" + _))
      .map(StructField(_, DoubleType, nullable = false)))
    val analyzed = Bridge.planOf(c.df.sparkSession
      .createDataFrame(java.util.List.of[Row](), input)
      .select(model.at(col("x"), i => col(s"p$i")).cast("double")))
    val agg = analyzed match {
      case Project(Seq(m), relation) =>
        udaf(new FitAgg(m, relation.output, minSamples))
      case other => throw new IllegalStateException(s"model plan: $other")
    }
    val keep = c.dimsExcept(Dim.Time).map(col)
    // udaf() flattens the Sample case-class encoder into two double params
    c.df.groupBy(keep: _*)
      .agg(agg(seconds, col(Cube.ValueCol).cast("double")).as("params"))
  }

  /** predict_curve: evaluate the model at the cube's timestamps using the
    * fitted params (join on the non-time dims; params side is small after
    * reduction → broadcast-eligible). */
  def predictCurve(c: Cube, params: DataFrame, model: Model): Cube = {
    val keys = params.columns.toSeq.filter(Dim.All.contains)
    val joined = c.df.join(params, keys, "left")
    c.withDF(joined
      .withColumn(Cube.ValueCol,
        model.at(seconds, i => element_at(col("params"), i + 1)))
      .drop("params"))
  }
}
