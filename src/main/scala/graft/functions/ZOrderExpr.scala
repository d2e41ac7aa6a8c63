package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Z-order (Morton) multi-dimensional clustering.
  *
  * At 100 TB the dominant cost of a selective scan is how many files the
  * format's min/max statistics let Spark SKIP. Sorting by one column
  * clusters that column only; bit-interleaving several quantized columns
  * into one Morton key and range-partitioning + sorting by it bounds
  * EVERY participating column's min/max span per file (Morton 1966;
  * the same layout Delta Lake's OPTIMIZE ZORDER BY and Databricks
  * data-skipping literature describe). A filter on any clustered column
  * then prunes most files at planning time — visible as
  * `PushedFilters` + row-group skips in the parquet scan.
  *
  * [[ZValue]] is the per-row key: k pre-quantized long children (each in
  * `[0, 2^bits)`) interleaved LSB-first into one long — child 0 owns bit
  * positions {0, k, 2k, …}, child 1 owns {1, k+1, …}. Native codegen: a
  * `bits`-iteration shift/mask loop inside whole-stage codegen, no
  * boxing, no UDF.
  */
case class ZValue(children: Seq[Expression], bits: Int)
    extends Expression {

  require(children.nonEmpty, "graft_zvalue needs at least one dimension")
  require(bits >= 1 && children.length * bits <= 63,
    s"graft_zvalue: ${children.length} dims x $bits bits must fit a long")

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "graft_zvalue"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs long (pre-quantized) inputs, got " +
        children.map(_.dataType.simpleString).mkString(", "))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val k = children.length
    var acc = 0L
    var d = 0
    while (d < k) {
      val v = children(d).eval(input)
      if (v == null) return null
      val x = v.asInstanceOf[Long]
      var i = 0
      while (i < bits) {
        acc |= ((x >>> i) & 1L) << (i * k + d)
        i += 1
      }
      d += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val k = children.length
    val childGen = children.map(_.genCode(ctx))
    val acc = ctx.freshName("acc")
    val i = ctx.freshName("i")
    // literal-String interpolation: child eval snippets, the null
    // disjunction, and the unrolled per-dim interleave lines are plain
    // Java text; ev.isNull / ev.value stay ExprValues for the Block
    val evalChildren: String = childGen.map(_.code.toString).mkString("\n")
    val anyNull: String = childGen.map(_.isNull.toString).mkString(" || ")
    val interleave: String = childGen.zipWithIndex.map { case (g, d) =>
      s"$acc |= ((${g.value} >>> $i) & 1L) << ($i * $k + $d);"
    }.mkString("\n    ")
    ev.copy(code =
      code"""
        $evalChildren
        boolean ${ev.isNull} = $anyNull;
        long ${ev.value} = 0L;
        if (!${ev.isNull}) {
          long $acc = 0L;
          for (int $i = 0; $i < $bits; $i++) {
            $interleave
          }
          ${ev.value} = $acc;
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object ZOrder {
  private val name = "graft_zvalue"

  /** injectFunction payloads — SQL surface is
    * `graft_zvalue(bits, q0, q1, …)` (first argument: foldable bit
    * width). */
  val injectables: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[ZValue].getName, name),
      (children: Seq[Expression]) => {
        require(children.length >= 2,
          s"$name takes (bits, dim0[, dim1, …])")
        val bits = children.head match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _: IntegerType | _: LongType | _: ShortType | _: ByteType) =>
            v.toString.toInt
          case other => throw new IllegalArgumentException(
            s"$name: bits must be an integer literal, got $other")
        }
        ZValue(children.tail, bits)
      }))

  /** Quantize `x` from `[min, max]` onto the `[0, 2^bits)` integer grid —
    * floor((x-min)/(max-min) * 2^bits) clamped. Plain IEEE double ops in
    * a fixed order, so an external engine evaluating the same formula
    * bit-matches. */
  def quantize(x: Column, min: Double, max: Double, bits: Int): Column = {
    val n = (1L << bits).toDouble
    val raw = floor((x.cast("double") - lit(min)) / lit(max - min) * lit(n))
    least(greatest(raw, lit(0.0)), lit(n - 1.0)).cast("long")
  }

  /** Morton key column over pre-quantized long columns. */
  def zvalue(bits: Int, quantized: Column*): Column = {
    graft.GraftExtensions.registerActive()
    call_function(name, (lit(bits) +: quantized): _*)
  }

  /** Cluster a DataFrame for multi-column data skipping: range-partition
    * into `numFiles` partitions by the Morton key of the given
    * (column, min, max) dims and sort within partitions by it. Written
    * out, each file's min/max span in EVERY dim is bounded (one z-curve
    * segment), so selective filters on any dim prune files.
    *
    * Range partitioning samples the key (one extra pass over the
    * z-value projection only); at 100 TB prefer writing with a known
    * boundary list computed once and reused across ingest batches —
    * the sampling pass is the only non-linear cost here.
    */
  /** `prefixCols` (e.g. a snapshot table's partition columns) lead the
    * range key, so clustering happens WITHIN each prefix group — the
    * partitioned-table OPTIMIZE shape. */
  def clusterByZ(df: DataFrame, dims: Seq[(String, Double, Double)],
      bits: Int, numFiles: Int, prefixCols: Seq[String] = Nil): DataFrame = {
    val z = zvalue(bits,
      dims.map { case (c, lo, hi) => quantize(col(c), lo, hi, bits) }: _*)
    val keys = prefixCols.map(col) :+ col("_z")
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop("_z")
  }
}
