package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graft.Bridge.{column, expression}

/** Column access to Spark's own Bloom-filter expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the machinery
  * behind runtime row-level join filtering, registered here under graft
  * names because Spark does not expose them as public SQL functions).
  *
  * The intended shape (see [[graft.text.Dedup.decontaminateBloom]]):
  * aggregate a BOUNDED key set into a filter once, collect the sketch
  * bytes to the driver, and embed them as a binary LITERAL in a probe
  * expression — `might_contain` requires a constant filter, and a
  * literal keeps the probe a pure codegen projection (streaming-safe,
  * no join, no shuffle). */
object BloomExprs {

  /** injectFunction payloads — see [[graft.GraftExtensions]]. */
  val injectables: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (cs: Seq[Expression]) =>
        new BloomFilterAggregate(cs(0), cs(1), cs(2))
          .toAggregateExpression()),
    (FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        "graft_might_contain"),
      (cs: Seq[Expression]) => BloomFilterMightContain(cs(0), cs(1))))

  /** Aggregate LONG keys into a Bloom filter (binary sketch). */
  def bloomAgg(value: Column, estimatedItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(expression(value),
      Literal(estimatedItems), Literal(numBits)).toAggregateExpression())

  /** Membership probe; `bloom` must be a constant (binary literal). A
    * non-constant sketch is rejected HERE with a typed graft error —
    * Spark's own check only fires at analysis time, far from the call
    * site and with an opaque message. The check is structural and needs
    * no session: with aliases stripped, the expression must be foldable,
    * which accepts lit(bytes) under foldable wrappers (cast, alias) and
    * rejects attribute references. */
  def mightContain(bloom: Column, value: Column): Column = {
    val constant = org.apache.spark.sql.graft.Bridge.converted(bloom)
      .transformUp { case a: Alias => a.child }.foldable
    if (!constant)
      throw graft.OpenEoError("BloomNotConstant",
        "mightContain needs a constant bloom sketch: collect the " +
          "aggregated sketch bytes and pass lit(bytes) (see " +
          "Dedup.decontaminateBloom)")
    column(BloomFilterMightContain(expression(bloom), expression(value)))
  }
}
