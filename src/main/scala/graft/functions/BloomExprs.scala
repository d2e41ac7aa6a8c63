package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

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
  def bloomAgg(value: Column, estimatedItems: Long, numBits: Long): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_bloom_agg", value,
      lit(estimatedItems), lit(numBits))
  }

  /** Membership probe; `bloom` must be a constant (binary literal). A
    * non-constant sketch is rejected HERE with a typed graft error —
    * Spark's own check only fires at analysis time, far from the call
    * site and with an opaque message. */
  def mightContain(bloom: Column, value: Column): Column = {
    graft.GraftExtensions.registerActive()
    // structural check: analyze the column against a one-row relation and
    // ask the resolved Catalyst expression for foldability — accepts
    // lit(bytes) and anything Spark would constant-fold over it
    // (cast/alias), survives internal package renames, and rejects
    // attribute references (they fail resolution against the dummy
    // relation or resolve non-foldable). Driver-side, one tiny analyzer
    // pass, on a path called once per probe construction.
    val session = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
    val constant = session match {
      case Some(s) =>
        // only AnalysisException means "not a constant" (attribute refs
        // fail resolution against the dummy relation); any other failure
        // is environmental and must surface, not masquerade as
        // BloomNotConstant with a misleading message
        try {
          s.range(1).select(bloom.as("b"))
            .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
            .queryExecution.analyzed.expressions.collectFirst {
              case a: org.apache.spark.sql.catalyst.expressions.Alias =>
                a.child.foldable
            }.getOrElse(false)
        } catch {
          case _: org.apache.spark.sql.AnalysisException => false
        }
      // no session yet (column built before any Spark work): accept a
      // raw literal node; wrapped constants need the analyzer to judge
      case None =>
        bloom.node.getClass.getName ==
          "org.apache.spark.sql.internal.Literal"
    }
    if (!constant)
      throw graft.OpenEoError("BloomNotConstant",
        "mightContain needs a constant bloom sketch: collect the " +
          "aggregated sketch bytes and pass lit(bytes) (see " +
          "Dedup.decontaminateBloom)")
    call_function("graft_might_contain", bloom, value)
  }
}
