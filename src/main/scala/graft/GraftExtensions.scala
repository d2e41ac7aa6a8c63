package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

/** The one way graft extends a session: at session build. Every entry
  * point builds its session through [[GraftSession.tuned]], which applies
  * this; a cluster deployment names it in the Spark conf:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * It registers the graft_* SQL function names, the snapshot table-valued
  * functions, the as-of join strategy, the band-join rule, the SQL DML
  * rule and the literal parameterization. Nothing else writes into a
  * session: a session built without it has none of these. After it,
  * `spark.sql("SELECT graft_dot(a, b) ...")`, `graft_simhash_text`,
  * `graft_minhash_text`, `graft_bloom_agg`, … are plain SQL, usable from
  * a pure-SQL client (JDBC/Thrift, notebooks) with no Scala imports.
  *
  * The Column API ([[graft.functions]]) needs no registration: each of
  * its functions builds its Catalyst expression directly, so it works on
  * any session. The SQL builders here build the same expressions (the
  * ExtensionsSpec law), so both front doors share one implementation.
  * This mirrors how the reference exposes one process registry
  * (`openeo_odc_driver.py`'s process dispatch): one table of named
  * operations behind its front door. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functionInjections.foreach(ext.injectFunction)
    // table-valued functions: SQL CDC consumption without the
    // option-based reader (the Delta table_changes face)
    functions.SnapshotTableFunctions.injectables
      .foreach(ext.injectTableFunction)
    // optimizer rules: declarative band joins plan as binned equi-joins
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRule)
    // planner strategies: the custom as-of join physical operator
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // SQL row-level DML on snapshot tables: UPDATE / MERGE INTO route
    // into the CoW commit protocol (the Delta V1-command-fallback
    // architecture — see graft.plans.SnapshotDmlRule)
    ext.injectPostHocResolutionRule(s => graft.plans.SnapshotDmlRule(s))
    // physical plans: per-request constants become generated-code
    // parameters, right before whole-stage codegen, with and without
    // adaptive execution (see graft.plans.ParameterizeLiterals)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] =
        graft.plans.ParameterizeLiterals
    })
  }
}

object GraftExtensions {

  /** Every graft_* function as a SparkSessionExtensions injectFunction
    * payload. */
  val functionInjections: Seq[(
      org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] =
    functions.TextHashExprs.injectables ++
      functions.BloomExprs.injectables ++
      functions.BitmapExprs.injectables ++
      functions.GeoExprs.injectables ++
      functions.DotProduct.injectables ++
      functions.ZOrder.injectables ++
      functions.UnicodeExprs.injectables ++
      functions.IvfExprs.injectables
}
