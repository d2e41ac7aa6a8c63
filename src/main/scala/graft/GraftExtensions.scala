package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Session-build registration of every graft native SQL function — the
  * cluster-deployment surface:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * After which `spark.sql("SELECT graft_dot(a, b) ...")`,
  * `graft_simhash_text`, `graft_minhash_text`, `graft_bloom_agg`, … are
  * plain SQL — the whole native-Expression tier becomes usable from a
  * pure-SQL client (JDBC/Thrift, notebooks) with no Scala imports.
  *
  * The payloads are the SAME (identifier, info, builder) triples the
  * Column API registers lazily on first use ([[graft.functions]]), so
  * SQL-surface and Column-surface calls resolve to the identical
  * Catalyst expressions — same codegen, same semantics, one
  * implementation. This mirrors how the reference exposes one process
  * registry over HTTP (`/root/reference/openeo_odc_driver/
  * openeo_odc_driver.py` process dispatch): one table of named
  * operations, multiple front doors. */
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

  /** Register everything on a LIVE session (the extensions path only
    * applies at session build): the functions, the table-valued
    * functions, the as-of join strategy and the band-join rule.
    * Idempotent. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functionInjections.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id))
        registry.registerFunction(id, info, builder)
    }
    val tvfRegistry = spark.sessionState.tableFunctionRegistry
    functions.SnapshotTableFunctions.injectables.foreach {
      case (id, info, builder) =>
        if (!tvfRegistry.functionExists(id))
          tvfRegistry.registerFunction(id, info, builder)
    }
    // the planner's strategy list holds both the extension-injected and
    // the experimental strategies: a session built with these extensions
    // already plans (and optimizes) with both, and is left alone
    if (!spark.sessionState.planner.strategies
        .exists(_ eq plans.AsofJoinStrategy)) {
      spark.experimental.extraStrategies :+= plans.AsofJoinStrategy
      if (!spark.experimental.extraOptimizations.contains(plans.BandJoinRule))
        spark.experimental.extraOptimizations :+= plans.BandJoinRule
    }
  }

  /** The Column API's registration: every graft_* Column function calls
    * this before `call_function`, so the functions resolve on any active
    * session, built with these extensions or not. */
  private[graft] def registerActive(): Unit =
    SparkSession.getActiveSession.foreach(registerAll)
}
