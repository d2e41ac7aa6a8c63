package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway this library needs: constructing a
  * DataFrame from a custom [[LogicalPlan]] node
  * (`classic.Dataset.ofRows`) — required to surface a library-defined
  * logical operator ([[graft.plans.AsofJoinPlan]]) through the public
  * Dataset API. Isolated in this package-bridge file so every other
  * source stays on public Spark API; the standard technique Spark
  * ecosystem extensions use for exactly this purpose. */
object Bridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Catalyst [[org.apache.spark.sql.catalyst.expressions.Expression]]
    * → public [[org.apache.spark.sql.Column]] (`classic.ExpressionUtils
    * .column`) — needed by the SQL UPDATE/MERGE analyzer bridge, which
    * receives analyzed expressions and re-issues them against the
    * engine's own scan. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The inverse of [[column]]: a native expression can take Column
    * inputs without registering a SQL function name. */
  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** A DataFrame's analyzed logical plan — needed by table-valued
    * function builders, which must return a [[LogicalPlan]] for the
    * relation a DataFrame already describes. */
  def planOf(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** The Dataset a streaming [[org.apache.spark.sql.execution
    * .streaming.Sink]] receives in `addBatch` carries the micro-batch
    * INCREMENTAL plan — re-planning it through a fresh write would
    * re-execute (or reject) the streaming sources. Re-anchor it as a
    * plain batch DataFrame over the executed RDD — exactly what
    * Spark's own ForeachBatchSink does before handing the user their
    * batch DF. */
  def rebatch(data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row])
      : DataFrame = {
    val classic =
      data.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val node = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      classic.queryExecution.toRdd, classic, isStreaming = false)
    org.apache.spark.sql.classic.Dataset.ofRows(
      classic.sparkSession, node)
  }
}
