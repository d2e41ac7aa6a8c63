package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

object TestSessions {
  /** A session on `spark`'s SparkContext (so the same confs) built with no
    * session extension: no graft_* SQL names, table-valued functions,
    * strategies or rules — only what the Column API builds directly. */
  def withoutExtensions(spark: SparkSession): SparkSession =
    new org.apache.spark.sql.classic.SparkSession(spark.sparkContext)
}
