package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

object TestSessions {
  /** A session on `spark`'s SparkContext (so the same confs) built with no
    * session extension: none of graft's planner or physical-plan rules,
    * with the graft functions and strategies registered on the live
    * session (`GraftExtensions.registerAll`). */
  def withoutExtensions(spark: SparkSession): SparkSession = {
    val s = new org.apache.spark.sql.classic.SparkSession(spark.sparkContext)
    graft.GraftExtensions.registerAll(s)
    s
  }
}
