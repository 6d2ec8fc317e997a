package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.QueryExecution

/** The two Spark calls the trace needs that Spark keeps package-private. */
object SparkInternals {

  /** Block until every event posted so far has reached every listener, so
    * the trace read after a pass holds all of that pass's events. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A frame over an already executed query, so plan inspection written
    * against frames (`graft.engine.PlanNodes`) can read its final plan. */
  def frameOf(qe: QueryExecution): DataFrame =
    new org.apache.spark.sql.classic.Dataset[Row](qe, Encoders.row(qe.analyzed.schema))
}
