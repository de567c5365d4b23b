package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark members the tracer reads. */
object PlayBenchSql {

  /** Planning phases (ms) of the query an execution-end event belongs to. */
  def phasesMs(e: SparkListenerSQLExecutionEnd): Map[String, Long] =
    Option(e.qe).map(_.tracker.phases.map { case (k, v) => k -> v.durationMs }).getOrElse(Map.empty)

  /** Wait until every event posted so far reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
