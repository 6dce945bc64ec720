package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer needs, reached from Spark's own
  * package: draining the listener bus before spans are read, and the
  * QueryPlanningTracker of a finished SQL execution (the same object
  * a QueryExecutionListener receives).
  */
object PerfbenchAccess {
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** phase name → (start ms, end ms), epoch clock */
  def planningPhases(e: SparkListenerSQLExecutionEnd): Map[String, (Long, Long)] =
    Option(e.qe).map(_.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs, v.endTimeMs) }).getOrElse(Map.empty)
}
