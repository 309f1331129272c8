package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the traced run reads. They are package-private
  * in Spark, so this accessor lives under `org.apache.spark.sql`.
  */
object Internals {

  /** Block until every listener event posted so far has been delivered,
    * so the events of one op are attributed before the next op starts.
    */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** Planning time of one finished SQL execution: the sum of its
    * `QueryExecution.tracker` phases (analysis, optimization, planning).
    */
  def planningMs(e: SparkListenerSQLExecutionEnd): Double =
    Option(e.qe).map(_.tracker.phases.values
      .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum).getOrElse(0.0)
}
