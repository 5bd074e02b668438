package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two engine internals the benchmark's listener needs and Spark keeps
  * package-private: the QueryExecution carried by an execution-end event
  * (for Catalyst phase times) and draining the listener bus before the
  * counters are read.
  */
object SqlBridge {
  /** Catalyst phase durations (ms) of the execution that just ended. */
  def phases(e: SparkListenerSQLExecutionEnd): Map[String, Long] =
    Option(e.qe).map(_.tracker.phases.map { case (k, v) => k -> v.durationMs }).getOrElse(Map.empty)

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
