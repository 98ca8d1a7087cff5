package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The listener-bus internals a profile run needs, which are
  * package-private: draining the bus, so that every event posted so far
  * has reached its listeners, counting the registered listeners, and the
  * `QueryExecution` an SQL execution's end event carries. */
object ListenerBridge {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def count(spark: SparkSession): Int = spark.sparkContext.listenerBus.listeners.size

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
