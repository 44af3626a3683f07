package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a
  * traced op's jobs, tasks and query executions are all recorded before
  * its spans are attributed. The bus is Spark-private; hence the package.
  */
object ListenerBusHook {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
