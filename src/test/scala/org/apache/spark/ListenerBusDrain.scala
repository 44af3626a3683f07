package org.apache.spark

/** Blocks until every posted listener event has been delivered, so a
  * spec's listener has seen every job and task of the action it wraps.
  * The bus is Spark-private; hence the package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
