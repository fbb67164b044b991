package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * test listener has seen all jobs and query executions before it is
  * read. The bus is package-private to Spark. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
