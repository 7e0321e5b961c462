package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is package-private; the tracer needs to wait for it to
  * deliver every job and task event before it reads its counts. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
