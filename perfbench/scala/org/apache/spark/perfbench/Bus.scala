package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the traced run drains the bus
  * before reading its counters so each count lands on the operation that
  * caused it. `listenerBus` is package-private to `org.apache.spark`. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
