package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Drains Spark's asynchronous listener bus. `listenerBus` is package-
  * private to `org.apache.spark`, so this one call lives here. */
object BusSettle {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
