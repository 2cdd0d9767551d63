package org.apache.spark.graftperf

import org.apache.spark.SparkContext

/** Waits until every listener queue of `sc` is empty, so counts read
  * after it cover every event posted before the call. The bus is
  * `private[spark]`, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
