package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so the
  * traced run reads complete per-op task metrics. The bus is
  * `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
