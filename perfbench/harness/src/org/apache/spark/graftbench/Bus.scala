package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; `listenerBus` is
  * `private[spark]`, hence this package.
  */
object Bus {
  /** Blocks until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
