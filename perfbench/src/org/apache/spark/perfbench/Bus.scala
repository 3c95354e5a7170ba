package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the traced run reads
  * its listener's totals only after every posted event has been
  * handled. `listenerBus` is package-private to `org.apache.spark`. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
