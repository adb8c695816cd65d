package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so counter
  * snapshots taken at a span boundary include the work the span ran.
  * `listenerBus` is package-private to `org.apache.spark`, hence this
  * package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
