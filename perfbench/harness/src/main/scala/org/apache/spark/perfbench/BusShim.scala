package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus has no public flush; the traced run needs every event
  * of a query delivered before it closes that query's spans. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
