package org.apache.spark.citybench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so that
  * counters read at the end of a window include the window's last events. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
