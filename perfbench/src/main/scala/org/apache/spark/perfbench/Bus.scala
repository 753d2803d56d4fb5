package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is package-private to Spark. */
object Bus {
  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
