package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which is private to Spark. */
object Bus {
  /** Blocks until every event posted so far has reached every listener,
    * so that a pass's records are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
