package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps private[spark]. */
object ListenerBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
