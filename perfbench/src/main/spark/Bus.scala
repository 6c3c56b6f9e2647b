package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; this lives in its package only to
  * wait until every posted event has reached the listeners. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
