package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; plan-shape tests wait until it
 *  has delivered every event of an action before they count jobs. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
