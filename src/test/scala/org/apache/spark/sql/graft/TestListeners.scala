package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Listener events reach the status store asynchronously; a spec that
  * reads job counts from `sc.statusTracker` drains the bus first.
  */
object TestListeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
