package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the traced run needs: listener events
  * arrive asynchronously, so per-op attribution waits for the bus to
  * drain before it reads what the listeners recorded.
  */
object Bridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
