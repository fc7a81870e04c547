package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a spec that reads a
  * listener's counters right after an operation must first let the bus
  * drain. The drain call is Spark-internal, hence this one-method bridge.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
