package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a probe that reads its
  * counters right after an operation must first let the bus drain. The
  * drain call is Spark-internal, hence this one-method bridge.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
