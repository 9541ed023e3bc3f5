package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run must
  * see every event before it aggregates, and the bus's drain call is
  * package-private to Spark. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
