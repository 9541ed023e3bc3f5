package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a spec that counts
  * jobs must see every event first, and the bus's drain call is
  * package-private to Spark. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
