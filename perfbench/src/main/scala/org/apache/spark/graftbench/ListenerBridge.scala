package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; stage metrics are read only
  * after the bus has delivered everything posted so far. The bus is
  * package-private to Spark, hence this bridge. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
