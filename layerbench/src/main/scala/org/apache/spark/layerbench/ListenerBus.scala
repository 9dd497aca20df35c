package org.apache.spark.layerbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on a background thread; a span is only
  * closed once every event its work posted has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
