package org.apache.spark.graftglue

import org.apache.spark.SparkContext

/** Test access to the listener bus: listener events are posted
  * asynchronously, so a counting listener is read only after a drain. */
object ListenerGlue {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
