package org.apache.spark.perfbenchglue

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Glue {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
