package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; the benchmark reads
  * its spans only after every event posted so far has been delivered.
  * The drain is `private[spark]`, hence this one-method bridge. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
