package org.apache.spark

/** Listener events reach listeners asynchronously; specs that count jobs
  * read their listener only after every event posted so far has been
  * delivered. The drain is `private[spark]`, hence this bridge. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
