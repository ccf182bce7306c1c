package org.apache.spark

/** Bridge into the `private[spark]` listener bus: waits until every event
  * posted so far has reached every listener. Job counters read after
  * [[drain]] see every job the preceding action started, with no fixed
  * sleep (listener events arrive asynchronously). */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
