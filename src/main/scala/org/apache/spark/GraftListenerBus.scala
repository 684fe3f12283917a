package org.apache.spark

/** Bridge to the `private[spark]` listener-bus drain, so a meter can read
  * complete task metrics once a measured body returns instead of
  * sleeping and hoping the asynchronous bus has caught up.
  */
object GraftListenerBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
