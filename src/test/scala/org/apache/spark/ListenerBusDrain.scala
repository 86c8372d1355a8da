package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * event posted so far has reached its listeners, so a listener's
  * counters are complete when a spec reads them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
