package org.apache.spark

/** Test access to the listener bus, which is `private[spark]`: blocks
  * until every event posted so far has reached the listeners, so a
  * counting listener reads a settled total. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
