package org.apache.spark

/** Access to the listener bus, which is `private[spark]`: blocks until
  * every event posted so far has reached the listeners, so a counting
  * listener reads a settled total ([[graft.tools.Spans]]). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
