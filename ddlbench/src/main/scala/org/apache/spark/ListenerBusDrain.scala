package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run waits
  * for it to drain before it reads a span's counters. `listenerBus` is
  * package-private, hence this one-line bridge. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
