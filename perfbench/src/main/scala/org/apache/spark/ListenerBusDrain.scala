package org.apache.spark

/** The listener bus delivers events on its own thread; the traced run
  * waits for it to catch up before it reads its counters. The wait is
  * `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
