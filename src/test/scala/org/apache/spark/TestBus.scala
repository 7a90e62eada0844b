package org.apache.spark

/** The listener bus is `private[spark]`: drain it so every event posted so
  * far has reached the registered listeners. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
