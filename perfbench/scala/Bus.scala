package org.apache.spark

/** The listener bus is `private[spark]`; the traced run drains it after each
  * phase so every job, task and query-execution event of that phase has
  * been delivered before the next phase starts. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
