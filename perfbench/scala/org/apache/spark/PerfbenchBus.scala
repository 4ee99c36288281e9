package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so an
  * operation's counters are complete before the next one starts. Lives in
  * Spark's package because `listenerBus` is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
