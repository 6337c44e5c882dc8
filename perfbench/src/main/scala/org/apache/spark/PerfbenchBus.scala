package org.apache.spark

/** Drains the listener bus, so counters read after an action include
  * every event the action posted (a fixed sleep undercounts). Lives in
  * this package because `SparkContext.listenerBus` is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
