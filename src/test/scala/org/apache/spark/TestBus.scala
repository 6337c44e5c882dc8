package org.apache.spark

/** Drains the listener bus, so a listener read after an action has seen
  * every event the action posted. Lives in this package because
  * `SparkContext.listenerBus` is `private[spark]`. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
