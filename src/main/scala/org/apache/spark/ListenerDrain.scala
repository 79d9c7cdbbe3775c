package org.apache.spark

/** Drains the listener bus, so that the events of a finished call have
  * reached every listener before its counters are read.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
