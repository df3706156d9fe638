package org.apache.spark

/** Listener-bus access the public API does not give: the traced run
  * drains the bus before it reads the listeners' aggregates, so every
  * event of a finished span has been counted. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
