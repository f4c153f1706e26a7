package org.apache.spark

/** Access to the listener bus, which is private to Spark. The tracer drains
  * it at the end of every span so that all events a span caused are
  * attributed before the next span starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
