package org.apache.spark

/** Access to the listener bus, which is private to Spark. The task-metrics
  * ledger waits on it so that every event a finished query posted has been
  * delivered before the ledger's counters are read or reset.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
