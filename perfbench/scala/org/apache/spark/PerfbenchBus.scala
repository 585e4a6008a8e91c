package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * counters a listener gathered for an operation are complete before
  * they are read. `listenerBus` is Spark-internal, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
