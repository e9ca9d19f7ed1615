package org.apache.spark

/** Waits until every queued listener event has been delivered, so span
  * metrics read after an op include all of the op's task-end events. The
  * listener bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
