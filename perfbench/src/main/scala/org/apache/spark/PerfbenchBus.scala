package org.apache.spark

/** Lets the benchmark wait until every posted listener event was
  * delivered; the listener bus is private to Spark's own package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
