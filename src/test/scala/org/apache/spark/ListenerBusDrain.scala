package org.apache.spark

/** Lets a spec wait until every posted listener event was delivered
  * instead of sleeping; the listener bus is private to Spark's own
  * package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
