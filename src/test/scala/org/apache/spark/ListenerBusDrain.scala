package org.apache.spark

/** Lets a spec wait until every posted listener event was delivered
  * instead of sleeping; the listener bus is private to Spark's own
  * package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Whether a stage writes shuffle output (a shuffle-map stage); the
    * dependency id that tells is private to Spark's own package too.
    */
  def isShuffleMap(stage: org.apache.spark.scheduler.StageInfo): Boolean =
    stage.shuffleDepId.isDefined
}
