package graft.streaming

/** Process-global commit telemetry of the keyed stores, the manifest
  * maintainer and the CDC loop, drained by `graft.Bench`. A stop-gap: the
  * maps are JVM-wide, so two writers in one process mix their numbers;
  * per-instance commit records are to replace them.
  */
object StoreTelemetry {
  /** Cumulative per-phase seconds (merge_write = fold compute + generation
    * IO, swap = commit PUT/fsyncs, compact) — nearly-free counters the
    * stream benchmark drains so a regression in the 100 TB-critical loop
    * localizes to a phase without re-profiling (VERDICT r7 #6).
    */
  private val phaseSeconds =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private[streaming] def addPhase(name: String, sec: Double): Unit =
    phaseSeconds.merge(name, sec, (a, b) => a + b)
  /** Snapshot and reset the accumulated phase seconds. */
  def drainPhases(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val out = phaseSeconds.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    phaseSeconds.clear()
    out
  }

  /** Cumulative CONTENTION counters (r18, VERDICT r17 #2): commit-slot
    * conflicts absorbed by the shared optimistic retry
    * ([[graft.util.ManifestLog.commit]]) and
    * maintenance races the [[CdcStreamJob]] policy path turns into
    * no-ops. The stores absorb both silently by design — counting them
    * lets a bench entry SELF-DISPOSITION a slow run (elevated conflicts →
    * in-sweep contention, not a code regression) instead of needing an
    * isolated re-run for forensics.
    */
  private val eventCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[graft] def addCount(name: String, n: Long = 1L): Unit =
    eventCounts.merge(name, n, (a, b) => a + b)
  /** Snapshot and reset the accumulated contention counters. */
  def drainCounts(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val out = eventCounts.asScala.map { case (k, v) => k -> v.longValue }.toMap
    eventCounts.clear()
    out
  }
}
