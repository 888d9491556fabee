package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import graft.streaming.{KeyedUpsertStore, ManifestUpsertStore, TxidLedger}

/** Process-level probes the spans read at their boundaries. */
object Jvm {
  private val gcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans

  /** Cumulative collection time of every collector, in nanoseconds. */
  def gcNanos(): Long = {
    var ms = 0L
    gcBeans.forEach(b => ms += math.max(0L, b.getCollectionTime))
    ms * 1000000L
  }

  private def procField(file: String, field: String): Long = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().collectFirst {
      case l if l.startsWith(field + ":") =>
        l.stripPrefix(field + ":").trim.split("\\s+")(0).toLong
    }.getOrElse(0L)
    finally src.close()
  }

  /** Bytes this process passed to write calls (`wchar`): what it asked
    * to write, whenever the page cache writes it back.
    */
  def writeBytes(): Long = procField("/proc/self/io", "wchar")

  /** CPU time of this process, in nanoseconds. */
  def cpuNanos(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  /** Time the JIT compilers spent so far, in milliseconds. */
  def jitMillis(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Time the hypervisor ran something else on this machine's CPUs, summed
    * over the CPUs, in clock ticks (`steal` of `/proc/stat`).
    */
  def stealTicks(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").lift(8).fold(0L)(_.toLong)
    finally src.close()
  }

  /** Written only by the thread that delivers GC notifications. */
  @volatile private var heapAfterGcPeak = 0L

  /** Starts recording the heap in use right after each collection. */
  def watchHeap(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .toArray(Array.empty[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          var used = 0L
          info.getGcInfo.getMemoryUsageAfterGc.forEach { (pool, u) =>
            if (heapPools(pool)) used += u.getUsed
          }
          heapAfterGcPeak = math.max(heapAfterGcPeak, used)
        }
    }
    gcBeans.forEach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** The most heap in use after any collection so far plus the non-heap
    * (metaspace, code cache) in use now, in MB.
    */
  def peakLiveMb(): Double = (heapAfterGcPeak + java.lang.management
    .ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed) / 1024.0 / 1024.0
}

/** One closed span on the tracer's nanosecond clock. `gcNs` and
  * `writeBytes` are inclusive of the span's children.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long,
    end: Long, gcNs: Long = 0L, writeBytes: Long = 0L,
    failed: Boolean = false) {
  def wall: Long = end - start
}

/** In-memory span recorder for the single driver thread. While disabled
  * it runs the body and records nothing. Each open span is published as
  * the Spark local property [[Tracer.SpanProp]], so the jobs it submits
  * carry its id to [[SpanListener]].
  */
final class Tracer(sc: Option[SparkContext]) {
  var enabled = false
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1

  /** Offset from the tracer clock to epoch nanoseconds (Spark's clock). */
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      sc.foreach(_.setLocalProperty(Tracer.SpanProp, id.toString))
      val gc0 = Jvm.gcNanos()
      val w0 = Jvm.writeBytes()
      val t0 = System.nanoTime()
      var failed = true
      try { val r = body; failed = false; r }
      finally {
        val t1 = System.nanoTime()
        closed += Span(id, parent, name, t0, t1, Jvm.gcNanos() - gc0,
          Jvm.writeBytes() - w0, failed)
        open = open.tail
        sc.foreach(_.setLocalProperty(Tracer.SpanProp,
          if (parent == 0) null else parent.toString))
      }
    }

  def spans: IndexedSeq[Span] = closed.toIndexedSeq
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Spark work attributed to one span: the innermost open span when the
  * job was submitted.
  */
final case class SparkWork(jobs: Int = 0, stages: Int = 0, taskNs: Long = 0L,
    shuffleBytes: Long = 0L, inputBytes: Long = 0L, spillBytes: Long = 0L,
    jobIntervalsNs: List[(Long, Long)] = Nil)

/** Attributes jobs, stages, task time, shuffle, input and spill bytes to
  * the span id carried by each job's [[Tracer.SpanProp]] local property.
  */
final class SpanListener(epochOffsetNs: Long) extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  private val work = mutable.HashMap.empty[Int, SparkWork]

  private def update(span: Int)(f: SparkWork => SparkWork): Unit =
    work(span) = f(work.getOrElse(span, SparkWork()))

  private def clock(epochMs: Long): Long = epochMs * 1000000L - epochOffsetNs

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(0)
    jobSpan(e.jobId) = (span, clock(e.time))
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, start) =>
      update(span)(w => w.copy(jobs = w.jobs + 1,
        jobIntervalsNs = (start, clock(e.time)) :: w.jobIntervalsNs))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val span = stageSpan.getOrElse(e.stageInfo.stageId, 0)
      update(span)(w => w.copy(stages = w.stages + 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val span = stageSpan.getOrElse(e.stageId, 0)
      update(span)(w => w.copy(
        taskNs = w.taskNs + m.executorRunTime * 1000000L,
        shuffleBytes = w.shuffleBytes + m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead,
        inputBytes = w.inputBytes + m.inputMetrics.bytesRead,
        spillBytes = w.spillBytes + m.diskBytesSpilled))
    }
  }

  /** Work per span id; call after the listener bus drained. */
  def snapshot(): Map[Int, SparkWork] = synchronized(work.toMap)
}

/** Per-span figures derived from the spans and the Spark work. */
final case class SpanFigures(span: Span, selfNs: Long, driverNs: Long,
    work: SparkWork)

object TraceMath {

  /** Total length of the union of intervals, each clipped to `[lo, hi)`. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time is the span's wall minus the part its children cover;
    * driver time is the self part during which none of the span's own
    * Spark jobs ran.
    */
  def figures(spans: Seq[Span], work: Map[Int, SparkWork]): Seq[SpanFigures] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      val w = work.getOrElse(s.id, SparkWork())
      val self = s.wall - unionLength(kids, s.start, s.end)
      val busy = unionLength(kids ++ w.jobIntervalsNs, s.start, s.end)
      SpanFigures(s, self, s.wall - busy, w)
    }
  }

  /** Share of `[lo, hi)`, in percent, spent inside the layer spans: the
    * spans directly under the roots that lie in the interval. Harness work
    * inside an op or between ops lowers it.
    */
  def coveragePct(spans: Seq[Span], lo: Long, hi: Long): Double = {
    val roots = spans.filter(s => s.parent == 0 && s.start >= lo && s.end <= hi)
    val children = spans.groupBy(_.parent)
    val layerNs = roots.map(r => unionLength(
      children.getOrElse(r.id, Nil).map(c => (c.start, c.end)), r.start, r.end)).sum
    if (hi <= lo) 0.0 else 100.0 * layerNs / (hi - lo)
  }

  /** Every span id under (and including) each root. */
  def descendants(spans: Seq[Span]): Map[Int, Set[Int]] = {
    val children = spans.groupBy(_.parent).map { case (k, v) => k -> v.map(_.id) }
    def walk(id: Int): Set[Int] =
      children.getOrElse(id, Nil).foldLeft(Set(id))((acc, c) => acc ++ walk(c))
    spans.filter(_.parent == 0).map(r => r.id -> walk(r.id)).toMap
  }
}

/** A [[KeyedUpsertStore]] that delegates to a [[ManifestUpsertStore]] and
  * records one span per call, named after the engine layer it enters.
  * The reads outside the trait are traced here too, forced with a collect
  * inside their span so the span holds the read's Spark work.
  */
final class TracedStore(val inner: ManifestUpsertStore, tracer: Tracer)
    extends KeyedUpsertStore {
  private def t[T](method: String)(body: => T): T =
    tracer.span(s"streaming.ManifestUpsertStore.$method")(body)

  def initialize(initialLoad: DataFrame): Unit =
    t("initialize")(inner.initialize(initialLoad))
  def merge(folded: DataFrame): Unit = t("merge")(inner.merge(folded))
  def snapshot(): DataFrame = inner.snapshot() // a lazy plan; its reader pays
  def feedVersion: Long = inner.feedVersion
  def changesBetween(from: Long, to: Long): DataFrame =
    t("changesBetween")(inner.changesBetween(from, to))
  /** Calls of the compaction policies that did compact. */
  var compactionsRun = 0

  def compactIfNeeded(maxDeltas: Int): Boolean = {
    val ran = t("compactIfNeeded")(inner.compactIfNeeded(maxDeltas))
    if (ran) compactionsRun += 1
    ran
  }
  def compactIfDeltaRatio(maxRatio: Double): Boolean = {
    val ran = t("compactIfDeltaRatio")(inner.compactIfDeltaRatio(maxRatio))
    if (ran) compactionsRun += 1
    ran
  }

  def lookupRows(key: Any*): Array[org.apache.spark.sql.Row] =
    t("lookup")(inner.lookup(key: _*).collect())
  def snapshotAtRows(version: Long): Array[org.apache.spark.sql.Row] =
    t("snapshotAt")(inner.snapshotAt(version).collect())
  def changesBetweenRows(from: Long, to: Long): Array[org.apache.spark.sql.Row] =
    t("changesBetween")(inner.changesBetween(from, to).collect())
}

/** A [[TxidLedger]] recording one span per commit. */
final class TracedLedger(path: String, tracer: Tracer) extends TxidLedger(path) {
  override def commit(txid: Long): Unit =
    tracer.span("streaming.TxidLedger.commit")(super.commit(txid))
}
