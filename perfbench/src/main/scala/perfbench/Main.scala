package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in its own JVM:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up (generation, the store bootstrap, the workload's untimed
  * warm-up ops, then [[Main.LoadRepeats]] timed bootstraps) runs before a closed loop of
  * the workload's op for `--seconds`, extended to the end of the
  * workload's maintenance cycle so every run measures whole cycles; the
  * untimed drain and output checks follow. The last stdout line is `PERFBENCH_RESULT <json>`: end-to-end
  * metrics with `--trace 0`, per-layer metrics from the spans with
  * `--trace 1`.
  */
object Main {

  /** Timed store bootstraps per run, after the warm-up; `initial_load_s`
    * is their median.
    */
  val LoadRepeats = 5

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"))
  }

  private def phase(what: String, jvmStartMs: Long): Unit =
    System.err.println(s"perfbench: $what done at " +
      f"${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s")

  def session(cores: Int, work: File): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.default.parallelism", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", new File(work, "spark-local").getPath)
    .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Jvm.watchHeap()
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val work = new File(o.work)
    work.mkdirs()
    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("ERROR")
    phase("session", jvmStartMs)
    val code =
      try run(spark, o, jvmStartMs, cores, work)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, o: Opts, jvmStartMs: Long, cores: Int,
      work: File): Int = {
    val tracer = new Tracer(Some(spark.sparkContext))
    val listener =
      if (!o.trace) None
      else {
        val l = new SpanListener(tracer.epochOffsetNs)
        spark.sparkContext.addSparkListener(l)
        Some(l)
      }
    val ctx = new Ctx(spark, tracer, work, o.seed, cores)

    // Set-up: generate the inputs, bootstrap the loop's store (cold), run
    // the warm-up steps untimed and untraced, then time LoadRepeats more
    // bootstraps into fresh stores.
    val wl = Workload(o.workload, ctx)
    wl.prepare()
    System.err.println(s"perfbench: ${wl.name} seed ${o.seed} inputs sha256 " +
      wl.inputHash)
    phase("generation", jvmStartMs)
    wl.bootstrap()
    phase("bootstrap", jvmStartMs)
    wl.finishSetup()
    phase("loop state", jvmStartMs)
    val warmOps = new OpLog
    wl.primary = warmOps
    (0 until wl.warmSteps).foreach(_ => if (wl.hasNext) wl.step())
    wl.primary = wl.ops
    phase("warm-up", jvmStartMs)
    wl.items = 0L
    wl.loopInputBytes = 0L
    tracer.enabled = o.trace
    val loadWalls = (1 to LoadRepeats).map { rep =>
      val t0 = System.nanoTime()
      wl.loadCopy(rep)
      (System.nanoTime() - t0) / 1e9
    }
    phase(s"set-up; loads ${loadWalls.map("%.2f".format(_)).mkString("/")} s",
      jvmStartMs)

    // set-up: JVM start to the first loop op, less the timed loads
    val loopStartMs = System.currentTimeMillis()
    val initialLoadS = Stats.median(wl.loads.values.tail)
    val setupS = (loopStartMs - jvmStartMs) / 1e3 - loadWalls.sum
    tracer.enabled = o.trace
    val w0 = Jvm.writeBytes()
    val cpu0 = Jvm.cpuNanos()
    val steal0 = Jvm.stealTicks()
    val jit0 = Jvm.jitMillis()
    val loopStart = System.nanoTime()
    val deadline = loopStart + o.seconds * 1000000000L
    while (wl.hasNext && (System.nanoTime() < deadline || !wl.atCycleEnd))
      wl.step()
    val loopEnd = System.nanoTime()
    val loopWrites = Jvm.writeBytes() - w0
    System.err.println(s"perfbench: loop wrote $loopWrites bytes for " +
      s"${wl.loopInputBytes} input bytes; used " +
      f"${(Jvm.cpuNanos() - cpu0) / 1e9}%.2f CPU s (JIT " +
      f"${(Jvm.jitMillis() - jit0) / 1e3}%.2f s), machine steal " +
      s"${Jvm.stealTicks() - steal0} ticks")
    val loopWall = (loopEnd - loopStart) / 1e9
    wl.finish()
    tracer.enabled = false

    val logs = Seq(wl.ops, wl.loads, wl.otherOps, warmOps)
    val attempted = logs.map(_.attempted).sum
    val failed = logs.map(_.failed).sum
    val n = wl.ops.attempted
    val tail = Stats.highestQualified(n).fold("no percentile above p50 has " +
      s"${Stats.MinBeyond} samples beyond it") { p =>
      f"p${p * 100}%.0f ${Stats.percentile(wl.ops.values, p) * 1e3}%.0f ms"
    }
    System.err.println(s"perfbench: ${wl.name} loop ${"%.2f".format(loopWall)} s, " +
      s"${wl.items} items, $failed of $attempted ops failed; $n loop ops, $tail; " +
      "ms: " + wl.ops.values.map(v => "%.0f".format(v * 1e3)).mkString(" "))
    val itemsPerS = wl.items / loopWall
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("initial_load_s", initialLoadS, "s"),
        ("op_p50_ms", Stats.median(wl.ops.values) * 1e3, "ms"),
        ("items_per_s", itemsPerS, "1/s"),
        ("peak_live_mb", Jvm.peakLiveMb(), "MB"),
        ("write_amp", loopWrites.toDouble / math.max(1L, wl.loopInputBytes),
          "ratio"))
      else {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        Layers.metrics(tracer.spans, listener.get.snapshot(), wl.counts,
          loopStart, loopEnd, cores)
      }
    println("PERFBENCH_RESULT " + Json.result(failed == 0, attempted, failed,
      metrics, Map("items_per_s" -> itemsPerS)))
    if (failed == 0) 0 else 1
  }
}

/** The per-layer metrics of a traced run: per-call means of each traced
  * layer span, generator counts, and loop-wide ratios.
  */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** (span, field, unit); every field is a per-call mean over the run. */
  val Fields: Seq[(String, String, String)] = {
    val cdc = "streaming.CdcStreamJob.processBatch"
    val store = "streaming.ManifestUpsertStore"
    val vmm = "streaming.VersionedManifestMaintainer"
    Seq("self_s" -> "s", "jobs" -> "count", "driver_s" -> "s", "task_s" -> "s",
      "shuffle_mb" -> "MB").map { case (f, u) => (cdc, f, u) } ++
      Seq("wall_s" -> "s", "jobs" -> "count", "driver_s" -> "s",
        "task_s" -> "s", "write_mb" -> "MB").map { case (f, u) => (s"$store.merge", f, u) } ++
      Seq(("wall_s", "s"), ("write_mb", "MB")).map { case (f, u) =>
        (s"$store.compactIfNeeded", f, u) } ++
      Seq((s"streaming.TxidLedger.commit", "wall_s", "s")) ++
      Seq("wall_s" -> "s", "task_s" -> "s", "write_mb" -> "MB").map { case (f, u) =>
        (s"$store.initialize", f, u) } ++
      Seq("lookup", "snapshotAt", "changesBetween").flatMap { m =>
        Seq("wall_ms" -> "ms", "jobs" -> "count", "driver_ms" -> "ms",
          "input_mb" -> "MB").map { case (f, u) => (s"$store.$m", f, u) }
      } ++
      Seq("self_s" -> "s", "jobs" -> "count", "driver_s" -> "s", "task_s" -> "s",
        "shuffle_mb" -> "MB").map { case (f, u) => (s"$vmm.processBatch", f, u) } ++
      Seq("wall_s" -> "s", "jobs" -> "count").map { case (f, u) =>
        (s"$vmm.retract", f, u) }
  }

  /** Counts the workloads report themselves (0 where one does not apply). */
  val Counts: Seq[(String, String)] = Seq(
    "streaming.ManifestUpsertStore.compactIfNeeded.runs" -> "count",
    "streaming.ManifestUpsertStore.delta_count" -> "count",
    "cdc.keys_per_change" -> "ratio",
    "cdc.delete_share" -> "ratio",
    "corpus.fresh_ratio" -> "ratio")

  /** Loop-wide figures; `trace.overhead_pct` needs the untraced run too,
    * so the launcher fills it in.
    */
  val Loop: Seq[(String, String)] = Seq(
    "spark.exec_util" -> "ratio",
    "jvm.gc_s" -> "s",
    "trace.coverage_pct" -> "%")

  private def field(f: String, figs: Seq[SpanFigures]): Double = {
    def sum(g: SpanFigures => Double) = figs.map(g).sum / figs.size
    f match {
      case "wall_s" => sum(_.span.wall / 1e9)
      case "wall_ms" => sum(_.span.wall / 1e6)
      case "self_s" => sum(_.selfNs / 1e9)
      case "driver_s" => sum(_.driverNs / 1e9)
      case "driver_ms" => sum(_.driverNs / 1e6)
      case "jobs" => sum(_.work.jobs.toDouble)
      case "task_s" => sum(_.work.taskNs / 1e9)
      case "shuffle_mb" => sum(_.work.shuffleBytes / MB)
      case "input_mb" => sum(_.work.inputBytes / MB)
      case "write_mb" => sum(_.span.writeBytes / MB)
    }
  }

  def metrics(spans: Seq[Span], work: Map[Int, SparkWork],
      counts: Map[String, Double], loopStart: Long, loopEnd: Long,
      cores: Int): Seq[(String, Double, String)] = {
    val figs = TraceMath.figures(spans, work)
    val byName = figs.groupBy(_.span.name)
    val layer = Fields.map { case (span, f, unit) =>
      (s"$span.$f", byName.get(span).fold(0.0)(field(f, _)), unit)
    }
    val counted = Counts.map { case (name, unit) =>
      (name, counts.getOrElse(name, 0.0), unit)
    }
    val roots = spans.filter(s => s.parent == 0 && s.start >= loopStart &&
      s.end <= loopEnd)
    val under = TraceMath.descendants(spans)
    val rootWall = roots.map(_.wall).sum.toDouble
    val taskNs = roots.flatMap(r => under(r.id))
      .map(id => work.get(id).fold(0L)(_.taskNs)).sum
    val loop = Seq(
      ("spark.exec_util", if (rootWall == 0) 0.0 else taskNs / (rootWall * cores),
        "ratio"),
      ("jvm.gc_s", if (roots.isEmpty) 0.0 else roots.map(_.gcNs).sum / 1e9 / roots.size,
        "s"),
      ("trace.coverage_pct", TraceMath.coveragePct(spans, loopStart, loopEnd), "%"))
    layer ++ counted ++ loop
  }
}

/** The result line; the payload is flat enough to write by hand. */
object Json {
  def num(d: Double): String =
    if (d.isNaN) "0.0"
    else java.lang.Double.toString(math.max(-Double.MaxValue, math.min(Double.MaxValue, d)))

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)], aux: Map[String, Double]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    val ax = aux.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$ms}, "aux": {$ax}}"""
  }
}
