package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.cdc.Cdc
import graft.operators.{ManifestPipeline, TokenizerStore, UnigramLm}
import graft.streaming.{CdcStreamJob, ManifestUpsertStore, VersionedManifestMaintainer}

/** What every workload shares: the session, the tracer and a work dir. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val work: java.io.File, val seed: Long, val cores: Int) {
  def path(name: String): String = new java.io.File(work, name).getPath
  def under(sub: String): Ctx =
    new Ctx(spark, tracer, new java.io.File(work, sub), seed, cores)
}

/** One benchmark workload, driven by the harness in this order:
  * `prepare`, `bootstrap` (the store the loop uses) and `finishSetup`
  * once, the warm-up `step`s, `loadCopy` per timed bootstrap (each into a
  * fresh store), `step` in a closed loop until the deadline or `hasNext`
  * is false, then `finish` once (untimed: drains and output checks).
  */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Loop steps run untimed and untraced before the timed loop. */
  def warmSteps: Int
  /** Whether the last step closed a maintenance cycle; the timed loop
    * ends only there, so runs compare whole cycles.
    */
  def atCycleEnd: Boolean = true
  def prepare(): Unit
  def bootstrap(): Unit
  def loadCopy(rep: Int): Unit
  def finishSetup(): Unit
  def hasNext: Boolean
  def step(): Unit
  def finish(): Unit

  /** The loop's op, whose median is `op_p50_ms`. */
  val ops = new OpLog
  /** Where `step` records its op; the harness swaps in another log for
    * the untimed warm-up ops.
    */
  var primary: OpLog = ops
  /** Store bootstraps; all but the first give `initial_load_s`. */
  val loads = new OpLog
  /** Every other checked op: set-up merges, retractions, the drain. */
  val otherOps = new OpLog
  /** Items the loop completed: change rows, reads or documents. */
  var items = 0L
  /** Canonical bytes of the generated input the loop consumed. */
  var loopInputBytes = 0L
  /** Hash of the generated inputs, logged so runs can be compared. */
  def inputHash: String
  /** Generator and layer counts for the traced run, by metric name. */
  def counts: Map[String, Double] = Map.empty

  protected val spark: SparkSession = ctx.spark
  protected val tracer: Tracer = ctx.tracer

  /** Times one op as a root span; an exception fails it (no retry).
    * Returns the op's index in `log`.
    */
  protected def op(kind: String, log: OpLog)(body: => Unit): Int = {
    val t0 = System.nanoTime()
    try {
      tracer.span(s"bench.$name.$kind")(body)
      log.ok((System.nanoTime() - t0) / 1e9)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: $name $kind #${log.attempted} failed: $e")
        log.fail()
    }
    log.attempted - 1
  }
}

object Workload {
  val Names: Seq[String] = Seq("cdc_replay", "corpus_maintain")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "cdc_replay" => new CdcReplay(ctx)
    case "corpus_maintain" => new CorpusMaintain(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}

/** Writing and reading the generated CDC tables. */
object CdcTables {
  val MasterSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("name", StringType),
    StructField("amount", DecimalType(15, 2)),
    StructField("score", DoubleType)))

  val Table = "MASTER"

  private def toRow(r: MasterRow): Row =
    Row(r.key, r.name, java.math.BigDecimal.valueOf(r.amountCents, 2), r.score)

  def fromRow(r: Row): MasterRow = MasterRow(r.getAs[String]("key"),
    r.getAs[String]("name"),
    r.getAs[java.math.BigDecimal]("amount").movePointRight(2).longValueExact(),
    r.getAs[Double]("score"))

  def writeMaster(spark: SparkSession, rows: Seq[MasterRow], path: String): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map(toRow).asJava, MasterSchema)
      .write.mode("overwrite").parquet(path)
  }

  /** The PKLOG table, range-partitioned on the txid so a window's scan
    * prunes files by their statistics.
    */
  def writeLog(spark: SparkSession, log: Seq[LogRow], path: String,
      parts: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val rows = log.map(r => Row(new java.sql.Timestamp(base + r.txid * 10),
      "SAPHANADB", r.changeType, r.key, null, null, null, null, null,
      r.txid, r.seq, Table))
    spark.createDataFrame(rows.asJava, Cdc.PkLogSchema)
      .repartitionByRange(parts, col("TRANSACTIONID"))
      .write.mode("overwrite").parquet(path)
  }

  /** One poll's change feed: the txid window, viewed for one table. */
  def feed(pklog: DataFrame, lo: Long, hi: Long): DataFrame =
    Cdc.changeView(Cdc.windowFilter(pklog, "TRANSACTIONID", lo, hi),
      Table, Seq("key"))
}

/** The paper's delta-poll loop, write-heavy: one `CdcStreamJob
  * .processBatch` per fixed-size txid window into a [[ManifestUpsertStore]]
  * with the delta-count compaction policy on, `source()` the final master.
  */
final class CdcReplay(ctx: Ctx) extends Workload(ctx) {
  import CdcReplay.{CompactAt, Params => params}
  val name = "cdc_replay"
  val warmSteps = CompactAt
  private var inputs: CdcInputs = _
  private var dir: Ctx = _
  private var store: TracedStore = _
  private var job: CdcStreamJob = _
  private var pklog: DataFrame = _
  private var loadOp = -1
  private var next = 0
  /** Window index → the op that polled it. */
  private val pollOp = scala.collection.mutable.HashMap.empty[Int, (OpLog, Int)]
  private var reads = 0
  private var deltaSum = 0L

  def inputHash: String = inputs.hash

  def prepare(): Unit = {
    dir = ctx.under("cdc")
    inputs = CdcGen.generate(ctx.seed, params)
    CdcTables.writeMaster(spark, inputs.initial, dir.path("master0"))
    CdcTables.writeMaster(spark, inputs.finalRows, dir.path("master1"))
    CdcTables.writeLog(spark, inputs.log, dir.path("pklog"), ctx.cores)
  }

  private def load(name: String): (TracedStore, Int) = {
    val s = new TracedStore(new ManifestUpsertStore(spark, dir.path(name),
      Seq("key"), numBuckets = 2 * ctx.cores), tracer)
    (s, op("initial_load", loads)(
      s.initialize(Cdc.initialLoad(spark.read.parquet(dir.path("master0"))))))
  }

  def bootstrap(): Unit = {
    val (s, i) = load("store")
    store = s
    loadOp = i
  }

  def loadCopy(rep: Int): Unit = load(s"store-$rep")

  def finishSetup(): Unit = {
    val source = dir.path("master1")
    job = new CdcStreamJob(spark, () => spark.read.parquet(source), store,
      new TracedLedger(dir.path("ledger"), tracer), Seq("key" -> "key"),
      autoCompactDeltas = Some(CompactAt))
    pklog = spark.read.parquet(dir.path("pklog"))
  }

  def hasNext: Boolean = next < params.windows

  /** A cycle is `CompactAt` polls, the last of which compacts. */
  override def atCycleEnd: Boolean = next % CompactAt == 0

  def step(): Unit = {
    val (lo, hi) = inputs.windowBounds(next)
    val log = primary
    pollOp(next) = (log, op("poll", log)(
      tracer.span("streaming.CdcStreamJob.processBatch")(
        job.processBatch(CdcTables.feed(pklog, lo, hi), next))))
    items += inputs.byWindow(next).size
    loopInputBytes += inputs.logBytes(next, next + 1)
    next += 1
  }

  /** Drains the rest of the log as one poll, then checks the replica
    * against the final master (each wrong key fails the poll that last
    * logged it) and reads it back through the store's read layers.
    */
  def finish(): Unit = {
    val polled = next
    val lastPoll = store.inner.currentVersion
    val drain =
      if (polled < params.windows)
        Some(op("drain", otherOps)(job.processBatch(CdcTables.feed(pklog,
          inputs.windowBounds(polled)._1, Long.MaxValue), polled)))
      else None
    val actual = store.inner.snapshot().collect().toSeq.map(CdcTables.fromRow)
    val wrong = Checks.tableDiff(actual, inputs.finalMaster)
    if (wrong.nonEmpty)
      System.err.println(s"perfbench: cdc_replay replica differs from the " +
        s"final master on ${wrong.size} keys, e.g. ${wrong.take(5).mkString(", ")}")
    wrong.foreach { k =>
      inputs.lastWindowOf.get(k) match {
        case Some(w) if w < polled =>
          val (log, i) = pollOp(w)
          log.markFailed(i)
        case Some(_) => drain.foreach(otherOps.markFailed)
        case None => loads.markFailed(loadOp) // a row only the load wrote
      }
    }
    readBack(polled, lastPoll)
  }

  /** Zipf-keyed point lookups, time travel to the last polled version and
    * the drain's change feed, each checked against the generator and
    * counted as an op.
    */
  private def readBack(polled: Int, lastPoll: Long): Unit = {
    val rng = new java.util.Random(ctx.seed * 7919L + 3L)
    val zipf = new Zipf(inputs.keyOrder.size, CdcGen.ZipfS)
    def read[T](kind: String)(body: => T)(wrong: T => Boolean): Unit = {
      deltaSum += store.inner.deltaCount
      reads += 1
      var out: Option[T] = None
      val i = op(kind, otherOps) { out = Some(body) }
      if (out.exists(wrong)) otherOps.markFailed(i)
    }
    (0 until CdcReplay.ReadBackLookups).foreach { _ =>
      val key = inputs.keyOrder(zipf.sample(rng))
      read("lookup")(store.lookupRows(key).toSeq.map(CdcTables.fromRow))(
        rows => Checks.lookupDiff(rows, inputs.finalMaster.get(key)))
    }
    read("snapshotAt")(store.snapshotAtRows(lastPoll).toSeq.map(CdcTables.fromRow))(
      rows => Checks.tableDiff(rows, inputs.expectedAfter(polled)).nonEmpty)
    val now = store.inner.currentVersion
    if (now > lastPoll) {
      val want = inputs.keysIn(polled, params.windows)
        .map(k => k -> inputs.finalMaster.get(k)).toMap
      read("changesBetween")(store.changesBetweenRows(lastPoll, now).toSeq.map { r =>
        val k = r.getAs[String]("key")
        k -> (if (r.getAs[String](Cdc.ChangeType) == Cdc.Delete) None
          else Some(CdcTables.fromRow(r)))
      })(rows => Checks.changesDiff(rows, want).nonEmpty)
    }
  }

  override def counts: Map[String, Double] = Map(
    "cdc.keys_per_change" -> inputs.keysPerChange(0, next),
    "cdc.delete_share" -> inputs.deleteShare(0, next),
    "streaming.ManifestUpsertStore.compactIfNeeded.runs" ->
      store.compactionsRun.toDouble,
    "streaming.ManifestUpsertStore.delta_count" ->
      (if (reads == 0) 0.0 else deltaSum.toDouble / reads))
}

object CdcReplay {
  val Params: CdcParams =
    CdcParams(masterRows = 20000, windows = 64, txnsPerWindow = 40)
  /** Store deltas at which the stream job's compaction policy fires. */
  val CompactAt = 4
  /** Point lookups in the read-back after the drain. */
  val ReadBackLookups = 4
}

/** A seeded document stream through `VersionedManifestMaintainer
  * .processBatch` over a [[ManifestUpsertStore]] survivor store whose
  * compaction policy runs after each batch; each batch is followed by a
  * retraction of a seeded sample of served ids.
  */
final class CorpusMaintain(ctx: Ctx) extends Workload(ctx) {
  import CorpusMaintain.{VocabSize, Params => params}
  val name = "corpus_maintain"
  val warmSteps = 2
  private var gen: CorpusGen = _
  private var firstBatch: IndexedSeq[Doc] = _
  private var dir: Ctx = _
  private var store: TracedStore = _
  private var survivors0: DataFrame = _
  private var maint: VersionedManifestMaintainer = _
  private var model: CorpusModel = _
  private var batch = 0
  private val deliveredBy = scala.collection.mutable.HashMap.empty[Long, Int]
  /** Batch → the op that delivered it. */
  private val windowOp = scala.collection.mutable.HashMap.empty[Int, (OpLog, Int)]
  private var docsDelivered = 0L
  private var fresh = 0L

  def inputHash: String = gen.inputHash

  private def frame(docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  def prepare(): Unit = {
    dir = ctx.under("corpus")
    gen = new CorpusGen(ctx.seed, params)
    firstBatch = gen.nextBatch()
  }

  private def load(name: String): (TracedStore, DataFrame) = {
    val s = new TracedStore(new ManifestUpsertStore(spark, dir.path(name),
      Seq("content_hash"), numBuckets = 2 * ctx.cores), tracer)
    var survivors: DataFrame = null
    op("initial_load", loads) {
      survivors = ManifestPipeline.initializeSurvivors(s, frame(firstBatch),
        "doc_id", "text")
    }
    (s, survivors)
  }

  def bootstrap(): Unit = {
    val (s, survivors) = load("survivors")
    store = s
    survivors0 = survivors
  }

  def loadCopy(rep: Int): Unit = load(s"survivors-$rep")

  def finishSetup(): Unit = {
    val tok = dir.path("tokenizer")
    TokenizerStore.saveUnigram(tok, UnigramLm.train(survivors0, "text",
      vocabSize = VocabSize, maxPieceLen = 4, seedSize = 4 * VocabSize,
      emIters = 1), spark)
    val seed = ctx.seed
    maint = new VersionedManifestMaintainer(store, tok, dir.path("manifest"),
      windowOf = b => b, seedOf = b => seed * 1000003L + b)
    model = new CorpusModel(firstBatch)
  }

  def hasNext: Boolean = true

  /** One cycle: a maintainer window, the store's compaction policy, and
    * a retraction.
    */
  def step(): Unit = {
    batch += 1
    val docs = gen.nextBatch()
    val df = frame(docs)
    val log = primary
    windowOp(batch) = (log, op("window", log)(
      tracer.span("streaming.VersionedManifestMaintainer.processBatch")(
        maint.processBatch(df, batch.toLong))))
    op("compaction_policy", otherOps)(
      store.compactIfNeeded(CorpusMaintain.CompactAt))
    docs.foreach(d => deliveredBy(d.id) = batch)
    fresh += model.deliver(batch, docs)
    docsDelivered += docs.size
    items += docs.size
    loopInputBytes += docs.map(d => 16L + d.text.length).sum
    val ids = gen.retraction(batch, model.serving)
    model.retract(otherOps.attempted, ids)
    import spark.implicits._
    op("retract", otherOps)(
      tracer.span("streaming.VersionedManifestMaintainer.retract")(
        maint.retract(ids.toDF("doc_id"))))
  }

  /** Every served document appears exactly once, no retracted one does;
    * a wrong document fails the window that delivered it, a retracted
    * one still served fails its retraction.
    */
  def finish(): Unit = {
    if (batch == 0) return
    val spans = maint.readManifest(spark)
      .select("window", "doc_id", "shuffle_pos", "n_tok", "tok_start", "tok_end")
      .collect().toSeq.map(r => SpanRow(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val found = Checks.corpus(spans, model.serving.toSet, model.retracted.keySet.toSet)
    if (!found.ok)
      System.err.println(s"perfbench: corpus_maintain manifest check: $found")
    (found.missing ++ found.unexpected ++ found.badSpans).foreach { id =>
      deliveredBy.get(id).foreach { b =>
        val (log, i) = windowOp(b)
        log.markFailed(i)
      }
    }
    found.retractedServed.foreach(id => otherOps.markFailed(model.retracted(id)))
  }

  override def counts: Map[String, Double] = Map(
    "corpus.fresh_ratio" ->
      (if (docsDelivered == 0) 0.0 else fresh.toDouble / docsDelivered),
    "streaming.ManifestUpsertStore.compactIfNeeded.runs" ->
      store.compactionsRun.toDouble)
}

object CorpusMaintain {
  val Params: CorpusParams =
    CorpusParams(vocab = 3000, bootstrapDocs = 300, batchDocs = 120)
  /** Survivor-store deltas that trigger the compaction policy: every
    * batch, so each loop cycle (window, compaction, retraction) does the
    * same work.
    */
  val CompactAt = 1
  val VocabSize = 400
}
