package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.Cdc
import graft.util.{Checkpoints, Fs, ManifestLog}

/** Durable last-committed-transaction ledger (ST6) — the checkpoint analog
  * of the reference's watermark storage (Kafka transaction topic; formerly
  * the DELTAINFO table, `S4HanaProducer.java:118-144`) and the cursor of
  * every change-feed consumer ([[StoreChangeFeed]]). It commits through
  * the same publish protocol as the data ([[graft.util.ManifestLog]]):
  * `path` is a directory of `manifest-<v>.json` entries, each `{version,
  * txid}` in the SHA-256 envelope, and [[commit]] is one conditional PUT
  * of the next slot followed by GC at retention 1. There are no
  * generations and no rename: a power loss leaves the old entry or the
  * new one, and a torn newest entry is skipped for the complete one
  * below it.
  *
  * The ledger never guesses a watermark, because a restart from -1 would
  * silently re-fold the whole log. [[read]] is -1 only for a path that
  * holds no manifest. Both [[read]] and [[commit]] refuse, with an
  * `IllegalStateException` naming the path, a directory whose manifests
  * are all torn and a `path` that is a regular file: the pre-manifest
  * single-file ledger, which is never read as -1 or overwritten. One
  * writer owns a ledger; readers on other threads or processes may race
  * its commits.
  */
class TxidLedger(path: String) {
  private case class Entry(version: Long, txid: Long)

  private val entries = new ManifestLog[Entry](new java.io.File(path),
      keepVersions = 1, ManifestLog.DefaultOrphanGraceMs) {
    protected def encodeFields(e: Entry,
        node: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
      node.put("version", e.version)
      node.put("txid", e.txid)
    }
    protected def decodeFields(
        n: com.fasterxml.jackson.databind.JsonNode): Entry =
      Entry(n.get("version").asLong(), n.get("txid").asLong())
    protected def versionOf(e: Entry): Long = e.version
    protected def generationsOf(e: Entry): Iterable[String] = Nil
    protected def isGeneration(name: String): Boolean = false
  }

  /** (newest complete entry, next free slot), refusing every layout that
    * holds a watermark the ledger cannot read.
    */
  @scala.annotation.tailrec
  private def state(): (Option[Entry], Long) = {
    val f = new java.io.File(path)
    if (f.isFile) {
      val held = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      throw new IllegalStateException(
        s"txid ledger $path is a single file holding '${held.take(64)}' " +
          "(the pre-manifest layout); refusing to read it as -1 or to " +
          "overwrite it — move it aside and commit its txid into a fresh " +
          "ledger directory")
    }
    val (newest, next) = entries.state()
    if (newest.nonEmpty || next == 1L) (newest, next)
    // the entries this listing named vanished before they were read: a
    // concurrent commit landed past them and its GC deleted them
    else if (entries.state()._2 > next) state()
    else throw new IllegalStateException(
      s"txid ledger $path holds only torn entries (next slot $next); " +
        "refusing to guess the committed watermark")
  }

  def read(): Long = state()._1.fold(-1L)(_.txid)

  def commit(txid: Long): Unit = {
    val slot = state()._2
    val dir = new java.io.File(path).getAbsoluteFile
    // a first commit makes the new dir's own entry durable too: a ledger
    // dir lost to a power cut would read as -1
    if (dir.mkdirs()) Fs.fsyncDir(dir.getParentFile)
    entries.put(Entry(slot, txid))
    entries.gc()
  }
}

/** The streaming delta-poll loop (§3.1 of SURVEY.md) as a Structured
  * Streaming job (micro-batch model per "Structured Streaming: A
  * Declarative API for Real-Time Applications in Apache Spark",
  * SIGMOD 2018): each micro-batch applies the commit-order watermark,
  * folds the window's changed KEYS against the current SOURCE table (the
  * reference's model: triggers log keys into PKLOG, payloads come from the
  * master, `S4HanaTableMapping.java:444-471`), and merges the folded
  * envelope into the replica store — advancing the durable watermark ONLY
  * after the sink commit, so a crash replays the window and the idempotent
  * merge converges (at-least-once upstream, exactly-once effect, ST4).
  *
  * @param source    supplier of the current master/source table state
  * @param store     the replica being maintained
  * @param ledger    durable last-committed txid
  * @param keyJoin   (changeFeedKeyCol, sourceKeyCol) pairs
  * @param openTxns  supplier of currently in-flight transactions (the HANA
  *                  m_transactions analog; empty when unused)
  * @param pullMode  true when each trigger RE-READS the full window above
  *                  the ledger (the reference's poll model, `S4HanaProducer
  *                  .java:392-469`) — enables the no-op skip while an open
  *                  transaction pins the watermark, safe only because the
  *                  next poll re-delivers everything. Leave false for push
  *                  feeds (Kafka/MemoryStream micro-batches), where a
  *                  skipped batch is gone forever: txids are assigned at
  *                  transaction START but delivered at COMMIT, so a batch
  *                  can carry a late-committing txn with txid ≤ a
  *                  previously-seen maximum. Since r20 the pinned-
  *                  watermark no-op poll is back to ONE scalar
  *                  aggregation scan with zero materialization (ADVICE
  *                  r19 #5); the non-skip poll pays that scan plus the
  *                  fold's single keyed shuffle.
  * @param autoCompactDeltas when set, run [[KeyedUpsertStore.compactIfNeeded]]
  *                  with this threshold after each batch's ledger advance —
  *                  the MOR maintenance policy driven from INSIDE the loop
  *                  (the job owning its own compaction cadence instead of
  *                  an external scheduler; VERDICT r9 #5). Compaction debt
  *                  is a store-observable (delta-dir count), so the policy
  *                  check is a directory listing, not a Spark job.
  */
class CdcStreamJob(spark: SparkSession, source: () => DataFrame,
    store: KeyedUpsertStore, ledger: TxidLedger,
    keyJoin: Seq[(String, String)],
    openTxns: () => Seq[Watermark.OpenTxn] = () => Nil,
    nowEpochSec: () => Long = () => System.currentTimeMillis() / 1000,
    pullMode: Boolean = false,
    autoCompactDeltas: Option[Int] = None) {

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[CdcStreamJob])

  /** Rows observed at or below the committed watermark, cumulatively. The
    * commit-order guarantee (a txid ≤ the committed watermark never arrives
    * later) holds only when `openTxns` reports every in-flight transaction
    * (the reference caps the watermark by the live open-transaction list,
    * `S4HanaProducer.java:317-368`) OR the feed is a re-readable log. With
    * the default `openTxns = () => Nil` and an out-of-order push feed, late
    * rows would otherwise vanish silently — so they are counted and logged.
    */
  @volatile var staleRowsSeen: Long = 0L

  /** Highest txid already folded into the store by THIS job instance —
    * lets pull-mode polling (which re-reads the same rows above the ledger
    * every trigger while an open transaction pins the watermark) skip
    * redundant re-folds. Consulted only when `pullMode` is set: on a push
    * feed "max already seen" says nothing about whether the BATCH was seen.
    * Resets on restart; one redundant idempotent fold after a crash is
    * harmless.
    */
  @volatile private var appliedHi: Long = Long.MinValue

  /** Process one change-feed micro-batch (also usable un-streamed for
    * batch backfills and tests). The feed needs only key + txid columns.
    *
    * Delivered-row handling vs. the watermark: EVERY delivered row beyond
    * the committed watermark is folded and applied — a delivered row's
    * transaction has committed, and in the streaming (push) model the
    * micro-batch is never re-delivered, so excluding rows above the capped
    * watermark would lose them permanently. The LEDGER still advances only
    * to the commit-order-safe txid (`least(max logged, oldest open - 1)`):
    * if an open transaction later lands rows with smaller txids, they are
    * still above the ledger and fold normally; rows between `safe` and the
    * batch max may be re-folded by a later pull-mode poll, which the
    * idempotent merge absorbs.
    */
  def processBatch(changeFeed: DataFrame, batchId: Long): Unit = {
    val from = ledger.read()
    val open = openTxns() // one snapshot for watermark + alert consistency
    val now = nowEpochSec()
    // a stuck open transaction is precisely when the alert matters, so it
    // fires before any early-exit
    Watermark.latencyAlert(open, now)
      .foreach(msg => spark.sparkContext.setJobDescription(msg))
    val keyCols = keyJoin.map(_._1)
    def warnStale(stale: Long): Unit =
      if (stale > 0) {
        staleRowsSeen += stale
        log.warn(s"batch $batchId: $stale change rows with txid <= committed " +
          s"watermark $from — EXCLUDED from the fold. Wire a complete openTxns " +
          "supplier (or make the feed a re-readable log) for at-least-once.")
      }
    if (pullMode) {
      // PULL MODE: a cheap SCALAR pre-scan (one aggregation pass, no keyed
      // shuffle) decides the early exits BEFORE any keyed work (r20,
      // ADVICE r19 #5). Each trigger re-reads the same window above the
      // ledger, so a stuck open transaction pinning the watermark at a 1s
      // trigger means thousands of no-op polls — they now cost one scan
      // and zero materialization, where the r19 shape paid the full
      // latest-per-key shuffle plus block materialization per no-op.
      //
      // Two-scan race: the scalar stats and the latest-per-key fold below
      // are separate scans of the feed, so an append-only log that grows
      // between them lets the fold see rows the stats did not. Both scans
      // filter on the same `from`, so the fold only ever sees MORE
      // committed changes, never fewer; the ledger still advances only to the `safe` bound
      // computed from the stats, so a row the stats missed stays above
      // the ledger and the next poll re-folds it. The merge is an
      // idempotent latest-txid-wins upsert, so that re-fold is a no-op
      // on the keys already applied.
      val stats = changeFeed.agg(
        max(when(col(Cdc.TransactionId) > from, col(Cdc.TransactionId)))
          .alias("_max_tx"),
        count(when(col(Cdc.TransactionId) <= from, lit(1))).alias("_stale"))
        .head()
      warnStale(stats.getLong(1))
      if (stats.isNullAt(0)) return // nothing beyond the watermark → skip
      val maxLogged = stats.getLong(0)
      val safe = Watermark.maxSafe(maxLogged, open, from, now)
      // early-exit when the watermark is pinned AND everything delivered
      // has already been folded by this instance (each trigger re-reads
      // the same window). Safe only here — the next poll re-delivers.
      if (maxLogged <= appliedHi && safe <= from) return
      // non-skip: the statistics are known, so the fold takes the plain
      // latest-per-key frame. The lazy local checkpoint materializes it
      // inside the merge's first action, and both of the fold's
      // references (the broadcast upsert side and the delete candidates)
      // read the same blocks — one keyed shuffle per poll, total.
      Checkpoints.pinned(Cdc.latestPerKey(
          changeFeed.where(col(Cdc.TransactionId) > from), keyCols),
          eager = false) { latest =>
        store.merge(Cdc.foldChanges(latest, source(), keyJoin))
        appliedHi = math.max(appliedHi, maxLogged)
        if (safe > from) ledger.commit(safe) // only after sink commit
      }
    } else {
      // PUSH MODE: ONE keyed pass carries both the latest-per-key dedup
      // and the batch statistics (max txid beyond the watermark,
      // stale-row count) — a key whose rows are ALL stale folds to a
      // null max and drops before the fold, exactly like a window
      // filter. The LAZY local checkpoint materializes the keyed frame
      // under the statistics action, and the merge replays the same
      // blocks — two actions per batch instead of the r19 three (r20,
      // guide §1.2: the eager checkpoint and the stats head were
      // separate jobs over the same materialized data).
      val folded = Checkpoints.pinned(changeFeed.groupBy(keyCols.map(col): _*)
          .agg(
            max(when(col(Cdc.TransactionId) > from, col(Cdc.TransactionId)))
              .alias(Cdc.TransactionId),
            count(when(col(Cdc.TransactionId) <= from, lit(1))).alias("_stale")),
          eager = false) { keyed =>
        val stats = keyed
          .agg(max(col(Cdc.TransactionId)).alias("_max_tx"),
            sum(col("_stale")).alias("_stale"))
          .head()
        warnStale(if (stats.isNullAt(1)) 0L else stats.getLong(1))
        if (stats.isNullAt(0)) false // nothing beyond the watermark → skip
        else {
          val maxLogged = stats.getLong(0)
          val safe = Watermark.maxSafe(maxLogged, open, from, now)
          val latest = keyed.where(col(Cdc.TransactionId).isNotNull)
            .select(keyCols.map(col) :+ col(Cdc.TransactionId): _*)
          store.merge(Cdc.foldChanges(latest, source(), keyJoin))
          appliedHi = math.max(appliedHi, maxLogged)
          if (safe > from) ledger.commit(safe) // only after sink commit
          true
        }
      }
      if (!folded) return
    }
    // maintenance AFTER the commit: a compaction crash must replay the
    // window (deltas re-fold idempotently), never lose it. A compaction
    // that LOSES a concurrent-maintenance race (manifest store: another
    // writer compacted the same fold inputs first) aborts with its staged
    // generation reclaimed and nothing published — for the policy that is
    // a no-op, not an error: the debt it observed was paid by the winner,
    // and the next batch re-reads the real debt. Absorbing it here is what
    // lets EVERY writer in a multi-writer topology run the policy instead
    // of electing a maintenance singleton out-of-band (VERDICT r11 #2);
    // data commits (merge) never take this path — they always rebase.
    try autoCompactDeltas.foreach(store.compactIfNeeded(_))
    catch {
      case e: CommitConflictException =>
        StoreTelemetry.addCount("policy_noops") // counted for the bench (r18)
        log.info(s"batch $batchId: compaction lost a concurrent-maintenance " +
          s"race, skipped (debt re-checked next batch): ${e.getMessage}")
    }
  }

  /** Run as a Structured Streaming query over a streaming change feed. */
  def start(changeFeedStream: DataFrame, checkpointDir: String,
      intervalMs: Long = 1000): StreamingQuery =
    startWith(changeFeedStream, checkpointDir, Trigger.ProcessingTime(intervalMs))

  /** Backfill mode: drain everything currently available in the feed with
    * the SAME fold/merge/ledger code, then terminate — `Trigger
    * .AvailableNow` batches the drain by the source's limits instead of
    * loading one giant micro-batch (the modern replacement for
    * `Trigger.Once`, and the Spark analog of the reference's initial-load
    * catch-up, `S4HanaProducer.java:501-576`).
    */
  def startBackfill(changeFeedStream: DataFrame, checkpointDir: String): StreamingQuery =
    startWith(changeFeedStream, checkpointDir, Trigger.AvailableNow())

  private def startWith(changeFeedStream: DataFrame, checkpointDir: String,
      trigger: Trigger): StreamingQuery =
    changeFeedStream.writeStream
      .foreachBatch((batch: DataFrame, id: Long) => processBatch(batch, id))
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}

/** Replication-latency alerting (ST3) as a [[org.apache.spark.sql.streaming
  * .StreamingQueryListener]] — the reference warns at >60 s and notes at
  * >5 s of open-transaction / batch lag (`S4HanaProducer.java:346-357`).
  * Batch-duration lag stands in for open-txn age on the consumer side.
  */
class LatencyListener(onAlert: String => Unit = msg =>
    org.slf4j.LoggerFactory.getLogger(classOf[LatencyListener]).warn(msg))
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  @volatile var lastBatchMs: Long = -1L

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val ms = e.progress.batchDuration
    lastBatchMs = ms
    LatencyListener.alertLevel(ms / 1000).foreach(level =>
      onAlert(s"$level: micro-batch ${e.progress.batchId} took ${ms} ms"))
  }
}

object LatencyListener {
  /** Pure threshold logic, mirroring Watermark's 60 s / 5 s levels. */
  def alertLevel(seconds: Long): Option[String] =
    if (seconds > Watermark.WarnAfterSeconds) Some("WARN")
    else if (seconds > Watermark.InfoAfterSeconds) Some("INFO")
    else None
}

/** Consumer-side CDC apply: the change feed already carries the envelope
  * (`_change_type`, `_transactionid`) and the full row payload — the shape
  * the reference's producer publishes to Kafka. Collapse to the latest
  * change per key (last-write-wins by txid) and merge into the replica.
  */
object CdcApply {
  def applyChanges(store: KeyedUpsertStore, batch: DataFrame, pkCols: Seq[String]): Unit = {
    val payload = batch.columns.toSeq.filterNot(pkCols.contains)
    val latest = batch
      .groupBy(pkCols.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*), col(Cdc.TransactionId)).alias("_p"))
      .select(pkCols.map(col) ++ payload.map(c => col(s"_p.$c").alias(c)): _*)
    store.merge(latest)
  }
}

/** Windowed / sessionized event aggregation (ST8 — the extension the
  * reference lacks): event-time tumbling windows and session windows with
  * watermark-bounded state, Structured-Streaming-native.
  */
object EventWindows {

  /** Tumbling event-time counts per key. `tsCol` must be a TimestampType
    * column; late data beyond `lateness` is dropped from state.
    *
    * @param sumCol optional numeric column to sum alongside the count
    */
  def tumblingCounts(events: DataFrame, tsCol: String, keyCol: String,
      windowDuration: String, lateness: String,
      sumCol: Option[String] = None): DataFrame = {
    val aggs = count(lit(1)).alias("n") +:
      sumCol.map(c => sum(col(c)).alias(s"sum_$c")).toSeq
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDuration), col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Session windows (gap-based) per key. */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
      gap: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).alias("n"))
}
