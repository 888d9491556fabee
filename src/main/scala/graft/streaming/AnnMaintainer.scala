package graft.streaming

import org.apache.spark.internal.Logging
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.operators.AnnIndex

/** Streaming maintenance loop for an IVF / IVF-PQ index (VERDICT r12 #3):
  * the `foreachBatch` sink that keeps a persisted [[AnnIndex]] current
  * from a folded CDC envelope stream — the vector-index analog of
  * [[CdcStreamJob]] maintaining a [[KeyedUpsertStore]], with the SAME
  * maintenance discipline:
  *
  *  - data first, policy after: the batch's tombstones and appends publish
  *    (replay-idempotently, keyed by the micro-batch id) BEFORE any
  *    compaction runs, so a maintenance crash replays the window instead
  *    of losing it;
  *  - debt-driven compaction, not hand-scheduled: the count policy
  *    ([[AnnIndex.compactIvfIfNeeded]]) short-circuits the byte-ratio
  *    policy ([[AnnIndex.compactIvfIfDebtRatio]]) exactly like
  *    `CdcStreamJob.processBatch`'s store maintenance, so a long
  *    append+delete stream keeps its un-folded delta debt bounded with no
  *    explicit compact call anywhere in the pipeline;
  *  - lost-race absorption: a policy-triggered compaction that finds its
  *    debt already paid is a no-op inside [[AnnIndex.compactIvf]] itself
  *    (no delta left in the manifest → return), and a
  *    [[CommitConflictException]] from a compaction whose inputs a
  *    concurrent one replaced is absorbed as "the winner paid the debt" —
  *    data publishes never take this path.
  *
  * Batch shape: the folded envelope — one row per key — with the index's
  * id column, its vector column (plus any build-time attribute columns),
  * and [[Cdc.ChangeType]]. EVERY key in the batch is tombstoned (deletes
  * AND upserts) before the non-delete rows append under the same batch
  * id: the visibility rule is `seq >= tombstone seq`, so the same-batch
  * append survives its own tombstone while any OLDER row of the same key
  * is hidden — a folded Upsert of a key already in the index replaces it
  * in place instead of serving both vectors (ADVICE r13: tombstoning
  * only Delete rows silently duplicated the most common CDC operation).
  * The cost of the blanket tombstone is bounded by the SAME debt policy
  * that bounds the append dirs: the search-side tombstone anti-filter
  * broadcasts at most `maxDeltas` batches' worth of keys before a fold
  * clears it (SCALING §23's debt curve measures the whole loop).
  *
  * {{{
  * val maint = new AnnIndexMaintainer(path, autoCompactDeltas = Some(16))
  * stream.writeStream.foreachBatch(maint.processBatch _).start()
  * }}}
  */
class AnnIndexMaintainer(path: String,
    autoCompactDeltas: Option[Int] = None,
    autoCompactDebtRatio: Option[Double] = None) extends Logging {

  /** Apply one folded CDC micro-batch to the index, then run the
    * compaction policy. Also usable un-streamed (backfills, tests).
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val idCol = AnnIndex.indexIdCol(batch.sparkSession, path)
    // tombstone-batch THEN append-batch under one id (the documented
    // deleteIvfBatch ordering): a crash between the two replays the
    // window — the published half no-ops, the missing half lands.
    // The tombstone covers ALL batch keys, not just deletes: an upsert
    // of an existing key must hide its old row, and the same-batch
    // append outlives the tombstone by the `seq >= tomb_seq` rule
    AnnIndex.deleteIvfBatch(path, batch.select(idCol), batchId)
    AnnIndex.appendIvfBatch(path,
      batch.where(col(Cdc.ChangeType) =!= Cdc.Delete)
        .drop(Cdc.ChangeType, Cdc.TransactionId),
      batchId)
    try {
      if (!autoCompactDeltas.exists(AnnIndex.compactIvfIfNeeded(path, _)))
        autoCompactDebtRatio.foreach(AnnIndex.compactIvfIfDebtRatio(path, _))
    } catch {
      case e: CommitConflictException =>
        logInfo(s"batch $batchId: index compaction lost a concurrent-" +
          s"maintenance race, skipped (debt re-checked next batch): " +
          e.getMessage)
    }
  }
}
