package graft.streaming

import org.apache.spark.sql.DataFrame

/** Incremental consumer of a store's change data feed — the DOWNSTREAM
  * half of the engine's topology (the reference's consumers tail the Kafka
  * topic the producer commits into; a lakehouse consumer tails the store's
  * versions the same way). At-least-once with the same shape as the
  * producer side (ST4): [[poll]] returns everything after the durable
  * cursor, [[commit]] advances the cursor only on the caller's ack, so a
  * crash between effect and ack replays the window and an idempotent /
  * last-write-wins downstream converges.
  *
  * A cursor the store's retention horizon has passed fails loudly on poll
  * (the Kafka offset-out-of-range / Delta vacuumed-version analog): the
  * consumer fell behind the store's retention, and silently skipping the
  * lost span would lose deletes. Retention is the store's and depends on
  * its [[WritePolicy]]: under merge-on-read, the last `keepVersions`
  * manifests of the [[ManifestUpsertStore]]; under copy-on-write, a
  * horizon that moves to the current version on every rewrite. Each
  * copy-on-write merge is one, so a feed over a copy-on-write store serves
  * only the empty range at its current version: a consumer should tail a
  * merge-on-read store. Column rename/drop, clustered compaction and
  * re-initialization move the horizon under either policy.
  */
class StoreChangeFeed(store: KeyedUpsertStore, cursorPath: String) {
  private val ledger = new TxidLedger(cursorPath)
  // BASELINE AT ATTACH (review r9): with no durable cursor the baseline is
  // the store's CURRENT version, not 0 — a store that has ever compacted
  // has no version-0 history, so a zero cursor would make every poll()
  // throw behind-horizon forever. Writing currentSeq BEFORE the caller
  // snapshots is the safe order: any merge landing in between is ahead of
  // the cursor and replays (at-least-once), whereas a cursor taken after
  // the snapshot could silently skip it.
  if (ledger.read() < 0L) ledger.commit(store.feedVersion)

  /** Last version this consumer has durably acknowledged. Initialized to
    * the store version at attach time ("the snapshot I am about to take is
    * my baseline") — take `snapshot()` AFTER constructing the feed.
    */
  def cursor: Long = math.max(0L, ledger.read())

  /** `(changes, toSeq)`: the envelope rows in `(cursor, toSeq]`. Apply
    * downstream, make the effect durable, then [[commit]](toSeq).
    */
  def poll(): (DataFrame, Long) = {
    val to = store.feedVersion
    (store.changesBetween(cursor, to), to)
  }

  def commit(seq: Long): Unit = ledger.commit(seq)
}
