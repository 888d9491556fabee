package graft.streaming

import org.apache.spark.sql.DataFrame

/** Incremental consumer of a versioned store's change feed — the
  * DOWNSTREAM half of the engine's topology (the reference's consumers
  * tail the Kafka topic the producer commits into; a lakehouse consumer
  * tails the store's versions the same way). One cursor class serves both
  * feeds: the keyed store's ([[KeyedUpsertStore.feedVersion]] /
  * [[KeyedUpsertStore.changesBetween]], the auxiliary constructor) and the
  * manifest maintainer's (`currentVersion` /
  * [[VersionedManifestMaintainer.windowsBetween]], applied with
  * [[VersionedManifestMaintainer.applyFeed]]). At-least-once with the same
  * shape as the producer side (ST4): [[poll]] returns everything after the
  * durable cursor (a [[TxidLedger]]), [[commit]] advances the cursor only
  * on the caller's ack, so a crash between effect and ack replays the
  * window and an idempotent / last-write-wins downstream converges.
  *
  * Attach BEFORE materializing the replica: the cursor baselines at the
  * head version current at attach, so a commit landing between attach and
  * the snapshot is ahead of the cursor and replays.
  *
  * A cursor the retention horizon has passed fails loudly on poll (the
  * Kafka offset-out-of-range / Delta vacuumed-version analog): the
  * consumer fell behind retention, and silently skipping the lost span
  * would lose deletes. For the maintainer, retention is its
  * `keepVersions`. For the keyed store it depends on its [[WritePolicy]]:
  * under merge-on-read, the last `keepVersions` manifests of the
  * [[ManifestUpsertStore]]; under copy-on-write, a horizon that moves to
  * the current version on every rewrite. Each copy-on-write merge is one,
  * so a feed over a copy-on-write store serves only the empty range at its
  * current version: a consumer should tail a merge-on-read store. Column
  * rename/drop, clustered compaction and re-initialization move the
  * horizon under either policy.
  *
  * @param head    the source's current version
  * @param between the change rows in `(from, to]`
  */
class StoreChangeFeed(head: () => Long, between: (Long, Long) => DataFrame,
    cursorPath: String) {

  def this(store: KeyedUpsertStore, cursorPath: String) =
    this(() => store.feedVersion, store.changesBetween, cursorPath)

  private val ledger = new TxidLedger(cursorPath)
  // BASELINE AT ATTACH (review r9): with no durable cursor the baseline is
  // the source's CURRENT version, not 0 — a store that has ever compacted
  // has no version-0 history, so a zero cursor would make every poll()
  // throw behind-horizon forever. Writing the head BEFORE the caller
  // snapshots is the safe order: any commit landing in between is ahead
  // of the cursor and replays (at-least-once), whereas a cursor taken
  // after the snapshot could silently skip it.
  if (ledger.read() < 0L) ledger.commit(head())

  /** Last version this consumer has durably acknowledged. Initialized to
    * the head version at attach time ("the snapshot I am about to take is
    * my baseline") — take the snapshot AFTER constructing the feed.
    */
  def cursor: Long = math.max(0L, ledger.read())

  /** `(changes, to)`: the change rows in `(cursor, to]`. Apply
    * downstream, make the effect durable, then [[commit]](to).
    */
  def poll(): (DataFrame, Long) = {
    val to = head()
    (between(cursor, to), to)
  }

  def commit(version: Long): Unit = ledger.commit(version)
}
