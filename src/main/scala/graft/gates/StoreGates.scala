package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Cdc
import graft.operators.IncrementalAgg

import GateSupport._

/** The keyed replica stores: time travel, point lookup, change-data feed,
  * the manifest-published store and the feed-maintained replica.
  */
object StoreGates extends GateFamily {

  lazy val gates: Seq[Gate] = Seq(
    // TIME TRAVEL through the MOR store (ST4/ST6 extension — the
    // Delta/Iceberg `VERSION AS OF` analog): initialize a replica from
    // customer, apply two folded CDC batches as sequenced deltas, then
    // read the version after batch 1 — the batch-2 effects (+200 on every
    // 5th key, re-inserts of deleted keys) must be invisible, which only
    // holds if the store really serves the historical version, not the
    // latest. The
    // oracle recomputes batch-1 state from customer arithmetic alone. The
    // store result is eagerly checkpointed so the temp dir can be removed
    // before the frame is consumed.
    Gate("q_store_time_travel", (s, dir) =>
      withReplayStore(s, dir)(store =>
        store.snapshotAt(ReplayAfterBatch1)
          .select(ReplayCols: _*)),
      // Time travel: the as-of-batch-1 state is pure customer arithmetic —
      // every 7th key deleted, every remaining 3rd bumped +100; batch 2
      // (+200 on every 5th, re-inserting deleted keys) must be invisible
      """SELECT c_custkey AS user_id, c_name,
        |  CAST(CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100
        |            ELSE c_acctbal END AS DOUBLE) AS bal
        |FROM customer
        |WHERE c_custkey % 7 <> 0""".stripMargin),

    // POINT LOOKUPS over the same two-batch store: eight probes covering
    // untouched / updated / LWW-overridden / deleted / delete-then-
    // reinserted keys, each reading ONE bucket (StoreLookupSpec measures
    // the files). Oracle = the final-state arithmetic restricted to the
    // probed keys; the deleted keys' absence is part of the hash.
    Gate("q_store_lookup", (s, dir) =>
      withReplayStore(s, dir) { store =>
        LookupProbeKeys
          .map(k => store.lookup(k))
          .reduce(_.unionByName(_))
          .select(ReplayCols: _*)
      },
      // final state at the probed keys: +200 overrides +100 (LWW), %7
      // deletes survive only when %5 re-inserted them
      """SELECT c_custkey AS user_id, c_name,
        |  CAST(CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 200
        |            WHEN c_custkey % 3 = 0 THEN c_acctbal + 100
        |            ELSE c_acctbal END AS DOUBLE) AS bal
        |FROM customer
        |WHERE c_custkey IN (1, 3, 5, 7, 8, 15, 21, 35)
        |  AND NOT (c_custkey % 7 = 0 AND c_custkey % 5 <> 0)""".stripMargin),

    // CHANGE DATA FEED over the same two-batch store: the net changes
    // after batch 1 are exactly batch 2's upserts (+200 on every 5th
    // key) — the
    // Delta-CDF `table_changes` analog; LWW replay identity spec-pinned.
    Gate("q_store_cdf", (s, dir) =>
      withReplayStore(s, dir)(store =>
        store.changesBetween(ReplayAfterBatch1, ReplayAfterBatch1 + 1)
          .select(col("user_id"), col("c_name"),
            col("c_acctbal").cast(DoubleType).alias("bal"),
            col(Cdc.ChangeType))),
      // Change data feed (1, 2]: exactly batch 2 — upserts of every 5th key
      // at +200
      """SELECT c_custkey AS user_id, c_name,
        |  CAST(c_acctbal + 200 AS DOUBLE) AS bal, 'A' AS _change_type
        |FROM customer WHERE c_custkey % 5 = 0""".stripMargin),

    // CDF AS A MAINTENANCE FEED (r12): the Delta-CDF consumer contract
    // driven end-to-end — a decile count/sum aggregate materialized at
    // the version after batch 1 is brought current using ONLY the change
    // feed past it plus that snapshot for retractions, never rescanning
    // the latest version; the
    // oracle recomputes the aggregate from the final folded state, so a
    // CDF feed missing a change, or maintenance double-counting one,
    // breaks the hash (maintenance ≡ recompute, composed with the store).
    Gate("q_store_cdf_maintain", (s, dir) =>
      withReplayStore(s, dir) { store =>
        val v1 = store.snapshotAt(ReplayAfterBatch1)
          .select(pmod(col("user_id"), lit(10)).alias("g"), col("user_id"),
            dec(col("c_acctbal")).alias("bal"))
        val oldAgg = v1.groupBy(col("g"))
          .agg(count(lit(1)).alias("n"), sum(col("bal")).alias("s"))
        val changes =
          store.changesBetween(ReplayAfterBatch1, ReplayAfterBatch1 + 1)
        val oldRows = v1.join(changes.select(col("user_id")),
          Seq("user_id"), "left_semi")
        val newRows = changes.where(col(Cdc.ChangeType) === Cdc.Upsert)
          .select(pmod(col("user_id"), lit(10)).alias("g"),
            dec(col("c_acctbal")).alias("bal"))
        IncrementalAgg.maintainCountSum(oldAgg, oldRows, newRows, "g", "bal")
          .select(col("g"), col("n"),
            col("s").cast(DoubleType).alias("sum_bal"))
      },
      // decile count/sum over the final folded state — maintenance from the
      // CDF feed must land exactly here
      """WITH final AS (
        |  SELECT c_custkey AS user_id,
        |    CAST(CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 200
        |              WHEN c_custkey % 3 = 0 THEN c_acctbal + 100
        |              ELSE c_acctbal END AS DECIMAL(18,2)) AS bal
        |  FROM customer
        |  WHERE NOT (c_custkey % 7 = 0 AND c_custkey % 5 <> 0))
        |SELECT user_id % 10 AS g, count(*) AS n,
        |  CAST(sum(bal) AS DOUBLE) AS sum_bal
        |FROM final GROUP BY user_id % 10""".stripMargin),

    // OBJECT-STORE COMMIT PROTOCOL (VERDICT r9 #9): the same two-batch
    // replay through the rename-free ManifestUpsertStore — immutable
    // generation dirs + digest-validated manifest put — with a manifest
    // COMPACTION between the batches, so the gate exercises generation
    // re-referencing and the post-compact LWW boundary. Same final-state
    // oracle arithmetic as the other replay gates; crash points are
    // ManifestStoreSpec's.
    Gate("q_store_manifest", (s, dir) => {
      val cust = replayCustomers(s, dir)
      withWorkDir("graft-mfstore") { work =>
        val store = new graft.streaming.ManifestUpsertStore(s,
          work.resolve("store").toString, pkCols = Seq("user_id"),
          numBuckets = 8)
        store.initialize(Cdc.initialLoad(cust))
        store.merge(replayBatch1(cust))
        store.compact() // fold batch 1; batch 2 must still outrank it
        store.merge(replayBatch2(cust))
        store.snapshot()
          .select(ReplayCols: _*)
          .localCheckpoint(true)
      }
    },
      // manifest store final state: same LWW arithmetic as q_store_lookup,
      // unrestricted keys (+200 overrides +100; %7 deletes survive only via
      // %5 re-insert)
      ReplayFinalOracle),

    // DOWNSTREAM REPLICA VIA THE CHANGE FEED (r13, VERDICT r12 #2): the
    // reference's consumer-side topology — its consumers tail the Kafka
    // topic the producer commits into (README.md:44); here a
    // StoreChangeFeed consumer (durable cursor, at-least-once) tails the
    // merge-on-read MANIFEST store's version history and maintains a
    // copy-on-write replica, i.e. the two write policies composed across
    // the feed seam. Batch 1, a manifest compaction, and
    // batch 2 land behind the attached consumer; every polled window is applied
    // TWICE before its ack (the crash-between-effect-and-ack replay), so
    // idempotent convergence is inside the hash. Oracle = the source's
    // final-state arithmetic (identical to q_store_manifest): a skipped
    // window, a lost delete, or a feed/compaction interaction bug breaks
    // the hash.
    Gate("q_store_feed_replica", (s, dir) => {
      val cust = replayCustomers(s, dir)
      withWorkDir("graft-feedrepl") { work =>
        val source = new graft.streaming.ManifestUpsertStore(s,
          work.resolve("source").toString, pkCols = Seq("user_id"),
          numBuckets = 8)
        source.initialize(Cdc.initialLoad(cust))
        // attach BEFORE snapshotting: a merge landing in between replays
        val feed = new graft.streaming.StoreChangeFeed(source,
          work.resolve("cursor").toString)
        val replica = new graft.streaming.ManifestUpsertStore(s,
          work.resolve("replica").toString, pkCols = Seq("user_id"),
          numBuckets = 8,
          writePolicy = graft.streaming.WritePolicy.CopyOnWrite)
        replica.initialize(Cdc.initialLoad(source.snapshot()))
        def drain(): Unit = {
          val (changes, to) = feed.poll()
          // one window, applied twice
          if (feed.cursor < to) graft.util.Checkpoints.pinned(changes) { w =>
            replica.merge(w)
            replica.merge(w) // crash-replay before the ack: must be a no-op
            feed.commit(to)
          }
        }
        source.merge(replayBatch1(cust))
        drain()
        source.compact() // versions keep flowing; the feed must span it
        source.merge(replayBatch2(cust))
        drain()
        replica.snapshot()
          .select(ReplayCols: _*)
          .localCheckpoint(true)
      }
    },
      // Feed-maintained replica converges to the source's final state: the
      // same LWW arithmetic as q_store_manifest (the replica is only
      // correct if no window was skipped, re-applied non-idempotently, or
      // torn by the in-range compaction)
      ReplayFinalOracle)
  )

  // Deliberately NOT cached across the gates that share it (a shared
  // build serving both was weighed in r9): Bench's between-query state sweep
  // unpersists every RDD including localCheckpoint blocks, which have no
  // lineage to recompute from — a cached frame would throw on its second
  // use. Each gate pays its own small build (two O(batch) MOR merges).
  /** Build the two-batch merge-on-read replay store over `customer` that
    * the q_store_* time-travel, lookup and change-data-feed gates read
    * (also driven standalone by the bench's read-path isolation entries —
    * VERDICT r9 #7). Batch 1: +100 on every 3rd key, delete every 7th;
    * batch 2: +200 on every 5th key (re-inserting deleted multiples
    * of 35). Batch 1 publishes version [[ReplayAfterBatch1]] and batch 2
    * the one after it.
    */
  private[graft] def buildReplayStore(s: SparkSession, dir: String,
      storeDir: String): graft.streaming.ManifestUpsertStore = {
    val cust = replayCustomers(s, dir)
    val store = new graft.streaming.ManifestUpsertStore(s, storeDir,
      pkCols = Seq("user_id"), numBuckets = 8)
    store.initialize(Cdc.initialLoad(cust))
    store.merge(replayBatch1(cust))
    store.merge(replayBatch2(cust))
    store
  }

  /** `customer` keyed by `user_id`: the replay gates' master. */
  private def replayCustomers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(
      col("c_custkey").alias("user_id"), col("c_name"), col("c_acctbal"))

  /** Replay batch 1: +100 on every 3rd key, delete every 7th. */
  private def replayBatch1(cust: DataFrame): DataFrame =
    cust
      .where(col("user_id") % 7 === 0 || col("user_id") % 3 === 0)
      .withColumn("c_acctbal",
        when(col("user_id") % 7 =!= 0, col("c_acctbal") + 100)
          .otherwise(col("c_acctbal")))
      .withColumn(Cdc.ChangeType,
        when(col("user_id") % 7 === 0, lit(Cdc.Delete))
          .otherwise(lit(Cdc.Upsert)))
      .withColumn(Cdc.TransactionId, lit(1L))

  /** Replay batch 2: +200 on every 5th key (re-inserting deleted
    * multiples of 35).
    */
  private def replayBatch2(cust: DataFrame): DataFrame =
    cust.where(col("user_id") % 5 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 200)
      .withColumn(Cdc.ChangeType, lit(Cdc.Upsert))
      .withColumn(Cdc.TransactionId, lit(2L))

  /** The replay gates' output row: key, name and balance as a double. */
  private val ReplayCols = Seq(col("user_id"), col("c_name"),
    col("c_acctbal").cast(DoubleType).alias("bal"))

  /** The replay's final state, every key: +200 overrides +100, and a
    * deleted multiple of 7 survives only through the +200 re-insert.
    */
  private val ReplayFinalOracle =
    """SELECT c_custkey AS user_id, c_name,
      |  CAST(CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 200
      |            WHEN c_custkey % 3 = 0 THEN c_acctbal + 100
      |            ELSE c_acctbal END AS DOUBLE) AS bal
      |FROM customer
      |WHERE NOT (c_custkey % 7 = 0 AND c_custkey % 5 <> 0)""".stripMargin

  /** The replay store's version after batch 1: the initial load publishes
    * version 1, and each merge the next one.
    */
  private[graft] val ReplayAfterBatch1 = 2L

  /** The eight q_store_lookup probe keys: untouched / updated / LWW-
    * overridden / deleted / delete-then-reinserted coverage.
    */
  private[graft] val LookupProbeKeys = Seq(1L, 3L, 5L, 7L, 8L, 15L, 21L, 35L)

  private def withReplayStore(s: SparkSession, dir: String)(
      f: graft.streaming.ManifestUpsertStore => DataFrame): DataFrame =
    withWorkDir("graft-replaystore") { work =>
      f(buildReplayStore(s, dir, work.resolve("store").toString))
        .localCheckpoint(true)
    }
}
