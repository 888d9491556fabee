package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Cdc
import graft.functions.GraftExpressions
import graft.streaming.{CdcStreamJob, KeyedUpsertStore, ManifestUpsertStore,
  TxidLedger, WritePolicy}

/** End-to-end replication fidelity, mirroring the reference's integration
  * test (`PerformanceIT.java` + `VBAK.sql`/`VBAK_change.sql`): a VBAK-style
  * sales-order-header table with composite PK (MANDT, VBELN) and zero-padded
  * ALPHANUM keys, driven through initial load + multiple delta rounds —
  * inserts (highest-key clone, like VBAK_change.sql), updates, deletes, and
  * a PK renumbering (the two-change-rows case) — asserting the replica
  * equals the evolving source after every poll.
  */
case class Vbak(MANDT: String, VBELN: String, NETWR: BigDecimal,
    WAERK: String, KUNNR: String)

class VbakScenarioSpec extends SparkSpec {
  import spark.implicits._

  private def vbak(rows: (String, Int, String)*): DataFrame =
    rows.map { case (mandt, keyNum, kunnr) =>
      Vbak(mandt, f"$keyNum%010d", BigDecimal(keyNum) * 100 + BigDecimal("0.25"),
        "EUR", kunnr)
    }.toDF()

  private def feed(rows: ((String, Int), Long)*): DataFrame =
    rows.map { case ((mandt, keyNum), txid) => (mandt, f"$keyNum%010d", txid) }
      .toDF("MANDT", "VBELN", Cdc.TransactionId)

  private def snapshotSet(store: KeyedUpsertStore) =
    store.snapshot().as[Vbak].collect().toSet

  test("initial load + 3 delta rounds keep replica identical to source") {
    val dir = java.nio.file.Files.createTempDirectory("vbak").toString
    var source = vbak(("800", 1, "C1"), ("800", 2, "C2"), ("800", 3, "C3"),
      ("900", 1, "C9"))
    val store = new ManifestUpsertStore(spark, s"$dir/store",
      Seq("MANDT", "VBELN"), numBuckets = 8,
      writePolicy = WritePolicy.CopyOnWrite)
    store.initialize(Cdc.initialLoad(source))
    assert(snapshotSet(store) == source.as[Vbak].collect().toSet)

    val ledger = new TxidLedger(s"$dir/txid")
    val job = new CdcStreamJob(spark, () => source, store, ledger,
      Seq(("MANDT", "MANDT"), ("VBELN", "VBELN")))

    // round 1: clone-highest-key insert (VBAK_change.sql semantics) + update
    source = vbak(("800", 1, "C1*"), ("800", 2, "C2"), ("800", 3, "C3"),
      ("800", 4, "C3"), ("900", 1, "C9"))
    job.processBatch(feed((("800", 1), 101L), (("800", 4), 102L)), 0)
    assert(ledger.read() == 102L)
    assert(snapshotSet(store) == source.as[Vbak].collect().toSet)

    // round 2: delete + unrelated-client update
    source = vbak(("800", 1, "C1*"), ("800", 3, "C3"), ("800", 4, "C3"),
      ("900", 1, "C9x"))
    job.processBatch(feed((("800", 2), 103L), (("900", 1), 104L)), 1)
    assert(snapshotSet(store) == source.as[Vbak].collect().toSet)

    // round 3: PK renumbering — key 3 becomes 30: the trigger writes TWO
    // change rows (old + new key); old folds to DELETE, new to UPSERT
    source = vbak(("800", 1, "C1*"), ("800", 30, "C3"), ("800", 4, "C3"),
      ("900", 1, "C9x"))
    val pkChange = Seq(("800", f"${3}%010d", f"${30}%010d", 105L))
      .toDF("MANDT", "old_VBELN", "new_VBELN", Cdc.TransactionId)
    val doubled = Cdc.splitPkChange(pkChange,
      Seq(("old_VBELN", "new_VBELN", "VBELN")))
    job.processBatch(doubled.select("MANDT", "VBELN", Cdc.TransactionId), 2)
    assert(ledger.read() == 105L)
    assert(snapshotSet(store) == source.as[Vbak].collect().toSet)
  }

  test("replayed poll after crash converges (at-least-once → exactly-once effect)") {
    val dir = java.nio.file.Files.createTempDirectory("vbak2").toString
    var source = vbak(("800", 1, "A"), ("800", 2, "B"))
    val store = new ManifestUpsertStore(spark, s"$dir/store",
      Seq("MANDT", "VBELN"), numBuckets = 4,
      writePolicy = WritePolicy.CopyOnWrite)
    store.initialize(Cdc.initialLoad(source))
    val ledger = new TxidLedger(s"$dir/txid")
    val job = new CdcStreamJob(spark, () => source, store, ledger,
      Seq(("MANDT", "MANDT"), ("VBELN", "VBELN")))
    source = vbak(("800", 1, "A2"), ("800", 2, "B"))
    val f = feed((("800", 1), 50L))
    job.processBatch(f, 0)
    val after = snapshotSet(store)
    // crash before the framework stored the new offset → same window replays:
    // simulate by resetting the ledger and reprocessing the identical feed
    new TxidLedger(s"$dir/txid").commit(-1L)
    job.processBatch(f, 1)
    assert(snapshotSet(store) == after)
    assert(ledger.read() == 50L)
  }

  test("VBAK workload over MOR: time travel recovers every round; CDF tails a replica") {
    // the reference's integration rounds again, but on a merge-on-read
    // store — then the surfaces the reference LACKS prove out on its own
    // workload: snapshotAt reproduces each round's replica state, and a
    // StoreChangeFeed-driven copy-on-write downstream replica converges
    // via poll/ack
    import graft.streaming.StoreChangeFeed
    val dir = java.nio.file.Files.createTempDirectory("vbak3").toString
    var source = vbak(("800", 1, "C1"), ("800", 2, "C2"), ("900", 1, "C9"))
    // keepVersions = 3 retains every round: the initial load and two merges
    val store = new ManifestUpsertStore(spark, s"$dir/store",
      Seq("MANDT", "VBELN"), numBuckets = 8, keepVersions = 3)
    store.initialize(Cdc.initialLoad(source))
    val downstream = new ManifestUpsertStore(spark, s"$dir/replica",
      Seq("MANDT", "VBELN"), numBuckets = 8,
      writePolicy = WritePolicy.CopyOnWrite)
    val tail = new StoreChangeFeed(store, s"$dir/cursor") // baseline FIRST
    downstream.initialize(Cdc.initialLoad(store.snapshot()))
    val ledger = new TxidLedger(s"$dir/txid")
    val job = new CdcStreamJob(spark, () => source, store, ledger,
      Seq(("MANDT", "MANDT"), ("VBELN", "VBELN")))
    val history = scala.collection.mutable.ArrayBuffer(
      store.currentVersion -> snapshotSet(store))
    // round 1: insert + update; round 2: delete
    source = vbak(("800", 1, "C1*"), ("800", 2, "C2"), ("800", 4, "C3"),
      ("900", 1, "C9"))
    job.processBatch(feed((("800", 1), 101L), (("800", 4), 102L)), 0)
    history += store.currentVersion -> snapshotSet(store)
    source = vbak(("800", 1, "C1*"), ("800", 4, "C3"), ("900", 1, "C9"))
    job.processBatch(feed((("800", 2), 103L)), 1)
    history += store.currentVersion -> snapshotSet(store)
    // time travel: every recorded round state is reproducible by version
    history.foreach { case (version, expect) =>
      assert(store.snapshotAt(version).as[Vbak].collect().toSet == expect,
        s"as-of $version")
    }
    // CDF tail: one drain applies both rounds' net changes downstream
    val (changes, to) = tail.poll()
    downstream.merge(changes)
    tail.commit(to)
    assert(snapshotSet(downstream) == snapshotSet(store))
    assert(tail.cursor == store.currentVersion)
  }

  test("to_alphanum derives the clone key like VBAK_change.sql") {
    val top = vbak(("800", 41, "C")).select(
      GraftExpressions.to_alphanum(
        (col("VBELN").cast(IntegerType) + 1).cast(StringType), 10).alias("k"))
    assert(top.as[String].head() == "0000000042")
  }
}
