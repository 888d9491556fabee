package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.Cdc
import graft.streaming.{ManifestUpsertStore, WritePolicy}

/** File-backed stand-in for a transactional Kafka topic — no broker exists
  * in this environment, so the reference's exactly-once produce contract
  * (`S4HanaProducer.java:424-450`: beginTransaction → send the poll's
  * records → commitTransaction, with producer-epoch fencing from
  * `initTransactions`) is modeled on the local filesystem:
  *
  *   - a transaction buffers records and becomes visible ATOMICALLY at
  *     commit (write-temp → atomic move of one segment file);
  *   - an aborted transaction leaves no trace;
  *   - re-registering a transactional id bumps the epoch and FENCES older
  *     producer instances (their commit throws — the zombie-producer
  *     guard);
  *   - consumers in read_committed mode see whole committed segments in
  *     commit order, never partial transactions.
  */
class FakeTransactionalLog(dir: Path) {
  private val epochs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Register a producer for `txnId`: bumps the epoch, fencing any older
    * producer with the same id (the initTransactions contract).
    */
  def newProducer(txnId: String): TxnProducer = {
    val epoch = epochs.merge(txnId, 1L, (a, _) => a + 1L)
    new TxnProducer(this, txnId, epoch)
  }

  private[sources] def currentEpoch(txnId: String): Long =
    Option(epochs.get(txnId)).map(_.longValue).getOrElse(0L)

  private[sources] def commitSegment(records: Seq[(String, String)]): Unit = {
    val tmp = Files.createTempFile(dir, "pending-", ".tmp")
    // tab-separated is safe: JSON escapes control characters
    Files.write(tmp, records.map { case (k, v) => s"$k\t$v" }.asJava)
    val n = seq.incrementAndGet()
    Files.move(tmp, dir.resolve(f"seg-$n%06d.log"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** read_committed view: committed segments only, in commit order. */
  def readCommitted(): Seq[(String, String)] =
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("seg-")).sortBy(_.toString)
      .flatMap(p => Files.readAllLines(p).asScala)
      .map { line =>
        val i = line.indexOf('\t')
        (line.substring(0, i), line.substring(i + 1))
      }
}

class TxnProducer(log: FakeTransactionalLog, txnId: String, epoch: Long) {
  private var buffer = Vector.empty[(String, String)]
  private var inTxn = false

  def begin(): Unit = { require(!inTxn, "transaction already open"); buffer = Vector.empty; inTxn = true }
  def send(key: String, value: String): Unit = {
    require(inTxn, "send outside a transaction")
    buffer :+= (key, value)
  }
  def commit(): Unit = {
    require(inTxn, "no open transaction")
    if (log.currentEpoch(txnId) != epoch)
      throw new IllegalStateException(
        s"producer fenced: epoch $epoch superseded for '$txnId'")
    log.commitSegment(buffer)
    buffer = Vector.empty; inTxn = false
  }
  def abort(): Unit = { buffer = Vector.empty; inTxn = false }
}

/** The transactional produce/consume loop end-to-end: folded CDC batch →
  * KafkaIO records → transactional log → read_committed consume →
  * KafkaIO.fromRecords → idempotent ManifestUpsertStore merge.
  */
class KafkaTxnSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): Path =
    Files.createTempDirectory(s"graft-$name")

  private def folded = Seq(
    (Cdc.Upsert, 7L, 1L, "ALICE"),
    (Cdc.Upsert, 8L, 2L, "BOB"),
    (Cdc.Delete, 9L, 3L, null.asInstanceOf[String])
  ).toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "name")

  test("commit is atomic and visible; abort leaves no trace") {
    val log = new FakeTransactionalLog(tmpDir("txn-visibility"))
    val p = log.newProducer("cdc-1")
    val records = KafkaIO.toRecords(folded, Seq("id"))
      .as[(String, String)].collect()
    p.begin(); records.take(2).foreach { case (k, v) => p.send(k, v) }
    assert(log.readCommitted().isEmpty) // nothing visible mid-transaction
    p.commit()
    assert(log.readCommitted().map(_._1) == Seq("1", "2"))
    p.begin(); records.drop(2).foreach { case (k, v) => p.send(k, v) }
    p.abort()
    assert(log.readCommitted().size == 2) // aborted rows never appear
  }

  test("a newer producer with the same transactional id fences the old one") {
    val log = new FakeTransactionalLog(tmpDir("txn-fence"))
    val zombie = log.newProducer("cdc-1")
    zombie.begin(); zombie.send("k", "v")
    val successor = log.newProducer("cdc-1") // epoch bump
    val ex = intercept[IllegalStateException](zombie.commit())
    assert(ex.getMessage.contains("fenced"))
    successor.begin(); successor.send("k2", "v2"); successor.commit()
    assert(log.readCommitted().map(_._1) == Seq("k2"))
  }

  test("replayed transaction + idempotent merge converge (ST4 end-to-end)") {
    val log = new FakeTransactionalLog(tmpDir("txn-replay"))
    val p = log.newProducer("cdc-1")
    val records = KafkaIO.toRecords(folded, Seq("id"))
      .as[(String, String)].collect()
    // the crash-retry pattern: the producer cannot know whether the commit
    // landed, so the whole poll window is re-sent in a second transaction
    p.begin(); records.foreach { case (k, v) => p.send(k, v) }; p.commit()
    p.begin(); records.foreach { case (k, v) => p.send(k, v) }; p.commit()
    val consumed = log.readCommitted().toDF("key", "value")
    assert(consumed.count() == 6) // at-least-once: duplicates on the wire
    val rows = KafkaIO.fromRecords(consumed, folded.schema)
    val store = new ManifestUpsertStore(spark,
      tmpDir("txn-store").resolve("store").toString, Seq("id"), numBuckets = 4,
      writePolicy = WritePolicy.CopyOnWrite)
    store.initialize(Cdc.initialLoad(
      Seq((1L, "old"), (3L, "doomed")).toDF("id", "name")))
    store.merge(rows)
    // exactly-once EFFECT: upserts overwrite by PK, the delete removed id 3,
    // and the duplicated delivery changed nothing
    assert(store.snapshot().as[(Long, String)].collect().toSet ==
      Set((1L, "ALICE"), (2L, "BOB")))
    store.merge(rows) // a second full replay is also a no-op
    assert(store.snapshot().as[(Long, String)].collect().toSet ==
      Set((1L, "ALICE"), (2L, "BOB")))
  }
}
