package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable

/** Zipf(s) over ranks `0 until n`, sampled by inverse-CDF lookup. */
final class Zipf(n: Int, s: Double) {
  require(n > 0, s"Zipf over $n ranks")
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  def sample(rng: java.util.Random): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** SHA-256 over a length-prefixed stream of the generated values, so two
  * inputs hash alike only when every field matches.
  */
final class InputHash {
  private val md = MessageDigest.getInstance("SHA-256")

  def str(s: String): this.type = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    long(b.length.toLong); md.update(b)
    this
  }

  def long(x: Long): this.type = {
    var i = 0
    while (i < 8) { md.update((x >>> (8 * i)).toByte); i += 1 }
    this
  }

  def dbl(x: Double): this.type = long(java.lang.Double.doubleToLongBits(x))

  def hex: String = md.clone().asInstanceOf[MessageDigest].digest()
    .map("%02x".format(_)).mkString
}

/** One master-table row: string key plus string, decimal (cents) and
  * double payload columns.
  */
final case class MasterRow(key: String, name: String, amountCents: Long,
    score: Double)

/** One PKLOG row: the trigger logs the key, never the payload. */
final case class LogRow(txid: Long, seq: Int, changeType: String, key: String)

/** Size of a generated master + change log; the mix is fixed in
  * [[CdcGen]].
  */
final case class CdcParams(masterRows: Int, windows: Int, txnsPerWindow: Int)

/** A generated initial master, the different final master, and the
  * PKLOG-shaped change log between them, cut into fixed-size txid windows:
  * window `i` holds txids `(i * txnsPerWindow, (i + 1) * txnsPerWindow]`.
  */
final class CdcInputs(val params: CdcParams,
    val initial: IndexedSeq[MasterRow], val finalRows: IndexedSeq[MasterRow],
    val log: IndexedSeq[LogRow], val keyOrder: IndexedSeq[String],
    val hash: String) {

  val finalMaster: Map[String, MasterRow] = finalRows.map(r => r.key -> r).toMap

  def windowBounds(i: Int): (Long, Long) =
    (i.toLong * params.txnsPerWindow, (i + 1L) * params.txnsPerWindow)

  /** Window index of a txid (txids start at 1). */
  def windowOf(txid: Long): Int = ((txid - 1) / params.txnsPerWindow).toInt

  /** Log rows by window, in txid order. */
  val byWindow: IndexedSeq[IndexedSeq[LogRow]] = {
    val grouped = log.groupBy(r => windowOf(r.txid))
    (0 until params.windows).map(i => grouped.getOrElse(i, IndexedSeq.empty))
  }

  /** The keys windows `[from, until)` log. */
  def keysIn(from: Int, until: Int): Set[String] =
    (from until until).iterator.flatMap(byWindow(_).iterator.map(_.key)).toSet

  /** The replica after applying windows `[0, n)` with payloads read from
    * the final master (the paper's model: the log carries keys, the fold
    * reads the master): a logged key takes its final row, or is gone when
    * the final master lacks it.
    */
  def expectedAfter(n: Int): Map[String, MasterRow] = {
    val m = mutable.HashMap.empty[String, MasterRow]
    initial.foreach(r => m(r.key) = r)
    keysIn(0, n).foreach { k =>
      finalMaster.get(k) match {
        case Some(r) => m(k) = r
        case None => m.remove(k)
      }
    }
    m.toMap
  }

  /** Last window logging each key — where a wrong replica row is charged. */
  lazy val lastWindowOf: Map[String, Int] =
    log.map(r => r.key -> windowOf(r.txid)).toMap

  /** Deduplicated keys per logged change, over windows `[from, until)`. */
  def keysPerChange(from: Int, until: Int): Double = {
    val rows = (from until until).map(byWindow(_).size).sum
    val keys = (from until until).map(byWindow(_).map(_.key).distinct.size).sum
    if (rows == 0) 0.0 else keys.toDouble / rows
  }

  /** Share of the windows' deduplicated keys that fold to a delete. */
  def deleteShare(from: Int, until: Int): Double = {
    val keys = (from until until).flatMap(byWindow(_).map(_.key).distinct)
    if (keys.isEmpty) 0.0
    else keys.count(k => !finalMaster.contains(k)).toDouble / keys.size
  }

  /** Canonical bytes of the log rows of windows `[from, until)`. */
  def logBytes(from: Int, until: Int): Long =
    (from until until).map(byWindow(_).map(r => 8L + 8 + 8 + 1 + 8 +
      r.changeType.length + 8 + r.key.length).sum).sum
}

object CdcGen {
  /** Changes per transaction are uniform in `1 to MaxChangesPerTxn`. */
  val MaxChangesPerTxn = 3
  /** Skew of the keys updates pick. */
  val ZipfS = 1.1
  /** The change mix; the rest of it deletes. */
  val UpdateShare = 0.7
  val InsertShare = 0.2
  /** Share of updates that change the primary key. */
  val PkChangeShare = 0.03
  /** Share of inserts that bring back a deleted key. */
  val ReinsertShare = 0.3

  def keyOf(id: Int): String = f"K$id%09d"

  private def payload(rng: java.util.Random, key: String): MasterRow =
    MasterRow(key, s"name-${rng.nextInt(1000000)}",
      (rng.nextDouble() * 1e9).toLong, rng.nextInt(1 << 24) / 1024.0)

  /** Deterministic in `seed`: same seed, same inputs, same hash. Updates
    * pick Zipf-hot keys; deletes pick uniformly among live keys, so the hot
    * set stays mostly alive across a long log.
    */
  def generate(seed: Long, p: CdcParams): CdcInputs = {
    val rng = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 1L)
    val state = mutable.HashMap.empty[String, MasterRow]
    val live = mutable.ArrayBuffer.empty[String]
    val pos = mutable.HashMap.empty[String, Int]
    def put(r: MasterRow): Unit = {
      if (!state.contains(r.key)) { pos(r.key) = live.size; live += r.key }
      state(r.key) = r
    }
    def remove(k: String): MasterRow = {
      val i = pos.remove(k).get
      val last = live.remove(live.size - 1)
      if (last != k) { live(i) = last; pos(last) = i }
      state.remove(k).get
    }
    (0 until p.masterRows).foreach(id => put(payload(rng, keyOf(id))))
    val initial = live.toIndexedSeq.map(state)
    // hot keys scattered over the id space; inserted keys join cold
    val order = mutable.ArrayBuffer.from(
      scala.util.Random.javaRandomToRandom(rng).shuffle((0 until p.masterRows).toVector)
        .map(keyOf))
    var nextId = p.masterRows
    val zipf = new Zipf(p.masterRows, ZipfS)
    val deleted = mutable.ArrayBuffer.empty[String]
    def hotLiveKey(): String = {
      var tries = 0
      while (tries < 32) {
        val k = order(zipf.sample(rng))
        if (state.contains(k)) return k
        tries += 1
      }
      live(rng.nextInt(live.size))
    }
    def freshKey(): String = {
      val k = keyOf(nextId); nextId += 1; order += k; k
    }
    val log = mutable.ArrayBuffer.empty[LogRow]
    val txns = p.windows.toLong * p.txnsPerWindow
    var txid = 1L
    while (txid <= txns) {
      val changes = 1 + rng.nextInt(MaxChangesPerTxn)
      var seq = 0
      (0 until changes).foreach { _ =>
        val u = rng.nextDouble()
        if (u < UpdateShare) {
          val k = hotLiveKey()
          if (rng.nextDouble() < PkChangeShare) {
            // a PK-changing update: the trigger logs the old and the new key
            val nk = freshKey()
            val old = remove(k)
            put(old.copy(key = nk, score = old.score + 1.0))
            log += LogRow(txid, seq, "U", k); seq += 1
            log += LogRow(txid, seq, "U", nk); seq += 1
            deleted += k
          } else {
            put(payload(rng, k))
            log += LogRow(txid, seq, "U", k); seq += 1
          }
        } else if (u < UpdateShare + InsertShare) {
          val reinsert = deleted.nonEmpty && rng.nextDouble() < ReinsertShare
          val k =
            if (reinsert) {
              val i = rng.nextInt(deleted.size)
              val k0 = deleted(i)
              deleted(i) = deleted.last; deleted.remove(deleted.size - 1)
              k0
            } else freshKey()
          put(payload(rng, k))
          log += LogRow(txid, seq, "I", k); seq += 1
        } else {
          val k = live(rng.nextInt(live.size))
          remove(k)
          deleted += k
          log += LogRow(txid, seq, "D", k); seq += 1
        }
      }
      txid += 1
    }
    val finalRows = state.values.toIndexedSeq.sortBy(_.key)
    val h = new InputHash
    def row(r: MasterRow): Unit =
      h.str(r.key).str(r.name).long(r.amountCents).dbl(r.score)
    initial.foreach(row)
    finalRows.foreach(row)
    log.foreach(r => h.long(r.txid).long(r.seq).str(r.changeType).str(r.key))
    new CdcInputs(p, initial, finalRows, log.toIndexedSeq, order.toIndexedSeq,
      h.hex)
  }
}

/** Size of a generated document stream; its shape is fixed in
  * [[CorpusGen]].
  */
final case class CorpusParams(vocab: Int, bootstrapDocs: Int, batchDocs: Int)

final case class Doc(id: Long, text: String)

/** A seeded document stream: batch 0 bootstraps the survivor store and
  * trains the tokenizer; later batches are produced on demand, in order.
  * A [[CorpusGen.WithinDupShare]] of each batch copies an earlier document
  * of the same batch and a [[CorpusGen.CrossDupShare]] copies one from an
  * earlier batch, byte for byte; every other document is text never
  * generated before.
  */
final class CorpusGen(seed: Long, val params: CorpusParams) {
  import CorpusGen._
  private val rng = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 2L)
  private val vocabulary: IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < params.vocab) {
      // word length cycles with Zipf rank, so the few hot words that make
      // up most of the text have the same lengths under every seed and a
      // batch's byte size does not swing with the seed; 3 letters and up
      // leave room for every rank's word to be distinct
      val len = 3 + seen.size % 6
      seen += (0 until len).map(_ => ('a' + rng.nextInt(20)).toChar).mkString
    }
    seen.toIndexedSeq
  }
  private val zipf = new Zipf(params.vocab, ZipfS)
  private val texts = mutable.HashSet.empty[String]
  private val history = mutable.ArrayBuffer.empty[String]
  private var nextId = 1L
  private val hash = new InputHash
  var batchesMade = 0

  private def freshText(): String = {
    var t: String = null
    while (t == null || texts.contains(t)) {
      val n = MinWords + rng.nextInt(MaxWords - MinWords + 1)
      t = (0 until n).map(_ => vocabulary(zipf.sample(rng))).mkString(" ")
    }
    texts += t
    t
  }

  /** The next batch: the bootstrap batch first, then the stream. */
  def nextBatch(): IndexedSeq[Doc] = {
    val size = if (batchesMade == 0) params.bootstrapDocs else params.batchDocs
    val batch = mutable.ArrayBuffer.empty[Doc]
    (0 until size).foreach { _ =>
      val u = rng.nextDouble()
      val text =
        if (u < WithinDupShare && batch.nonEmpty)
          batch(rng.nextInt(batch.size)).text
        else if (u < WithinDupShare + CrossDupShare &&
            history.nonEmpty)
          history(rng.nextInt(history.size))
        else freshText()
      batch += Doc(nextId, text)
      nextId += 1
    }
    history ++= batch.map(_.text)
    batch.foreach(d => hash.long(d.id).str(d.text))
    batchesMade += 1
    batch.toIndexedSeq
  }

  /** Hash of every batch made so far. */
  def inputHash: String = hash.hex

  /** The retraction sample after batch `b`: a seeded share of the ids
    * the manifest serves.
    */
  def retraction(b: Int, serving: IndexedSeq[Long]): IndexedSeq[Long] = {
    val r = new java.util.Random(seed * 31L + b)
    val n = math.max(1, (serving.size * RetractShare).toInt)
    scala.util.Random.javaRandomToRandom(r).shuffle(serving.sorted).take(n)
  }
}

object CorpusGen {
  /** Skew of the vocabulary words are drawn from. */
  val ZipfS = 1.05
  /** Words per document, uniform in `MinWords to MaxWords`. */
  val MinWords = 15
  val MaxWords = 45
  /** Shares of a batch that copy a document of the same batch, or of an
    * earlier one.
    */
  val WithinDupShare = 0.1
  val CrossDupShare = 0.1
  /** Share of the served ids each retraction takes back. */
  val RetractShare = 0.02
}

/** The expected manifest: which documents survive exact dedup against
  * the bootstrap and every earlier batch, minus retractions.
  */
final class CorpusModel(bootstrap: Seq[Doc]) {
  private val seen = mutable.HashSet.from(bootstrap.map(_.text))
  /** Surviving document id → the batch that delivered it. */
  val survivors = mutable.LinkedHashMap.empty[Long, Int]
  val retracted = mutable.LinkedHashMap.empty[Long, Int]

  /** Applies one delivered batch; returns its fresh survivor count. The
    * survivor of a repeated text is the lowest id of the first batch
    * carrying it.
    */
  def deliver(batchId: Int, docs: Seq[Doc]): Int = {
    var fresh = 0
    docs.sortBy(_.id).foreach { d =>
      if (seen.add(d.text)) { survivors(d.id) = batchId; fresh += 1 }
    }
    fresh
  }

  def retract(opIndex: Int, ids: Seq[Long]): Unit =
    ids.foreach(id => retracted(id) = opIndex)

  def serving: IndexedSeq[Long] =
    survivors.keysIterator.filterNot(retracted.contains).toIndexedSeq
}
