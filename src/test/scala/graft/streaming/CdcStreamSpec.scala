package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.Cdc

/** End-to-end streaming CDC: MemoryStream change feed → commit-order
  * watermark → delta fold → bucket-merge store → ledger advance; plus
  * replay idempotence and stuck-transaction semantics (ST1-ST7).
  */
class CdcStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$name").toString

  // change-feed rows: (id, payload, txid)
  private def feed(rows: (Long, String, Long)*) =
    rows.toDF("id", "payload", Cdc.TransactionId)

  /** A copy-on-write store over `dir`, not yet initialized. */
  private def cow(dir: String, numBuckets: Int = 4): ManifestUpsertStore =
    new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = numBuckets,
      writePolicy = WritePolicy.CopyOnWrite)

  /** A copy-on-write store that dies after writing its generation and
    * before its manifest put — the crash window of every commit.
    */
  private def crashingBeforePut(dir: String): ManifestUpsertStore =
    new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4,
        writePolicy = WritePolicy.CopyOnWrite) {
      override protected def beforeCommitLoop(): Unit =
        throw new IllegalStateException("crash before the manifest put")
    }

  private def newStore(dir: String): ManifestUpsertStore = {
    val store = cow(dir)
    store.initialize(Cdc.initialLoad(
      Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("id", "payload")))
    store
  }

  test("upsert store: initialize + snapshot round-trip") {
    val store = newStore(tmp("store"))
    assert(store.snapshot().as[(Long, String)].collect().toSet ==
      Set((1L, "one"), (2L, "two"), (3L, "three")))
  }

  // ── Merge-on-read vs copy-on-write ───────────────────────────────────────

  private def morStore(dir: String): ManifestUpsertStore = {
    val store = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4)
    store.initialize(Cdc.initialLoad(
      Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("id", "payload")))
    store
  }

  test("MOR: same snapshots as COW across a batch sequence; O(batch) appends") {
    val cow = newStore(tmp("cow"))
    val mor = morStore(tmp("mor"))
    val batches = Seq(
      Seq((Cdc.Upsert, 10L, 2L, "TWO"), (Cdc.Upsert, 11L, 9L, "nine"),
        (Cdc.Delete, 12L, 3L, null.asInstanceOf[String])),
      Seq((Cdc.Upsert, 13L, 9L, "NINE"), (Cdc.Delete, 14L, 1L, null.asInstanceOf[String])),
      Seq((Cdc.Upsert, 15L, 3L, "back"), (Cdc.Upsert, 16L, 2L, "two2")))
    for (b <- batches) {
      val df = b.toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload")
      cow.merge(df); mor.merge(df)
      assert(mor.snapshot().as[(Long, String)].collect().toSet ==
        cow.snapshot().as[(Long, String)].collect().toSet)
    }
    assert(mor.snapshot().as[(Long, String)].collect().toSet ==
      Set((2L, "two2"), (9L, "NINE"), (3L, "back")))
    // the base was never rewritten: three published deltas exist
    assert(mor.deltaCount == 3)
  }

  test("MOR merge writes O(batch) bytes; COW rewrites touched-bucket data (measured)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
    }
    def written(body: => Unit): Long = {
      spark.sparkContext.addSparkListener(listener)
      try {
        bytes.set(0)
        body
        // listener events are async: drain the bus before reading
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        bytes.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // a 20k-row base across 2 buckets; the batch touches 10 keys — every
    // bucket is dirty, so COW must rewrite ~the whole base while MOR
    // appends ~the batch
    val base = spark.range(20000L)
      .select($"id", concat(lit("payload_"), $"id").as("payload"))
    val batch = Seq.tabulate(10)(i =>
        (Cdc.Upsert, 100L + i, i * 1000L, s"updated_$i"))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload")
    def run(mor: Boolean): Long = {
      val store: KeyedUpsertStore =
        if (mor) new ManifestUpsertStore(spark, tmp("amp"), Seq("id"),
          numBuckets = 2)
        else cow(tmp("amp"), numBuckets = 2)
      store.initialize(Cdc.initialLoad(base))
      written { store.merge(batch) }
    }
    val cowBytes = run(false)
    val morBytes = run(true)
    // the design claim, measured: COW write amplification is the touched
    // buckets' FULL data (~20k rows here), MOR's is the 10-row batch
    assert(morBytes * 10 < cowBytes,
      s"MOR wrote $morBytes vs COW $cowBytes — expected ≥10× separation")
  }

  test("MOR delta is bucket-aligned: one file per touched bucket") {
    val dir = tmp("morfiles")
    val store = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 8)
    store.initialize(Cdc.initialLoad(
      (1L to 64L).map(i => (i, s"v$i")).toDF("id", "payload")))
    // a wide batch (touches many buckets) written from many partitions:
    // without the aligning exchange this would write tasks × buckets files
    store.merge(spark.range(1, 65)
      .select(lit(Cdc.Upsert).alias(Cdc.ChangeType),
        (col("id") + 100L).alias(Cdc.TransactionId), col("id"),
        concat(lit("u"), col("id")).alias("payload"))
      .repartition(16))
    val delta = new java.io.File(dir).listFiles((_: java.io.File, n: String) =>
      n.startsWith("gen-delta-")).head
    delta.listFiles((f: java.io.File) => f.getName.startsWith("_bucket="))
      .foreach { b =>
        val n = b.listFiles((f: java.io.File) =>
          f.getName.endsWith(".parquet")).length
        assert(n === 1, s"delta bucket ${b.getName} holds $n files, want 1")
      }
  }

  test("MOR: replay of the same batch is idempotent (a later equal delta wins harmlessly)") {
    val mor = morStore(tmp("morr"))
    val b = Seq((Cdc.Upsert, 10L, 2L, "TWO"),
      (Cdc.Delete, 11L, 1L, null.asInstanceOf[String]))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload")
    mor.merge(b)
    val first = mor.snapshot().as[(Long, String)].collect().toSet
    mor.merge(b) // replay: a second delta with identical content
    assert(mor.snapshot().as[(Long, String)].collect().toSet == first)
    assert(first == Set((2L, "TWO"), (3L, "three")))
  }

  test("selective compact handles a touched bucket emptied by deletes") {
    val dir = tmp("morempty")
    val store = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 8)
    store.initialize(Cdc.initialLoad(
      (1L to 32L).map(i => (i, s"v$i")).toDF("id", "payload")))
    // find a bucket and delete EVERY key in it
    val byBucket = (1L to 32L).map { i =>
      val b = spark.range(1).select(pmod(hash(lit(i)), lit(8)).cast("int"))
        .head().getInt(0)
      i -> b
    }
    val (_, victims) = byBucket.groupBy(_._2).view
      .mapValues(_.map(_._1)).head
    store.merge(victims.map(i => (Cdc.Delete, 100L + i, i,
        null.asInstanceOf[String]))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload"))
    store.compact()
    // the emptied bucket serves nothing; no victim row survives
    assert(store.deltaCount === 0)
    assert(store.lookup(victims.head).count() === 0)
    val left = store.snapshot().as[(Long, String)].collect().map(_._1).toSet
    assert(left === (1L to 32L).toSet -- victims)
  }

  test("processBatch drives MOR compaction from the debt policy (VERDICT r9 #5)") {
    val dir = tmp("morauto")
    val store = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4)
    store.initialize(Cdc.initialLoad(
      Seq((1L, "one"), (2L, "two")).toDF("id", "payload")))
    val ledger = new TxidLedger(tmp("morauto-led") + "/led")
    var src = Seq((1L, "one"), (2L, "two"))
    val job = new CdcStreamJob(spark, source = () => src.toDF("id", "payload"),
      store = store, ledger = ledger, keyJoin = Seq("id" -> "id"),
      autoCompactDeltas = Some(2))
    def batch(txid: Long, ids: Long*) =
      ids.map(i => (i, txid)).toDF("id", Cdc.TransactionId)
    src = Seq((1L, "ONE"), (2L, "two"))
    job.processBatch(batch(1L, 1L), 0L)
    assert(store.deltaCount === 1) // below threshold: no compact
    src = Seq((1L, "ONE"), (2L, "TWO"))
    job.processBatch(batch(2L, 2L), 1L)
    assert(store.deltaCount === 0,
      "debt hit the threshold: processBatch must have compacted")
    assert(store.snapshot().as[(Long, String)].collect().toSet ===
      Set((1L, "ONE"), (2L, "TWO")))
    // byte-ratio policy, called on the store: one huge backfill delta is
    // due even at delta-count 1 (the case the count policy misses)
    val dir2 = tmp("morauto2")
    val store2 = new ManifestUpsertStore(spark, dir2, Seq("id"), numBuckets = 4)
    store2.initialize(Cdc.initialLoad(
      Seq((1L, "x")).toDF("id", "payload")))
    val ledger2 = new TxidLedger(tmp("morauto2-led") + "/led")
    val big = (1L to 500L).map(i => (i, s"p$i"))
    val job2 = new CdcStreamJob(spark,
      source = () => big.toDF("id", "payload"),
      store = store2, ledger = ledger2, keyJoin = Seq("id" -> "id"))
    job2.processBatch(big.map { case (i, _) => (i, 10L) }
      .toDF("id", Cdc.TransactionId), 0L)
    assert(store2.deltaCount === 1)
    assert(store2.compactIfDeltaRatio(0.5),
      "backfill delta >> base: the ratio policy must be due")
    assert(store2.deltaCount === 0)
    assert(store2.snapshot().count() === 500L)
  }

  test("store change-feed consumer: at-least-once tail with a durable cursor") {
    // keepVersions = 2: the feed window is the manifest retention window
    val store = new ManifestUpsertStore(spark, tmp("feed-src"), Seq("id"),
      numBuckets = 4, keepVersions = 2)
    store.initialize(Cdc.initialLoad(
      Seq((1L, "one"), (2L, "two")).toDF("id", "payload")))
    val cursorPath = tmp("feed-cursor") + "/cursor"
    val feed = new StoreChangeFeed(store, cursorPath)
    // downstream replica seeded from the same initial snapshot
    val replica = cow(tmp("feed-dst"))
    replica.initialize(Cdc.initialLoad(store.snapshot()))
    def drainOnce(): Unit = {
      val (changes, to) = feed.poll()
      if (feed.cursor < to) { replica.merge(changes); feed.commit(to) }
    }
    store.merge(Seq((Cdc.Upsert, 10L, 2L, "TWO"), (Cdc.Delete, 10L, 1L, "x"))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload"))
    val acked = store.currentVersion
    drainOnce()
    assert(replica.snapshot().as[(Long, String)].collect().toSet ==
      Set((2L, "TWO")))
    // crash BEFORE commit: the effect applied but the cursor did not move —
    // the replayed window re-merges idempotently (at-least-once, ST4)
    store.merge(Seq((Cdc.Upsert, 11L, 3L, "three"))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload"))
    val (c1, _) = feed.poll()
    replica.merge(c1) // ... crash here: no commit
    val feed2 = new StoreChangeFeed(store, cursorPath) // restarted consumer
    assert(feed2.cursor == acked) // cursor still at the last ack
    val (c2, to2) = feed2.poll()
    replica.merge(c2) // replay converges
    feed2.commit(to2)
    assert(replica.snapshot().as[(Long, String)].collect().toSet ==
      store.snapshot().as[(Long, String)].collect().toSet)
    // a consumer behind the retention horizon fails loudly, not silently
    store.merge(Seq((Cdc.Upsert, 12L, 4L, "four"))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload"))
    store.compact()
    intercept[IllegalStateException] { feed2.poll() }
    // but a FRESH consumer attaching to the compacted store baselines at
    // the current version (review r9: a zero cursor would be permanently
    // behind-horizon) — it polls cleanly and tails new merges
    val late = new StoreChangeFeed(store, tmp("feed-cursor2") + "/cursor")
    assert(late.cursor == store.currentVersion)
    val (none, to3) = late.poll()
    assert(none.isEmpty && to3 == store.currentVersion)
    store.merge(Seq((Cdc.Upsert, 13L, 5L, "five"))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload"))
    val (c3, _) = late.poll()
    assert(c3.select("id", "payload", Cdc.ChangeType)
      .as[(Long, String, String)].collect().toSet == Set((5L, "five", "A")))
  }

  test("change feed on a COW store: every rewrite moves the horizon to now") {
    val store = newStore(tmp("cowfeed"))
    // a consumer attached before a rewrite is behind the horizon after it
    val feed = new StoreChangeFeed(store, tmp("cowfeed-cursor") + "/cursor")
    store.merge(Seq((Cdc.Upsert, 10L, 2L, "TWO"))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload"))
    // no retained history: only the empty range at now is readable
    val v = store.currentVersion
    val none = store.changesBetween(v, v)
    assert(none.isEmpty && none.columns.contains(Cdc.ChangeType))
    intercept[IllegalStateException] { store.changesBetween(v - 1, v) }
    intercept[IllegalStateException] { feed.poll() }
  }

  test("renameColumn/dropColumn: explicit rewrites; merges speak the new shape") {
    val store = newStore(tmp("schema-rewrite"))
    store.renameColumn("payload", "body")
    assert(store.snapshot().columns.toSeq == Seq("id", "body"))
    assert(store.snapshot().as[(Long, String)].collect().toSet ==
      Set((1L, "one"), (2L, "two"), (3L, "three")))
    store.merge(Seq((Cdc.Upsert, 10L, 2L, "TWO"))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "body"))
    assert(store.snapshot().as[(Long, String)].collect().toMap.get(2L)
      .contains("TWO"))
    // refusals: key columns, unknown source, existing target
    intercept[IllegalArgumentException] { store.renameColumn("id", "key") }
    intercept[IllegalArgumentException] { store.renameColumn("nope", "x") }
    intercept[IllegalArgumentException] { store.renameColumn("body", "id") }
    // the underscore namespace is the engine's (envelope/layout columns)
    intercept[IllegalArgumentException] {
      store.renameColumn("body", "_graft_seq")
    }
    // drop after a merge: the rewrite covers merged and initial buckets
    val wide = cow(tmp("schema-rewrite-drop"))
    wide.initialize(Cdc.initialLoad(
      Seq((1L, "one", 5)).toDF("id", "payload", "extra")))
    wide.merge(Seq((Cdc.Upsert, 10L, 2L, "two", 7))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload", "extra"))
    wide.dropColumn("extra")
    assert(wide.snapshot().columns.toSeq == Seq("id", "payload"))
    assert(wide.snapshot().as[(Long, String)].collect().toSet ==
      Set((1L, "one"), (2L, "two")))
    // rewrites destroy history: horizon at now
    intercept[IllegalStateException] {
      wide.changesBetween(wide.currentVersion - 1, wide.currentVersion)
    }
  }

  test("schema rewrite crash protocol: schema and data commit or roll back TOGETHER") {
    // the new schema rides the rewrite's own manifest put, so there are
    // two crash outcomes only: before the put (old shape, old data) and
    // after it (new shape, new data) — never new-shape files read through
    // the old-shape schema, which would silently null the renamed column
    val dir = tmp("rewrite-crash")
    val before = newStore(dir).snapshot().as[(Long, String)].collect().toSet
    // crash after the rewrite's data write, before its put
    intercept[IllegalStateException] {
      crashingBeforePut(dir).renameColumn("payload", "body")
    }
    assert(new java.io.File(dir).list().exists(_.startsWith("gen-schema-")))
    val reader = cow(dir)
    assert(reader.snapshot().columns.toSeq == Seq("id", "payload"))
    assert(reader.snapshot().as[(Long, String)].collect().toSet == before)
    // the completed rewrite publishes schema and data together
    reader.renameColumn("payload", "body")
    assert(reader.snapshot().columns.toSeq == Seq("id", "body"))
    assert(reader.snapshot().as[(Long, String)].collect().toSet == before)
    // a torn rewrite manifest rolls BOTH back: the previous version serves
    // the old shape over the old data
    val newest = new java.io.File(dir).listFiles((_: java.io.File, n: String) =>
      n.startsWith("manifest-")).maxBy(_.getName)
    val bytes = java.nio.file.Files.readAllBytes(newest.toPath)
    java.nio.file.Files.write(newest.toPath, bytes.take(bytes.length / 2))
    val torn = cow(dir).snapshot()
    assert(torn.columns.toSeq == Seq("id", "payload"))
    assert(torn.as[(Long, String)].collect().toSet == before)
  }

  test("stats: COW buckets stay at one file, through merges and compaction") {
    val cow = newStore(tmp("stats-cow"))
    // a wide batch from many partitions: the bucket-aligned rewrite still
    // lands one file in each touched bucket
    cow.merge(spark.range(1, 33)
      .select(lit(Cdc.Upsert).alias(Cdc.ChangeType),
        (col("id") + 100L).alias(Cdc.TransactionId), col("id"),
        concat(lit("u"), col("id")).alias("payload"))
      .repartition(16))
    // the live files per bucket, as the snapshot reads them
    def oneFileEach(): Unit = {
      val files = cow.snapshot().inputFiles.toSeq
      assert(files.nonEmpty && files.forall(_.contains("/_bucket=")),
        files.toString)
      val perBucket = files.groupBy(f => "_bucket=[^/]+".r.findFirstIn(f).get)
      assert(perBucket.values.forall(_.size == 1), perBucket.toString)
    }
    oneFileEach()
    cow.compact()
    oneFileEach()
    // a COW store has no delta debt: both policies are never due
    assert(!cow.compactIfNeeded(1) && !cow.compactIfDeltaRatio(0.01))
  }

  test("merge applies upserts and deletes, only touched buckets rewritten") {
    val dir = tmp("store")
    val store = newStore(dir)
    val folded = Seq(
      (Cdc.Upsert, 10L, 2L, "TWO"),     // update
      (Cdc.Upsert, 11L, 9L, "nine"),    // insert
      (Cdc.Delete, 12L, 3L, null.asInstanceOf[String]) // delete
    ).toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload")
    store.merge(folded)
    assert(store.snapshot().as[(Long, String)].collect().toSet ==
      Set((1L, "one"), (2L, "TWO"), (9L, "nine")))
  }

  test("merge is idempotent (replay-safe, ST4)") {
    val dir = tmp("store")
    val store = newStore(dir)
    val folded = Seq(
      (Cdc.Upsert, 10L, 2L, "TWO"),
      (Cdc.Delete, 11L, 1L, null.asInstanceOf[String])
    ).toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload")
    store.merge(folded)
    val first = store.snapshot().as[(Long, String)].collect().toSet
    store.merge(folded) // replay the exact same batch
    assert(store.snapshot().as[(Long, String)].collect().toSet == first)
    assert(first == Set((2L, "TWO"), (3L, "three")))
  }

  test("merge after every row was deleted still works (schema persisted)") {
    val dir = tmp("store")
    val store = cow(dir, numBuckets = 2)
    store.initialize(Cdc.initialLoad(Seq((1L, "a"), (2L, "b")).toDF("id", "payload")))
    val wipe = Seq(
      (Cdc.Delete, 5L, 1L, null.asInstanceOf[String]),
      (Cdc.Delete, 5L, 2L, null.asInstanceOf[String]))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload")
    store.merge(wipe)
    assert(store.snapshot().count() == 0)
    // the manifest now references no base generation — the next merge
    // must not fall over on schema inference (ADVICE r1)
    val revive = Seq((Cdc.Upsert, 6L, 7L, "seven"))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload")
    store.merge(revive)
    assert(store.snapshot().as[(Long, String)].collect().toSet == Set((7L, "seven")))
  }

  test("merge evolves the schema additively; missing batch columns fill null") {
    val dir = tmp("store")
    val store = newStore(dir)
    // batch carries a NEW column the store has never seen
    val widened = Seq(
      (Cdc.Upsert, 10L, 2L, "TWO", Some("extra2")),
      (Cdc.Upsert, 11L, 9L, "nine", Option.empty[String]))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload", "note")
    store.merge(widened)
    val snap1 = store.snapshot()
    assert(snap1.columns.toSeq == Seq("id", "payload", "note"))
    val m1 = snap1.as[(Long, String, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // untouched rows read the new column as null; merged rows carry it
    assert(m1(1L) == (("one", None)) && m1(2L) == (("TWO", Some("extra2"))))
    assert(m1(9L) == (("nine", None)))
    // a later batch in the OLD shape (no `note`) still merges; note -> null
    val narrow = Seq((Cdc.Upsert, 12L, 3L, "THREE"))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload")
    store.merge(narrow)
    val m2 = store.snapshot().as[(Long, String, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m2(3L) == (("THREE", None)) && m2(2L) == (("TWO", Some("extra2"))))
    assert(m2.keySet == Set(1L, 2L, 3L, 9L))
  }

  test("merges keep buckets consolidated; compact() preserves the snapshot") {
    val dir = tmp("store")
    val store = newStore(dir)
    // r9: the merge write is bucket-aligned (repartition on _bucket before
    // the generation write), so a COW rewrite leaves each touched bucket
    // at exactly ONE file — fragmentation never accumulates between
    // compactions (it used to grow one file per upstream partition per
    // bucket per merge, and the next merge re-read and re-fsynced all of
    // them). compact() is the maintenance pass for MOR delta folding.
    (10L to 14L).foreach { tx =>
      store.merge(Seq((Cdc.Upsert, tx, tx, s"v$tx"))
        .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload"))
    }
    val before = store.snapshot().as[(Long, String)].collect().toSet
    def filesPerBucket: Map[String, Int] =
      new java.io.File(dir).listFiles((f: java.io.File) =>
          f.getName.startsWith("gen-")).flatMap { g =>
        g.listFiles((f: java.io.File) => f.getName.startsWith("_bucket="))
          .map(d => s"${g.getName}/${d.getName}" ->
            d.listFiles((f: java.io.File) =>
              f.getName.endsWith(".parquet")).length)
      }.toMap
    assert(filesPerBucket.values.forall(_ == 1), filesPerBucket.toString)
    store.compact()
    assert(store.snapshot().as[(Long, String)].collect().toSet == before)
    assert(filesPerBucket.values.forall(_ == 1), filesPerBucket.toString)
  }

  test("crash before any swap: leftover staging is discarded, old buckets win") {
    // the generation was fully written but the writer died before its
    // manifest put: every bucket still serves its old generation, and the
    // written one is unreferenced — the ledger never advanced, so the
    // window replays, and GC discards the leftover
    val dir = tmp("store")
    val before = newStore(dir).snapshot().as[(Long, String)].collect().toSet
    val batch = Seq((Cdc.Upsert, 50L, 2L, "TWO"))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload")
    intercept[IllegalStateException](crashingBeforePut(dir).merge(batch))
    val root = new java.io.File(dir)
    val leftover = root.listFiles((_: java.io.File, n: String) =>
      n.startsWith("gen-cow-")).toSeq
    assert(leftover.size == 1)
    // no grace: the next commit's GC may sweep any unreferenced dir
    val store = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4,
      orphanGraceMs = 0L, writePolicy = WritePolicy.CopyOnWrite)
    assert(store.snapshot().as[(Long, String)].collect().toSet == before)
    store.merge(batch) // the replayed window
    assert(store.snapshot().as[(Long, String)].collect().toSet ==
      Set((1L, "one"), (2L, "TWO"), (3L, "three")))
    assert(!leftover.head.exists())
  }

  test("pre-swap crash with a NEW bucket staged: uncommitted batch never leaks") {
    // the crashed rewrite wrote buckets the store never had; with no
    // manifest put they stay unreferenced, so none of the batch reaches
    // snapshot() or a lookup
    val dir = tmp("store")
    val store = cow(dir)
    store.initialize(Cdc.initialLoad(Seq((1L, "one")).toDF("id", "payload")))
    val before = store.snapshot().as[(Long, String)].collect().toSet
    val wide = (2L to 12L).map(i => (Cdc.Upsert, 60L + i, i, s"v$i"))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload")
    intercept[IllegalStateException](crashingBeforePut(dir).merge(wide))
    val written = new java.io.File(dir)
      .listFiles((_: java.io.File, n: String) => n.startsWith("gen-cow-")).head
    assert(written.list().count(_.startsWith("_bucket=")) > 1,
      "the crashed rewrite must have written the batch's new buckets")
    assert(store.snapshot().as[(Long, String)].collect().toSet == before)
    (2L to 12L).foreach(i => assert(store.lookup(i).isEmpty, s"key $i leaked"))
  }

  test("merge leaves the session partitionOverwriteMode untouched") {
    val before = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    val store = newStore(tmp("store"))
    store.merge(Seq((Cdc.Upsert, 10L, 2L, "TWO"))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload"))
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode") == before)
  }

  /** A ledger's manifest files, oldest first. */
  private def ledgerManifests(path: String): Seq[java.io.File] =
    Option(new java.io.File(path).listFiles((_: java.io.File, n: String) =>
      n.startsWith("manifest-"))).toSeq.flatten.sortBy(_.getName)

  test("txid ledger: a pre-manifest single-file ledger is refused by read() and commit(), naming the path, and left byte-identical") {
    for (held <- Seq("", "4x", "42")) {
      val path = tmp("ledger-file") + "/txid"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), held)
      val ledger = new TxidLedger(path)
      for (op <- Seq[() => Unit](() => ledger.read(), () => ledger.commit(7L))) {
        val e = intercept[IllegalStateException](op())
        assert(e.getMessage.contains(path) &&
          e.getMessage.contains(s"'$held'"), e.getMessage)
      }
      assert(java.nio.file.Files.readString(java.nio.file.Paths.get(path)) == held)
    }
  }

  test("txid ledger: a dir of only torn entries is refused; a torn newest entry over a complete one reads the complete one") {
    val path = tmp("ledger-torn") + "/txid"
    val ledger = new TxidLedger(path)
    assert(ledger.read() == -1L, "no manifest: nothing committed yet")
    ledger.commit(42L)
    val complete = ledgerManifests(path).last
    val bytes = java.nio.file.Files.readAllBytes(complete.toPath)
    // a torn newest entry: a prefix of a complete one, in the next slot
    val next = new java.io.File(path, "manifest-000000000002.json")
    java.nio.file.Files.write(next.toPath, bytes.take(bytes.length / 2))
    assert(ledger.read() == 42L)
    // every entry torn: refused by both, never read as -1
    java.nio.file.Files.write(complete.toPath, bytes.take(bytes.length - 3))
    for (op <- Seq[() => Unit](() => ledger.read(), () => ledger.commit(43L))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains(path) && e.getMessage.contains("torn"),
        e.getMessage)
    }
    assert(ledgerManifests(path).map(_.getName) ==
      Seq("manifest-000000000001.json", "manifest-000000000002.json"))
  }

  test("txid ledger: each commit leaves exactly one complete manifest after GC") {
    val path = tmp("ledger-gc") + "/txid"
    val ledger = new TxidLedger(path)
    for (txid <- Seq(5L, 9L, 12L)) {
      ledger.commit(txid)
      assert(ledger.read() == txid)
      val files = ledgerManifests(path)
      assert(files.size == 1, files.map(_.getName).toString)
      assert(new String(java.nio.file.Files.readAllBytes(files.head.toPath),
        "UTF-8").contains(s""""txid":$txid"""))
    }
    // a restarted process reads the same watermark
    assert(new TxidLedger(path).read() == 12L)
    assert(new java.io.File(path).list().toSeq ==
      Seq("manifest-000000000003.json"), "no staging debris is left")
  }

  test("txid ledger: a reader racing the writer's commits always reads a committed watermark") {
    val path = tmp("ledger-race") + "/txid"
    val ledger = new TxidLedger(path)
    ledger.commit(0L)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    var reads = 0L
    val reader = new Thread(() => {
      val other = new TxidLedger(path)
      var last = 0L
      try while (!stop.get()) {
        val v = other.read()
        assert(v >= last, s"read $v after $last")
        last = v; reads += 1
      } catch { case t: Throwable => failures.add(t) }
    })
    reader.start()
    try (1L to 300L).foreach(ledger.commit)
    finally { stop.set(true); reader.join() }
    assert(failures.isEmpty, s"${failures.peek()}")
    assert(reads > 0 && ledger.read() == 300L)
  }

  test("stale rows at/below the committed watermark are detected, not silent") {
    val dir = tmp("store")
    val store = newStore(dir)
    val ledger = new TxidLedger(tmp("ledger") + "/txid")
    val source = Seq((1L, "one"), (2L, "TWO")).toDF("id", "payload")
    val job = new CdcStreamJob(spark, () => source, store, ledger,
      Seq(("id", "id")))
    job.processBatch(keyFeed((2L, 10L)), 0)
    assert(ledger.read() == 10L && job.staleRowsSeen == 0L)
    // a late row with txid 9 <= committed 10 arrives in the NEXT batch:
    // excluded from the fold but counted (ADVICE r1)
    job.processBatch(keyFeed((1L, 9L), (2L, 11L)), 1)
    assert(job.staleRowsSeen == 1L)
    assert(ledger.read() == 11L)
  }

  test("CdcStreamJob end-to-end over a MOR store ≡ COW (fold, deletes, ledger)") {
    val source = Seq((1L, "one"), (2L, "TWO"), (3L, "three")).toDF("id", "payload")
    def runWith(mor: Boolean): (Set[(Long, String)], Long) = {
      val store: KeyedUpsertStore =
        if (mor) new ManifestUpsertStore(spark, tmp("jstore"), Seq("id"),
          numBuckets = 4)
        else cow(tmp("jstore"))
      store.initialize(Cdc.initialLoad(
        Seq((1L, "old1"), (9L, "old9")).toDF("id", "payload")))
      val ledger = new TxidLedger(tmp("jled") + "/txid")
      val job = new CdcStreamJob(spark, () => source, store, ledger,
        Seq(("id", "id")))
      job.processBatch(keyFeed((1L, 10L), (2L, 11L)), 0) // upserts from master
      job.processBatch(keyFeed((9L, 12L)), 1)            // 9 gone upstream → delete
      (store.snapshot().as[(Long, String)].collect().toSet, ledger.read())
    }
    val viaCow = runWith(false)
    val viaMor = runWith(true)
    assert(viaCow == viaMor)
    assert(viaCow == ((Set((1L, "one"), (2L, "TWO")), 12L)))
  }

  test("delete of a whole bucket leaves no stale rows") {
    val dir = tmp("store")
    val store = cow(dir, numBuckets = 2)
    store.initialize(Cdc.initialLoad(Seq((1L, "a")).toDF("id", "payload")))
    val folded = Seq((Cdc.Delete, 5L, 1L, null.asInstanceOf[String]))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload")
    store.merge(folded)
    assert(store.snapshot().count() == 0)
  }

  test("commit-order watermark: blocked by oldest in-flight txn, 2h horizon") {
    val log = feed((1L, "x", 100L), (2L, "y", 105L), (3L, "z", 110L))
    val now = 10000L
    // no open txns → max logged
    assert(Watermark.maxSafeTransactionId(log, Cdc.TransactionId, Nil, 0L, now) == 110L)
    // open txn at 106 → 105
    assert(Watermark.maxSafeTransactionId(log, Cdc.TransactionId,
      Seq(Watermark.OpenTxn(106L, now - 30)), 0L, now) == 105L)
    // stuck txn older than 2h is ignored
    assert(Watermark.maxSafeTransactionId(log, Cdc.TransactionId,
      Seq(Watermark.OpenTxn(106L, now - 7300)), 0L, now) == 110L)
    // watermark never regresses below `from`
    assert(Watermark.maxSafeTransactionId(log, Cdc.TransactionId,
      Seq(Watermark.OpenTxn(1L, now)), 50L, now) == 50L)
  }

  test("latency alerts mirror the 60s/5s thresholds") {
    val now = 1000L
    assert(Watermark.latencyAlert(Nil, now).isEmpty)
    assert(Watermark.latencyAlert(Seq(Watermark.OpenTxn(1, now - 3)), now).isEmpty)
    assert(Watermark.latencyAlert(Seq(Watermark.OpenTxn(1, now - 30)), now)
      .exists(_.startsWith("INFO")))
    assert(Watermark.latencyAlert(Seq(Watermark.OpenTxn(1, now - 90)), now)
      .exists(_.startsWith("WARN")))
  }

  // key-only change log (the PKLOG model): (id, txid)
  private def keyFeed(rows: (Long, Long)*) =
    rows.toDF("id", Cdc.TransactionId)

  test("processBatch: fold + merge + ledger advance; skip when no new txid") {
    val dir = tmp("store")
    val store = newStore(dir)
    val ledger = new TxidLedger(tmp("ledger") + "/txid")
    // source table has moved ahead of the replica: 2 updated, 4 inserted
    val source = Seq((1L, "one"), (2L, "TWO"), (3L, "three"), (4L, "four"))
      .toDF("id", "payload")
    val job = new CdcStreamJob(spark, () => source, store, ledger,
      Seq(("id", "id")))
    job.processBatch(keyFeed((2L, 10L), (4L, 11L)), 0)
    assert(ledger.read() == 11L)
    assert(store.snapshot().as[(Long, String)].collect().toSet ==
      Set((1L, "one"), (2L, "TWO"), (3L, "three"), (4L, "four")))
    // replay the same feed: window (11, 11] is empty → no-op
    job.processBatch(keyFeed((2L, 10L), (4L, 11L)), 1)
    assert(ledger.read() == 11L)
  }

  test("deleted source row folds to D and leaves the replica") {
    val dir = tmp("store")
    val store = newStore(dir)
    val ledger = new TxidLedger(tmp("ledger") + "/txid")
    val source = Seq((1L, "one"), (2L, "two")).toDF("id", "payload") // 3 gone
    val job = new CdcStreamJob(spark, () => source, store, ledger,
      Seq(("id", "id")))
    job.processBatch(keyFeed((3L, 20L)), 0)
    assert(store.snapshot().as[(Long, String)].collect().toSet ==
      Set((1L, "one"), (2L, "two")))
  }

  test("open txn caps the LEDGER, not the fold: delivered rows apply, watermark waits") {
    val dir = tmp("store")
    val store = newStore(dir)
    val ledger = new TxidLedger(tmp("ledger") + "/txid")
    var source = Seq((1L, "one"), (2L, "TWO"), (3L, "three"))
      .toDF("id", "payload")
    var open: Seq[Watermark.OpenTxn] = Seq(Watermark.OpenTxn(11L, 9990L))
    val job = new CdcStreamJob(spark, () => source, store, ledger,
      Seq(("id", "id")), openTxns = () => open, nowEpochSec = () => 10000L)
    // txid 12 was DELIVERED (its txn committed) while txn 11 is still open:
    // the row folds now (source has no key 5 yet → delete no-op) but the
    // ledger stops at 10 — never past the oldest open transaction
    job.processBatch(keyFeed((2L, 10L), (5L, 12L)), 0)
    assert(ledger.read() == 10L)
    assert(!store.snapshot().as[(Long, String)].collect().toMap.contains(5L))
    // txn 11 commits (and key 5's row is now in the source): the re-poll
    // re-reads the window above the conservative ledger and converges
    open = Nil
    source = Seq((1L, "one"), (2L, "TWO"), (3L, "three"), (5L, "five"))
      .toDF("id", "payload")
    job.processBatch(keyFeed((2L, 10L), (5L, 12L)), 1)
    assert(ledger.read() == 12L)
    assert(store.snapshot().as[(Long, String)].collect().toMap.get(5L)
      .contains("five"))
  }

  test("push feed: late-committing txn below the seen max still folds (ADVICE r2)") {
    val dir = tmp("store")
    val store = newStore(dir)
    val ledger = new TxidLedger(tmp("ledger") + "/txid")
    var source = Seq((1L, "one"), (2L, "TWO"), (3L, "three"))
      .toDF("id", "payload")
    // txn 6 stays open throughout, pinning the safe watermark at 5
    val open = Seq(Watermark.OpenTxn(6L, 9990L))
    val job = new CdcStreamJob(spark, () => source, store, ledger,
      Seq(("id", "id")), openTxns = () => open, nowEpochSec = () => 10000L)
    // batch 0: txn 10 committed → folds, ledger capped at 5, appliedHi = 10
    job.processBatch(keyFeed((2L, 10L)), 0)
    assert(ledger.read() == 5L)
    // batch 1: txn 8 commits LATE (txid assigned at start, delivered at
    // commit) — txid 8 ≤ appliedHi 10 and safe 5 ≤ from 5, the exact shape
    // the old no-op guard skipped. Push batches are never re-delivered, so
    // the row must fold NOW.
    source = Seq((1L, "one"), (2L, "TWO"), (3L, "three"), (5L, "five"))
      .toDF("id", "payload")
    job.processBatch(keyFeed((5L, 8L)), 1)
    assert(store.snapshot().as[(Long, String)].collect().toMap.get(5L)
      .contains("five"))
    assert(ledger.read() == 5L) // still capped by the open txn
  }

  test("pull mode: pinned-watermark re-poll skips the redundant re-fold") {
    val dir = tmp("store")
    val store = newStore(dir)
    val ledger = new TxidLedger(tmp("ledger") + "/txid")
    var sourceReads = 0
    val source = Seq((1L, "one"), (2L, "TWO")).toDF("id", "payload")
    val open = Seq(Watermark.OpenTxn(6L, 9990L))
    val job = new CdcStreamJob(spark, () => { sourceReads += 1; source }, store,
      ledger, Seq(("id", "id")), openTxns = () => open,
      nowEpochSec = () => 10000L, pullMode = true)
    job.processBatch(keyFeed((2L, 10L)), 0)
    assert(sourceReads == 1 && ledger.read() == 5L)
    // pull mode re-reads the same window while txn 6 pins the watermark:
    // nothing new → the fold (and its bucket rewrite) is skipped entirely
    job.processBatch(keyFeed((2L, 10L)), 1)
    assert(sourceReads == 1 && ledger.read() == 5L)
  }

  test("end-to-end via Structured Streaming MemoryStream") {
    val dir = tmp("store")
    val store = newStore(dir)
    val ledger = new TxidLedger(tmp("ledger") + "/txid")
    @volatile var source = Seq((1L, "one"), (2L, "TWO"), (3L, "three"),
      (9L, "nine")).toDF("id", "payload")
    val job = new CdcStreamJob(spark, () => source, store, ledger,
      Seq(("id", "id")))
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val q = job.start(ms.toDF().toDF("id", Cdc.TransactionId), tmp("ckpt"))
    ms.addData((2L, 20L), (9L, 21L))
    q.processAllAvailable()
    source = Seq((1L, "one"), (2L, "TWO"), (3L, "three"), (9L, "NINE"))
      .toDF("id", "payload")
    ms.addData((9L, 22L))
    q.processAllAvailable()
    q.stop()
    val got = store.snapshot().as[(Long, String)].collect().toMap
    assert(ledger.read() == 22L)
    assert(got(2L) == "TWO" && got(9L) == "NINE")
  }

  test("streaming restart from checkpoint resumes without reprocessing (ST6)") {
    val dir = tmp("store")
    val store = newStore(dir)
    val ledger = new TxidLedger(tmp("ledger") + "/txid")
    val ckpt = tmp("ckpt")
    @volatile var source = Seq((1L, "one"), (2L, "TWO"), (3L, "three"))
      .toDF("id", "payload")
    var batches = 0
    val job = new CdcStreamJob(spark, () => { batches += 1; source }, store,
      ledger, Seq(("id", "id")))
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val q1 = job.start(ms.toDF().toDF("id", Cdc.TransactionId), ckpt)
    ms.addData((2L, 20L))
    q1.processAllAvailable()
    q1.stop()
    assert(ledger.read() == 20L)
    val afterFirst = batches
    // restart: SAME checkpoint + stream; the committed batch is not redone
    source = Seq((1L, "one"), (2L, "TWO"), (3L, "THREE")).toDF("id", "payload")
    val q2 = job.start(ms.toDF().toDF("id", Cdc.TransactionId), ckpt)
    ms.addData((3L, 21L))
    q2.processAllAvailable()
    q2.stop()
    assert(ledger.read() == 21L)
    assert(store.snapshot().as[(Long, String)].collect().toMap ==
      Map(1L -> "one", 2L -> "TWO", 3L -> "THREE"))
    // only the new data triggered folds after restart (empty-batch skips
    // don't call source())
    assert(batches == afterFirst + 1)
  }

  test("backfill via Trigger.AvailableNow drains the feed and terminates") {
    val dir = tmp("store")
    val store = newStore(dir)
    val ledger = new TxidLedger(tmp("ledger") + "/txid")
    val source = Seq((1L, "one"), (2L, "TWO"), (3L, "three"), (9L, "nine"))
      .toDF("id", "payload")
    val job = new CdcStreamJob(spark, () => source, store, ledger,
      Seq(("id", "id")))
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Long)]
    ms.addData((2L, 20L), (9L, 21L)) // data queued BEFORE the query starts
    val q = job.startBackfill(ms.toDF().toDF("id", Cdc.TransactionId), tmp("ckpt"))
    q.awaitTermination(60000) // AvailableNow terminates after the drain
    assert(!q.isActive)
    assert(ledger.read() == 21L)
    assert(store.snapshot().as[(Long, String)].collect().toMap ==
      Map(1L -> "one", 2L -> "TWO", 3L -> "three", 9L -> "nine"))
  }

  test("producer → Kafka wire → consumer: full CDC pipeline converges") {
    // §3.1 end-to-end: delta fold (producer) → (key,value) records (wire)
    // → parse (consumer) → last-write-wins apply into the replica
    val store = newStore(tmp("store"))
    val source = Seq((1L, "one"), (2L, "TWO"), (4L, "four"))
      .toDF("id", "payload") // 3 deleted, 2 updated, 4 inserted
    val folded = graft.cdc.Cdc.delta(
      keyFeed((2L, 10L), (3L, 11L), (4L, 12L)),
      source, Seq(("id", "id")), lo = 0L, hi = 100L)
    val records = graft.sources.KafkaIO.toRecords(folded, Seq("id"))
    val received = graft.sources.KafkaIO.fromRecords(records, folded.schema)
    CdcApply.applyChanges(store, received, Seq("id"))
    assert(store.snapshot().as[(Long, String)].collect().toSet ==
      Set((1L, "one"), (2L, "TWO"), (4L, "four")))
  }

  test("consumer-side apply: envelope feed folds last-write-wins into store") {
    val dir = tmp("store")
    val store = newStore(dir)
    val batch = Seq(
      (Cdc.Upsert, 30L, 2L, "v30"),
      (Cdc.Upsert, 31L, 2L, "v31"),   // later change to same key wins
      (Cdc.Delete, 32L, 3L, null.asInstanceOf[String]),
      (Cdc.Upsert, 33L, 7L, "seven")
    ).toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload")
    CdcApply.applyChanges(store, batch, Seq("id"))
    assert(store.snapshot().as[(Long, String)].collect().toSet ==
      Set((1L, "one"), (2L, "v31"), (7L, "seven")))
  }

  test("crash between sink commit and ledger advance: replay converges (ST4)") {
    val dir = tmp("store")
    val store = newStore(dir)
    val ledgerPath = tmp("ledger") + "/txid"
    val ledger = new TxidLedger(ledgerPath)
    val source = Seq((1L, "one"), (2L, "TWO"), (3L, "three"), (7L, "seven"))
      .toDF("id", "payload")
    // simulate the crash: the fold + merge land, but the process dies
    // BEFORE ledger.commit — exactly what processBatch orders guarantee
    val folded = graft.cdc.Cdc.delta(keyFeed((2L, 10L), (7L, 11L)),
      source, Seq(("id", "id")), lo = -1L, hi = 11L)
    store.merge(folded)
    assert(ledger.read() == -1L) // watermark did NOT advance
    val afterCrash = store.snapshot().as[(Long, String)].collect().toSet
    // restart: a fresh job re-reads the same window and replays the merge
    val job = new CdcStreamJob(spark, () => source, store, ledger,
      Seq(("id", "id")))
    job.processBatch(keyFeed((2L, 10L), (7L, 11L)), 0)
    assert(ledger.read() == 11L)
    // idempotent merge → no divergence vs the pre-crash state
    assert(store.snapshot().as[(Long, String)].collect().toSet == afterCrash)
    assert(afterCrash ==
      Set((1L, "one"), (2L, "TWO"), (3L, "three"), (7L, "seven")))
  }

  test("statefulDedup: streaming latest-per-key suppresses replays and stale rows") {
    import StatefulDedup.KeyedChange
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[KeyedChange]
    val out = StatefulDedup.latestPerKey(ms.toDS(), stateTtl = "")
    val q = out.writeStream.format("memory").queryName("sd_out")
      .outputMode("update").start(tmp("sd_ckpt"))
    // batch 1: two changes to k1 (only txid 12 survives the in-batch fold)
    ms.addData(KeyedChange("k1", 11, "A", "v11"), KeyedChange("k1", 12, "A", "v12"),
      KeyedChange("k2", 5, "A", "w5"))
    q.processAllAvailable()
    // batch 2: replay of txid 12 (suppressed), stale txid 3 (suppressed),
    // genuine advance on k2
    ms.addData(KeyedChange("k1", 12, "A", "v12"), KeyedChange("k2", 3, "A", "stale"),
      KeyedChange("k2", 9, "D", "w9"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sd_out").as[KeyedChange].collect()
      .map(r => (r.key, r.txid, r.payload)).toSet
    assert(got == Set(("k1", 12L, "v12"), ("k2", 5L, "w5"), ("k2", 9L, "w9")))
  }

  test("statefulDedup rows: full envelope rows with a composite typed key") {
    implicit val sqlCtx = spark.sqlContext
    // the full-row form: composite (string, long) key, envelope + payload
    // columns survive to the output unchanged
    val ms = MemoryStream[(String, Long, Long, String, Double)]
    val feed = ms.toDF().toDF("mandt", "id", "_transactionid", "_change_type", "amount")
    val out = StatefulDedup.latestPerKeyRows(feed, Seq("mandt", "id"))
    val q = out.writeStream.format("memory").queryName("sdr_out")
      .outputMode("update").start(tmp("sdr_ckpt"))
    ms.addData(("100", 1L, 11L, "A", 1.5), ("100", 1L, 12L, "A", 2.5),
      ("200", 1L, 5L, "A", 9.0))
    q.processAllAvailable()
    // replay of (100,1,12) suppressed; stale txid on (200,1) suppressed;
    // genuine delete advance on (200,1)
    ms.addData(("100", 1L, 12L, "A", 2.5), ("200", 1L, 3L, "A", -1.0),
      ("200", 1L, 9L, "D", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sdr_out")
      .as[(String, Long, Long, String, Double)].collect().toSet
    assert(got == Set(("100", 1L, 12L, "A", 2.5),
      ("200", 1L, 5L, "A", 9.0), ("200", 1L, 9L, "D", 0.0)))
    assert(spark.table("sdr_out").schema.fieldNames.toSeq ==
      Seq("mandt", "id", "_transactionid", "_change_type", "amount"))
  }

  test("built-in dropDuplicatesWithinWatermark suppresses replays (ST4)") {
    // the native companion to StatefulDedup: replayed (id, txid) pairs
    // within the watermark horizon are emitted once
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long)] // (id, txid, epoch sec)
    val deduped = ms.toDF().toDF("id", "txid", "sec")
      .select($"id", $"txid", timestamp_seconds($"sec").as("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("id", "txid")
    val q = deduped.writeStream.format("memory").queryName("ddw_out")
      .outputMode("append").start(tmp("ddw_ckpt"))
    ms.addData((1L, 10L, 100L), (1L, 10L, 100L), (2L, 11L, 100L))
    q.processAllAvailable()
    ms.addData((1L, 10L, 101L), (1L, 12L, 102L)) // replay + genuine advance
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ddw_out").select($"id", $"txid")
      .as[(Long, Long)].collect().toList.sorted
    assert(got == List((1L, 10L), (1L, 12L), (2L, 11L)))
  }

  test("latency listener thresholds mirror ST3 (60s warn / 5s info)") {
    assert(LatencyListener.alertLevel(2).isEmpty)
    assert(LatencyListener.alertLevel(30).contains("INFO"))
    assert(LatencyListener.alertLevel(90).contains("WARN"))
    // listener wiring: alerts flow through the callback on slow batches
    var alerts = List.empty[String]
    val l = new LatencyListener(msg => alerts ::= msg)
    assert(l.lastBatchMs == -1L)
  }

  test("stream-stream interval join with watermarks (ST8 extension)") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, Long)]   // (ad_id, epoch sec)
    val clicks = MemoryStream[(Long, Long)]
    val impDf = imps.toDF().toDF("ad_id", "sec")
      .select($"ad_id", timestamp_seconds($"sec").as("imp_ts"))
      .withWatermark("imp_ts", "10 seconds")
    val clickDf = clicks.toDF().toDF("ad_id", "sec")
      .select($"ad_id".as("c_ad_id"), timestamp_seconds($"sec").as("click_ts"))
      .withWatermark("click_ts", "10 seconds")
    // attribute a click to an impression within [imp_ts, imp_ts + 30s]
    val joined = impDf.join(clickDf,
      $"ad_id" === $"c_ad_id" &&
        $"click_ts" >= $"imp_ts" && $"click_ts" <= $"imp_ts" + expr("INTERVAL 30 SECONDS"))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start(tmp("ssj_ckpt"))
    imps.addData((1L, 100L), (2L, 100L))
    clicks.addData((1L, 120L), (2L, 140L), (1L, 95L)) // 2@140 outside, 1@95 before
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_join").select($"ad_id").as[Long].collect().toList
    assert(got == List(1L)) // only ad 1's click lands in its window
  }

  test("event-time windows: tumbling + session (ST8 extension)") {
    val ev = Seq(
      ("2024-01-01 00:00:10", "a", 1.0),
      ("2024-01-01 00:00:50", "a", 2.0),
      ("2024-01-01 00:05:10", "a", 3.0),
      ("2024-01-01 00:00:30", "b", 4.0)
    ).toDF("ts_s", "k", "value")
      .select(to_timestamp($"ts_s").alias("ts"), $"k", $"value")
    val tumbling = EventWindows.tumblingCounts(ev, "ts", "k", "1 minute",
      "10 minutes", sumCol = Some("value"))
    val rows = tumbling.select($"k", $"n", $"sum_value").as[(String, Long, Double)]
      .collect().toSet
    assert(rows == Set(("a", 2L, 3.0), ("a", 1L, 3.0), ("b", 1L, 4.0)))
    val sessions = EventWindows.sessionCounts(ev, "ts", "k", "2 minutes", "10 minutes")
    val s = sessions.select($"k", $"n").as[(String, Long)].collect().toSet
    assert(s == Set(("a", 2L), ("a", 1L), ("b", 1L)))
  }

  // r12 regression pin for the multi-writer maintenance contract: the
  // stream loop absorbs a compaction that LOSES the concurrent-
  // maintenance race (the winner paid the debt; re-check next batch),
  // but a conflict from the DATA path must still surface — merges always
  // rebase, so one escaping means the rebase protocol itself broke.
  private class ScriptedStore(
      mergeFails: Boolean, compactFails: Boolean) extends KeyedUpsertStore {
    var merges = 0
    var compactChecks = 0
    import org.apache.spark.sql.DataFrame
    def initialize(initialLoad: DataFrame): Unit = ()
    def merge(folded: DataFrame): Unit = {
      folded.count() // consume, like a real sink
      if (mergeFails) throw new CommitConflictException("merge rebase exhausted")
      merges += 1
    }
    def snapshot(): DataFrame = spark.emptyDataFrame
    def feedVersion: Long = merges.toLong
    def changesBetween(from: Long, to: Long): DataFrame = spark.emptyDataFrame
    def compactIfNeeded(maxDeltas: Int): Boolean = {
      compactChecks += 1
      if (compactFails) throw new CommitConflictException("lost maintenance race")
      false
    }
  }

  test("compaction losing the concurrent-maintenance race is a policy no-op (r12)") {
    val store = new ScriptedStore(mergeFails = false, compactFails = true)
    val ledger = new TxidLedger(tmp("absorb") + "/txid.ledger")
    val job = new CdcStreamJob(spark,
      source = () => Seq((1L, "one")).toDF("id", "payload"),
      store = store, ledger = ledger, keyJoin = Seq("id" -> "id"),
      autoCompactDeltas = Some(1))
    job.processBatch(feed((1L, "x", 10L)), 0L) // must not surface
    assert(store.merges == 1, "the data commit must have landed")
    assert(store.compactChecks == 1, "the policy must have run and lost")
    assert(ledger.read() == 10L,
      "the ledger advance precedes maintenance and must survive the lost race")
    job.processBatch(feed((1L, "y", 20L)), 1L) // loop keeps going
    assert(store.merges == 2 && store.compactChecks == 2)
  }

  test("a conflict from the merge path still surfaces (never absorbed)") {
    val store = new ScriptedStore(mergeFails = true, compactFails = false)
    val job = new CdcStreamJob(spark,
      source = () => Seq((1L, "one")).toDF("id", "payload"),
      store = store, ledger = new TxidLedger(tmp("surface") + "/txid.ledger"),
      keyJoin = Seq("id" -> "id"), autoCompactDeltas = Some(1))
    intercept[CommitConflictException] {
      job.processBatch(feed((1L, "x", 10L)), 0L)
    }
    assert(store.compactChecks == 0, "maintenance must not run after a failed commit")
  }
}
