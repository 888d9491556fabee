package graft.streaming

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.cdc.Cdc

/** Object-store-semantics commit protocol (VERDICT r9 #9): every crash
  * point must serve a complete, correct store WITHOUT relying on atomic
  * renames — the implementation performs none; visibility is one
  * digest-validated manifest put, and these tests drive torn manifests,
  * crashed writes, crashed compactions, and GC interruption directly.
  */
class ManifestStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$name").toString

  private def newStore(dir: String, keep: Int = 3): ManifestUpsertStore = {
    val store = new ManifestUpsertStore(spark, dir, Seq("id"),
      numBuckets = 4, keepVersions = keep)
    store.initialize(Cdc.initialLoad(
      Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("id", "payload")))
    store
  }

  private def batch(rows: (String, Long, Long, String)*) =
    rows.toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload")

  private def state(s: ManifestUpsertStore): Set[(Long, String)] =
    s.snapshot().as[(Long, String)].collect().toSet

  test("merge/delete/compact semantics match the rename-based store") {
    val dir = tmp("mfsem")
    val store = newStore(dir)
    store.merge(batch((Cdc.Upsert, 10L, 2L, "TWO"),
      (Cdc.Delete, 11L, 3L, null.asInstanceOf[String])))
    assert(state(store) === Set((1L, "one"), (2L, "TWO")))
    store.merge(batch((Cdc.Upsert, 12L, 2L, "TWO2"),
      (Cdc.Upsert, 13L, 4L, "four")))
    assert(state(store) === Set((1L, "one"), (2L, "TWO2"), (4L, "four")))
    assert(store.deltaCount === 2)
    store.compact()
    assert(store.deltaCount === 0)
    assert(state(store) === Set((1L, "one"), (2L, "TWO2"), (4L, "four")))
    // LWW across a compaction boundary: later merges outrank folded state
    store.merge(batch((Cdc.Upsert, 14L, 2L, "TWO3")))
    assert(state(store).contains((2L, "TWO3")))
    // lookup reads the same answers
    assert(store.lookup(2L).as[(Long, String)].collect().toSeq ===
      Seq((2L, "TWO3")))
    assert(store.lookup(3L).count() === 0)
  }

  test("no rename anywhere: a torn newest manifest is skipped, previous version serves") {
    val dir = tmp("mftorn")
    val store = newStore(dir)
    store.merge(batch((Cdc.Upsert, 10L, 2L, "TWO")))
    val good = state(store)
    val v = store.currentVersion
    // simulate a crashed/partial manifest PUT at EVERY prefix length: the
    // copy+delete world's torn write. Reader must serve version v intact.
    val next = new java.io.File(dir, f"manifest-${v + 1}%012d.json")
    val donor = new java.io.File(dir, f"manifest-$v%012d.json")
    val bytes = java.nio.file.Files.readAllBytes(donor.toPath)
    (0 until bytes.length by math.max(1, bytes.length / 17)).foreach { n =>
      java.nio.file.Files.write(next.toPath,
        java.util.Arrays.copyOfRange(bytes, 0, n))
      assert(store.currentVersion === v, s"torn manifest of $n bytes served")
      assert(state(store) === good)
    }
    // even a byte-complete manifest with a flipped payload byte is torn
    val evil = bytes.clone(); evil(20) = (evil(20) ^ 1).toByte
    java.nio.file.Files.write(next.toPath, evil)
    assert(store.currentVersion === v)
    assert(state(store) === good)
    // the torn occupant BURNS its version slot (nothing is ever
    // overwritten — an in-place replacement would let two writers that
    // both observe the same torn slot both "win", review r10): the next
    // commit simply claims the slot after it, and readers keep skipping
    // the torn file by digest
    assert(next.exists())
    store.merge(batch((Cdc.Upsert, 11L, 3L, "THREE")))
    assert(state(store).contains((3L, "THREE")))
    assert(store.currentVersion === v + 2,
      "commit after a torn slot must land on the next free version")
    assert(next.exists(), "young torn debris is left for aged GC")
  }

  test("conditional-PUT commit: concurrent writers — one winner, loser conflicts loudly") {
    val dir = tmp("mfrace")
    val store = newStore(dir)
    val a = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4)
    val b = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4)
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Throwable]()
    def racer(name: String, s: ManifestUpsertStore, id: Long, v: String) =
      new Thread(() => {
        start.await()
        try s.merge(batch((Cdc.Upsert, 100L, id, v)))
        catch { case t: Throwable => results.put(name, t) }
      })
    val t1 = racer("a", a, 7L, "from_a")
    val t2 = racer("b", b, 8L, "from_b")
    t1.start(); t2.start(); start.countDown()
    t1.join(120000); t2.join(120000)
    val conflicts = results.values().toArray.toSeq
    // either the race materialized (exactly one CommitConflictException,
    // winner's row present, loser's absent and its generation unreferenced)
    // or the two merges serialized (both rows present) — both are valid
    // serializable outcomes; SILENT lost updates are not
    val s = state(store)
    if (conflicts.isEmpty) {
      assert(s.contains((7L, "from_a")) && s.contains((8L, "from_b")),
        s"serialized commits must both be visible: $s")
    } else {
      assert(conflicts.size === 1 &&
        conflicts.head.isInstanceOf[CommitConflictException],
        s"expected exactly one CommitConflictException, got $conflicts")
      val winner = if (results.containsKey("a")) (8L, "from_b") else (7L, "from_a")
      val loser = if (results.containsKey("a")) (7L, "from_a") else (8L, "from_b")
      assert(s.contains(winner) && !s.contains(loser),
        s"winner $winner must be visible, loser $loser must not: $s")
      // the loser retries on top and lands
      val loserStore = if (results.containsKey("a")) a else b
      loserStore.merge(batch((Cdc.Upsert, 101L, loser._1, loser._2)))
      assert(state(store).contains(loser))
    }
  }

  test("crash after data write, before manifest put: batch invisible, replay converges") {
    val dir = tmp("mfcrashw")
    val store = newStore(dir)
    val before = state(store)
    // simulate: write the generation dir exactly as merge would, but die
    // before the manifest put — here, by writing an unreferenced gen dir
    val orphan = new java.io.File(dir, "gen-99-delta9")
    Seq((Cdc.Upsert, 99L, 2L, "LOST")).toDF(
        Cdc.ChangeType, Cdc.TransactionId, "id", "payload")
      .withColumn("_bucket", pmod(hash(col("id")), lit(4)))
      .write.partitionBy("_bucket").mode("overwrite").parquet(orphan.getPath)
    assert(state(store) === before, "unreferenced generation leaked into reads")
    // the replayed batch commits normally and converges
    store.merge(batch((Cdc.Upsert, 99L, 2L, "FOUND")))
    assert(state(store).contains((2L, "FOUND")))
    // a YOUNG orphan survives GC — it could be a concurrent writer's
    // in-flight commit (the race spec found GC sweeping one mid-write)
    assert(orphan.exists(), "young orphan swept inside the grace period")
    // ...an AGED one (crashed writer) is reclaimed by the next GC pass
    def age(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis() - 24 * 3600 * 1000L)
      Option(f.listFiles()).foreach(_.foreach(age))
    }
    age(orphan)
    store.merge(batch((Cdc.Upsert, 100L, 3L, "AGAIN")))
    assert(!orphan.exists(), "aged crashed-write orphan survived GC")
  }

  test("crash during compact before manifest put: base+deltas still serve; retry compacts") {
    val dir = tmp("mfcrashc")
    val store = newStore(dir)
    store.merge(batch((Cdc.Upsert, 10L, 2L, "TWO"),
      (Cdc.Delete, 11L, 1L, null.asInstanceOf[String])))
    val want = state(store)
    val v = store.currentVersion
    // a compact that died after writing its folded generation: unreferenced
    val dead = new java.io.File(dir, s"gen-${v + 1}-compact1")
    Seq((2L, "TWO")).toDF("id", "payload")
      .withColumn("_bucket", pmod(hash(col("id")), lit(4)))
      .write.partitionBy("_bucket").mode("overwrite").parquet(dead.getPath)
    assert(store.currentVersion === v)
    assert(state(store) === want)
    assert(store.deltaCount === 1, "deltas must still be referenced")
    // retry completes (overwrites the dead gen dir) and serves identically
    store.compact()
    assert(store.deltaCount === 0)
    assert(state(store) === want)
  }

  test("compaction is bucket-selective: untouched generation dirs are re-referenced, not rewritten") {
    import java.security.MessageDigest
    val dir = tmp("mfsel")
    val store = new ManifestUpsertStore(spark, dir, Seq("id"),
      numBuckets = 8, keepVersions = 2)
    store.initialize(Cdc.initialLoad(
      (1L to 64L).map(i => (i, s"v$i")).toDF("id", "payload")))
    store.merge(batch((Cdc.Upsert, 10L, 5L, "V5")))
    def md5All(d: java.io.File): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(d).filter(_.getName.endsWith(".parquet")).map { f =>
        f.getPath -> MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString
      }.toMap
    }
    val initGen = new java.io.File(dir).listFiles(
      (_: java.io.File, n: String) => n.startsWith("gen-init-")).head
    val before = md5All(initGen)
    val want = state(store)
    store.compact()
    // the init generation still exists and is byte-identical: untouched
    // buckets are served from it by reference; only the touched bucket
    // moved to the new compact generation
    assert(initGen.exists(), "untouched base generation was GC'd while referenced")
    assert(md5All(initGen) === before)
    assert(state(store) === want)
  }

  /** Shuffle-map stages that `body` runs and the shuffle records they
    * write, counted by a listener. Skipped stages (AQE resubmits a
    * finished map stage as skipped) never complete, so each exchange
    * counts once.
    */
  private def shuffles(body: => Unit): (Int, Long) = {
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (org.apache.spark.ListenerBusDrain.isShuffleMap(e.stageInfo)) {
          stages.incrementAndGet()
          records.addAndGet(
            e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten); ()
        }
    }
    // earlier jobs' events must not reach the new listener
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    (stages.get(), records.get())
  }

  /** Bucket dir name → `.parquet` file count, for the one generation of
    * `dir` whose name starts with `prefix`.
    */
  private def filesPerBucket(dir: String, prefix: String): Map[String, Int] = {
    val gens = new java.io.File(dir).listFiles(
      (_: java.io.File, n: String) => n.startsWith(prefix))
    assert(gens.length === 1, gens.map(_.getName).toSeq)
    gens.head.listFiles((f: java.io.File) => f.getName.startsWith("_bucket="))
      .map(b => b.getName -> b.listFiles((f: java.io.File) =>
        f.getName.endsWith(".parquet")).length).toMap
  }

  test("compaction folds in no exchange: no shuffle-map stage, one file per touched bucket") {
    val dir = tmp("mfonce")
    val store = new ManifestUpsertStore(spark, dir, Seq("id"),
      numBuckets = 8, keepVersions = 2)
    store.initialize(Cdc.initialLoad(
      (1L to 64L).map(i => (i, s"v$i")).toDF("id", "payload")))
    // two wide deltas written from many partitions: upserts over half the
    // keys, then deletes and inserts
    store.merge(spark.range(1, 33)
      .select(lit(Cdc.Upsert).alias(Cdc.ChangeType),
        (col("id") + 100L).alias(Cdc.TransactionId), col("id"),
        concat(lit("u"), col("id")).alias("payload"))
      .repartition(16))
    store.merge(batch((Cdc.Delete, 200L, 3L, null.asInstanceOf[String]),
      (Cdc.Delete, 201L, 40L, null.asInstanceOf[String]),
      (Cdc.Upsert, 202L, 70L, "seventy")))
    val touched = new java.io.File(dir).listFiles(
      (_: java.io.File, n: String) => n.startsWith("gen-delta-"))
      .flatMap(_.list().filter(_.startsWith("_bucket="))).toSet
    assert(touched.size >= 2, touched)
    val want = state(store)
    // each touched bucket is read and folded within one task: the scan is
    // hash-partitioned by the key, which is the fold's clustering and keeps
    // every bucket in one task for the write, so nothing is shuffled
    assert(shuffles(store.compact()) === (0, 0L))
    assert(store.deltaCount === 0)
    val compacted = filesPerBucket(dir, "gen-compact")
    assert(compacted.keySet === touched)
    assert(compacted.values.forall(_ == 1), compacted)
    assert(state(store) === want)

    // the clustered all-bucket rewrite folds a live delta the same way
    store.merge(batch((Cdc.Upsert, 300L, 5L, "FIVE"),
      (Cdc.Upsert, 301L, 50L, "FIFTY")))
    val want2 = state(store)
    assert(shuffles(store.compact(clusterBy = Seq("payload"))) === (0, 0L))
    val clustered = filesPerBucket(dir, "gen-cluster")
    assert(clustered.size === 8 && clustered.values.forall(_ == 1), clustered)
    assert(state(store) === want2)
  }

  test("version history: snapshotAt serves retained manifests; expiry refuses older") {
    val dir = tmp("mfhist")
    val store = newStore(dir, keep = 3)
    store.merge(batch((Cdc.Upsert, 10L, 2L, "v2state"))) // version 2
    store.merge(batch((Cdc.Upsert, 11L, 2L, "v3state"))) // version 3
    assert(store.snapshotAt(2).as[(Long, String)].collect().toMap
      .get(2L).contains("v2state"))
    assert(store.snapshotAt(3).as[(Long, String)].collect().toMap
      .get(2L).contains("v3state"))
    store.merge(batch((Cdc.Upsert, 12L, 2L, "v4state"))) // version 4: v1 expires
    intercept[IllegalStateException](store.snapshotAt(1))
    assert(store.snapshotAt(4).as[(Long, String)].collect().toMap
      .get(2L).contains("v4state"))
  }

  test("GC never deletes a referenced generation; interrupted GC is retryable") {
    val dir = tmp("mfgc")
    val store = newStore(dir, keep = 2)
    store.merge(batch((Cdc.Upsert, 10L, 2L, "TWO")))
    store.merge(batch((Cdc.Upsert, 11L, 3L, "THREE")))
    store.compact()
    // every generation named by any retained manifest exists on disk
    val manifests = new java.io.File(dir).listFiles(
      (_: java.io.File, n: String) => n.matches("manifest-\\d{12}\\.json"))
      .sortBy(_.getName).reverse.take(2)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val referenced = manifests.flatMap { f =>
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val payload = s.substring(0, s.lastIndexOf('\n', s.length - 2))
      val n = mapper.readTree(payload)
      val base = {
        val it = n.get("base").fieldNames()
        val buf = scala.collection.mutable.Buffer.empty[String]
        while (it.hasNext) buf += n.get("base").get(it.next()).asText()
        buf.toSeq
      }
      base ++ (0 until n.get("deltas").size()).map(i =>
        n.get("deltas").get(i).get("gen").asText())
    }.toSet
    referenced.foreach { g =>
      assert(new java.io.File(dir, g).exists(), s"referenced gen $g missing")
    }
    // interrupted GC = garbage left behind; once past the orphan grace
    // (in-flight-writer protection), the next operation re-sweeps it
    val junk = new java.io.File(dir, "gen-50-delta50")
    junk.mkdirs()
    new java.io.File(junk, "_bucket=0").mkdirs()
    def age(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis() - 24 * 3600 * 1000L)
      Option(f.listFiles()).foreach(_.foreach(age))
    }
    age(junk)
    store.merge(batch((Cdc.Upsert, 12L, 4L, "FOUR")))
    assert(!junk.exists(), "unreferenced garbage survived the GC retry")
    assert(state(store).contains((4L, "FOUR")))
  }

  test("staging debris: crashed puts accumulate invisibly, survive the grace, and sweep once aged — never an in-flight commit") {
    // closes the last unpinned branch of the r14 content-atomic publish
    // (VERDICT r14 #7): a crash between putManifest's staged write and
    // its link leaves a .staging-*.json file OUTSIDE the manifest-*
    // listing namespace
    val dir = tmp("mfstaging")
    val store = newStore(dir)
    store.merge(batch((Cdc.Upsert, 10L, 2L, "TWO")))
    val good = state(store)
    val v = store.currentVersion
    def stagingFiles() = Option(new java.io.File(dir).listFiles(
      (_: java.io.File, n: String) => n.startsWith(".staging-")))
      .getOrElse(Array.empty[java.io.File])
    assert(stagingFiles().isEmpty, "clean store must hold no staging debris")

    // N crashed write-phase puts: fully- and partially-written staging
    // files that never got linked
    val donor = new java.io.File(dir, f"manifest-$v%012d.json")
    val bytes = java.nio.file.Files.readAllBytes(donor.toPath)
    val debris = (1 to 5).map { i =>
      val f = new java.io.File(dir, s".staging-crash$i.json")
      java.nio.file.Files.write(f.toPath,
        java.util.Arrays.copyOfRange(bytes, 0, bytes.length * i / 5))
      f
    }
    assert(stagingFiles().length === 5)
    // invisible to every read surface
    assert(store.currentVersion === v && state(store) === good)

    // a commit's GC runs — but the debris is YOUNG, i.e. indistinguishable
    // from a concurrent writer's put in the write→link window, so it must
    // survive (sweep-age safety: the grace is the in-flight protection)
    store.merge(batch((Cdc.Upsert, 11L, 3L, "THREE")))
    assert(stagingFiles().length === 5,
      "young staging debris swept — a concurrent writer's in-flight put " +
        "would be destroyed in the same window")

    // aged past the grace, the next commit's GC reclaims all of it
    debris.foreach(_.setLastModified(
      System.currentTimeMillis() - 25 * 3600 * 1000L))
    store.merge(batch((Cdc.Upsert, 12L, 4L, "FOUR")))
    assert(stagingFiles().isEmpty, "aged staging debris survived GC")
    assert(state(store).contains((4L, "FOUR")))

    // the link→unlink crash variant: the staging name still shares its
    // inode with a COMMITTED manifest; sweeping it must remove only the
    // extra NAME, never the manifest or its contents
    val committed = new java.io.File(dir,
      f"manifest-${store.currentVersion}%012d.json")
    val linked = new java.io.File(dir, ".staging-linkcrash.json")
    java.nio.file.Files.createLink(linked.toPath, committed.toPath)
    linked.setLastModified(System.currentTimeMillis() - 25 * 3600 * 1000L)
    val before = state(store)
    store.merge(batch((Cdc.Upsert, 13L, 5L, "FIVE")))
    assert(!linked.exists(), "aged link-crash staging name survived GC")
    assert(committed.exists(), "GC deleted a committed manifest's name")
    assert(state(store) === before + ((5L, "FIVE")))
  }

  test("changesBetween: LWW replay identity across versions, even across a compaction") {
    val dir = tmp("mfcdf")
    val store = newStore(dir, keep = 6)
    store.merge(batch((Cdc.Upsert, 10L, 2L, "TWO"),
      (Cdc.Delete, 11L, 3L, null.asInstanceOf[String]))) // v2
    store.compact()                                       // v3 (folds v2's delta)
    store.merge(batch((Cdc.Upsert, 12L, 2L, "TWO2")))     // v4
    store.merge(batch((Cdc.Upsert, 13L, 4L, "four")))     // v5
    // replay identity: snapshotAt(from) + changes(from,to) == snapshotAt(to)
    def applyLww(base: Set[(Long, String)], to: Long, from: Long): Set[(Long, String)] = {
      val changes = store.changesBetween(from, to).collect()
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2)))
      changes.foldLeft(base) { case (acc, (id, payload, ct)) =>
        val without = acc.filterNot(_._1 == id)
        if (ct == Cdc.Delete) without else without + ((id, payload.get))
      }
    }
    val v1 = store.snapshotAt(1).as[(Long, String)].collect().toSet
    val v5 = store.snapshotAt(5).as[(Long, String)].collect().toSet
    // the (1, 5] window SPANS the compaction at v3: the v2 delta is named
    // by retained manifest v2 and its gen dir must have survived GC
    assert(applyLww(v1, to = 5, from = 1) === v5)
    // sub-ranges too
    val v4 = store.snapshotAt(4).as[(Long, String)].collect().toSet
    assert(applyLww(v4, to = 5, from = 4) === v5)
    // empty range yields no rows; beyond retention refuses
    assert(store.changesBetween(5, 5).count() === 0)
    // burn versions past retention (keep=6): v1 expires
    store.merge(batch((Cdc.Upsert, 14L, 5L, "five"))) // v6
    store.merge(batch((Cdc.Upsert, 15L, 6L, "six")))  // v7: v1 now dropped
    intercept[IllegalStateException](store.changesBetween(1, 7))
  }

  test("burned version slots leave gaps the feed and time travel tolerate") {
    val dir = tmp("mfgap")
    val store = newStore(dir, keep = 6)
    store.merge(batch((Cdc.Upsert, 10L, 2L, "TWO"))) // v2
    val v = store.currentVersion
    // a crashed writer's torn put burned slot v+1
    java.nio.file.Files.write(
      new java.io.File(dir, f"manifest-${v + 1}%012d.json").toPath,
      "torn".getBytes("UTF-8"))
    store.merge(batch((Cdc.Upsert, 11L, 7L, "seven"))) // lands at v+2
    assert(store.currentVersion === v + 2)
    // the feed spans the gap (version v+1 never committed — no deltas lost)
    val changes = store.changesBetween(v, v + 2).collect()
    assert(changes.map(_.getLong(0)).toSet === Set(7L))
    // time travel works on both sides of the gap; the gap itself refuses
    assert(store.snapshotAt(v).count() === 3)
    assert(store.snapshotAt(v + 2).count() === 4)
    intercept[IllegalStateException](store.snapshotAt(v + 1))
  }

  test("manifest publish is content-atomic: a listed slot never reads torn under concurrent commits (r14)") {
    // Pre-r14, putManifest claimed the slot with CREATE_NEW and only then
    // wrote the digest-sealed bytes into it. Any concurrent LISTER in that
    // window saw the newest slot as a torn file, burned it, built its
    // commit on the PREVIOUS manifest, and published one slot PAST the
    // in-flight writer — both commits "succeeded", but the victim's delta
    // was referenced by no retained manifest: a silent lost update (the
    // three-writer stress caught it flaking — one writer's whole first
    // batch vanished). The fix stages the forced bytes outside the
    // listing namespace and claims the slot by atomic hard-link, so a
    // manifest name, once visible, must ALWAYS decode complete. This
    // poller is the property's direct observer; the three-writer stress
    // remains the integration-level guard.
    val dir = tmp("mfatomic")
    val store = newStore(dir, keep = 50) // retention off: vanished ≠ torn
    val root = new java.io.File(dir)
    def decodes(bytes: Array[Byte]): Boolean = {
      // the manifest completeness test, replicated: payload + "\n" +
      // sha256(payload) + "\n"
      val s = new String(bytes, "UTF-8")
      val nl = s.lastIndexOf('\n', s.length - 2)
      if (nl < 0) return false
      val want = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.substring(0, nl).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      s.substring(nl + 1).trim == want
    }
    @volatile var writing = true
    val torn = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val poller = new Thread(() => while (writing) {
      Option(root.listFiles((_: java.io.File, n: String) =>
        n.matches("manifest-\\d{12}\\.json")))
        .getOrElse(Array.empty[java.io.File]).foreach { f =>
          try {
            val bytes = java.nio.file.Files.readAllBytes(f.toPath)
            seen.incrementAndGet()
            if (!decodes(bytes)) torn.incrementAndGet()
          } catch { case _: java.nio.file.NoSuchFileException => () }
        }
    })
    poller.start()
    (1 to 20).foreach { i =>
      store.merge(batch((Cdc.Upsert, 100L + i, 1000L + i, s"row-$i")))
    }
    writing = false
    poller.join(60000)
    assert(!poller.isAlive, "poller hung")
    assert(seen.get() > 0, "poller observed no manifests — vacuous run")
    assert(torn.get() === 0,
      s"observed ${torn.get()} torn-visible manifest reads (of ${seen.get()})" +
        " — the publish is not content-atomic")
    // and the store is intact: every merge's key present
    assert(store.snapshot().count() === 3 + 20)
    graft.util.Fs.rmTree(new java.io.File(dir))
  }

  test("CdcStreamJob drives the manifest store through the same interface (KeyedUpsertStore)") {
    // the identical loop the rename-based stores run — swapping the commit
    // protocol is a constructor argument, not a topology change
    val source = Seq((1L, "one"), (2L, "TWO"), (3L, "three")).toDF("id", "payload")
    val store = new ManifestUpsertStore(spark, tmp("mfjob"), Seq("id"),
      numBuckets = 4)
    store.initialize(Cdc.initialLoad(
      Seq((1L, "old1"), (9L, "old9")).toDF("id", "payload")))
    val ledger = new TxidLedger(tmp("mfjob-led") + "/txid")
    val job = new CdcStreamJob(spark, () => source, store, ledger,
      Seq(("id", "id")), autoCompactDeltas = Some(2))
    def keyFeed(rows: (Long, Long)*) =
      rows.toDF("id", Cdc.TransactionId)
    job.processBatch(keyFeed((1L, 10L), (2L, 11L)), 0)
    assert(store.deltaCount === 1)
    job.processBatch(keyFeed((9L, 12L)), 1) // 9 gone upstream → delete
    assert(store.deltaCount === 0, "debt policy must have compacted")
    assert(state(store) === Set((1L, "one"), (2L, "TWO")))
    assert(ledger.read() === 12L)
  }

  test("compaction policies: no debt is never due; the count and byte-ratio thresholds compact and clear the debt") {
    val store = newStore(tmp("mfpolicy"))
    val v0 = store.currentVersion
    assert(!store.compactIfNeeded(maxDeltas = 1))
    assert(!store.compactIfDeltaRatio(0.01))
    assert(store.currentVersion === v0, "a policy with no debt published")
    // count: below the threshold is not due; reaching it compacts
    store.merge(batch((Cdc.Upsert, 10L, 2L, "TWO")))
    assert(!store.compactIfNeeded(maxDeltas = 2))
    assert(store.deltaCount === 1)
    store.merge(batch((Cdc.Upsert, 11L, 1L, "ONE")))
    assert(store.compactIfNeeded(maxDeltas = 2))
    assert(store.deltaCount === 0)
    // byte ratio: a compacted store is not due; a fresh delta trips a
    // small ratio but not a large one
    assert(!store.compactIfDeltaRatio(0.01))
    store.merge(batch((Cdc.Upsert, 12L, 3L, "THREE")))
    assert(!store.compactIfDeltaRatio(1000.0))
    assert(store.deltaCount === 1)
    assert(store.compactIfDeltaRatio(0.01))
    assert(store.deltaCount === 0)
    assert(state(store) === Set((1L, "ONE"), (2L, "TWO"), (3L, "THREE")))
  }

  test("lookup prunes to one bucket's files (measured), base and deltas") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
        p match {
          case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
          case q: QueryStageExec => leaves(q.plan)
          case s: FileSourceScanExec => Seq(s)
          case other => other.children.flatMap(leaves) ++
            other.subqueries.flatMap(leaves)
        }
      leaves(df.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
    }
    val dir = tmp("mflook")
    val store = new ManifestUpsertStore(spark, dir, Seq("id"),
      numBuckets = 8, keepVersions = 2)
    store.initialize(Cdc.initialLoad(
      (1L to 64L).map(i => (i, s"v$i")).toDF("id", "payload")))
    store.merge(batch((Cdc.Upsert, 10L, 5L, "V5")))
    val full = filesRead(store.snapshot())
    val one = filesRead(store.lookup(7L))
    assert(one < full,
      s"lookup read $one files vs snapshot's $full — no bucket pruning")
    assert(store.lookup(5L).as[(Long, String)].collect().toSeq ===
      Seq((5L, "V5")))
  }

  test("all-deletes compaction keeps the seq floor: later merges never reuse folded seqs") {
    val dir = tmp("mffloor")
    val store = newStore(dir, keep = 6)
    // seq 1 upserts key 4; seq 2 deletes EVERY key the deltas touched —
    // the compacted fold produces no surviving rows for those buckets, so
    // no compact-tagged generation survives to carry the floor by name
    store.merge(batch((Cdc.Upsert, 10L, 4L, "four")))                // seq 1
    store.merge(batch((Cdc.Delete, 11L, 4L,
      null.asInstanceOf[String])))                                    // seq 2
    store.compact()
    // the next merge MUST take seq 3 (manifest-recorded floor), not seq 1:
    // a reused seq would collide with retained manifest v2's delta and
    // silently vanish from the change feed
    val vBefore = store.currentVersion
    store.merge(batch((Cdc.Upsert, 12L, 5L, "five")))
    val changes = store.changesBetween(vBefore, store.currentVersion)
    assert(changes.count() === 1,
      "the post-compaction merge must be visible in the change feed")
    assert(changes.head().getLong(0) === 5L)
    assert(state(store) === Set((1L, "one"), (2L, "two"), (3L, "three"),
      (5L, "five")))
  }

  test("re-initialize publishes as the NEXT version, never a silently-ignored lower one") {
    val dir = tmp("mfreinit")
    val store = newStore(dir)
    store.merge(batch((Cdc.Upsert, 10L, 2L, "TWO"))) // v2
    val v = store.currentVersion
    store.initialize(Cdc.initialLoad(
      Seq((50L, "fresh")).toDF("id", "payload")))
    assert(store.currentVersion === v + 1,
      "re-init must cut over as the next version")
    assert(state(store) === Set((50L, "fresh")))
    // a change feed across the re-init refuses (new history, seqs reset)
    store.merge(batch((Cdc.Upsert, 1L, 51L, "post")))
    intercept[IllegalStateException](store.changesBetween(v, store.currentVersion))
    // ...but within the new history it works
    assert(store.changesBetween(v + 1, store.currentVersion).count() === 1)
    // the same store in the format before the flag: manifests carry no
    // rewrite flag, and an initialization's generation is named after its
    // own version (`gen-<v>-init-<nonce>`). The re-initialization is still
    // found, by that name
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val oldNames = scala.collection.mutable.Map.empty[String, String]
    new java.io.File(dir).listFiles((_: java.io.File, n: String) =>
      n.matches("manifest-\\d{12}\\.json")).sortBy(_.getName).foreach { f =>
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val node = mapper.readTree(s.substring(0, s.lastIndexOf('\n', s.length - 2)))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val flag = node.remove("rewrite")
      assert(flag != null, s"${f.getName} has no flag")
      // oldest manifest first: an init generation first named by a rewrite
      // was written by it; one first named by a merge predates the
      // retained window and was written by the first initialization, v1
      val version = if (flag.asBoolean()) node.get("version").asLong() else 1L
      val base = node.get("base").asInstanceOf[
        com.fasterxml.jackson.databind.node.ObjectNode]
      base.fieldNames().asScala.toList.foreach { k =>
        val g = base.get(k).asText()
        if (g.startsWith("gen-init-"))
          base.put(k, oldNames.getOrElseUpdate(g,
            s"gen-$version-init-" + g.stripPrefix("gen-init-")))
      }
      val payload = mapper.writeValueAsString(node)
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(payload.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.nio.file.Files.write(f.toPath, s"$payload\n$digest\n".getBytes("UTF-8"))
    }
    assert(oldNames.size === 2, s"two initializations: $oldNames")
    oldNames.foreach { case (g, old) =>
      assert(new java.io.File(dir, g).renameTo(new java.io.File(dir, old)))
    }
    assert(state(store) === Set((50L, "fresh"), (51L, "post")))
    intercept[IllegalStateException](store.changesBetween(v, store.currentVersion))
    assert(store.changesBetween(v + 1, store.currentVersion).count() === 1)
  }

  test("schema evolves additively through the manifest") {
    val dir = tmp("mfevo")
    val store = newStore(dir)
    store.merge(Seq((Cdc.Upsert, 10L, 2L, "TWO", "extra"))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload", "note"))
    val m = store.snapshot().collect().map(r =>
      (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(m === Set((1L, "one", None), (2L, "TWO", Some("extra")),
      (3L, "three", None)))
  }

  // ── Commit rebase (VERDICT r10 #1): the Iceberg retry-on-top half ──────────

  /** A store whose commit attempts yield to an injected competitor exactly
    * once — the deterministic conflict the thread-race tests only hit
    * probabilistically.
    */
  private class YieldingStore(dir: String, inject: () => Unit,
      policy: WritePolicy = WritePolicy.MergeOnRead)
      extends ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4,
        writePolicy = policy) {
    private val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    override protected def beforeCommitAttempt(): Unit =
      if (done.compareAndSet(false, true)) inject()
  }

  test("commit rebase: two concurrent writers both make progress, zero lost updates") {
    val dir = tmp("mfrebase")
    newStore(dir)
    val n = 8
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(s: ManifestUpsertStore, keyBase: Long): Thread =
      new Thread(() => try {
        (0 until n).foreach { i =>
          s.merge(batch((Cdc.Upsert, keyBase + i, keyBase + i, s"v$i")))
        }
      } catch { case t: Throwable => errors.add(t) })
    val a = writer(new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4), 100L)
    val b = writer(new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4), 200L)
    a.start(); b.start(); a.join(300000); b.join(300000)
    assert(errors.isEmpty, s"no writer may surface a conflict under rebase: $errors")
    val reader = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4)
    val s = state(reader)
    // the folded store equals the serial result: every batch from both
    // writers visible — the done-criterion for VERDICT r10 #1
    (0 until n).foreach { i =>
      assert(s.contains((100L + i, s"v$i")), s"writer A batch $i lost: $s")
      assert(s.contains((200L + i, s"v$i")), s"writer B batch $i lost: $s")
    }
    // no slots were burned (every conflict rebased onto a real commit):
    // init + 2n merges = version 1 + 2n
    assert(reader.currentVersion === 1 + 2 * n)
  }

  test("deterministic merge rebase: competitor lands in the read→put window, neither commit lost") {
    val dir = tmp("mfdetm")
    newStore(dir)
    val other = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4)
    val yielding = new YieldingStore(dir,
      () => other.merge(batch((Cdc.Upsert, 50L, 7L, "intruder"))))
    yielding.merge(batch((Cdc.Upsert, 51L, 8L, "rebased")))
    val s = state(other)
    assert(s.contains((7L, "intruder")) && s.contains((8L, "rebased")),
      s"both the intruding and the rebased commit must be visible: $s")
    // both deltas live in the final manifest, ordered seqs
    assert(other.deltaCount === 2)
  }

  test("deterministic compact rebase: a merge landing mid-compaction survives on top of the new base") {
    val dir = tmp("mfdetc")
    val store = newStore(dir)
    store.merge(batch((Cdc.Upsert, 10L, 2L, "TWO")))
    store.merge(batch((Cdc.Upsert, 11L, 4L, "four")))
    val other = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4)
    val yielding = new YieldingStore(dir,
      () => other.merge(batch((Cdc.Upsert, 60L, 9L, "mid_compact"))))
    yielding.compact()
    val reader = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4)
    val s = state(reader)
    assert(s === Set((1L, "one"), (2L, "TWO"), (3L, "three"), (4L, "four"),
      (9L, "mid_compact")), s"unexpected folded state: $s")
    // the rebased compaction kept the intruder's delta LIVE (it was not
    // part of the folded inputs), and dropped only what it folded
    assert(reader.deltaCount === 1)
    // the floor advanced past the folded seqs: the next merge's seq is new
    store.merge(batch((Cdc.Upsert, 61L, 9L, "after")))
    assert(state(store).contains((9L, "after")),
      "post-compact merge must outrank the mid-compact delta under LWW")
  }

  /** Competitor lands BEFORE the commit loop's first snapshot — the
    * fold/write window where no slot conflict can fire and only
    * first-attempt validation stands between a stale fold and a silent
    * lost update (r11 adversarial review).
    */
  private class FoldWindowStore(dir: String, inject: () => Unit,
      policy: WritePolicy = WritePolicy.MergeOnRead)
      extends ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4,
        writePolicy = policy) {
    private val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    override protected def beforeCommitLoop(): Unit =
      if (done.compareAndSet(false, true)) inject()
  }

  test("compact validates its fold inputs on the FIRST attempt: a compact landing in the fold window aborts loudly") {
    val dir = tmp("mffirstv")
    val store = newStore(dir)
    store.merge(batch((Cdc.Upsert, 10L, 2L, "TWO")))
    val other = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4)
    // the competitor's compact commits while ours is folding: our first
    // attempt targets a FREE slot (no conflict fires) — validation alone
    // must catch that our fold inputs were replaced
    val yielding = new FoldWindowStore(dir, () => other.compact())
    intercept[CommitConflictException](yielding.compact())
    val reader = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4)
    assert(state(reader) === Set((1L, "one"), (2L, "TWO"), (3L, "three")))
    assert(reader.deltaCount === 0)
  }

  test("a merge landing in the fold window is kept by the first-attempt commit (no slot conflict needed)") {
    val dir = tmp("mffirstm")
    val store = newStore(dir)
    store.merge(batch((Cdc.Upsert, 10L, 2L, "TWO")))
    val other = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4)
    val yielding = new FoldWindowStore(dir,
      () => other.merge(batch((Cdc.Upsert, 50L, 9L, "fold_window"))))
    yielding.compact() // must NOT abort: merges only append, rebase keeps them
    val reader = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4)
    val s = state(reader)
    assert(s === Set((1L, "one"), (2L, "TWO"), (3L, "three"),
      (9L, "fold_window")), s"mid-fold merge lost: $s")
    assert(reader.deltaCount === 1,
      "the mid-fold merge's delta must stay live on the new base")
  }

  test("concurrent compaction invalidates a compaction's fold: loud abort, staged gen reclaimed") {
    val dir = tmp("mfdetcc")
    val store = newStore(dir)
    store.merge(batch((Cdc.Upsert, 10L, 2L, "TWO")))
    val other = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4)
    val yielding = new YieldingStore(dir, () => other.compact())
    intercept[CommitConflictException](yielding.compact())
    // the winner's compaction serves; the loser left no garbage reference
    val reader = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4)
    assert(state(reader) === Set((1L, "one"), (2L, "TWO"), (3L, "three")))
    assert(reader.deltaCount === 0)
  }

  // r13 (VERDICT r12 #2): the feed consumer is policy-agnostic — the same
  // StoreChangeFeed that tails a copy-on-write store (CdcStreamSpec) tails
  // a merge-on-read one through KeyedUpsertStore's
  // feedVersion/changesBetween pair. The manifest-specific hazards are
  // pinned here: a window that SPANS a compaction (the folded delta must
  // stay resolvable through the retained pre-compaction manifest's gen
  // reference), a compaction-only window (version moved, zero changes),
  // and a consumer lagging past keepVersions (loud refusal, then a fresh
  // consumer re-baselines at the current version).
  test("change-feed consumer tails the manifest protocol: spanned compaction, replay, horizon") {
    val dir = tmp("mffeed")
    // keep=4: the first poll window spans (1, 4] so the v1 baseline must
    // still be retained after three commits — the feed window IS the
    // manifest retention window, and this test sits exactly at its edge
    val store = newStore(dir, keep = 4) // version 1 = initial load
    val cursorPath = tmp("mffeed-cursor") + "/cursor"
    val feed = new StoreChangeFeed(store, cursorPath)
    assert(feed.cursor === store.currentVersion,
      "baseline at attach = the snapshot the consumer is about to seed from")
    // a copy-on-write replica: the two write policies composed across the
    // feed seam
    val replica = new ManifestUpsertStore(spark, tmp("mffeed-dst"), Seq("id"),
      numBuckets = 4, writePolicy = WritePolicy.CopyOnWrite)
    replica.initialize(Cdc.initialLoad(store.snapshot()))
    def replicaState = replica.snapshot()
      .as[(Long, String)].collect().toSet
    store.merge(batch((Cdc.Upsert, 10L, 2L, "TWO"),
      (Cdc.Delete, 11L, 3L, null.asInstanceOf[String]))) // version 2
    store.compact() // version 3: folds the v2 delta into a new base
    store.merge(batch((Cdc.Upsert, 12L, 4L, "four")))    // version 4
    // ONE poll window spanning delta + compaction + delta: the folded-away
    // delta resolves through the retained v2 manifest's gen reference
    val (w1, to1) = feed.poll()
    val win = w1.localCheckpoint(true)
    replica.merge(win)
    replica.merge(win) // crash before the ack: replay must be idempotent
    feed.commit(to1)
    win.unpersist()
    assert(replicaState === state(store))
    assert(replicaState === Set((1L, "one"), (2L, "TWO"), (4L, "four")))
    assert(feed.cursor === store.currentVersion)
    // compaction-only window: feedVersion moved, the change set is empty
    // (with the envelope schema) — the consumer acks through it
    store.compact() // version 5
    val (none, to2) = feed.poll()
    assert(none.isEmpty && none.columns.contains(Cdc.ChangeType))
    feed.commit(to2)
    assert(feed.cursor === store.currentVersion)
    // lag the consumer past keepVersions=4: versions 6..9 retire version 5
    (6 to 9).foreach { v =>
      store.merge(batch((Cdc.Upsert, 10L + v, v.toLong, s"v$v")))
    }
    intercept[IllegalStateException](feed.poll())
    // a fresh consumer re-baselines at the current version and tails on
    val late = new StoreChangeFeed(store, tmp("mffeed-c2") + "/cursor")
    assert(late.cursor === store.currentVersion)
    store.merge(batch((Cdc.Upsert, 30L, 9L, "nine")))
    val (c3, to3) = late.poll()
    assert(c3.select("id", "payload", Cdc.ChangeType)
      .as[(Long, String, String)].collect().toSet === Set((9L, "nine", "A")))
    late.commit(to3)
  }

  private def cowStore(dir: String): ManifestUpsertStore =
    new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4,
      writePolicy = WritePolicy.CopyOnWrite)

  private def cowGens(dir: String): Set[String] =
    new java.io.File(dir).list().filter(_.startsWith("gen-cow-")).toSet

  test("two copy-on-write writers: disjoint buckets rebase, one bucket conflicts with nothing published, a delta conflicts") {
    val dir = tmp("mfcow2w")
    cowStore(dir).initialize(Cdc.initialLoad(
      Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("id", "payload")))
    def bucket(id: Long): Int = spark.range(1)
      .select(pmod(hash(lit(id)), lit(4)).cast("int")).head().getInt(0)
    val k1 = 1L
    val k2 = (2L to 64L).find(bucket(_) != bucket(k1)).get
    val k1b = (2L to 64L).find(bucket(_) == bucket(k1)).get
    // disjoint buckets: the competitor commits in the loser's read→put
    // window; the loser's touched base entry is unchanged, so it rebases
    val other = cowStore(dir)
    new YieldingStore(dir,
      () => other.merge(batch((Cdc.Upsert, 50L, k2, "other"))),
      WritePolicy.CopyOnWrite).merge(batch((Cdc.Upsert, 51L, k1, "mine")))
    val s1 = state(other)
    assert(s1((k1, "mine")) && s1((k2, "other")), s"a commit was lost: $s1")
    assert(other.deltaCount === 0)
    // the same bucket: the winner re-pointed the loser's input, so the
    // loser conflicts, publishes nothing and reclaims its generation
    val v0 = other.currentVersion
    val gens0 = cowGens(dir)
    intercept[CommitConflictException] {
      new YieldingStore(dir,
        () => other.merge(batch((Cdc.Upsert, 52L, k1b, "winner"))),
        WritePolicy.CopyOnWrite).merge(batch((Cdc.Upsert, 53L, k1, "loser")))
    }
    val s2 = state(other)
    assert(s2((k1b, "winner")) && s2((k1, "mine")) &&
      !s2.exists(_._2 == "loser"), s"$s2")
    assert(other.currentVersion === v0 + 1, "only the winner may publish")
    assert((cowGens(dir) -- gens0).size === 1,
      "the loser's generation must be reclaimed")
    // a merge-on-read delta published under a copy-on-write writer's
    // rewrite conflicts too: the rewrite did not read it
    val mor = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4)
    intercept[CommitConflictException] {
      new FoldWindowStore(dir,
        () => mor.merge(batch((Cdc.Upsert, 54L, k2, "delta"))),
        WritePolicy.CopyOnWrite).merge(batch((Cdc.Upsert, 55L, k2, "cow")))
    }
    val s3 = state(mor)
    assert(s3((k2, "delta")) && !s3.exists(_._2 == "cow"), s"$s3")
    // once the delta is compacted away, copy-on-write merges proceed
    mor.compact()
    cowStore(dir).merge(batch((Cdc.Upsert, 56L, k2, "cow")))
    assert(state(mor)((k2, "cow")))
  }

  test("changesBetween refuses loudly across a copy-on-write rewrite, a column rename and a clustered compaction") {
    val dir = tmp("mfbreak")
    val store = newStore(dir, keep = 8) // version 1 = initial load
    def refuses(from: Long, to: Long): Unit = {
      val e = intercept[IllegalStateException](store.changesBetween(from, to))
      assert(e.getMessage.contains("spans a rewrite"), e.getMessage)
    }
    store.merge(batch((Cdc.Upsert, 10L, 2L, "TWO"))) // v2: a delta
    store.compact()                                  // v3: folds it
    // a compaction folds deltas the retained manifests still name: the
    // range across it serves
    assert(store.changesBetween(1L, 3L).count() === 1L)
    // v4, from a copy-on-write writer (whose keepVersions=3 retires v1)
    cowStore(dir).merge(batch((Cdc.Upsert, 11L, 4L, "four")))
    refuses(3L, 4L)
    refuses(2L, 4L)
    store.merge(batch((Cdc.Upsert, 12L, 5L, "five"))) // v5: a delta again
    assert(store.changesBetween(4L, 5L).count() === 1L)
    store.renameColumn("payload", "body")            // v6
    refuses(5L, 6L)
    store.compact(clusterBy = Seq("id"))             // v7
    refuses(6L, 7L)
    assert(store.changesBetween(7L, 7L).isEmpty)
    assert(state(store) === Set((1L, "one"), (2L, "TWO"), (3L, "three"),
      (4L, "four"), (5L, "five")))
  }

  test("a copy-on-write merge that empties every bucket it touches still breaks the change feed") {
    // such a merge writes no generation, so only the manifest can say that
    // it rewrote: an empty feed here would silently lose the deletes
    val initial = Seq((1L, "one"), (2L, "two"), (3L, "three"))
    def bucket(id: Long): Int = spark.range(1)
      .select(pmod(hash(lit(id)), lit(4)).cast("int")).head().getInt(0)
    val gone = initial.map(_._1).filter(bucket(_) == bucket(1L))
    val deletes = batch(gone.map(id =>
      (Cdc.Delete, 10L + id, id, null.asInstanceOf[String])): _*)
    val dir = tmp("mfcowempty")
    val store = cowStore(dir)
    store.initialize(Cdc.initialLoad(initial.toDF("id", "payload")))
    val feed = new StoreChangeFeed(store, tmp("mfcowempty-cursor") + "/cursor")
    val v0 = store.currentVersion
    store.merge(deletes)
    val v = store.currentVersion
    assert(v === v0 + 1 && cowGens(dir).isEmpty,
      "the merge published a manifest and wrote no generation")
    assert(state(store) === initial.filterNot(r => gone.contains(r._1)).toSet)
    val e = intercept[IllegalStateException](store.changesBetween(v - 1, v))
    assert(e.getMessage.contains("spans a rewrite"), e.getMessage)
    intercept[IllegalStateException](feed.poll())
    // the same deletes through merge-on-read, compacted into an emptied
    // bucket, stay in the feed: a compaction is not a rewrite
    val mor = newStore(tmp("mfmorempty"))
    val m0 = mor.currentVersion
    mor.merge(deletes)
    mor.compact()
    assert(mor.changesBetween(m0, mor.currentVersion)
      .select("id", Cdc.ChangeType).as[(Long, String)].collect().toSet ===
      gone.map(_ -> Cdc.Delete).toSet)
  }

  /** The schema the newest manifest of the store at `dir` records. */
  private def manifestSchema(dir: String): String = {
    val newest = new java.io.File(dir).listFiles(
      (_: java.io.File, n: String) => n.startsWith("manifest-")).maxBy(_.getName)
    val payload = java.nio.file.Files.readString(newest.toPath).split("\n").head
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(payload)
      .get("schema").asText()
  }

  private def bucketOf4(id: Long): Int = spark.range(1)
    .select(pmod(hash(lit(id)), lit(4)).cast("int")).head().getInt(0)

  test("a copy-on-write merge shuffles only the batch: one shuffle-map stage, the staged write") {
    val dir = tmp("mfcowshuffle")
    val store = cowStore(dir)
    store.initialize(Cdc.initialLoad(
      (1L to 400L).map(i => (i, s"v$i")).toDF("id", "payload")))
    // two keys of every bucket: an update and a delete in each, so every
    // bucket's 100-odd base rows are folded and rewritten
    val picked = (1L to 40L).groupBy(bucketOf4).values.map(_.take(2)).toSeq
    assert(picked.size === 4)
    val rows = picked.flatMap { case Seq(u, d) =>
      Seq((Cdc.Upsert, 1000L + u, u, s"u$u"),
        (Cdc.Delete, 1000L + d, d, null.asInstanceOf[String]))
    }
    val (stages, records) = shuffles(store.merge(batch(rows: _*)))
    assert(stages === 1, "the staged delta write is the merge's one exchange")
    assert(records <= rows.size,
      s"$records shuffle records for a ${rows.size}-row batch")
    val deleted = rows.filter(_._1 == Cdc.Delete).map(_._3).toSet
    assert(state(store) === (1L to 400L).filterNot(deleted).map { i =>
      i -> rows.collectFirst { case (Cdc.Upsert, _, `i`, p) => p }
        .getOrElse(s"v$i")
    }.toSet)
    assert(cowGens(dir).size === 1 &&
      !new java.io.File(dir).list().exists(_.startsWith("gen-delta-")),
      "the staged delta is deleted once the commit returns")
  }

  test("both write policies converge: copy-on-write, merge-on-read, and merge-on-read compacted after every merge") {
    val initial = (1L to 12L).map(i => (i, s"v$i")).toDF("id", "payload")
    def open(policy: WritePolicy) = {
      val dir = tmp("mfconverge")
      val s = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 4,
        writePolicy = policy)
      s.initialize(Cdc.initialLoad(initial)); (s, dir)
    }
    val stores = Seq(open(WritePolicy.CopyOnWrite),
      open(WritePolicy.MergeOnRead), open(WritePolicy.MergeOnRead))
    val Seq(cow, mor, compacted) = stores.map(_._1)
    val none = null.asInstanceOf[String]
    val emptied = bucketOf4(1L)
    val batches: Seq[org.apache.spark.sql.DataFrame] = Seq(
      // updates, a delete, an insert
      batch((Cdc.Upsert, 10L, 2L, "TWO"), (Cdc.Delete, 11L, 3L, none),
        (Cdc.Upsert, 12L, 20L, "twenty")),
      // a re-insert of the deleted key
      batch((Cdc.Upsert, 13L, 3L, "back"), (Cdc.Delete, 14L, 20L, none)),
      // a batch that adds a column
      Seq((Cdc.Upsert, 15L, 5L, "FIVE", "n5"), (Cdc.Upsert, 16L, 21L, "x", none),
        (Cdc.Delete, 17L, 6L, none, none))
        .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload", "note"),
      // a batch that empties a bucket
      batch(((1L to 21L).filter(bucketOf4(_) == emptied)
        .map(i => (Cdc.Delete, 18L, i, none))): _*),
      // the old shape again: `note` null-fills
      batch((Cdc.Upsert, 19L, 7L, "SEVEN"), (Cdc.Upsert, 20L, 5L, "five")))
    for ((b, n) <- batches.zipWithIndex) {
      Seq(cow, mor, compacted).foreach(_.merge(b))
      compacted.compact()
      val want = cow.snapshot().collect().toSet
      assert(mor.snapshot().collect().toSet === want, s"batch $n")
      assert(compacted.snapshot().collect().toSet === want, s"batch $n")
      assert(stores.map(s => manifestSchema(s._2)).distinct.size === 1,
        s"batch $n")
      b.select("id").as[Long].collect().foreach { k =>
        val got = Seq(cow, mor, compacted).map(_.lookup(k).collect().toSeq)
        assert(got.distinct.size === 1, s"batch $n, key $k: $got")
      }
      if (n == 3) assert(cow.snapshot()
        .where(pmod(hash(col("id")), lit(4)) === emptied).isEmpty)
    }
    assert(cow.snapshot().columns.toSeq === Seq("id", "payload", "note"))
    assert(cow.snapshot().where(col("id") === 5L)
      .select("payload", "note").as[(String, String)].collect().toSeq ===
      Seq(("five", null)))
  }

  test("GC deletes retired copy-on-write generations at once: the dir count stays bounded by keepVersions") {
    // default orphanGraceMs (a day): only generations no manifest ever
    // named wait it out; a merge's retired buckets are committed data
    val dir = tmp("mfcowgc")
    val store = cowStore(dir)
    val ids = 1L to 40L
    store.initialize(Cdc.initialLoad(ids.map(i => (i, "v0")).toDF("id", "payload")))
    def genDirs = new java.io.File(dir).list().count(_.startsWith("gen-"))
    (1 to 8).foreach { n =>
      // every merge rewrites all four buckets
      store.merge(batch(ids.map(i => (Cdc.Upsert, 100L * n + i, i, s"v$n")): _*))
      assert(genDirs <= 3, s"$genDirs generation dirs after merge $n")
    }
    assert(state(store) === ids.map(_ -> "v8").toSet)
    assert(store.snapshotAt(store.currentVersion - 2).count() === ids.size,
      "the retained history still reads")
  }

  test("GC crashed between its two deletes: an expired version refuses as not retained, never a missing path") {
    // one bucket under copy-on-write: every merge retires the previous
    // generation, so once version 1 expires its init generation is retired
    val dir = tmp("mfgccrash")
    @volatile var crash = false
    val store = new ManifestUpsertStore(spark, dir, Seq("id"), numBuckets = 1,
        keepVersions = 2, writePolicy = WritePolicy.CopyOnWrite) {
      override protected def betweenGcDeletes(): Unit =
        if (crash) throw new RuntimeException("crash inside GC")
    }
    store.initialize(Cdc.initialLoad(Seq((1L, "one")).toDF("id", "payload")))
    val init = new java.io.File(dir).list().filter(_.startsWith("gen-")).head
    store.merge(batch((Cdc.Upsert, 10L, 2L, "two")))
    crash = true
    // version 3 publishes, then its GC dies between its two deletes
    intercept[RuntimeException](store.merge(batch((Cdc.Upsert, 11L, 3L, "three"))))
    crash = false
    assert(store.currentVersion === 3L)
    assert(state(store) === Set(1L -> "one", 2L -> "two", 3L -> "three"))
    // version 1's manifest is still on disk: retention, not absence, refuses it
    val expired = new java.io.File(dir, "manifest-000000000001.json")
    assert(expired.exists())
    val e = intercept[IllegalStateException](store.snapshotAt(1L).collect())
    assert(e.getMessage.contains("not retained"), e.getMessage)
    // the next merge's GC leaves neither the retired init generation nor
    // the expired manifest behind, with no wait for the orphan grace
    val left = new java.io.File(dir, init)
    store.merge(batch((Cdc.Upsert, 12L, 4L, "four")))
    assert(!left.exists(), s"$init outlived the next GC")
    assert(!expired.exists())
    assert(state(store) === Set(1L -> "one", 2L -> "two", 3L -> "three",
      4L -> "four"))
  }

  test("manifest bytes are pinned: a golden encoded store manifest") {
    val dir = tmp("mfgolden")
    val store = newStore(dir)
    store.merge(batch((Cdc.Upsert, 10L, 4L, "four")))
    val f = new java.io.File(dir, "manifest-000000000002.json")
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val Array(payload, digest) = text.stripSuffix("\n").split("\n")
    assert(digest === java.security.MessageDigest.getInstance("SHA-256")
      .digest(payload.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    // generation names carry random nonces: pin everything else
    val gens = "gen-[0-9a-z-]+".r.findAllIn(payload).toSeq.distinct
    val canon = gens.zipWithIndex.foldLeft(payload) {
      case (p, (g, i)) => p.replace(g, s"GEN$i") }
    assert(canon === StoreGolden, canon)
  }

  private val StoreGolden =
    """{"version":2,"floorSeq":0,"rewrite":false,"schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"payload\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"_bucket\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}}]}","base":{"0":"GEN0","1":"GEN0","3":"GEN0"},"deltas":[{"seq":1,"gen":"GEN1"}]}"""
}
