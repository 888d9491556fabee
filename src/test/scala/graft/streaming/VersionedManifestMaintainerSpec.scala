package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{ManifestPipeline, TokenizerStore, UnigramLm}

/** Pins [[VersionedManifestMaintainer]]'s rename-free commit protocol —
  * the [[ManifestStoreSpec]] discipline applied to manifest windows
  * (VERDICT r17 #1): torn manifest PUTs at every prefix, a staged crash
  * at every ordering point of the batch protocol, claim fencing and
  * reclaim, concurrent two-writer maintenance, rewrites, retraction, and
  * GC — all without a single rename existing to tear.
  */
class VersionedManifestMaintainerSpec extends SparkSpec {
  import spark.implicits._

  /** A survivor store bootstrapped with two seed documents, plus their
    * survivor rows (the tokenizer's training corpus).
    */
  private def seededStore(work: java.nio.file.Path) = {
    val batch0 = Seq((1L, "aa bb"), (2L, "cc dd")).toDF("doc_id", "text")
    val store = new ManifestUpsertStore(spark, work.resolve("surv").toString,
      pkCols = Seq("content_hash"), numBuckets = 4)
    (store, ManifestPipeline
      .initializeSurvivors(store, batch0, "doc_id", "text"))
  }

  /** Seeded store + a unigram tokenizer at `work/tok` + a maintainer. */
  private def fixture(work: java.nio.file.Path,
      grace: Long = 24 * 3600 * 1000L, keepVersions: Int = 3) = {
    val (store, surv0) = seededStore(work)
    val tokPath = work.resolve("tok").toString
    TokenizerStore.saveUnigram(tokPath,
      UnigramLm.train(surv0, "text", vocabSize = 50, maxPieceLen = 3,
        seedSize = 10, emIters = 1, pruneFraction = 0.0), spark)
    val maint = new VersionedManifestMaintainer(store, tokPath,
      work.resolve("manifest").toString,
      windowOf = _ + 1L, seedOf = 100L + _, orphanGraceMs = grace,
      keepVersions = keepVersions)
    (store, maint)
  }

  private def spanSet(maint: VersionedManifestMaintainer) =
    maint.readManifest(spark)
      .select("window", "doc_id", "shuffle_pos", "n_tok", "seq")
      .collect().map(_.toSeq).toSet

  private def manifestFilesIn(work: java.nio.file.Path) =
    new java.io.File(work.resolve("manifest").toString).listFiles(
      (_: java.io.File, n: String) => n.matches("manifest-\\d{12}\\.json"))
      .sortBy(_.getName)

  test("append, replay no-op, and the later-duplicate never enters") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm1")
    try {
      val (store, maint) = fixture(work)
      val batch1 = Seq((10L, "ab ba"), (11L, "aa bb")).toDF("doc_id", "text")
      maint.processBatch(batch1, 0L)
      val before = spanSet(maint)
      val verBefore = store.feedVersion
      maint.processBatch(batch1, 0L) // redelivery of a committed batch
      assert(spanSet(maint) === before)
      assert(store.feedVersion === verBefore)
      assert(!before.exists(_(1) == 11L), "bootstrap duplicate stays out")
      assert(manifestFilesIn(work).length === 1,
        "a replay no-op publishes nothing")
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("torn manifest PUT at every prefix: previous version serves, the slot burns, the next commit lands past it") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm2")
    try {
      val (_, maint) = fixture(work)
      maint.processBatch(Seq((10L, "ab ba")).toDF("doc_id", "text"), 0L)
      maint.processBatch(Seq((11L, "cc aa")).toDF("doc_id", "text"), 1L)
      val good = spanSet(maint)
      val stamp = maint.windowModelStamp(2L)
      val donor = manifestFilesIn(work).last
      val v = donor.getName.stripPrefix("manifest-")
        .stripSuffix(".json").toLong
      val next = new java.io.File(donor.getParentFile,
        f"manifest-${v + 1}%012d.json")
      val bytes = java.nio.file.Files.readAllBytes(donor.toPath)
      // a crashed/partial PUT at EVERY prefix stride (the copy+delete
      // world's torn write): readers must keep serving version v
      (0 until bytes.length by math.max(1, bytes.length / 17)).foreach { n =>
        java.nio.file.Files.write(next.toPath,
          java.util.Arrays.copyOfRange(bytes, 0, n))
        assert(maint.windowModelStamp(2L) === stamp,
          s"torn manifest of $n bytes served")
      }
      // full span read against a representative torn slot
      java.nio.file.Files.write(next.toPath,
        java.util.Arrays.copyOfRange(bytes, 0, bytes.length / 2))
      assert(spanSet(maint) === good)
      // byte-complete but corrupted payload is equally torn
      val evil = bytes.clone(); evil(20) = (evil(20) ^ 1).toByte
      java.nio.file.Files.write(next.toPath, evil)
      assert(spanSet(maint) === good)
      // the torn occupant burns its slot: the next commit lands past it
      maint.processBatch(Seq((12L, "dd bb")).toDF("doc_id", "text"), 2L)
      assert(spanSet(maint).map(_(1)).toSet === Set(10L, 11L, 12L))
      val newest = manifestFilesIn(work).last.getName
      assert(newest > next.getName, s"commit after a torn slot: $newest")
      assert(next.exists(), "young torn debris is left for aged GC")
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("staged crash at every ordering point replays forward to the identical manifest") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm3")
    try {
      val (store, maint) = fixture(work)
      val batch1 = Seq((10L, "ab ba")).toDF("doc_id", "text")
      // --- crash AFTER claim, BEFORE span write: claim survives, our
      // replay takes it over (conditional-PUT claims are content-atomic,
      // so no torn/empty claim class exists to classify)
      val claim = new java.io.File(work.resolve("manifest").toFile, "claim-1")
      work.resolve("manifest").toFile.mkdirs()
      java.nio.file.Files.writeString(claim.toPath, "writer-0\n0")
      maint.processBatch(batch1, 0L)
      val committed = spanSet(maint)
      assert(committed.nonEmpty && !claim.exists())

      // --- crash AFTER span write, BEFORE store merge (batch 1): the gen
      // dir holds spans, nothing references it, fresh is still non-empty
      // on replay → the replay overwrites the SAME deterministic dir
      val batch2 = Seq((20L, "cc aa")).toDF("doc_id", "text")
      val crashed = new VersionedManifestMaintainer(store,
        work.resolve("tok").toString, work.resolve("manifest").toString,
        windowOf = _ + 1L, seedOf = 100L + _) {
        override protected def afterClaim(): Unit =
          throw new RuntimeException("crash-before-pack")
      }
      intercept[RuntimeException](crashed.processBatch(batch2, 1L))
      // stage garbage at the deterministic gen to prove the overwrite
      val gen2 = new java.io.File(work.resolve("manifest").toFile, "wgen-2-b1")
      Seq((2L, 99L, 0L, 1L, 0L, 0L, 0L, 1L, 0L))
        .toDF("window", "doc_id", "shuffle_pos", "n_tok", "cum_before",
          "seq", "tok_start", "tok_end", "seq_offset")
        .write.mode("overwrite").parquet(gen2.getPath)
      assert(spanSet(maint) === committed, "unreferenced gen is invisible")
      maint.processBatch(batch2, 1L)
      val spans2 = spanSet(maint)
      assert(spans2.map(_(1)).toSet === Set(10L, 20L),
        s"garbage spans must be overwritten, got $spans2")

      // --- crash AFTER store merge, BEFORE the manifest PUT (batch 2):
      // the one ambiguous state — fresh folds empty while the gen holds
      // spans; the replay must commit the EXISTING generation
      val batch3 = Seq((30L, "dd bb")).toDF("doc_id", "text")
      val crashed2 = new VersionedManifestMaintainer(store,
        work.resolve("tok").toString, work.resolve("manifest").toString,
        windowOf = _ + 1L, seedOf = 100L + _) {
        override protected def beforeWindowCommit(): Unit =
          throw new RuntimeException("crash-before-commit")
      }
      intercept[RuntimeException](crashed2.processBatch(batch3, 2L))
      assert(spanSet(maint) === spans2, "no commit happened yet")
      maint.processBatch(batch3, 2L)
      assert(spanSet(maint).map(_(1)).toSet === Set(10L, 20L, 30L))
      assert(maint.readManifest(spark).where(col("doc_id") === 30L).count() > 0)

      // --- crash AFTER the PUT, BEFORE the claim delete (batch 3): the
      // replay sees the committed window, no-ops, sweeps the claim
      java.nio.file.Files.writeString(
        new java.io.File(work.resolve("manifest").toFile, "claim-3").toPath,
        "writer-0\n2")
      val before = spanSet(maint)
      maint.processBatch(batch3, 2L)
      assert(spanSet(maint) === before)
      assert(!new java.io.File(work.resolve("manifest").toFile, "claim-3")
        .exists(), "spent claim swept on the no-op replay")
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("claim fence: foreign claim loud before any write; reclaim completes a dead writer's window without double-packing") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm4")
    try {
      val (store, maint) = fixture(work)
      val batch1 = Seq((10L, "ab ba"), (12L, "aa cc")).toDF("doc_id", "text")
      // a foreign writer's claim on our window — loud, names reclaim
      val claim = new java.io.File(work.resolve("manifest").toFile, "claim-1")
      work.resolve("manifest").toFile.mkdirs()
      java.nio.file.Files.writeString(claim.toPath, "tailer\n0")
      val ex = intercept[IllegalStateException](maint.processBatch(batch1, 0L))
      assert(ex.getMessage.contains("claimed by writer 'tailer'") &&
        ex.getMessage.contains("reclaimWindow"), ex.getMessage)
      // reclaim refuses an uncommitted claim without force
      val ex2 = intercept[IllegalArgumentException](maint.reclaimWindow(1L))
      assert(ex2.getMessage.contains("force"), ex2.getMessage)
      assert(maint.reclaimWindow(1L, force = true))
      // stage the dead writer's WORST crash: spans + merge done, no PUT
      val crashed = new VersionedManifestMaintainer(store,
        work.resolve("tok").toString, work.resolve("manifest").toString,
        windowOf = _ + 1L, seedOf = 100L + _, writerId = "tailer") {
        override protected def beforeWindowCommit(): Unit =
          throw new RuntimeException("dead")
      }
      intercept[RuntimeException](crashed.processBatch(batch1, 0L))
      intercept[IllegalStateException](maint.processBatch(batch1, 0L))
      assert(maint.reclaimWindow(1L, force = true))
      val verBefore = store.feedVersion
      maint.processBatch(batch1, 0L) // replacement completes forward
      assert(store.feedVersion === verBefore, "no double store merge")
      val spans = spanSet(maint)
      assert(spans.map(_(1)).toSet === Set(10L, 12L) && spans.size === 2,
        s"no double-packed spans, got $spans")
      // a spent claim on a committed window reclaims without force
      java.nio.file.Files.writeString(claim.toPath, "tailer\n0")
      assert(maint.reclaimWindow(1L))
      assert(!maint.reclaimWindow(1L), "nothing left to reclaim")
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("two writers with disjoint window spaces race one manifest: zero lost, zero double-packed, rebased commits") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm5")
    try {
      val (store, _) = fixture(work)
      val tokPath = work.resolve("tok").toString
      def maintFor(base: Long) = new VersionedManifestMaintainer(store,
        tokPath, work.resolve("manifest").toString,
        windowOf = bid => base + bid, seedOf = 200L + _,
        writerId = s"writer-$base")
      def batchFor(w: Int, b: Int) = (0 until 3).map { i =>
        (1000L + w * 100 + b * 10 + i,
          ("a" * (1 + i)) + " " + ("b" * (1 + b)) + " " + ("c" * (1 + w)))
      }.toDF("doc_id", "text")
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def writer(w: Int, base: Long): Thread = new Thread(() => try {
        val m = maintFor(base)
        (0 until 4).foreach(b => m.processBatch(batchFor(w, b), b.toLong))
      } catch { case t: Throwable => errs.add(t) })
      val ta = writer(0, 1L)
      val tb = writer(1, 5L)
      ta.start(); tb.start(); ta.join(300000); tb.join(300000)
      assert(!ta.isAlive && !tb.isAlive, "a writer hung")
      assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
      val spans = maintFor(1L).readManifest(spark)
        .select("window", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(spans.map(_._1).toSet === (1L to 8L).toSet, "zero lost windows")
      assert(spans.length === 24, s"expected 24 spans, got ${spans.length}")
      assert(spans.map(_._2).distinct.length === 24, "zero double-packed")
      assert(store.snapshot().count() === 2 + 24)
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("retraction hides spans at once, bans re-crawls, compacts dense, and the sweep is idempotent") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm6")
    try {
      val (store, maint) = fixture(work)
      // a retraction BEFORE any window commits: nothing to sweep
      maint.retract(Seq(999L).toDF("doc_id"))
      assert(maint.compactRetracted(spark, _ => 0L) === Seq.empty)
      maint.processBatch(
        Seq((10L, "ab ba"), (11L, "ba ab"), (12L, "aa cc"))
          .toDF("doc_id", "text"), 0L)
      maint.processBatch(
        Seq((20L, "ca bc"), (21L, "ad da")).toDF("doc_id", "text"), 1L)
      maint.retract(Seq(11L, 20L).toDF("doc_id"))
      assert(maint.readManifest(spark).select("doc_id").as[Long]
        .collect().toSet === Set(10L, 12L, 21L), "logical hide is immediate")
      // banned content cannot re-enter under a new id
      assert(ManifestPipeline.freshSurvivors(store,
        Seq((99L, "ba ab")).toDF("doc_id", "text"), "doc_id", "text")
        .isEmpty, "retracted content stays banned in the store")
      val swept = maint.compactRetracted(spark, w => 100L + (w - 1))
      assert(swept === Seq(1L, 2L), s"both affected windows, got $swept")
      val spans = spanSet(maint)
      assert(spans.map(_(1)).toSet === Set(10L, 12L, 21L))
      assert(spans.filter(_(0) == 1L).map(_(2)).toSet === Set(0L, 1L),
        "window 1 re-packed dense")
      assert(spans.filter(_(0) == 2L).map(_(2)).toSet === Set(0L))
      // idempotent: nothing left, nothing re-published
      val vBefore = manifestFilesIn(work).last.getName
      assert(maint.compactRetracted(spark, w => 100L + (w - 1)).isEmpty)
      assert(manifestFilesIn(work).last.getName === vBefore)
      assert(spanSet(maint) === spans)
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("a takedown sweep no-ops over empty committed windows, and an all-empty manifest reads as zero rows") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm21")
    try {
      val (_, maint) = fixture(work)
      // the first batch fully duplicates the bootstrap content, so the
      // ONLY committed window is spanless: a healthy manifest reads empty
      maint.processBatch(Seq((30L, "aa bb")).toDF("doc_id", "text"), 0L)
      assert(maint.readManifest(spark).isEmpty,
        "all-empty manifest reads as zero rows, not an error")
      // a real window, a retraction, then compaction over EVERY window —
      // the spanless one must no-op instead of killing the sweep
      maint.processBatch(Seq((31L, "ab ba")).toDF("doc_id", "text"), 1L)
      maint.retract(Seq(31L).toDF("doc_id"))
      val v = maint.currentVersion
      maint.compactWindow(spark, 1L, seed = 100L)
      assert(maint.currentVersion === v, "a spanless window publishes nothing")
      maint.compactWindow(spark, 2L, seed = 101L) // rewritten to empty
      assert(maint.readManifest(spark).isEmpty)
      assert(maint.compactRetracted(spark, 99L + _).isEmpty)
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("a crashed rewrite changes NOTHING for readers — no healing protocol exists because no state needs healing") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm7")
    try {
      val (_, maint) = fixture(work)
      maint.processBatch(
        Seq((10L, "ab ba"), (12L, "aa cc")).toDF("doc_id", "text"), 0L)
      maint.retract(Seq(12L).toDF("doc_id"))
      val logical = maint.readManifest(spark).select("doc_id").as[Long]
        .collect().toSet
      // a rewrite that died after writing its generation but before its
      // PUT is just an unreferenced dir: readers are oblivious, no loud
      // reader-side crash state exists, and the re-run compacts cleanly
      val orphan = new java.io.File(work.resolve("manifest").toFile,
        "wgen-1-rw-deadbeef")
      Seq((1L, 10L, 0L, 1L, 0L, 0L, 0L, 1L, 0L))
        .toDF("window", "doc_id", "shuffle_pos", "n_tok", "cum_before",
          "seq", "tok_start", "tok_end", "seq_offset")
        .write.mode("overwrite").parquet(orphan.getPath)
      assert(maint.readManifest(spark).select("doc_id").as[Long]
        .collect().toSet === logical)
      maint.compactWindow(spark, 1L, seed = 100L)
      assert(maint.readManifest(spark).select("doc_id").as[Long]
        .collect().toSet === Set(10L))
      assert(orphan.exists(), "young orphan waits out the grace")
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("model versioning: silent retrain loud, adoption pins + records history, retokenize re-packs and restamps spanless windows") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm8")
    try {
      val (store, maint) = fixture(work)
      val batch1 = Seq((10L, "ab ba"), (12L, "aa cc")).toDF("doc_id", "text")
      maint.processBatch(batch1, 0L)
      // an all-duplicate batch commits a SPANLESS window entry
      maint.processBatch(Seq((20L, "ab ba")).toDF("doc_id", "text"), 1L)
      val v1 = maint.windowModelStamp(1L)
      assert(v1.nonEmpty && maint.windowModelStamp(2L) === v1)
      // retrain lands at the same artifact path; a fresh maintainer is loud
      val tokPath = work.resolve("tok").toString
      // the retrain corpus covers BOTH the committed windows' chars and
      // the next batch's (Viterbi coverage is a corpus property here)
      TokenizerStore.saveUnigram(tokPath,
        UnigramLm.train(
          batch1.union(Seq((99L, "dd bc")).toDF("doc_id", "text")),
          "text", vocabSize = 50, maxPieceLen = 2,
          seedSize = 10, emIters = 1, pruneFraction = 0.0), spark)
      val maint2 = new VersionedManifestMaintainer(store, tokPath,
        work.resolve("manifest").toString,
        windowOf = _ + 1L, seedOf = 100L + _)
      val ex = intercept[IllegalStateException](
        maint2.processBatch(Seq((30L, "dd bc")).toDF("doc_id", "text"), 2L))
      assert(ex.getMessage.contains("adoptModel"), ex.getMessage)
      maint2.adoptModel(spark)
      assert(maint2.modelHistory() === Seq(v1.get), "audit trail records v1")
      maint2.adoptModel(spark) // idempotent
      assert(maint2.modelHistory() === Seq(v1.get))
      maint2.processBatch(Seq((30L, "dd bc")).toDF("doc_id", "text"), 2L)
      val v2 = maint2.windowModelStamp(3L)
      assert(v2.nonEmpty && v2 != v1)
      assert(maint2.windowModelStamp(1L) === v1, "window 1 keeps its stamp")
      // source batch required; one legally omitting retracted docs is fine
      val ex2 = intercept[IllegalArgumentException](
        maint2.retokenizeWindow(spark, 1L,
          Seq((10L, "ab ba")).toDF("doc_id", "text"), seed = 100L))
      assert(ex2.getMessage.contains("source batch"), ex2.getMessage)
      maint2.retokenizeWindow(spark, 1L, batch1, seed = 100L)
      assert(maint2.windowModelStamp(1L) === v2, "window 1 re-stamped")
      val direct = ManifestPipeline.packWindow(
        ManifestPipeline.survivorRows(batch1, "doc_id", "text"),
        "doc_id", "text", TokenizerStore.loadUnigram(spark, tokPath),
        window = 1L, shuffleSeed = 100L)
        .select("window", "doc_id", "shuffle_pos", "n_tok", "seq")
        .collect().map(_.toSeq).toSet
      assert(spanSet(maint2).filter(_(0) == 1L) === direct)
      // the SPANLESS window restamps via one PUT — uniform units restored
      maint2.retokenizeWindow(spark, 2L,
        Seq((20L, "ab ba")).toDF("doc_id", "text"), seed = 101L)
      assert(maint2.windowModelStamp(2L) === v2, "spanless window restamped")
      // a source batch may legally omit a retracted document's text (its
      // owner may be required to delete it): the rewrite drops the doc
      maint2.retract(Seq(12L).toDF("doc_id"))
      maint2.retokenizeWindow(spark, 1L, batch1.where($"doc_id" =!= 12L),
        seed = 100L)
      assert(spanSet(maint2).filter(_(0) == 1L).map(_(1)) === Set(10L))
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("a byte-level maintainer packs a window carrying a script the model never saw") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm22")
    try {
      val (store, surv0) = seededStore(work)
      val tokPath = work.resolve("tok").toString
      TokenizerStore.saveUnigram(tokPath,
        graft.operators.ByteLevel.trainUnigramBytes(surv0, "text",
          vocabSize = 400, maxPieceLen = 3, seedSize = 10, emIters = 1,
          pruneFraction = 0.0), spark)
      val maint = new VersionedManifestMaintainer(store, tokPath,
        work.resolve("manifest").toString,
        windowOf = _ + 1L, seedOf = 100L + _, byteLevel = true)
      // the operational case byteLevel exists for: a crawl window brings
      // CJK + emoji the bootstrap tokenizer never trained on — a char
      // maintainer would kill the stream; the byte one packs it
      maint.processBatch(Seq((10L, "世界 😀 привет")).toDF("doc_id", "text"), 0L)
      val spans = spanSet(maint)
      assert(spans.nonEmpty && spans.forall(_(1) == 10L))
      assert(spans.head(3).asInstanceOf[Long] > 0L, "byte tokens counted")
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("a BPE merge-table artifact serves the maintainer through the model-kind seam") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm23")
    try {
      val (store, surv0) = seededStore(work)
      val tokPath = work.resolve("tok").toString
      TokenizerStore.saveMerges(tokPath,
        graft.operators.ByteLevel.trainBpeBytes(surv0, "text", numMerges = 4))
      // the maintainer loads whatever KIND the artifact holds — a BPE
      // merge table serves the compiled greedy fusion, byte-level, so
      // unseen scripts pack through unmerged byte symbols
      val maint = new VersionedManifestMaintainer(store, tokPath,
        work.resolve("manifest").toString,
        windowOf = _ + 1L, seedOf = 100L + _, byteLevel = true)
      val batch = Seq((10L, "ab ba"), (11L, "世界 😀")).toDF("doc_id", "text")
      maint.processBatch(batch, 0L)
      val spans = spanSet(maint)
      assert(spans.map(_(1)).toSet === Set(10L, 11L))
      // the packed n_tok equals the direct compiled-serving count
      val direct = graft.operators.ByteLevel.tokenCountsBpeBytes(batch,
          "doc_id", "text", TokenizerStore.loadMerges(spark, tokPath))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spans.foreach(s =>
        assert(s(3) === direct(s(1).asInstanceOf[Long]),
          s"span n_tok diverged from direct serving for doc ${s(1)}"))
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("non-injective windowOf and aligned foreign batch ids fail loudly at the committed entry") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm9")
    try {
      val (store, maint) = fixture(work)
      maint.processBatch(Seq((10L, "ab ba")).toDF("doc_id", "text"), 0L)
      val bad = new VersionedManifestMaintainer(store,
        work.resolve("tok").toString, work.resolve("manifest").toString,
        windowOf = _ => 1L, seedOf = 100L + _)
      val ex = intercept[IllegalStateException](
        bad.processBatch(Seq((50L, "zz qq")).toDF("doc_id", "text"), 5L))
      assert(ex.getMessage.contains("not injective"), ex.getMessage)
      val twin = new VersionedManifestMaintainer(store,
        work.resolve("tok").toString, work.resolve("manifest").toString,
        windowOf = _ + 1L, seedOf = 100L + _, writerId = "tailer")
      val ex2 = intercept[IllegalStateException](
        twin.processBatch(Seq((50L, "zz qq")).toDF("doc_id", "text"), 0L))
      assert(ex2.getMessage.contains("committed by writer 'writer-0'"),
        ex2.getMessage)
      // the SAME batchId from the SAME writer still no-ops
      val before = spanSet(maint)
      maint.processBatch(Seq((10L, "ab ba")).toDF("doc_id", "text"), 0L)
      assert(spanSet(maint) === before)
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("GC never sweeps a merged-but-uncommitted append generation, even past the grace") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm13")
    try {
      val (store, maint) = fixture(work, grace = 0L) // sweep aged instantly
      maint.processBatch(Seq((10L, "ab ba")).toDF("doc_id", "text"), 0L)
      // the one ambiguous crash: batch 1's spans written AND store
      // merged, manifest PUT never ran — the gen dir holds the ONLY
      // packed copy (the store has banned the content as duplicate)
      val crashed = new VersionedManifestMaintainer(store,
        work.resolve("tok").toString, work.resolve("manifest").toString,
        windowOf = _ + 1L, seedOf = 100L + _, orphanGraceMs = 0L) {
        override protected def beforeWindowCommit(): Unit =
          throw new RuntimeException("dead")
      }
      intercept[RuntimeException](crashed.processBatch(
        Seq((20L, "cc aa")).toDF("doc_id", "text"), 1L))
      val gen = new java.io.File(work.resolve("manifest").toFile, "wgen-2-b1")
      assert(gen.exists())
      // another batch commits (its gc sweeps aged orphans at grace 0):
      // the uncommitted-window append gen MUST survive — sweeping it
      // would make batch 1's replay commit the window SPANLESS and lose
      // its documents forever (r18 review #1)
      maint.processBatch(Seq((30L, "dd bb")).toDF("doc_id", "text"), 2L)
      assert(gen.exists(), "merged-but-uncommitted generation survives GC")
      maint.processBatch(Seq((20L, "cc aa")).toDF("doc_id", "text"), 1L)
      assert(spanSet(maint).map(_(1)).toSet === Set(10L, 20L, 30L),
        "the replay completes the window with its spans")
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("time travel: a retained version serves its exact historical state — pre-retraction, pre-rewrite") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm11")
    try {
      val (_, maint) = fixture(work)
      maint.processBatch(
        Seq((10L, "ab ba"), (12L, "aa cc")).toDF("doc_id", "text"), 0L)
      val v1 = maint.currentVersion
      val at1 = spanSet(maint)
      maint.retract(Seq(12L).toDF("doc_id")) // v2: logical hide
      val v2 = maint.currentVersion
      assert(v2 > v1)
      maint.compactWindow(spark, 1L, seed = 100L) // v3: physical rewrite
      assert(spanSet(maint).map(_(1)).toSet === Set(10L))
      // v1 reads the pre-retraction spans from the ORIGINAL generation
      // (still on disk — a retained manifest references it)
      assert(maint.readManifestAt(spark, v1)
        .select("window", "doc_id", "shuffle_pos", "n_tok", "seq")
        .collect().map(_.toSeq).toSet === at1)
      // v2 reads the retraction-filtered view over the original spans
      assert(maint.readManifestAt(spark, v2).select("doc_id").as[Long]
        .collect().toSet === Set(10L))
      // beyond retention (or never committed) refuses loudly
      val ex = intercept[IllegalStateException](
        maint.readManifestAt(spark, 999L))
      assert(ex.getMessage.contains("not retained"), ex.getMessage)
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("change feed: windowsBetween tails new and rewritten windows by manifest version") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm12")
    try {
      val (_, maint) = fixture(work)
      maint.processBatch(
        Seq((10L, "ab ba"), (12L, "aa cc")).toDF("doc_id", "text"), 0L)
      val v1 = maint.currentVersion
      maint.processBatch(Seq((20L, "ca bc")).toDF("doc_id", "text"), 1L)
      val v2 = maint.currentVersion
      // the consumer trained at v1 tails: exactly window 2, tagged new
      val feed = maint.windowsBetween(spark, v1, v2)
        .select("window", "doc_id", "change").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      assert(feed.toSet === Set((2L, 20L, "new")), feed.mkString(","))
      // retract + compact window 1: the next tail reports the window
      // rewritten (retraction-filtered as of the newest version) AND the
      // retraction itself as a delete-by-id row (r19 — the deletion
      // delta; window is null on retraction rows)
      maint.retract(Seq(12L).toDF("doc_id"))
      maint.compactWindow(spark, 1L, seed = 100L)
      val v4 = maint.currentVersion
      val feed2 = maint.windowsBetween(spark, v2, v4)
        .select("window", "doc_id", "change").collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
          r.getLong(1), r.getString(2)))
      assert(feed2.toSet ===
        Set((1L, 10L, "rewritten"), (-1L, 12L, "retracted")),
        feed2.mkString(","))
      // an empty range is empty; beyond retention refuses loudly
      assert(maint.windowsBetween(spark, v4, v4).isEmpty)
      val ex = intercept[IllegalStateException](
        maint.windowsBetween(spark, 0L, v4))
      assert(ex.getMessage.contains("not retained"), ex.getMessage)
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("deletion-propagating feed: replica identity across retraction-without-compaction, an emptied window, and a replayed poll — where the span-only feed provably diverged") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm14")
    try {
      // every poll endpoint must stay retained across the whole lifecycle
      val (_, maint) = fixture(work, keepVersions = 8)
      maint.processBatch(Seq((10L, "ab ba"), (11L, "aa cc"), (12L, "ad da"))
        .toDF("doc_id", "text"), 0L)
      maint.processBatch(Seq((20L, "ca bc"), (21L, "bd db"))
        .toDF("doc_id", "text"), 1L)
      val v0 = maint.currentVersion
      def spansOf(df: org.apache.spark.sql.DataFrame) =
        df.select("window", "doc_id", "shuffle_pos", "n_tok", "seq")
          .collect().map(_.toSeq).toSet
      val replica0 = maint.readManifestAt(spark, v0).localCheckpoint(true)
      // ── poll 1: a retraction with NO physical rewrite — the pre-r19
      // feed emitted zero rows here (no gen changed), so a mirror kept
      // serving the retracted spans
      maint.retract(Seq(12L).toDF("doc_id"))
      val v1 = maint.currentVersion
      val feed1 = maint.windowsBetween(spark, v0, v1).localCheckpoint(true)
      assert(feed1.select("change").as[String].collect().toSet ===
        Set("retracted"))
      val replica1 = VersionedManifestMaintainer
        .applyFeed(replica0, feed1).localCheckpoint(true)
      assert(spansOf(replica1) === spansOf(maint.readManifestAt(spark, v1)))
      // the old span-only mirror provably diverges: nothing to patch, the
      // taken-down doc keeps serving
      val oldMirror1 = replica0.unionByName(
        feed1.where(col("change").isin("new", "rewritten")).drop("change"))
      assert(oldMirror1.where(col("doc_id") === 12L).count() > 0,
        "span-only feed left the retracted doc serving — the r18 leak")
      // ── poll 2: retract ALL of window 2, then sweep — window 1
      // compacts dense, window 2 is rewritten to EMPTY
      maint.retract(Seq(20L, 21L).toDF("doc_id"))
      assert(maint.compactRetracted(spark, w => 100L + (w - 1))
        === Seq(1L, 2L))
      val v2 = maint.currentVersion
      val feed2 = maint.windowsBetween(spark, v1, v2).localCheckpoint(true)
      assert(feed2.select("change").as[String].collect().toSet ===
        Set("rewritten", "emptied", "retracted"))
      assert(feed2.where(col("change") === "emptied")
        .select("window").as[Long].collect().toSeq === Seq(2L),
        "the emptied window surfaces as a sentinel, not silence")
      val replica2 = VersionedManifestMaintainer
        .applyFeed(replica1, feed2).localCheckpoint(true)
      val truth = spansOf(maint.readManifestAt(spark, v2))
      assert(spansOf(replica2) === truth)
      assert(!truth.exists(_(0) == 2L), "window 2 really is empty")
      // a REPLAYED poll (crash between apply and ack) converges
      val replayed = VersionedManifestMaintainer.applyFeed(replica2, feed2)
      assert(spansOf(replayed) === truth, "replay must be idempotent")
      // the old semantics also diverge on the EMPTIED window (ADVICE r18):
      // replace-rewritten-only keeps window 2's taken-down spans forever
      val oldChanged = feed2.where(col("change") === "rewritten")
        .select("window").distinct()
      val oldMirror2 = replica1
        .join(broadcast(oldChanged), Seq("window"), "left_anti")
        .unionByName(
          feed2.where(col("change") === "rewritten").drop("change"))
      assert(oldMirror2.where(col("doc_id").isin(20L, 21L)).count() > 0,
        "span-only feed kept serving the emptied window's spans")
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("StoreChangeFeed over the maintainer: the cursor is durable across restarts, a replayed poll converges, and falling behind retention is loud") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm18")
    try {
      val (_, maint) = fixture(work) // keepVersions = 3 default
      maint.processBatch(
        Seq((10L, "ab ba"), (11L, "aa cc")).toDF("doc_id", "text"), 0L)
      val feed = new StoreChangeFeed(() => maint.currentVersion,
        maint.windowsBetween(spark, _, _), work.resolve("cursor").toString)
      var replica = maint.readManifest(spark).localCheckpoint(true)
      assert(feed.cursor === maint.currentVersion,
        "the cursor baselines at the attach-time version")
      val (c0, t0) = feed.poll()
      assert(feed.cursor === t0 && c0.isEmpty, "nothing to poll yet")
      // a window commit AND a retraction land; the consumer restarts
      // (same cursor path) before draining — the cursor must persist
      maint.processBatch(Seq((20L, "ca bc")).toDF("doc_id", "text"), 1L)
      maint.retract(Seq(11L).toDF("doc_id"))
      val feed2 = new StoreChangeFeed(() => maint.currentVersion,
        maint.windowsBetween(spark, _, _), work.resolve("cursor").toString)
      assert(feed2.cursor === feed.cursor, "cursor survives the restart")
      val (c1, t1) = feed2.poll()
      val w = c1.localCheckpoint(true)
      assert(w.select("change").as[String].collect().toSet ===
        Set("new", "retracted"))
      replica = VersionedManifestMaintainer.applyFeed(replica, w)
      replica = VersionedManifestMaintainer.applyFeed(replica, w) // replay
      feed2.commit(t1)
      def spansOf(df: org.apache.spark.sql.DataFrame) =
        df.select("window", "doc_id", "shuffle_pos", "n_tok", "seq")
          .collect().map(_.toSeq).toSet
      assert(spansOf(replica) === spansOf(maint.readManifest(spark)))
      // fall behind retention: versions roll past keepVersions without a
      // poll — the next poll must refuse, not silently skip the gap
      (2 to 6).foreach { b =>
        maint.processBatch(
          Seq((30L + b, s"${"a" * (b + 1)} ${"b" * (b + 2)}"))
            .toDF("doc_id", "text"), b.toLong)
      }
      val ex = intercept[IllegalStateException](feed2.poll())
      assert(ex.getMessage.contains("not retained"), ex.getMessage)
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("applyFeed never shuffles the replica: the changed-window and retracted-id joins broadcast (scale plan shape)") {
    val spanCols = Seq("window", "doc_id", "shuffle_pos", "n_tok",
      "cum_before", "seq", "tok_start", "tok_end", "seq_offset")
    val replica = Seq((1L, 10L, 0L, 1L, 0L, 0L, 0L, 1L, 0L))
      .toDF(spanCols: _*)
    val feed = Seq(
      (Option(2L), Option(20L), Option(0L), Option(1L), Option(0L),
        Option(0L), Option(0L), Option(1L), Option(0L), "new"),
      (Option.empty[Long], Option(11L), Option.empty[Long],
        Option.empty[Long], Option.empty[Long], Option.empty[Long],
        Option.empty[Long], Option.empty[Long], Option.empty[Long],
        "retracted"))
      .toDF(spanCols :+ "change": _*)
    val plan = VersionedManifestMaintainer.applyFeed(replica, feed)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"the replica must never shuffle for a delta-sized feed:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast joins in:\n$plan")
  }

  test("replay after a crash before the store merge must not duplicate content a foreign writer merged meanwhile") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm15")
    try {
      val (store, maint) = fixture(work)
      // writer A packs window 1 (gen fsynced) but dies BEFORE its merge
      val crashed = new VersionedManifestMaintainer(store,
        work.resolve("tok").toString, work.resolve("manifest").toString,
        windowOf = _ + 1L, seedOf = 100L + _) {
        override protected def beforeStoreMerge(): Unit =
          throw new RuntimeException("dead-before-merge")
      }
      intercept[RuntimeException](crashed.processBatch(
        Seq((10L, "ab ba")).toDF("doc_id", "text"), 0L))
      assert(new java.io.File(work.resolve("manifest").toFile, "wgen-1-b0")
        .exists(), "the pack landed before the crash")
      // a FOREIGN writer (disjoint window space) merges the SAME TEXT
      // under ITS OWN id — the content-hash is now banned in the store
      val foreign = new VersionedManifestMaintainer(store,
        work.resolve("tok").toString, work.resolve("manifest").toString,
        windowOf = bid => 5L + bid, seedOf = 200L + _, writerId = "tailer")
      foreign.processBatch(Seq((77L, "ab ba")).toDF("doc_id", "text"), 0L)
      // writer A's replay folds fresh EMPTY while its gen holds spans —
      // the pre-r19 inference would commit the gen and serve the same
      // document from two windows; the id-attribution check sees the
      // store's ids are NOT ours and commits the window SPANLESS
      maint.processBatch(Seq((10L, "ab ba")).toDF("doc_id", "text"), 0L)
      val spans = spanSet(maint)
      assert(spans.count(_(1) == 77L) === 1,
        "the foreign window serves the content exactly once")
      assert(!spans.exists(_(1) == 10L),
        "the crashed writer's gen must NOT commit — its content already " +
          s"serves from the foreign window, got $spans")
      assert(maint.windowModelStamp(1L).nonEmpty,
        "window 1 committed (spanless), so the batch replays never re-run")
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("a generation a retained manifest references but missing on disk refuses loudly instead of serving partial spans") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm16")
    try {
      val (_, maint) = fixture(work)
      maint.processBatch(Seq((10L, "ab ba")).toDF("doc_id", "text"), 0L)
      maint.processBatch(Seq((11L, "cc aa")).toDF("doc_id", "text"), 1L)
      // the retraction ledger carries the contract too — a silently
      // skipped rgen would RESURRECT taken-down documents
      maint.retract(Seq(11L).toDF("doc_id"))
      val rgen = work.resolve("manifest").toFile
        .listFiles((_: java.io.File, n: String) => n.startsWith("rgen-"))
        .head
      graft.util.Fs.rmTree(rgen)
      val ex = intercept[IllegalStateException](
        maint.readManifest(spark))
      assert(ex.getMessage.contains("refusing to serve") &&
        ex.getMessage.contains("rgen-"), ex.getMessage)
      // simulate the retention violation (external deletion / a GC race
      // from a crashed sibling): a REFERENCED window generation vanishes
      graft.util.Fs.rmTree(
        new java.io.File(work.resolve("manifest").toFile, "wgen-1-b0"))
      val ex2 = intercept[IllegalStateException](
        maint.readManifest(spark))
      assert(ex2.getMessage.contains("refusing to serve") &&
        ex2.getMessage.contains("wgen-1-b0"), ex2.getMessage)
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("lease-based auto-reclaim: a replacement completes a dead writer's window with zero double-packing and no manual force step") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm17")
    try {
      val (store, maint) = fixture(work)
      val batch1 = Seq((10L, "ab ba"), (12L, "aa cc")).toDF("doc_id", "text")
      // writer A dies holding the claim, nothing durable yet
      val dead = new VersionedManifestMaintainer(store,
        work.resolve("tok").toString, work.resolve("manifest").toString,
        windowOf = _ + 1L, seedOf = 100L + _, writerId = "dead-writer") {
        override protected def afterClaim(): Unit =
          throw new RuntimeException("dead")
      }
      intercept[RuntimeException](dead.processBatch(batch1, 0L))
      // without a lease the replacement stays loud (and now names the
      // automatic option alongside the manual one)
      val ex = intercept[IllegalStateException](maint.processBatch(batch1, 0L))
      assert(ex.getMessage.contains("autoReclaimAfterMs"), ex.getMessage)
      // with a lease (0 ms: instantly stale) the taker reclaims, packs,
      // and commits — exactly once
      val taker = new VersionedManifestMaintainer(store,
        work.resolve("tok").toString, work.resolve("manifest").toString,
        windowOf = _ + 1L, seedOf = 100L + _, writerId = "taker",
        autoReclaimAfterMs = Some(0L))
      taker.processBatch(batch1, 0L)
      val spans = spanSet(taker)
      assert(spans.map(_(1)).toSet === Set(10L, 12L) && spans.size === 2,
        s"zero double-packed spans, got $spans")
      // the WORST crash (spans + merge done, no PUT): the taker reclaims
      // the stale claim, the replay completes the existing generation
      // without a second store merge
      val batch2 = Seq((20L, "ca bc")).toDF("doc_id", "text")
      val dead2 = new VersionedManifestMaintainer(store,
        work.resolve("tok").toString, work.resolve("manifest").toString,
        windowOf = _ + 1L, seedOf = 100L + _, writerId = "dead-writer") {
        override protected def beforeWindowCommit(): Unit =
          throw new RuntimeException("dead")
      }
      intercept[RuntimeException](dead2.processBatch(batch2, 1L))
      val verBefore = store.feedVersion
      taker.processBatch(batch2, 1L)
      assert(store.feedVersion === verBefore, "no double store merge")
      assert(spanSet(taker).map(_(1)).toSet === Set(10L, 12L, 20L))
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("auto-reclaim of a LIVE owner (seam-paused race): one winner, one loud commit error, never a silent double-pack") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm19")
    try {
      val (store, maint) = fixture(work)
      val batch1 = Seq((10L, "ab ba"), (12L, "aa cc")).toDF("doc_id", "text")
      val aPacked = new java.util.concurrent.CountDownLatch(1)
      val aGo = new java.util.concurrent.CountDownLatch(1)
      // writer A packs window 1, then pauses BEFORE its store merge —
      // alive but slow, the exact state a too-short lease mistakes for
      // dead
      val slow = new VersionedManifestMaintainer(store,
        work.resolve("tok").toString, work.resolve("manifest").toString,
        windowOf = _ + 1L, seedOf = 100L + _, writerId = "slow") {
        override protected def beforeStoreMerge(): Unit = {
          aPacked.countDown()
          aGo.await()
        }
      }
      val aErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val a = new Thread(() =>
        try slow.processBatch(batch1, 0L)
        catch { case t: Throwable => aErr.set(t) })
      a.start()
      assert(aPacked.await(120, java.util.concurrent.TimeUnit.SECONDS))
      // the replacement (lease 0) mistakes the LIVE claim for dead,
      // reclaims, re-packs the window, and commits — the winner
      val taker = new VersionedManifestMaintainer(store,
        work.resolve("tok").toString, work.resolve("manifest").toString,
        windowOf = _ + 1L, seedOf = 100L + _, writerId = "taker",
        autoReclaimAfterMs = Some(0L))
      try taker.processBatch(batch1, 0L)
      finally aGo.countDown() // never leave thread A parked
      // A resumes: its merge is an idempotent no-op on the same keys,
      // and its commit must fail LOUDLY at the committed entry — the
      // manifest PUT is the real mutual exclusion (class scaladoc's
      // one-winner-one-loud-error claim, now spec-pinned)
      a.join(120000)
      assert(!a.isAlive, "writer A hung")
      val err = aErr.get()
      assert(err != null, "the live owner's commit must fail, not succeed")
      assert(err.getMessage.contains("committed by writer 'taker'"),
        err.getMessage)
      // the manifest serves ONE pack of the window — zero duplicates
      val spans = spanSet(taker)
      assert(spans.map(_(1)).toSet === Set(10L, 12L) && spans.size === 2,
        s"exactly one committed pack, got $spans")
      assert(store.snapshot().count() === 2 + 2,
        "the double merge folded idempotently")
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("poll-boundary invariance: one big poll and per-version polls converge a replica to the same state") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm20")
    try {
      val (_, maint) = fixture(work, keepVersions = 10)
      maint.processBatch(Seq((10L, "ab ba"), (11L, "aa cc"), (12L, "ad da"))
        .toDF("doc_id", "text"), 0L)
      val v0 = maint.currentVersion
      val replica0 = maint.readManifestAt(spark, v0).localCheckpoint(true)
      // a mixed lifecycle: commit, retract, compact, commit — 4 versions
      maint.processBatch(Seq((20L, "ca bc")).toDF("doc_id", "text"), 1L)
      maint.retract(Seq(11L).toDF("doc_id"))
      maint.compactWindow(spark, 1L, seed = 100L)
      maint.processBatch(Seq((30L, "bd db")).toDF("doc_id", "text"), 2L)
      val vEnd = maint.currentVersion
      def spansOf(df: org.apache.spark.sql.DataFrame) =
        df.select("window", "doc_id", "shuffle_pos", "n_tok", "seq")
          .collect().map(_.toSeq).toSet
      // path 1: ONE poll spanning everything
      val big = VersionedManifestMaintainer.applyFeed(replica0,
        maint.windowsBetween(spark, v0, vEnd))
      // path 2: a poll per committed version — every intermediate
      // boundary exercised (spanless/no-op versions produce empty polls)
      var stepped = replica0
      (v0 until vEnd).foreach { v =>
        stepped = VersionedManifestMaintainer.applyFeed(stepped,
          maint.windowsBetween(spark, v, v + 1)).localCheckpoint(true)
      }
      val truth = spansOf(maint.readManifestAt(spark, vEnd))
      assert(spansOf(big) === truth, "single-poll replica diverged")
      assert(spansOf(stepped) === truth, "per-version replica diverged")
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("GC: retention bounds manifests, aged unreferenced generations sweep, serving generations never do") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmm10")
    try {
      val (_, maint) = fixture(work, grace = 0L) // sweep orphans instantly
      (0 until 5).foreach { b => // a/b-only texts: the fixture model covers them
        maint.processBatch(
          Seq((10L + b, s"${"a" * (b + 1)} ${"b" * (b + 2)}"))
            .toDF("doc_id", "text"), b.toLong)
      }
      assert(manifestFilesIn(work).length === 3,
        "keepVersions bounds the manifest history")
      // every serving generation survived GC
      assert(spanSet(maint).map(_(1)).toSet ===
        (10L until 15L).toSet)
      // a rewrite replaces window 1's gen; once the old gen falls out of
      // every retained manifest, instant-grace GC reclaims it
      maint.retract(Seq(10L).toDF("doc_id"))
      val oldGen = new java.io.File(work.resolve("manifest").toFile,
        "wgen-1-b0")
      assert(oldGen.exists())
      maint.compactWindow(spark, 1L, seed = 100L)
      (5 until 8).foreach { b => // roll retention past the rewrite
        maint.processBatch(
          Seq((10L + b, s"${"c" * (b + 1)} ${"d" * (b + 2)}"))
            .toDF("doc_id", "text"), b.toLong)
      }
      assert(!oldGen.exists(), "the replaced generation is reclaimed")
      assert(maint.readManifest(spark).where(col("window") === 1L).count()
        === 0L, "window 1 is empty after its only doc retracted")
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("manifest bytes are pinned: a golden encoded maintainer manifest") {
    val work = java.nio.file.Files.createTempDirectory("graft-vmmgold")
    try {
      val (_, maint) = fixture(work)
      maint.processBatch(Seq((10L, "aa bb"), (11L, "cc aa")).toDF("doc_id", "text"), 0L)
      maint.retract(Seq(10L).toDF("doc_id"))
      val text = new String(java.nio.file.Files.readAllBytes(
        manifestFilesIn(work).last.toPath), "UTF-8")
      // the retraction generation carries a random nonce: pin the rest
      val rgen = "rgen-[0-9a-f-]+".r.findFirstIn(text).get
      val Array(payload, digest) = text.stripSuffix("\n").split("\n")
      assert(digest === java.security.MessageDigest.getInstance("SHA-256")
        .digest(payload.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      assert(payload.replace(rgen, "RGEN") === MaintainerGolden, payload)
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  private val MaintainerGolden =
    """{"version":2,"model":"d3c214860867fbd91eb278f8d30f30f9","history":[],"windows":[{"w":1,"batch":0,"model":"d3c214860867fbd91eb278f8d30f30f9","writer":"writer-0","gen":"wgen-1-b0"}],"retractions":["RGEN"]}"""
}
