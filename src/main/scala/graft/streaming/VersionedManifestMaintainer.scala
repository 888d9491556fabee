package graft.streaming

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{ManifestPipeline, ServedModel, TokenizerStore}
import graft.util.{Checkpoints, Fs, ManifestLog}

/** Streaming maintenance loop for the incremental pre-training manifest:
  * a `foreachBatch` sink (the at-least-once sink model of Structured
  * Streaming) that folds each micro-batch of new documents against a
  * survivor [[KeyedUpsertStore]], tokenizes only the genuinely new
  * survivors under the STORED tokenizer, and commits their packed spans
  * as one window. The same class carries the rest of the manifest's
  * lifecycle: takedown retraction, physical compaction, tokenizer model
  * versioning and re-tokenization, multi-writer disjoint window spaces,
  * time travel and a deletion-propagating change feed.
  *
  * Every commit is made WITHOUT a single rename, so the protocol is
  * correct on local POSIX, HDFS and object stores alike (an object store
  * renames by copy+delete, which would tear any rename-based publish).
  * It commits the way the survivor store's own [[ManifestUpsertStore]]
  * does — the Iceberg/Delta shape, so the flagship GPT-family manifest
  * can run against the SAME object store as the survivor store it feeds:
  *
  *  - SPAN DATA is immutable: each window's spans land in a generation
  *    dir no committed state ever mutates. Append generations use the
  *    DETERMINISTIC name `wgen-<window>-b<batchId>`, so an at-least-once
  *    replay converges on the same dir (overwriting it is safe — a dir is
  *    only ever written while UNREFERENCED; it becomes immutable at the
  *    instant a manifest references it, and the committed-window guard
  *    keeps every later replay away from it). Rewrite generations
  *    (compaction / re-tokenization) use a fresh nonce name; the replaced
  *    generation stays byte-identical for older retained versions.
  *  - RETRACTION ledger entries are immutable `rgen-<nonce>` dirs; the
  *    ledger IS the ordered list the manifest carries, so no part file
  *    is ever staged, renamed or swept.
  *  - VISIBILITY is one small file: `manifest-<v%012d>.json` holds every
  *    committed window's (generation, batchId, model stamp, writer), the
  *    pinned tokenizer model + adoption history, and the retraction list,
  *    with an embedded SHA-256 so a torn newest manifest degrades to
  *    "commit never happened" (the previous version serves). Publishing
  *    any state change = ONE conditional PUT (emulated locally by
  *    staged-write + create-exclusive hard link, the shared
  *    [[graft.util.ManifestLog.put]] the survivor store commits through
  *    too; on S3 it is the `If-None-Match` PUT). Two writers racing a slot
  *    produce exactly one winner; the loser rebases its entry onto the
  *    winner's manifest and retries — disjoint windows always merge.
  *  - CLAIMS are conditional PUTs too: `claim-<window>` objects created
  *    create-exclusive with their full `writerId\nbatchId` content
  *    atomic, so a torn or empty claim CANNOT EXIST — a visible claim
  *    always carries its owner. The claim is the EARLY fence (loud before any
  *    span write); the manifest PUT is the real mutual exclusion: even a
  *    mistaken [[reclaimWindow]] of a live owner ends in one winner and
  *    one loud commit-time error, never silent double-packing (though
  *    the loser's in-flight pack can transiently overwrite the winner's
  *    just-committed generation — see [[reclaimWindow]]; force-reclaim
  *    is strictly for dead owners).
  *  - NO HEALING EXISTS because no state needs it: every crash point
  *    leaves either an unreferenced generation (invisible; aged GC
  *    reclaims it), an un-deleted claim (its owner's replay takes over),
  *    or a torn manifest (readers skip it; the slot number burns, the
  *    version-gap contract of [[graft.util.ManifestLog.put]]).
  *    There is no recovery pass and no reader-side torn-state check —
  *    there is nothing to recover.
  *
  * Crash/replay ordering per batch (at-least-once upstream assumed):
  * claim → pack spans into the deterministic gen (fsynced) → store merge
  * → manifest PUT → claim delete. A replay resolves the one ambiguous
  * state — `fresh folds EMPTY while the gen dir holds spans` — by ID
  * ATTRIBUTION (r19, ADVICE r18): the state means either OUR merge ran
  * (commit the generation) or a FOREIGN writer merged the same
  * content-hash keys after our crash (commit spanless — the documents
  * already serve from the foreign window), and the two are told apart by
  * whether the store holds the packed ids, because a merged hash is
  * never re-merged (freshSurvivors anti-joins existing keys). A
  * legitimately all-duplicate batch has no gen dir and commits a
  * spanless entry. Multi-writer contract: windows come from DISJOINT
  * batch-id spaces, plus the one residual assumption the attribution
  * check cannot see through — two feeds never deliver the SAME
  * `(id, text)` rows to two writers (far weaker than
  * content-disjointness; identical ids AND identical content in two
  * feeds is a routing misdeployment).
  *
  * Scale shape per window: curation upstream, delta-sized md5-key fold,
  * distinct-word × broadcast-model tokenization, window-local packing;
  * history is touched only as the store's bucketed key set. The manifest file grows one JSON
  * entry (~120 bytes) per window: ~10 MB at 100k macro-batch windows,
  * read once per maintenance call — the Iceberg single-manifest regime;
  * sharding into a manifest list is the documented growth path beyond
  * that. GC lists the root once per commit.
  *
  * Reference lineage: the window/batch semantics mirror the reference's
  * transactional topic producer (`S4HanaProducer.java:392-469` — one
  * commit per polled batch, replay-safe by transaction id); the commit
  * protocol itself is the public Iceberg/Delta optimistic-concurrency
  * model, shared with [[ManifestUpsertStore]].
  *
  * {{{
  * val maint = new VersionedManifestMaintainer(store, tokPath, dir,
  *   windowOf = _ + 2, seedOf = bid => 1000L + bid)
  * docs.writeStream.foreachBatch(maint.processBatch _).start()
  * }}}
  *
  * @param keepVersions  retained manifest versions (the time-travel /
  *   concurrent-reader horizon, exactly [[ManifestUpsertStore]]'s)
  * @param orphanGraceMs unreferenced generation dirs younger than this
  *   are not GC'd: they may be a concurrent writer's in-flight pack
  *   (same defense, same default rationale as [[ManifestUpsertStore]])
  * @param autoReclaimAfterMs when set, a FOREIGN claim older than this
  *   lease on an UNCOMMITTED window is auto-reclaimed instead of loud —
  *   the dead-writer recovery without [[reclaimWindow]]'s human step.
  *   Safe because the manifest PUT is the real mutual exclusion: a
  *   mistakenly-reclaimed LIVE owner still ends in one committed winner
  *   and one loud commit error (never silent double-packing), but its
  *   replacement's replay can transiently overwrite the owner's
  *   just-committed generation (see [[reclaimWindow]]) — so set the
  *   lease well past the worst-case pack duration. Default off.
  */
class VersionedManifestMaintainer(store: KeyedUpsertStore,
    tokenizerPath: String, manifestDir: String, windowOf: Long => Long,
    seedOf: Long => Long, idCol: String = "doc_id",
    textCol: String = "text", budget: Long = 512L,
    byteLevel: Boolean = false, writerId: String = "writer-0",
    keepVersions: Int = 3, orphanGraceMs: Long = 24 * 3600 * 1000L,
    autoReclaimAfterMs: Option[Long] = None)
    extends Logging {

  require(writerId.nonEmpty && !writerId.exists(c => c == '\n' || c == '\r'),
    s"writerId must be a non-empty single-line token, got '$writerId'")
  require(keepVersions >= 2, s"keepVersions must be >= 2, got $keepVersions")

  private def root = new java.io.File(manifestDir)

  // model + hash are ONE cached artifact read: two independent loads
  // could straddle a racing retrain and pack spans under model B while
  // stamping hash A — the silent token-unit mix the stamp exists to
  // prevent
  @volatile private var cached: (ServedModel, String) = null

  private def loaded(spark: SparkSession): (ServedModel, String) = {
    if (cached == null)
      cached = TokenizerStore.loadServedWithHash(spark, tokenizerPath)
    cached
  }

  private def model(spark: SparkSession): ServedModel = loaded(spark)._1
  private def modelHash(spark: SparkSession): String = loaded(spark)._2

  // ── Manifest encoding ────────────────────────────────────────────────────

  /** One committed window: its span generation (None = committed
    * spanless, the all-duplicate batch), the committing batchId, the
    * tokenizer-model content hash its spans count tokens under, and the
    * committing writer.
    */
  private case class WindowEntry(gen: Option[String], batchId: Long,
      model: String, writer: String)

  /** @param model       the pinned tokenizer hash new windows must match
    * @param history     previously adopted hashes, oldest first
    * @param windows     committed windows by id
    * @param retractions ordered immutable retraction-ledger generations
    */
  private case class VManifest(version: Long, model: String,
      history: Seq[String], windows: Map[Long, WindowEntry],
      retractions: Seq[String])

  /** The manifest history on the shared publish core
    * ([[graft.util.ManifestLog]]: digest envelope, single-listing state,
    * conditional PUT, retry loop, GC). Only the fields and the GC pin are
    * the maintainer's.
    */
  private val manifests = new ManifestLog[VManifest](root, keepVersions,
      orphanGraceMs) {
    protected def encodeFields(m: VManifest, node: ObjectNode): Unit = {
      node.put("version", m.version)
      node.put("model", m.model)
      val h = node.putArray("history")
      m.history.foreach(h.add)
      val w = node.putArray("windows")
      m.windows.toSeq.sortBy(_._1).foreach { case (id, e) =>
        val o = w.addObject()
        o.put("w", id); o.put("batch", e.batchId)
        o.put("model", e.model); o.put("writer", e.writer)
        e.gen.foreach(o.put("gen", _))
      }
      val r = node.putArray("retractions")
      m.retractions.foreach(r.add)
    }
    protected def decodeFields(n: JsonNode): VManifest = {
      val history = (0 until n.get("history").size())
        .map(n.get("history").get(_).asText())
      val windows = (0 until n.get("windows").size()).map { i =>
        val e = n.get("windows").get(i)
        e.get("w").asLong() -> WindowEntry(
          Option(e.get("gen")).map(_.asText()),
          e.get("batch").asLong(), e.get("model").asText(),
          e.get("writer").asText())
      }.toMap
      val retractions = (0 until n.get("retractions").size())
        .map(n.get("retractions").get(_).asText())
      VManifest(n.get("version").asLong(), n.get("model").asText(),
        history, windows, retractions)
    }
    protected def versionOf(m: VManifest): Long = m.version
    protected def generationsOf(m: VManifest): Iterable[String] =
      m.windows.values.flatMap(_.gen) ++ m.retractions
    protected def isGeneration(name: String): Boolean =
      name.startsWith("wgen-") || name.startsWith("rgen-")
    // an APPEND generation whose window has NO committed entry is never
    // swept, however old: it may hold the ONLY packed copy of a batch
    // whose store merge already ran (the crash-between-merge-and-PUT
    // state) — the survivor store has banned the content as duplicate, so
    // if GC ate the dir, the dead writer's replay would fold to empty
    // fresh, find no spans, and commit the window SPANLESS: silent
    // permanent loss of the batch's documents (r18 review #1). Such a dir
    // becomes sweepable only once its window commits (then it is either
    // the referenced generation, or a superseded predecessor). Rewrite
    // (`-rw-`) and retraction generations carry no such liability —
    // their data exists elsewhere until the PUT references them.
    override protected def pinned(serving: Option[VManifest],
        name: String): Boolean = name match {
      case appendGenName(w) => !serving.exists(_.windows.contains(w.toLong))
      case _ => false
    }
  }

  private val appendGenName = "wgen-(-?\\d+)-b-?\\d+".r // window ids may be negative

  private def currentManifest(): VManifest =
    manifests.current().getOrElse(throw new IllegalStateException(
      s"no committed manifest windows under $manifestDir"))

  // ── Claims (conditional-PUT objects) ─────────────────────────────────────

  private def claimOf(window: Long) =
    new java.io.File(root, s"claim-$window")

  /** Create-exclusive, CONTENT-ATOMIC claim (staged write + hard link):
    * a visible claim always carries its full `writerId\nbatchId`, so no
    * torn or empty claim can exist. Our
    * own (writer+batch match) surviving claim is a crashed predecessor —
    * take over, replay forward. A foreign claim is loud.
    */
  private def acquireClaim(window: Long, batchId: Long,
      attempt: Int = 1): Unit = {
    root.mkdirs()
    val claim = claimOf(window)
    if (graft.util.ConditionalPut.claim(claim,
        s"$writerId\n$batchId".getBytes(StandardCharsets.UTF_8),
        stagingPrefix = ".staging-claim-")) {
      Fs.fsyncDir(root)
    } else {
        val lines =
          try java.nio.file.Files.readString(claim.toPath)
            .linesIterator.map(_.trim).toSeq
          catch {
            case _: java.nio.file.NoSuchFileException |
                 _: java.io.FileNotFoundException =>
              // vanished between link failure and read (a racing
              // reclaim): bounded retry from scratch — a claim flapping
              // across 5 attempts is contention to inspect, not to spin on
              if (attempt >= 5) throw new IllegalStateException(
                s"window $window claim kept vanishing across $attempt " +
                  s"acquisition attempts by writer '$writerId' — racing " +
                  "reclaims are flapping the claim; inspect manually")
              acquireClaim(window, batchId, attempt + 1); return
          }
        val ours = lines.headOption.contains(writerId) &&
          lines.drop(1).headOption.contains(batchId.toString)
        if (!ours) {
          // lease-based auto-recovery (r19): a stale foreign claim on an
          // UNCOMMITTED window whose age exceeds the configured lease is
          // dead-writer debris — reclaim it and retry, bounded by the
          // same flap counter as the vanished-claim race. The committed
          // check re-reads the manifest here (not a cached state): a
          // claim the owner is about to delete post-commit must not be
          // treated as abandoned work.
          val age = System.currentTimeMillis() - claim.lastModified()
          val committed = manifests.current().exists(_.windows.contains(window))
          if (!committed && autoReclaimAfterMs.exists(age >= _)) {
            logWarning(s"window $window: auto-reclaiming stale claim by " +
              s"writer '${lines.headOption.getOrElse("")}' (age ${age}ms " +
              s">= lease ${autoReclaimAfterMs.get}ms)")
            Fs.rmTree(claim)
            if (attempt >= 5) throw new IllegalStateException(
              s"window $window claim kept flapping across $attempt " +
                s"auto-reclaim attempts by writer '$writerId' — a live " +
                "writer is re-claiming faster than the lease; raise " +
                "autoReclaimAfterMs or inspect manually")
            acquireClaim(window, batchId, attempt + 1); return
          }
          throw new IllegalStateException(
            s"window $window is claimed by writer " +
              s"'${lines.headOption.getOrElse("")}' batch " +
              s"${lines.drop(1).headOption.getOrElse("?")} while writer " +
              s"'$writerId' batch $batchId is trying to pack it — two " +
              "maintainers' windowOf spaces overlap (multi-writer " +
              "maintenance requires windows from DISJOINT batch-id " +
              "spaces) or a foreign writer is racing this window; if the " +
              "owner is dead, call reclaimWindow(window, force = true) " +
              "to release it (or configure autoReclaimAfterMs)")
        }
      // ours: our crashed predecessor — take over, replay forward
    }
  }

  /** Admin release of a DEAD writer's claim. A claim on an already-
    * committed window is spent debris (no force needed); an uncommitted
    * one requires `force = true`. A mistaken reclaim of a LIVE owner
    * cannot corrupt the COMMITTED manifest — the conditional manifest
    * PUT serializes the two packers into one winner and one loud
    * commit-time error (the claim is the early fence, not the only one)
    * — but it CAN transiently violate generation immutability: the
    * replacement's replay packs into the same deterministic
    * `wgen-<w>-b<batch>` dir, so if the live owner's PUT lands first,
    * the replacement's in-flight mode(overwrite) write deletes/replaces
    * files of a now-referenced generation before its own commit fails
    * loudly, and a reader folding that generation in exactly that window
    * can observe missing spans. Force-reclaim is strictly for owners
    * confirmed dead. Returns whether a claim was removed.
    */
  def reclaimWindow(window: Long, force: Boolean = false): Boolean = {
    val claim = claimOf(window)
    if (!claim.exists()) return false
    val committed = manifests.current().exists(_.windows.contains(window))
    if (!committed) require(force,
      s"window $window has an UNCOMMITTED claim — reclaiming it while " +
        "its owner is alive would let two writers pack the window " +
        "concurrently; pass force = true only after confirming the " +
        "owner is dead")
    Fs.rmTree(claim)
    !claim.exists()
  }

  /** Test seam: after the claim, before any span write. */
  protected def afterClaim(): Unit = {}

  /** Test seam: after the pack fsync, before the store merge — the crash
    * window whose replay must distinguish "our merge ran" from "a foreign
    * writer merged the same content" (see the replay note in
    * [[processBatch]]).
    */
  protected def beforeStoreMerge(): Unit = {}

  /** Test seam: between the store merge and the window's manifest PUT —
    * the crash window that produces the `fresh empty + gen exists`
    * replay state, and the race window a concurrent commit must land in
    * to force the rebase path deterministically.
    */
  protected def beforeWindowCommit(): Unit = {}

  // ── Guards ───────────────────────────────────────────────────────────────

  /** True = window already committed by US at this batchId (replay
    * no-op); throws on a non-injective windowOf or a foreign writer's
    * aligned batchId; false = not committed. Runs against EVERY re-read
    * manifest inside the commit loop, so a rebase re-checks.
    */
  private def checkCommitted(m: Option[VManifest], window: Long,
      batchId: Long): Boolean =
    m.flatMap(_.windows.get(window)) match {
      case None => false
      case Some(e) =>
        if (e.batchId != batchId)
          throw new IllegalStateException(
            s"batch $batchId maps to window $window, already committed " +
              s"by batch ${e.batchId} — windowOf is not injective; this " +
              "batch's documents would be silently lost")
        if (e.writer != writerId)
          throw new IllegalStateException(
            s"window $window was committed by writer '${e.writer}' at " +
              s"the same batch id $batchId that writer '$writerId' now " +
              "maps there — two maintainers' windowOf spaces overlap; " +
              "this batch's documents would be silently lost")
        true
    }

  /** Refuse to pack under a model the manifest is not versioned to: a
    * silent retrain of the artifact at `tokenizerPath` would mix TOKEN
    * UNITS across windows with no record that it happened, so a mismatch
    * fails loudly and names the explicit escape hatch, [[adoptModel]].
    * The pin is a manifest FIELD, committed atomically with the first
    * window, so no half-written pin state exists.
    */
  private def checkModel(m: Option[VManifest], h: String): Unit =
    m.filter(_.model != h).foreach { cur =>
      throw new IllegalStateException(
        s"tokenizer artifact at $tokenizerPath (content $h) is not the " +
          s"model this manifest is packed under (${cur.model}) — a " +
          "silent retrain would mix token units across windows; call " +
          "adoptModel() to version the change explicitly (and " +
          "retokenizeWindow(...) per window if uniform units are " +
          "required)")
    }

  // ── Generations ──────────────────────────────────────────────────────────

  /** Deterministic append-generation dir: replays converge on it, and it
    * is only ever written while unreferenced (see class scaladoc).
    */
  private def appendGen(window: Long, batchId: Long): String =
    s"wgen-$window-b$batchId"

  private def genDir(name: String) = new java.io.File(root, name)

  private def hasSpans(gen: String): Boolean =
    Option(genDir(gen).listFiles()) // null when the dir vanished mid-check
      .exists(_.exists(_.getName.endsWith(".parquet")))

  /** Referenced-generation read path: a generation a manifest references
    * was fsynced strictly before the PUT and GC keeps it alive as long
    * as any retained manifest names it — so a missing/empty dir is NEVER
    * a legitimate state for one. Refusing loudly here (instead of the
    * pre-r19 silent filter) keeps the retention contract honest: a
    * violated read serves an error, not silently PARTIAL spans
    * (ADVICE r18).
    */
  private def servingDir(gen: String, version: Long): String = {
    if (!hasSpans(gen)) throw new IllegalStateException(
      s"generation $gen is referenced by manifest version $version under " +
        s"$manifestDir but its directory is missing or empty — the " +
        "retention contract was violated (external deletion, or GC raced " +
        "a crashed sibling); refusing to serve a silently partial manifest")
    genDir(gen).getPath
  }

  /** Replay disambiguation for the `fresh empty + gen holds spans` state
    * (ADVICE r18): our merge recorded OUR survivor ids against the
    * batch's content hashes, and once a hash is merged no later fold
    * re-merges it — so every packed id being present in the store means
    * our merge ran (commit the generation); any packed id missing means
    * a foreign writer merged the same content under ITS ids and our merge
    * never ran (commit spanless — the documents already serve from the
    * foreign window). Runs only on the rare ambiguous replay; the check
    * is one broadcast-sized anti-join over the window's own ids.
    */
  private def packedIdsAreOurs(spark: SparkSession, gen: String): Boolean = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(genDir(gen).getPath).select(col(idCol)).distinct()
      .join(store.snapshot().select(col(idCol)), Seq(idCol), "left_anti")
      .isEmpty
  }

  // ── Batch maintenance ────────────────────────────────────────────────────

  /** Apply one micro-batch of raw (curated) documents — the
    * `foreachBatch` entry point, also usable un-streamed (backfills,
    * replays, tests). A batch whose window is already committed at the
    * same batchId is a replay and no-ops; see the class scaladoc for the
    * crash/replay ordering.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val window = windowOf(batchId)
    val h = modelHash(spark)
    val m0 = manifests.current()
    if (checkCommitted(m0, window, batchId)) {
      logInfo(s"batch $batchId: window $window already committed, skipping")
      Fs.rmTree(claimOf(window)) // sweep a claim a crash left behind
      return
    }
    checkModel(m0, h)
    acquireClaim(window, batchId)
    afterClaim()
    val gen = appendGen(window, batchId)
    Checkpoints.pinned(
        ManifestPipeline.freshSurvivors(store, batch, idCol, textCol)) { fresh =>
      val committedGen: Option[String] =
        if (fresh.isEmpty) {
          // `fresh empty + gen holds spans` is ALMOST always a crash
          // between the store merge and the manifest PUT (spans fsync
          // strictly before the merge; an empty fresh never writes a gen
          // dir): complete by committing the existing generation. In a
          // multi-writer deployment one other cause exists (ADVICE r18):
          // a crash between the pack and OUR merge, after which a FOREIGN
          // writer merged the same content-hash keys — committing our gen
          // then would serve the same documents from two windows. The two
          // resolve by id attribution: our merge records OUR survivor ids
          // against those hashes, and once merged no later fold re-merges
          // them (freshSurvivors anti-joins existing keys), so the ids
          // are ours iff our merge ran. The residual assumption is only
          // that two feeds never deliver the SAME (id, text) rows — far
          // weaker than content-disjointness. Otherwise a legitimately
          // all-duplicate batch commits a spanless entry.
          if (hasSpans(gen) && packedIdsAreOurs(spark, gen)) Some(gen)
          else None
        } else {
          val packed = ManifestPipeline
            .packWindow(fresh, idCol, textCol, model(spark), window,
              seedOf(batchId), budget, byteLevel)
          Fs.writeParquet(packed, genDir(gen).getPath)
          // free the pack kernel's internal checkpoint blocks promptly —
          // a long-running stream must not wait for a driver GC (r19)
          Checkpoints.release(packed)
          Fs.fsyncTree(genDir(gen)) // durable BEFORE the store learns keys
          beforeStoreMerge()
          // non-empty was already probed above — skip the second
          // emptiness job over the same checkpointed frame (r20)
          ManifestPipeline.mergeSurvivorsNonEmpty(store, fresh, idCol,
            txnId = batchId)
          Some(gen)
        }
      beforeWindowCommit()
      manifests.commit { (m, slot) =>
        if (!checkCommitted(m, window, batchId)) {
          checkModel(m, h)
          val base = m.getOrElse(
            VManifest(0L, h, Seq.empty, Map.empty, Seq.empty))
          manifests.put(base.copy(version = slot,
            windows = base.windows +
              (window -> WindowEntry(committedGen, batchId, h, writerId))))
        }
      }
      Fs.rmTree(claimOf(window)) // the manifest entry now guards
      gc()
    }
  }

  // ── Reads ────────────────────────────────────────────────────────────────

  /** All committed windows' spans with retracted documents filtered out
    * — the manifest's merge-on-read rule. A manifest whose windows are
    * all spanless reads as zero rows. No reader-side crash checks exist
    * because no readable state is ever torn: the manifest is digest-
    * validated and every generation it references was fsynced before
    * the PUT.
    */
  def readManifest(spark: SparkSession): DataFrame =
    visibleSpans(spark, currentManifest())

  /** The span columns every generation, read and feed row carries. */
  private def spanCols = Seq("window", idCol, "shuffle_pos", "n_tok",
    "cum_before", "seq", "tok_start", "tok_end", "seq_offset")

  private def withoutIds(spans: DataFrame,
      ids: Option[DataFrame]): DataFrame =
    ids.fold(spans)(i => spans.join(
      org.apache.spark.sql.functions.broadcast(i), Seq(idCol), "left_anti"))

  private def visibleSpans(spark: SparkSession, m: VManifest): DataFrame =
    withoutIds(rawCommittedSpans(spark, m), retractedIds(spark, m))

  private def rawCommittedSpans(spark: SparkSession,
      m: VManifest): DataFrame = {
    require(m.windows.nonEmpty,
      s"no committed manifest windows under $manifestDir")
    // gen = None already encodes the legitimate spanless window; a NAMED
    // generation must exist and hold spans, or the read refuses loudly
    // (servingDir) instead of serving a silently partial manifest
    val dirs = m.windows.values.flatMap(_.gen)
      .map(servingDir(_, m.version)).toSeq.sorted
    if (dirs.isEmpty) emptySpans(spark)
    else spark.read.parquet(dirs: _*)
  }

  private def emptySpans(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(spanCols.map(StructField(_, LongType, nullable = false))))
  }

  /** The serving manifest version — advances by one per committed state
    * change (window commit, retraction, rewrite, adoption), with torn
    * slots burning numbers (gaps are part of the format).
    */
  def currentVersion: Long = currentManifest().version

  /** TIME TRAVEL across retained manifest versions — the training-
    * reproducibility read ("the manifest exactly as a run trained on it
    * last week"): committed windows, retraction visibility, and rewrites
    * all resolve AS OF that version, because each manifest names the
    * immutable generations that served it and GC keeps every generation
    * alive exactly as long as a retained manifest references it
    * (`keepVersions` is the horizon; beyond it this refuses loudly) —
    * [[ManifestUpsertStore.snapshotAt]]'s contract applied to windows.
    */
  def readManifestAt(spark: SparkSession, version: Long): DataFrame = {
    val m = manifests.at(version).getOrElse(throw new IllegalStateException(
        s"manifest $manifestDir: version $version is not retained " +
          s"(keepVersions=$keepVersions) or never committed"))
    visibleSpans(spark, m)
  }

  /** CHANGE FEED over manifest versions — the training consumer's tail
    * ("give me everything that changed since the version my last run
    * trained at"). A durable consumer tails it with the one change-feed
    * cursor class, [[StoreChangeFeed]], built over `currentVersion` and
    * this method.
    * Since r19 the feed carries the DELETION delta too (VERDICT r18 #1):
    * the pre-r19 feed reported only new/rewritten span sets, so a
    * replica materialized at `fromVersion` and patched with the feed
    * kept serving retracted spans — the exact leak the takedown
    * machinery exists to prevent. Row kinds, by the `change` column:
    *
    *  - `new`: full span set of a window committed in
    *    `(fromVersion, toVersion]`, retraction-filtered as of `toVersion`
    *  - `rewritten`: the FULL new span set of a window whose generation
    *    changed in the range — window-scoped REPLACE semantics (the
    *    consumer deletes the window's rows, then inserts these)
    *  - `emptied`: one sentinel row (`window` set, every span column
    *    null) for a window rewritten to ZERO spans — a takedown sweep
    *    that erased the whole window, which emits no span rows and was
    *    therefore invisible to pre-r19 consumers
    *  - `retracted`: one row per document id whose retraction committed
    *    in the range (`window` null — retraction is by id across
    *    windows), covering retractions over windows that were NOT
    *    physically rewritten
    *
    * Applying a poll with [[VersionedManifestMaintainer.applyFeed]]
    * holds the replica identity
    * `applyFeed(readManifestAt(from), feed) == readManifestAt(to)`, and
    * a replayed poll converges (replace-then-delete is idempotent) —
    * gated end-to-end by `q_manifest_feed_replica`. A spanless commit
    * (all-duplicate batch) and a stamp-only restamp contribute no rows —
    * the feed reports span and retraction changes, not bookkeeping.
    * Both endpoints must be retained (`keepVersions` is the feed
    * horizon; beyond it this refuses loudly, like
    * [[ManifestUpsertStore.changesBetween]]).
    */
  def windowsBetween(spark: SparkSession, fromVersion: Long,
      toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromVersion <= toVersion,
      s"empty range: $fromVersion > $toVersion")
    val retained = manifests.complete()
    def at(v: Long): VManifest = retained.find(_.version == v)
      .getOrElse(throw new IllegalStateException(
        s"manifest $manifestDir: version $v is not retained " +
          s"(keepVersions=$keepVersions) or never committed"))
    val mTo = at(toVersion)
    val mFrom = at(fromVersion)
    val nullL = lit(null).cast(
      org.apache.spark.sql.types.LongType)
    val retractedTo = retractedIds(spark, mTo)
    def tagged(gens: Seq[String], change: String): Option[DataFrame] =
      if (gens.isEmpty) None
      else Some(withoutIds(
          spark.read.parquet(gens.map(servingDir(_, toVersion)): _*),
          retractedTo)
        .select(spanCols.map(col): _*).withColumn("change", lit(change)))
    val newGens = mTo.windows.toSeq.collect {
      case (w, e) if !mFrom.windows.contains(w) => e.gen
    }.flatten.sorted
    val rwPairs = mTo.windows.toSeq.flatMap { case (w, e) =>
      mFrom.windows.get(w) match {
        case Some(old) if old.gen != e.gen => Some((w, e.gen))
        case _ => None
      }
    }
    val emptiedPart = {
      val ws = rwPairs.collect { case (w, None) => w }.sorted
      if (ws.isEmpty) None
      else {
        import spark.implicits._
        Some(ws.toDF("window").select(col("window") +:
          spanCols.tail.map(nullL.as(_)): _*)
          .withColumn("change", lit("emptied")))
      }
    }
    val retractedPart = {
      val newRgens = mTo.retractions
        .filterNot(mFrom.retractions.toSet).sorted
      if (newRgens.isEmpty) None
      else Some(spark.read
        .parquet(newRgens.map(servingDir(_, toVersion)): _*)
        .select(col(idCol)).distinct()
        .select(nullL.as("window") +: (col(idCol) +:
          spanCols.drop(2).map(nullL.as(_))): _*)
        .withColumn("change", lit("retracted")))
    }
    val parts = Seq(tagged(newGens, "new"),
      tagged(rwPairs.collect { case (_, Some(g)) => g }.sorted, "rewritten"),
      emptiedPart, retractedPart).flatten
    parts.foldLeft(feedSchema(spark))(_ unionByName _)
  }

  /** The empty change-feed frame: the span schema with every column
    * nullable (sentinel and retraction rows carry nulls) plus `change`.
    */
  private def feedSchema(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(spanCols.map(StructField(_, LongType, nullable = true)) :+
        StructField("change", StringType, nullable = false)))
  }

  /** The model stamp of a committed window — which tokenizer version its
    * spans count tokens under.
    */
  def windowModelStamp(windowId: Long): Option[String] = {
    val m = currentManifest()
    require(m.windows.contains(windowId),
      s"window $windowId is not committed")
    Some(m.windows(windowId).model)
  }

  // ── Retraction (takedowns / right-to-be-forgotten) ───────────────────────

  private def retractedIds(spark: SparkSession,
      m: VManifest): Option[DataFrame] = {
    // same loud contract as rawCommittedSpans: a referenced retraction
    // generation silently skipped would RESURRECT taken-down documents
    val dirs = m.retractions.map(servingDir(_, m.version))
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs: _*).select(idCol).distinct())
  }

  /** Retract documents: ids land in an immutable `rgen` generation, and
    * ONE manifest PUT makes them visible to every reader at once. A
    * crash before the PUT leaves an unreferenced dir (aged GC) and the
    * caller re-runs — retraction is an idempotent set union. The ledger
    * is takedown-sized and intentionally never pruned; the ban-on-
    * recrawl guarantee lives in the survivor STORE's kept hashes:
    * retracted content cannot re-enter under a new id.
    */
  def retract(ids: DataFrame): Unit = {
    root.mkdirs()
    val gen = s"rgen-${java.util.UUID.randomUUID()}"
    // ledger entries are takedown-batch-sized
    Fs.writeParquet(ids.select(idCol).distinct().coalesce(1),
      genDir(gen).getPath)
    Fs.fsyncTree(genDir(gen))
    if (!hasSpans(gen)) { Fs.rmTree(genDir(gen)); return }
    manifests.commit { (m, slot) =>
      val base = m.getOrElse(VManifest(0L, modelHash(ids.sparkSession),
        Seq.empty, Map.empty, Seq.empty))
      manifests.put(base.copy(version = slot,
        retractions = base.retractions :+ gen))
    }
    gc()
  }

  // ── Window rewrites (compaction / re-tokenization) ───────────────────────

  /** Physically rewrite one window without its retracted documents,
    * re-packing the remaining docs dense at the window's own seed. The
    * rewrite is a fresh nonce generation + one manifest PUT whose rebase
    * VALIDATES the window's generation is still the one it read (a
    * concurrent rewrite of the same window loses loudly with its staged
    * generation reclaimed — the [[ManifestUpsertStore.compact]] rebase
    * rule); a crash before the PUT changes nothing for readers. Never
    * re-reads corpus text or re-tokenizes.
    */
  def compactWindow(spark: SparkSession, windowId: Long, seed: Long): Unit = {
    import org.apache.spark.sql.functions._
    val m0 = currentManifest()
    require(m0.windows.contains(windowId),
      s"window $windowId is not committed")
    val entry = m0.windows(windowId)
    val retracted = retractedIds(spark, m0)
    if (retracted.isEmpty || entry.gen.isEmpty) return
    Checkpoints.pinned(
        spark.read.parquet(servingDir(entry.gen.get, m0.version))
          .select(col(idCol), col("n_tok")).distinct()) { current =>
      // physical no-op when the window holds none of the retracted docs
      if (!current.join(broadcast(retracted.get), Seq(idCol), "left_semi")
          .isEmpty) {
        val remaining = current
          .join(broadcast(retracted.get), Seq(idCol), "left_anti")
        // pinned like packWindow's shuffled frame (r20, VERDICT r19 #7):
        // packSpans references its input across TWO actions (the eager
        // approxQuantile at plan construction plus the rewrite write), and
        // each re-ran the shuffle + anti-join subtree from current's blocks
        Checkpoints.pinned(graft.operators.Sampling
            .shuffled(remaining, idCol, seed)) { shuf =>
          val repacked = graft.operators.Shards.packSpans(shuf,
              "shuffle_pos", "n_tok", budget)
            .withColumn("window", lit(windowId))
            .select(spanCols.map(col): _*)
          // the compacted entry keeps its batchId/model/writer stamps —
          // compaction rewrites spans, not delivery or token units
          rewriteWindow(spark, windowId, repacked, entry)(identity)
        }
      }
    }
  }

  /** Shared rewrite commit: write `repacked` to a fresh nonce gen, then
    * PUT a manifest whose entry for `windowId` is `stamp(oldEntry)` with
    * the new gen — validating on every (re-)read that the window still
    * serves `readEntry.gen` (else the fold inputs were replaced by a
    * concurrent rewrite: abort loudly, reclaim the staged gen).
    */
  private def rewriteWindow(spark: SparkSession, windowId: Long,
      repacked: DataFrame, readEntry: WindowEntry)(
      stamp: WindowEntry => WindowEntry): Unit = {
    val gen = s"wgen-$windowId-rw-${java.util.UUID.randomUUID()}"
    Fs.writeParquet(repacked, genDir(gen).getPath)
    Fs.fsyncTree(genDir(gen))
    // emptiness is a ROW property, not a file property: Spark may write a
    // zero-row part file for an empty frame, and a window emptied by a
    // takedown must commit gen = None (the spanless encoding readers and
    // the change feed's `emptied` signal key on), never a zero-row gen.
    // Read from the parquet FOOTERS driver-side (r19): the row count is
    // authoritative metadata, and the former read-back was one Spark job
    // per rewritten window (priced in SCALING's r19 protocol-delta note).
    val newGen = if (hasSpans(gen) && Fs.parquetRowCount(genDir(gen)) > 0L)
        Some(gen)
      else { // emptied entirely
        Fs.rmTree(genDir(gen)); None
      }
    // staged-generation cleanup happens ONLY on the paths where the PUT
    // provably never published (validation abort, conflict retries
    // exceeded) — a blanket catch-all would also fire when the PUT
    // failed AFTER its createLink (e.g. a transient fsync error), i.e.
    // after the new manifest became visible, and would delete a
    // generation a committed manifest references: silent data loss on
    // read (r18 review #5). Any other failure leaves the dir for aged
    // GC, which never sweeps a referenced generation.
    try manifests.commit { (m, slot) =>
      val cur = m.flatMap(_.windows.get(windowId)).getOrElse(
        throw new ManifestLog.InputsReplaced(
          s"window $windowId vanished from the manifest mid-rewrite"))
      if (cur.gen != readEntry.gen)
        throw new ManifestLog.InputsReplaced(
          s"window $windowId was rewritten concurrently (generation " +
            s"${cur.gen} != ${readEntry.gen}) — rewrite inputs were " +
            "replaced; re-read and re-run")
      val base = m.get
      manifests.put(base.copy(version = slot,
        windows = base.windows +
          (windowId -> stamp(cur).copy(gen = newGen))))
    } catch {
      // an abort (inputs replaced) or an exhausted retry: the PUT provably
      // never published
      case e: CommitConflictException =>
        newGen.foreach(g => Fs.rmTree(genDir(g))); throw e
    }
    gc()
  }

  /** Physically re-pack one committed window under the manifest's
    * CURRENT model — the uniform-units restore after [[adoptModel]]. The
    * caller supplies the window's source batch, because spans store
    * token offsets, not text; retracted documents drop during the
    * rewrite, so the batch may omit their texts. A spanless window
    * RESTAMPS its manifest entry with the adopted model (one PUT, no
    * data write). The rewrite keeps the original batchId and writer.
    */
  def retokenizeWindow(spark: SparkSession, windowId: Long,
      sourceBatch: DataFrame, seed: Long): Unit = {
    import org.apache.spark.sql.functions._
    val h = modelHash(spark)
    val m0 = currentManifest()
    require(m0.windows.contains(windowId),
      s"window $windowId is not committed")
    checkModel(Some(m0), h)
    val entry = m0.windows(windowId)
    if (entry.gen.isEmpty) {
      // spanless: restamp the adopted model so the uniform-units-restored
      // record holds for every window, spanless ones included
      if (entry.model != h) manifests.commit {
        (m, slot) =>
          val base = m.getOrElse(m0)
          val cur = base.windows.getOrElse(windowId, entry)
          manifests.put(base.copy(version = slot,
            windows = base.windows + (windowId -> cur.copy(model = h))))
      }
      return
    }
    Checkpoints.pinned(
        spark.read.parquet(servingDir(entry.gen.get, m0.version))
          .select(col(idCol)).distinct()) { idsAll =>
      // retracted docs drop during the rewrite, so a caller who legally
      // deleted a taken-down text is not required to supply it
      val ids = retractedIds(spark, m0) match {
        case Some(r) => idsAll.join(broadcast(r), Seq(idCol), "left_anti")
        case None => idsAll
      }
      // pinned: the missing-count action below AND packWindow's
      // tokenization both read this frame — without the checkpoint the
      // source batch's scan+dedup+join executed twice (r19). The scope
      // releases it on every exit (r20, ADVICE r19 #3): a failed
      // require/rewrite must not leak the blocks until a driver GC.
      Checkpoints.pinned(sourceBatch.select(col(idCol), col(textCol))
          .dropDuplicates(Seq(idCol))
          .join(ids, Seq(idCol))) { kept =>
        val missing = ids
          .join(kept.select(col(idCol)), Seq(idCol), "left_anti").count()
        require(missing == 0L,
          s"$missing of window $windowId's documents are missing from the " +
            "supplied source batch — spans store token offsets, not text; " +
            "re-tokenization needs the window's original batch")
        val repacked = ManifestPipeline.packWindow(kept, idCol, textCol,
          model(spark), windowId, seed, budget, byteLevel)
        rewriteWindow(spark, windowId, repacked, entry)(e => e.copy(model = h))
      }
    }
  }

  /** Explicitly version the manifest onto the artifact's CURRENT model:
    * one PUT replaces the pin and appends the previous hash to the
    * embedded history — atomic together. Idempotent; legal
    * pre-bootstrap (pins the model for the first window).
    */
  def adoptModel(spark: SparkSession): Unit = {
    cached = null
    val h = modelHash(spark)
    root.mkdirs()
    manifests.commit { (m, slot) =>
      val base = m.getOrElse(VManifest(0L, h, Seq.empty, Map.empty,
        Seq.empty))
      if (base.model != h)
        manifests.put(base.copy(version = slot, model = h,
          history = base.history :+ base.model))
      else if (m.isEmpty)
        manifests.put(base.copy(version = slot))
    }
    gc()
  }

  /** Adopted-model audit trail, oldest first, read from the manifest. */
  def modelHistory(): Seq[String] =
    manifests.current().map(_.history).getOrElse(Seq.empty)

  /** The takedown SWEEP: find every window still physically holding a
    * retracted document (broadcast semi-join vs the ledger), compact
    * each. Idempotent and trivially crash-forward — an interrupted sweep
    * left either nothing or complete per-window commits; there is no
    * mid-publish debris to heal. The collect is the affected-window-id
    * list, takedown-sized.
    */
  def compactRetracted(spark: SparkSession,
      seedOf: Long => Long): Seq[Long] = {
    import org.apache.spark.sql.functions._
    val m = manifests.current().getOrElse(return Seq.empty)
    if (m.windows.isEmpty) return Seq.empty
    val retracted = retractedIds(spark, m)
    if (retracted.isEmpty) return Seq.empty
    val affected = rawCommittedSpans(spark, m)
      .join(broadcast(retracted.get), Seq(idCol), "left_semi")
      .select(col("window")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    affected.foreach(w => compactWindow(spark, w, seedOf(w)))
    affected
  }

  // ── GC ───────────────────────────────────────────────────────────────────

  /** The shared GC pass ([[graft.util.ManifestLog.gc]]: manifests past
    * `keepVersions` first, then the generations only they named, then aged
    * orphans, torn debris and staging files, never an uncommitted append
    * generation), plus the maintainer's own claims whose window is
    * committed.
    */
  private def gc(): Unit = {
    val committedWindows =
      manifests.gc().map(_.windows.keySet).getOrElse(Set.empty[Long])
    Option(root.listFiles((_: java.io.File, n: String) =>
      n.startsWith("claim-")))
      .getOrElse(Array.empty[java.io.File])
      .filter(f => scala.util.Try(
        f.getName.stripPrefix("claim-").toLong).toOption
        .exists(committedWindows.contains))
      .foreach(Fs.rmTree)
  }
}

object VersionedManifestMaintainer {
  /** Apply one [[VersionedManifestMaintainer.windowsBetween]] poll to a
    * replica materialized at the poll's `fromVersion` (the span schema —
    * exactly what `readManifestAt` serves): REPLACE every changed window
    * (`new` / `rewritten` / `emptied` — delete the window's rows, insert
    * the poll's span rows), then DELETE every `retracted` id. The replica
    * identity `applyFeed(readManifestAt(from), feed) == readManifestAt(to)`
    * holds, and a replayed poll converges (replace-then-delete applied
    * twice is the same state) — both gated by `q_manifest_feed_replica`.
    *
    * Scale shape: the changed-window and retracted-id sets are
    * takedown/delta-sized and broadcast, so the replica is never
    * shuffled — two broadcast anti-joins plus an O(delta) union.
    */
  def applyFeed(replica: DataFrame, feed: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions._
    val changed = feed
      .where(col("change").isin("new", "rewritten", "emptied"))
      .select(col("window")).distinct()
    val inserts = feed.where(col("change").isin("new", "rewritten"))
      .select(replica.columns.map(col).toSeq: _*)
    val dels = feed.where(col("change") === "retracted")
      .select(col(idCol)).distinct()
    replica.join(broadcast(changed), Seq("window"), "left_anti")
      .unionByName(inserts)
      .join(broadcast(dels), Seq(idCol), "left_anti")
  }
}
