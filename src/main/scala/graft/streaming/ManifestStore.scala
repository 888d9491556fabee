package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Cdc

/** Thrown when a manifest commit loses the conditional-PUT race to another
  * writer (the Iceberg/Delta optimistic-concurrency conflict): the caller
  * re-reads the current manifest and retries its commit on top, or
  * surfaces the conflict.
  */
class CommitConflictException(msg: String) extends IllegalStateException(msg)

/** The keyed-replica surface [[CdcStreamJob]] drives — implemented by
  * [[ManifestUpsertStore]] under either [[WritePolicy]], so the streaming
  * loop, its ledger contract, and its maintenance policies are
  * policy-agnostic: switching between copy-on-write and merge-on-read is a
  * constructor argument, not a topology change.
  */
trait KeyedUpsertStore {
  /** Replace the store's contents with an initial load (bootstrap). */
  def initialize(initialLoad: DataFrame): Unit
  /** Apply one folded CDC batch (idempotent, last-write-wins by PK). */
  def merge(folded: DataFrame): Unit
  /** Current store contents (no envelope columns). */
  def snapshot(): DataFrame
  /** Monotone feed position for change-data-feed consumers: the manifest
    * version. [[StoreChangeFeed]] tails a store through this pair of
    * methods (r13 — the consumer is store-agnostic).
    */
  def feedVersion: Long
  /** CDF envelope rows (payload + `_change_type`) in `(from, to]` of the
    * [[feedVersion]] history; LWW-applying them takes the `from` snapshot
    * to the `to` snapshot. Refuses loudly behind the retention horizon.
    */
  def changesBetween(from: Long, to: Long): DataFrame
  /** Compact when the delta-count debt reaches the threshold; returns
    * whether a compaction ran (never, on a store without deltas).
    */
  def compactIfNeeded(maxDeltas: Int = 16): Boolean
}

/** How a [[ManifestUpsertStore]] applies a merge — the two write modes
  * of one commit log, as in Delta and Iceberg (Hudi's COW vs MOR table
  * types).
  */
sealed trait WritePolicy

object WritePolicy {
  /** Each merge APPENDS the folded batch as one sequenced delta —
    * O(batch) regardless of how much base data the touched buckets hold —
    * and reads fold base ∪ deltas by (pk, max seq) with no shuffle, each
    * bucket within one task;
    * `compact()` folds the deltas back into the base. For write-heavy
    * loops with infrequent reads.
    */
  case object MergeOnRead extends WritePolicy

  /** Each merge stages the folded batch as the same delta, then folds it
    * at once with the touched buckets' base into a fresh base generation —
    * the read fold moved to write time, shuffling only the batch — and
    * publishes no delta, so reads stay a plain scan. For read-heavy
    * replicas. Every merge is a rewrite, so the change feed's horizon
    * moves to the current version with each one.
    */
  case object CopyOnWrite extends WritePolicy
}

/** The engine's keyed store (VERDICT r9 #9): the reference's downstream
  * compacted-topic / replica-table analog (ST4/ST6), bucketed by
  * `pmod(hash(pk), numBuckets)`. Merges are idempotent and
  * last-write-wins by PK, deletes remove the row — the replay guarantee
  * the reference gets from UPSERT row types
  * (`S4HanaProducer.java:434-441`). Every merge stages its batch as one
  * delta generation; the [[WritePolicy]] picks when that delta is folded:
  * at read (merge-on-read, the default) or at once, into a rewrite of the
  * touched buckets (copy-on-write). Both fold through the one LWW fold, so
  * they converge to identical snapshots for the same batch sequence by
  * construction (spec-pinned), and both publish through the one protocol
  * below.
  *
  * It commits WITHOUT a single rename. A staged rename swap is correct
  * only where rename is atomic (local POSIX, HDFS); an object store
  * renames by copy+delete, which tears every one of its crash-ordering
  * arguments. This class uses the commit protocol object stores actually
  * support — the Iceberg/Delta shape:
  *
  *  - DATA is immutable: every write lands in a fresh `gen-<v>/` directory
  *    that no later operation ever mutates, moves, or overwrites. Crash
  *    mid-write leaves an unreferenced (invisible) partial dir, never a
  *    torn referenced one.
  *  - VISIBILITY is one small file: `manifest-<v%012d>.json` names, for
  *    each bucket, the base generation dir that serves it, plus the
  *    ordered delta dirs. Readers list manifests and serve the HIGHEST
  *    COMPLETE version. Publishing a commit = putting ONE new manifest
  *    object; nothing is renamed, nothing existing is touched.
  *  - TORN-WRITE DEFENSE: a real object store makes the manifest PUT
  *    atomic; a plain filesystem does not, so each manifest embeds a
  *    SHA-256 of its own payload and readers SKIP any manifest whose
  *    digest fails — a torn newest manifest degrades to "commit never
  *    happened" (the previous version serves), never to a torn store.
  *    The spec drives exactly this: truncated/corrupted newest manifests
  *    at every length.
  *  - GC is safe-by-construction: only generation dirs referenced by NO
  *    retained manifest are deleted, and deletion happens strictly AFTER
  *    the new manifest is readable, so a crash anywhere in GC leaves
  *    garbage (retryable), never a dangling reference. `keepVersions`
  *    manifests are retained — they ARE the time-travel history
  *    ([[snapshotAt]]), exactly Iceberg's snapshot-expiry model.
  *
  * Semantics: last-write-wins by (pk, max seq), deletes as 'D' marker
  * rows folded at read, bucket-pruned point lookups, bucket-selective
  * rewrites (only the buckets a batch or the deltas touch get a new base
  * generation; untouched buckets keep their old gen dirs byte-identical —
  * "don't rewrite" here means "reference the same immutable dir again").
  * A copy-on-write merge is that rewrite with its batch staged as the one
  * delta. Column
  * rename/drop and clustered compaction are all-bucket rewrites whose new
  * schema rides the same manifest PUT, so no crash point shows new-shape
  * data through an old-shape schema.
  *
  * Multi-writer safety is OPTIMISTIC CONCURRENCY on the manifest slot
  * (the Iceberg commit model): each commit claims its version number with
  * a conditional create — the local-FS `CREATE_NEW` here, the
  * `If-None-Match` PUT on S3 — so two writers racing the same next
  * version produce exactly one winner; the loser throws
  * [[CommitConflictException]] with nothing published (its generation dir
  * is reclaimed) and rebases on top of the winner's manifest when its
  * inputs are still what that manifest serves: a delta append always, a
  * copy-on-write merge when its touched buckets' base entries are
  * unchanged and the manifest has no deltas. Otherwise the conflict
  * surfaces. The reference's topology is single-writer anyway (one
  * producer per replica, `S4HanaProducer.java:392-469`); the fence turns
  * a misconfigured second writer from silent corruption into a loud
  * error.
  */
/** @param orphanGraceMs unreferenced generation dirs younger than this are
  *   NOT garbage-collected: an unreferenced dir may be a CONCURRENT
  *   writer's in-flight commit (its manifest put comes after the data
  *   write), and sweeping it mid-write corrupts that writer's job — found
  *   by the race spec. Age is the only signal an object store offers for
  *   the distinction (Iceberg's remove_orphan_files ships the same
  *   defense, defaulting to days); a crashed writer's orphan just waits
  *   out the grace before the next GC reclaims it. A writer that LOSES
  *   the commit race deletes its own generation immediately, and a
  *   generation that only manifests past retention name is deleted by
  *   the first GC that sees them expired — the grace only covers crashes. Age
  *   is the NEWEST mtime in the dir tree (a dir's own mtime is set at job
  *   START, and a long parquet write would look stale by its root alone —
  *   review r10), and the default is a day, sized for multi-hour backfill
  *   writes at the 100 TB target, not for laptop jobs.
  * @param writePolicy when [[merge]]'s staged delta is folded: at read
  *   (merge-on-read, the default) or at once, into a rewrite of the
  *   touched buckets (copy-on-write). Every other operation is the same
  *   under both.
  */
class ManifestUpsertStore(spark: SparkSession, dir: String,
    pkCols: Seq[String], numBuckets: Int = 16, keepVersions: Int = 3,
    orphanGraceMs: Long = 24 * 3600 * 1000L,
    writePolicy: WritePolicy = WritePolicy.MergeOnRead)
    extends KeyedUpsertStore {

  // retention counts COMPLETE manifests (torn slot-burners are ignored by
  // gc()'s window), so >= 2 simply guarantees one version of time-travel
  // slack behind the serving manifest at all times
  require(keepVersions >= 2, s"keepVersions must be >= 2, got $keepVersions")

  private val bucketCol = "_bucket"
  private val seqCol = "_graft_seq"

  private def root = new java.io.File(dir)

  // ── Manifest encoding ────────────────────────────────────────────────────

  /** @param base   bucket id → generation dir name serving that bucket
    * @param deltas (seq, generation dir name), ascending
    * @param floorSeq highest delta seq ever folded into the base — the
    *   compaction floor the next merge's seq must clear. Recorded IN the
    *   manifest (review r10): deriving it from `-compactN-` generation
    *   names regressed when a compaction's touched buckets were all
    *   emptied by deletes (no surviving compact-tagged gen → floor fell
    *   back to a stale value → the next merge REUSED an already-folded
    *   seq, silently corrupting changesBetween and LWW ties).
    * @param rewrite this commit replaced base data with no delta naming
    *   its changes — a (re-)initialization, a copy-on-write merge, a column
    *   rename/drop or a clustered compaction — so the change feed cannot
    *   cross it. Recorded in the manifest rather than read off generation
    *   names: a rewrite that empties every bucket it touches leaves no
    *   generation to name it.
    */
  private case class Manifest(version: Long, schemaJson: String,
      base: Map[Int, String], deltas: Seq[(Long, String)],
      floorSeq: Long = 0L, rewrite: Boolean = false)

  /** The store's manifest history on the shared publish core
    * ([[graft.util.ManifestLog]]: digest envelope, single-listing state,
    * conditional PUT, retry loop, GC). Only the fields are the store's.
    */
  private val manifests = new graft.util.ManifestLog[Manifest](root, keepVersions,
      orphanGraceMs) {
    protected def encodeFields(m: Manifest,
        node: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
      node.put("version", m.version)
      node.put("floorSeq", m.floorSeq)
      node.put("rewrite", m.rewrite)
      node.put("schema", m.schemaJson)
      val b = node.putObject("base")
      m.base.toSeq.sortBy(_._1).foreach { case (k, v) => b.put(k.toString, v) }
      val d = node.putArray("deltas")
      m.deltas.foreach { case (s, g) =>
        val e = d.addObject(); e.put("seq", s); e.put("gen", g)
      }
    }
    protected def decodeFields(
        n: com.fasterxml.jackson.databind.JsonNode): Manifest = {
      val bn = n.get("base")
      val base = {
        val it = bn.fieldNames()
        val buf = scala.collection.mutable.Map.empty[Int, String]
        while (it.hasNext) { val k = it.next(); buf(k.toInt) = bn.get(k).asText() }
        buf.toMap
      }
      val deltas = (0 until n.get("deltas").size()).map { i =>
        val e = n.get("deltas").get(i)
        (e.get("seq").asLong(), e.get("gen").asText())
      }
      val version = n.get("version").asLong()
      Manifest(version, n.get("schema").asText(), base, deltas,
        Option(n.get("floorSeq")).map(_.asLong()).getOrElse(0L),
        // a manifest without the field predates it and can record only
        // one kind of rewrite: an initialization, whose generation was
        // then named `gen-<version>-init-<nonce>`
        Option(n.get("rewrite")).map(_.asBoolean())
          .getOrElse(base.values.exists(_.startsWith(s"gen-$version-init-"))))
    }
    protected def versionOf(m: Manifest): Long = m.version
    protected def generationsOf(m: Manifest): Iterable[String] =
      m.base.values ++ m.deltas.map(_._2)
    protected def isGeneration(name: String): Boolean = name.startsWith("gen-")
    override protected def betweenGcDeletes(): Unit =
      ManifestUpsertStore.this.betweenGcDeletes()
  }

  private def noManifest = new IllegalStateException(
    s"store $dir has no complete manifest (not initialized, or every " +
      "manifest is torn)")

  /** The newest COMPLETE manifest: torn/corrupt ones (a crashed or
    * in-flight PUT) are skipped, older complete versions serve.
    */
  private def currentManifest(): Manifest =
    manifests.current().getOrElse(throw noManifest)

  private def manifestAt(version: Long): Manifest =
    manifests.at(version).getOrElse(throw new IllegalStateException(
      s"store $dir: version $version is not retained (keepVersions=" +
        s"$keepVersions) or never existed"))

  // ── Generations ──────────────────────────────────────────────────────────

  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn(bucketCol, pmod(hash(pkCols.map(col): _*), lit(numBuckets)))

  /** `df` with its key columns cast to the store's key types before it is
    * bucketed: `hash(5)` ≠ `hash(5L)`, and the bucket scan declares the
    * bucket of the STORED types, so a batch keyed by a narrower type must
    * not land its rows in another bucket.
    */
  private def storedKeys(df: DataFrame, m: Manifest): DataFrame = {
    val schema = schemaOf(m)
    pkCols.foldLeft(df) { (d, c) =>
      schema.fields.find(_.name.equalsIgnoreCase(c))
        .fold(d)(f => d.withColumn(c, col(c).cast(f.dataType)))
    }
  }

  private def rmTree(f: java.io.File): Unit = graft.util.Fs.rmTree(f)

  /** The shared GC pass ([[graft.util.ManifestLog.gc]]): the generations
    * only manifests past `keepVersions` name first (at once: every
    * copy-on-write merge and compaction retires the buckets it rewrites,
    * and waiting out the grace on those would keep a day of rewrites on
    * disk), then those manifests, then aged orphans, torn debris and
    * staging files.
    */
  private def gc(): Unit = manifests.gc()

  /** Test seam: runs inside GC after the generations only manifests past
    * retention name are deleted and before those manifests are. No-op in
    * production; the GC spec crashes there.
    */
  protected def betweenGcDeletes(): Unit = {}

  private def schemaOf(m: Manifest): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  // ── Public surface ───────────────────────────────────────────────────────

  def exists: Boolean = manifests.manifestFiles().nonEmpty

  def currentVersion: Long = currentManifest().version

  /** Feed position = manifest version (see [[KeyedUpsertStore]]). */
  def feedVersion: Long = currentVersion

  def deltaCount: Int = currentManifest().deltas.size

  /** Bootstrap from an initial load: one generation for all buckets. A
    * RE-initialize over a live store publishes as the NEXT version — one
    * atomic cutover, old history expiring through normal retention — never
    * a lower version number that the highest-complete-wins reader would
    * silently ignore (the failure mode a wholesale overwrite invites).
    */
  def initialize(initialLoad: DataFrame): Unit = {
    root.mkdirs()
    val v = manifests.state()._2
    val data = withBucket(initialLoad.drop(Cdc.ChangeType, Cdc.TransactionId))
      .repartition(col(bucketCol))
    val gen = graft.util.ManifestLog.generationName("init")
    graft.util.Fs.writeParquet(data, new java.io.File(root, gen).getPath,
      bucketCol)
    // data durable BEFORE the commit record references it (ADVICE r10)
    graft.util.Fs.fsyncTree(new java.io.File(root, gen))
    val buckets = bucketDirsOf(gen)
    manifests.put(Manifest(v, data.schema.json,
      buckets.map(_ -> gen).toMap, Seq.empty, rewrite = true))
    gc()
  }

  /** Test seam: runs between a commit attempt's (manifest, slot) snapshot
    * and its conditional PUT — the window a concurrent commit must land in
    * to force the retry/rebase path. No-op in production; the concurrency
    * spec overrides it to inject a competing writer DETERMINISTICALLY
    * (thread-timing races exercise the same path only probabilistically).
    */
  protected def beforeCommitAttempt(): Unit = {}

  /** Test seam: runs before the commit loop's FIRST (manifest, slot)
    * snapshot — the fold/write window a competitor must land in to
    * exercise first-attempt validation (no slot conflict ever fires
    * there; only `validate` can catch it).
    */
  protected def beforeCommitLoop(): Unit = {}

  /** The store's commit on the shared retry loop
    * ([[graft.util.ManifestLog.commit]]): `attempt(current, slot)` PUTs the
    * next manifest on top of `current`, after `validate` REVALIDATES the
    * state it would rebase onto (false aborts — e.g. a compaction whose
    * folded inputs were themselves compacted away). Every state is
    * validated, the first included: a compaction's fold inputs were
    * snapshotted BEFORE its (long) fold/write, and a competitor that
    * committed inside that window is already visible in the first
    * listing, where no slot conflict would ever fire (r11 adversarial
    * review). An abort, or a conflict past the retry bound, runs `onAbort`
    * (which reclaims the staged generation) and surfaces as
    * [[CommitConflictException]].
    */
  private def commitWithRetry(attempt: (Manifest, Long) => Unit)(
      validate: Manifest => Boolean)(onAbort: => Unit): Unit = {
    beforeCommitLoop()
    try manifests.commit { (m, slot) =>
      beforeCommitAttempt()
      val cur = m.getOrElse(throw noManifest)
      if (!validate(cur)) throw new graft.util.ManifestLog.InputsReplaced(
        s"store $dir: commit inputs were invalidated by a concurrent " +
          "commit (fold inputs replaced) — re-read and re-run")
      attempt(cur, slot)
    } catch { case e: CommitConflictException => onAbort; throw e }
  }

  private def bucketDirsOf(gen: String): Seq[Int] =
    Option(new java.io.File(root, gen).listFiles((f: java.io.File) =>
      f.getName.startsWith(s"$bucketCol=")))
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName.stripPrefix(s"$bucketCol=").toInt).toSeq

  /** Apply one folded CDC batch (`_change_type` 'A'/'D' +
    * `_transactionid` + full row). Both policies stage the batch the same
    * way, as ONE bucket-aligned delta generation; the [[WritePolicy]]
    * decides only when that delta is folded. Merge-on-read makes it
    * durable and publishes it as a delta, folded at read and by
    * [[compact]]. Copy-on-write folds it at once ([[foldStaged]]). Crash
    * before the manifest put → the new generation is unreferenced, the
    * batch invisible, and the (un-advanced) upstream ledger replays it —
    * idempotent under LWW.
    *
    * ADDITIVE SCHEMA EVOLUTION: a batch may carry columns the store has
    * never seen (the reference recreates its objects when a source table
    * changes shape, `S4HanaProducer.java:57-61`) or omit columns the store
    * has. Both directions fill with null — the engine's all-nullable
    * contract (`S4HanaTableMapping.java:583`) — and new columns persist
    * into the store schema; untouched buckets simply read the new column
    * as null. Columns are never dropped by omission: deletion of a column
    * is a rewrite ([[dropColumn]]), not a merge.
    */
  def merge(folded: DataFrame): Unit = {
    val m0 = currentManifest()
    val data = withBucket(storedKeys(folded.drop(Cdc.TransactionId), m0))
      .repartition(col(bucketCol))
    val gen = graft.util.ManifestLog.generationName("delta")
    val genDir = new java.io.File(root, gen)
    val tWrite = System.nanoTime()
    graft.util.Fs.writeParquet(data, genDir.getPath, bucketCol)
    // data durable BEFORE the commit record references it (ADVICE r10); a
    // copy-on-write merge's staged delta is never referenced
    if (writePolicy == WritePolicy.MergeOnRead) graft.util.Fs.fsyncTree(genDir)
    StoreTelemetry.addPhase("merge_write", (System.nanoTime() - tWrite) / 1e9)
    val touched = bucketDirsOf(gen).toSet
    if (touched.isEmpty) { rmTree(genDir); return }
    writePolicy match {
      case WritePolicy.CopyOnWrite =>
        try foldStaged(m0, gen, touched, data.schema) finally rmTree(genDir)
      case WritePolicy.MergeOnRead =>
        val tSwap = System.nanoTime()
        // A merge is ALWAYS rebasable (VERDICT r10 #1): the generation dir
        // is immutable and carries no seq — the manifest entry assigns it —
        // so a losing writer simply recomputes (seq, version, schema)
        // against the winner's manifest and re-points the SAME dir. Deltas
        // append; nothing to revalidate.
        commitWithRetry { (m, slot) =>
          manifests.put(Manifest(slot, widenedSchema(m, data.schema), m.base,
            m.deltas :+ (nextSeq(m) -> gen), floorSeq = m.floorSeq))
        }(validate = _ => true)(onAbort = rmTree(genDir))
        gc()
        StoreTelemetry.addPhase("swap", (System.nanoTime() - tSwap) / 1e9)
    }
  }

  /** The seq of the next delta: above both the live deltas AND the
    * manifest-recorded compaction floor — so an all-deletes compaction (no
    * surviving compact gen) cannot make a later merge reuse an
    * already-folded seq.
    */
  private def nextSeq(m: Manifest): Long =
    (m.deltas.map(_._1) :+ m.floorSeq).max + 1

  /** The manifest schema widened by `incoming`'s new columns (bucket column
    * kept last), or unchanged when it brings none.
    */
  private def widenedSchema(m: Manifest,
      incoming: org.apache.spark.sql.types.StructType): String = {
    val existing = schemaOf(m)
    val newFields = incoming.fields.filter(f =>
      f.name != Cdc.ChangeType && !existing.fieldNames.contains(f.name))
    if (newFields.isEmpty) m.schemaJson
    else org.apache.spark.sql.types.StructType(
      existing.fields.filterNot(_.name == bucketCol) ++ newFields :+
        existing(existing.fieldIndex(bucketCol))).json
  }

  /** COW merge: the touched buckets' base ∪ the `staged` delta, folded by
    * [[folded]] — the fold every read and compaction runs, so nothing is
    * shuffled — become ONE fresh generation, and the manifest put
    * re-points only those buckets and carries no delta. The staged delta
    * takes the seq the next delta would, above every base row. A bucket
    * whose rows were all deleted leaves the base map.
    *
    * Rebase: a commit that loses the slot race re-points on top of the
    * winner only if the base entries of its touched buckets are unchanged
    * and the manifest has no deltas (its fold read exactly those inputs);
    * otherwise it throws [[CommitConflictException]] and reclaims its
    * generation. The same check runs on the first attempt, so a
    * competitor that committed during the fold is caught too.
    */
  private def foldStaged(m0: Manifest, staged: String, touched: Set[Int],
      batch: org.apache.spark.sql.types.StructType): Unit = {
    // evolution is silent null-filling, so make it OBSERVABLE: a renamed
    // upstream column looks exactly like one dropped + one added
    val stored = schemaOf(m0).fieldNames.toSet
    val incoming = batch.fieldNames.toSet - Cdc.ChangeType
    val (added, omitted) = (incoming -- stored, stored -- incoming)
    if (added.nonEmpty || omitted.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(classOf[ManifestUpsertStore]).warn(
        s"schema evolution in $dir: batch adds ${added.toSeq.sorted} / " +
          s"omits ${omitted.toSeq.sorted} vs the store schema — " +
          "omitted columns null-fill; verify this is not a renamed column")
    val merged = folded(m0.copy(schemaJson = widenedSchema(m0, batch),
      base = m0.base.filter(kv => touched(kv._1)),
      deltas = Seq(nextSeq(m0) -> staged)), bucket = None)
    writeAndRepoint(merged, "cow", Some(touched), rewrite = true,
      Some(("merge_write", "swap")))(
      m => m.copy(schemaJson = widenedSchema(m, batch))) { next =>
      next.deltas.isEmpty &&
        touched.forall(b => next.base.get(b) == m0.base.get(b))
    }
  }

  /** The commit sequence of every base rewrite (a compaction, a
    * copy-on-write merge, a clustered compaction, a column rename/drop):
    * write `data` (bucket column last, a [[folded]] frame, so each bucket
    * already sits in one task) as ONE fresh generation, durable before any
    * manifest names it (ADVICE r10), then publish a manifest that
    * re-points the buckets the generation holds.
    * `touched` names the buckets the rewrite replaces (None: every
    * bucket); those it left empty drop out of the base map, and an empty
    * generation is removed before the commit. `next` sets the schema,
    * deltas and floor on top of the manifest the attempt commits over;
    * `rewrite` marks a commit no delta describes (see [[Manifest]]).
    * `validate` guards every attempt (see [[commitWithRetry]]); an abort
    * reclaims the generation. `phases` names the write and swap timers.
    */
  private def writeAndRepoint(data: DataFrame, tag: String,
      touched: Option[Set[Int]], rewrite: Boolean,
      phases: Option[(String, String)])(next: Manifest => Manifest)(
      validate: Manifest => Boolean): Unit = {
    def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9
    val gen = graft.util.ManifestLog.generationName(tag)
    val genDir = new java.io.File(root, gen)
    val tWrite = System.nanoTime()
    graft.util.Fs.writeParquet(data, genDir.getPath, bucketCol)
    graft.util.Fs.fsyncTree(genDir)
    phases.foreach { case (w, _) =>
      StoreTelemetry.addPhase(w, secondsSince(tWrite)) }
    val survivors = bucketDirsOf(gen).map(_ -> gen).toMap
    if (survivors.isEmpty) rmTree(genDir)
    val tSwap = System.nanoTime()
    commitWithRetry { (m, slot) =>
      val kept = touched.fold(Map.empty[Int, String])(m.base -- _)
      manifests.put(next(m).copy(version = slot, base = kept ++ survivors,
        rewrite = rewrite))
    }(validate)(onAbort = rmTree(genDir))
    gc()
    phases.foreach { case (_, sw) =>
      StoreTelemetry.addPhase(sw, secondsSince(tSwap)) }
  }

  /** The `.parquet` files of bucket `b` in generation `gen` (none when the
    * generation holds no rows of that bucket).
    */
  private def bucketFiles(gen: String, b: Int): Seq[java.io.File] =
    Option(new java.io.File(root, s"$gen/$bucketCol=$b").listFiles(
      (f: java.io.File) => f.getName.endsWith(".parquet")))
      .toSeq.flatten.sortBy(_.getName)

  /** `base` ∪ `deltas` of `buckets` as ONE hash-partitioned scan,
    * unfolded: input partition `i` of `k` reads exactly the files of the
    * buckets `b ≡ i (mod k)` — each one's base file and its files in every
    * delta — so no exchange has to bring a bucket's rows together. Every
    * generation is written `partitionBy(_bucket)` with the bucket
    * `pmod(hash(pk), numBuckets)` of the stored key types, and `k` divides
    * `numBuckets`, so every row of partition `i` has
    * `pmod(hash(pk), k) == i`: the scan declares `HashPartitioning(pk, k)`,
    * which is Spark's own partition-id expression — true by construction.
    * `k` is the smallest divisor of `numBuckets` that gives every core a
    * partition (`numBuckets` when none does). More partitions than cores
    * add only per-task cost (a rewrite commits one task per partition): at
    * 32 buckets on 4 cores, one partition per bucket took twice as long to
    * compact. A scan of one bucket is one partition. Rows carry the
    * payload, `_change_type` (null in base files, which store none),
    * `_bucket`, and `_graft_seq` (0 for base files, the delta's seq
    * otherwise); the last two are per-file constants, and the schema comes
    * from the manifest, so nothing is inferred. Its `sizeInBytes` is the
    * bytes of its files.
    */
  private def bucketScan(schema: org.apache.spark.sql.types.StructType,
      base: Map[Int, String], deltas: Seq[(Long, String)],
      buckets: Set[Int]): DataFrame = {
    import org.apache.spark.sql.graftbridge.PartitionedParquetScan
    import org.apache.spark.sql.types._
    val foreign = buckets.filter(b => b < 0 || b >= numBuckets)
    require(foreign.isEmpty, s"store $dir holds buckets " +
      s"${foreign.toSeq.sorted.mkString(", ")}, outside numBuckets=$numBuckets")
    def files(gen: String, b: Int, seq: Long) = bucketFiles(gen, b).map(f =>
      PartitionedParquetScan.ScanFile(f.getPath, f.length(), Seq[Any](b, seq)))
    val cores = spark.sparkContext.defaultParallelism
    val k = (1 to numBuckets).find(d => numBuckets % d == 0 && d >= cores)
      .getOrElse(numBuckets)
    val slots =
      if (buckets.size == 1) Seq(buckets.toSeq)
      else (0 until k).map(i => (i until numBuckets by k).filter(buckets))
    PartitionedParquetScan(spark,
      StructType(schema.fields.filterNot(_.name == bucketCol) :+
        StructField(Cdc.ChangeType, StringType)),
      StructType(Seq(StructField(bucketCol, IntegerType),
        StructField(seqCol, LongType))),
      slots.map(_.flatMap { b =>
        base.get(b).toSeq.flatMap(files(_, b, 0L)) ++
          deltas.flatMap { case (seq, g) => files(g, b, seq) }
      }).toIndexedSeq,
      pkCols)
  }

  /** Last-write-wins by (pk, max `_graft_seq`) over a [[bucketScan]]: one
    * row per key, all of the scan's columns but the seq. Keyed by pk over a
    * scan declared hash-partitioned by pk, the aggregate runs inside the
    * task that reads each bucket and plans no exchange. It groups by (`_bucket`, pk),
    * which groups exactly as by pk (the bucket is a function of the key),
    * and passes those grouping columns through: its output is then sorted
    * by bucket, the order the partitioned writer requires, so a rewrite
    * sorts each bucket once, not a second time for the write.
    */
  private def lww(rows: DataFrame): DataFrame = {
    val keys = bucketCol +: pkCols
    val rest = rows.columns.filterNot(c =>
      c == seqCol || keys.exists(_.equalsIgnoreCase(c)))
    rows.groupBy(keys.map(col): _*)
      .agg(max_by(struct(rest.map(col).toIndexedSeq: _*), col(seqCol)).alias("_r"))
      .select(keys.map(col) ++ rest.map(c => col("_r").getField(c).alias(c)): _*)
  }

  /** Base ∪ deltas folded LWW by (pk, max seq), resolved through the
    * manifest, deletes dropped, in the manifest's column order (bucket
    * column last). The buckets some delta touches are ONE [[bucketScan]]
    * folded by [[lww]]: each bucket is read and folded within one task,
    * and nothing is shuffled. Base buckets no delta touches bypass the
    * fold as a plain parquet read (one per generation, pruned to those
    * buckets by a partition filter), which keeps filter pushdown and
    * column pruning for them. `bucket` narrows every read to one bucket
    * (a point lookup).
    *
    * Every rewrite writes this frame `partitionBy(_bucket)`. A folded
    * bucket's rows are all in one task, in bucket order, so it lands one
    * file; a bypassed bucket's file is one task too unless it is larger
    * than a read split (`spark.sql.files.maxPartitionBytes`), in which case
    * its rows land one file per split — in the same bucket dir, so the
    * layout holds.
    */
  private def folded(m: Manifest, bucket: Option[Int]): DataFrame = {
    val schema = schemaOf(m)
    def readGen(gen: String, buckets: Set[Int]): DataFrame =
      spark.read.schema(schema).parquet(new java.io.File(root, gen).getPath)
        .where(col(bucketCol).isin(buckets.toSeq.sorted: _*))
    val touched: Set[Int] = m.deltas.flatMap { case (_, g) => bucketDirsOf(g) }
      .toSet.filter(t => bucket.forall(_ == t))
    val bypassed = bucket.fold(m.base.keySet)(Set(_).intersect(m.base.keySet)) -- touched
    val plain = bypassed.groupBy(m.base).toSeq.sortBy(_._1)
      .map { case (g, bs) => readGen(g, bs) }
    val foldedTouched = if (touched.isEmpty) None else Some(
      lww(bucketScan(schema, m.base, m.deltas, touched))
        .where(coalesce(col(Cdc.ChangeType), lit(Cdc.Upsert)) === Cdc.Upsert)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*))
    (foldedTouched ++ plain).reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
  }

  /** The raw [[bucketScan]] of every bucket of a retained version, for
    * specs that check the scan's declared partitioning row by row.
    */
  private[streaming] def bucketScanAt(version: Long): DataFrame = {
    val m = manifestAt(version)
    bucketScan(schemaOf(m), m.base, m.deltas, (0 until numBuckets).toSet)
  }

  def snapshot(): DataFrame =
    folded(currentManifest(), bucket = None).drop(bucketCol)

  /** Compact when the delta debt reaches `maxDeltas` (the cadence policy a
    * streaming job wants inline: every read fold unions one frame per
    * delta, so unbounded debt grows the read plan without bound). Returns
    * whether a compaction ran.
    */
  def compactIfNeeded(maxDeltas: Int = 16): Boolean = {
    require(maxDeltas > 0, s"maxDeltas must be positive, got $maxDeltas")
    val due = deltaCount >= maxDeltas
    if (due) compact()
    due
  }

  /** Byte-ratio sibling of [[compactIfNeeded]]: compact when delta bytes
    * reach `maxRatio` of base bytes, from the manifest's own references —
    * a directory listing, no data read. The count heuristic misses the
    * case the ratio catches: a few huge backfill deltas cost a read fold
    * as much as many small ones. An empty base with any delta bytes is
    * always due.
    */
  def compactIfDeltaRatio(maxRatio: Double = 0.2): Boolean = {
    require(maxRatio > 0, s"maxRatio must be positive, got $maxRatio")
    val m = currentManifest()
    def bytesOf(gen: String, bucket: Option[Int]): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      bucket match {
        case Some(b) => walk(new java.io.File(root, s"$gen/$bucketCol=$b"))
        case None => walk(new java.io.File(root, gen))
      }
    }
    // base bytes count each bucket under its SERVING gen only (a compact
    // gen dir may hold buckets that a later compact superseded)
    val base = m.base.toSeq.map { case (b, g) => bytesOf(g, Some(b)) }.sum
    val delta = m.deltas.map { case (_, g) => bytesOf(g, None) }.sum
    val due = delta > 0 && (base == 0L || delta.toDouble / base >= maxRatio)
    if (due) compact()
    due
  }

  /** Time travel across RETAINED manifests — versions are the history. */
  def snapshotAt(version: Long): DataFrame =
    folded(manifestAt(version), bucket = None).drop(bucketCol)

  /** CHANGE DATA FEED between two retained versions: envelope rows
    * (`_change_type` + payload) whose LWW apply takes `snapshotAt(from)`
    * to `snapshotAt(to)` (the Delta-CDF / `table_changes` analog),
    * resolved through the version history: every retained manifest in
    * `(from, to]` names the
    * delta generation its commit added, and GC keeps those generations
    * alive exactly as long as a referencing manifest is retained — so the
    * feed window IS the manifest retention window (`keepVersions`), and a
    * range beyond it refuses loudly. So does a range that spans a base
    * rewrite: a re-initialization, a copy-on-write merge, a column
    * rename/drop or a clustered compaction. Under copy-on-write every
    * merge is one, so the only readable range is the empty one at the
    * current version.
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    require(fromVersion <= toVersion,
      s"empty range: $fromVersion > $toVersion")
    // ONE listing pass, each manifest decoded once (review r10 — the
    // per-version manifestAt loop re-read and re-digested every file
    // twice per version in the range). Version-number GAPS are expected:
    // torn puts burn their slot (see graft.util.ManifestLog.put), so the range resolves
    // over the retained COMPLETE manifests whose version falls inside it.
    val retained = manifests.complete()
    def at(v: Long): Manifest = retained.find(_.version == v)
      .getOrElse(throw new IllegalStateException(
        s"store $dir: version $v is not retained (keepVersions=" +
          s"$keepVersions) or never committed"))
    val mTo = at(toVersion)
    val mFrom = at(fromVersion)
    val inRange = retained
      .filter(mf => mf.version > fromVersion && mf.version <= toVersion)
    val schema = schemaOf(mTo)
    val withEnvelope = StructType(
      schema.fields.filterNot(_.name == bucketCol) :+
        StructField(Cdc.ChangeType, StringType))
    // the deltas ADDED in the range: union of retained manifests' delta
    // lists in (from, to], minus what `from` already had. Seqs are unique
    // per delta, so distinct-by-seq reconstructs the exact add order even
    // across compactions inside the range (a compact drops deltas from
    // LATER manifests but the earlier retained manifests still name them,
    // and their gen dirs survive GC by those references).
    // a REWRITE inside the range starts a new history: a re-initialization
    // (its init generation resets the delta sequence), a copy-on-write
    // merge, a column rename/drop or a clustered compaction replaces base
    // data with no delta naming its changes — even when it empties every
    // bucket it touches and so names no new generation. A per-key feed
    // across one is unavailable — refuse rather than silently skip those
    // changes or mix sequences from two histories (seq collisions would
    // drop post-init deltas)
    val rewrites = inRange.filter(_.rewrite).map(_.version)
    if (rewrites.nonEmpty) throw new IllegalStateException(
      s"store $dir: range ($fromVersion, $toVersion] spans a rewrite " +
        s"(version ${rewrites.sorted.mkString(", ")}) — the feed cannot " +
        "relate keys across it; read the full snapshot")
    val atFrom = mFrom.deltas.map(_._1).toSet
    val added = inRange.flatMap(_.deltas)
      .distinct
      .filterNot { case (s, _) => atFrom.contains(s) }
      .sortBy(_._1)
    if (added.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withEnvelope)
    // the added deltas alone, one bucket scan folded by key: no exchange
    lww(bucketScan(schema, Map.empty, added, (0 until numBuckets).toSet))
      .select(withEnvelope.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** POINT LOOKUP: the current row(s) for one primary key — the
    * serving-path read. `snapshot().where(pk = v)` cannot prune (it drops
    * the bucket column before the filter exists); here the key's bucket is
    * computed up front and prunes both the base generation read and the
    * delta list, so at 100 TB it reads one bucket's files, not the table.
    * Values cast to the stored key types first — `hash(5)` ≠ `hash(5L)`,
    * and a silently mis-typed probe would scan the right bucket and find
    * nothing.
    */
  def lookup(key: Any*): DataFrame = {
    require(key.length == pkCols.length,
      s"lookup needs ${pkCols.length} key value(s), got ${key.length}")
    val m = currentManifest()
    val schema = schemaOf(m)
    val typedKey = pkCols.zip(key).map { case (c, v) =>
      lit(v).cast(schema(schema.fieldIndex(c)).dataType)
    }
    // job-free driver-side bucket probe (r20) — see bucketOf
    val b = ManifestUpsertStore.bucketOf(spark, typedKey, numBuckets)
    val pred = pkCols.zip(typedKey)
      .map { case (c, v) => col(c) === v }.reduce(_ && _)
    folded(m, bucket = Some(b)).where(pred).drop(bucketCol)
  }

  /** Bucket-selective compaction, manifest-style: fold ONLY the buckets
    * the deltas touch into fresh generation dirs; untouched buckets keep
    * their existing immutable dirs — the new manifest simply references
    * them again (zero IO for the untouched part, not even a listing of
    * their files). Crash before the manifest put → old manifest serves
    * base+deltas unchanged. A store without deltas (every copy-on-write
    * store) has nothing to fold. The fold is [[folded]] over the touched
    * buckets: each bucket's base ∪ deltas is read and folded within one
    * task, so the compaction shuffles nothing, and the partitioned write
    * lands one file per touched bucket.
    *
    * @param clusterBy optional CLUSTERED rewrite instead: every bucket of
    *   the folded snapshot is rewritten sorted by these columns within the
    *   bucket, so parquet's per-row-group min/max statistics become
    *   selective and a later `snapshot().where(col < x)` prunes row groups
    *   at the scan (Spark pushes the filter down; unclustered data defeats
    *   the stats because every row group spans the whole value range). The
    *   Delta/Iceberg `OPTIMIZE ... ZORDER BY` analog — pass a single
    *   natural column, or a [[graft.functions.GraftExpressions.zorder2]]
    *   key materialized as a column for two-dimensional locality (keys
    *   must fit [0, 2^31): rank wider domains first, or use
    *   [[graft.functions.GraftExpressions.zorder2_bucketized]] which
    *   auto-pmods with a documented wrap-locality caveat). Snapshot
    *   contents are unchanged; the change feed refuses ranges across it.
    */
  def compact(clusterBy: Seq[String] = Nil): Unit = {
    val tc = System.nanoTime()
    val m0 = currentManifest()
    if (clusterBy.nonEmpty) {
      val schema = schemaOf(m0)
      val missing = clusterBy.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"clusterBy columns not in store schema: ${missing.mkString(", ")}")
      rewriteAll(m0, "cluster", schema, clusterBy)(identity)
      return
    }
    if (m0.deltas.isEmpty) return
    val touched: Set[Int] =
      m0.deltas.flatMap { case (_, g) => bucketDirsOf(g) }.toSet
    val maxSeq = m0.deltas.map(_._1).max
    val foldedSeqs = m0.deltas.map(_._1).toSet
    // the touched-only fold: reuse `folded` restricted per-bucket is
    // wasteful (one plan per bucket); restrict by dropping untouched from
    // the base map instead
    val touchedOnly = m0.copy(base = m0.base.filter(kv => touched(kv._1)))
    // A compaction REBASES like Iceberg's rewrite_data_files (VERDICT r10
    // #1): on losing the slot race it revalidates that its folded inputs
    // are still exactly what the current manifest serves — concurrent
    // MERGES only append deltas, so the rebase keeps the winner's new
    // deltas live on top of our fresh base; a concurrent COMPACT or
    // re-initialize invalidates the fold (our inputs were replaced) and
    // aborts loudly with the staged generation reclaimed.
    writeAndRepoint(folded(touchedOnly, bucket = None),
      s"compact$maxSeq", Some(touched), rewrite = false,
      Some(("compact_write", "compact_swap"))) { m =>
      // the folded maxSeq becomes the recorded compaction floor — survives
      // even when every touched bucket was emptied (review r10)
      m.copy(deltas = m.deltas.filterNot { case (s, _) => foldedSeqs(s) },
        floorSeq = math.max(m.floorSeq, maxSeq))
    } { next =>
      next.base == m0.base && m0.deltas.forall(next.deltas.contains)
    }
    StoreTelemetry.addPhase("compact", (System.nanoTime() - tc) / 1e9)
  }

  /** Rename a non-key column — the explicit rewrite [[merge]]'s additive
    * evolution deliberately refuses to infer (a rename is
    * indistinguishable from drop+add in a batch's shape; guessing either
    * way corrupts data, so the copy-on-write merge only WARNS). An
    * all-bucket rewrite of the folded snapshot whose new schema rides the
    * same manifest put as the data ([[rewriteAll]]).
    */
  def renameColumn(from: String, to: String): Unit = {
    val m0 = currentManifest()
    val cur = schemaOf(m0)
    require(!pkCols.contains(from) && from != bucketCol,
      s"cannot rename key/internal column $from (row identity)")
    // the underscore namespace is the engine's: _change_type/_transactionid
    // are envelope columns every merge re-attaches, _bucket is the layout —
    // a user column shadowing any of them corrupts merges
    require(!to.startsWith("_"),
      s"target $to is in the reserved internal/envelope namespace (_*)")
    require(cur.fieldNames.contains(from), s"no such column: $from")
    require(!cur.fieldNames.contains(to), s"column already exists: $to")
    rewriteAll(m0, "schema", org.apache.spark.sql.types.StructType(
      cur.fields.map(f => if (f.name == from) f.copy(name = to) else f)))(
      _.withColumnRenamed(from, to))
  }

  /** Drop a non-key column — same explicit-rewrite contract as
    * [[renameColumn]] ("deletion of a column is a rewrite, not a merge").
    */
  def dropColumn(name: String): Unit = {
    val m0 = currentManifest()
    val cur = schemaOf(m0)
    require(!pkCols.contains(name) && name != bucketCol,
      s"cannot drop key/internal column $name")
    require(cur.fieldNames.contains(name), s"no such column: $name")
    rewriteAll(m0, "schema", org.apache.spark.sql.types.StructType(
      cur.fields.filterNot(_.name == name)))(_.drop(name))
  }

  /** Rewrite EVERY bucket of `m0`'s folded snapshot into one generation
    * and publish it with `schema` in ONE manifest put, so the data and its
    * schema commit or roll back together: no crash point serves new-shape
    * files through an old-shape schema (which would silently null a
    * renamed column). The snapshot is [[folded]], which shuffles nothing
    * and keeps each bucket in one task (see there for a bypassed bucket
    * larger than a read split), so the write lands one file per bucket.
    * `shape` maps the snapshot onto `schema` (row-wise only: it must not
    * re-partition); `clusterBy` sorts each task, bucket first, which is
    * the order the partitioned writer requires, so it adds no sort of its
    * own that could reorder the rows. The folded deltas' highest seq
    * becomes the floor. The inputs are the whole store, so any concurrent
    * commit aborts the rewrite loudly, its generation reclaimed.
    */
  private def rewriteAll(m0: Manifest, tag: String,
      schema: org.apache.spark.sql.types.StructType,
      clusterBy: Seq[String] = Nil)(shape: DataFrame => DataFrame): Unit = {
    val out = shape(folded(m0, bucket = None))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val sorted =
      if (clusterBy.isEmpty) out
      else out.sortWithinPartitions((bucketCol +: clusterBy).map(col): _*)
    writeAndRepoint(sorted, tag, touched = None, rewrite = true,
      phases = None) { m =>
      m.copy(schemaJson = schema.json, deltas = Seq.empty,
        floorSeq = (m.deltas.map(_._1) :+ m.floorSeq).max)
    }(_.copy(version = m0.version) == m0)
  }
}

object ManifestUpsertStore {
  /** The bucket of one typed probe key, evaluated WITHOUT a Spark job
    * (r20, VERDICT r19 #3): the expression runs over a one-row
    * LocalRelation, which the optimizer's ConvertToLocalRelation rule
    * folds at planning time, so `head()` serves from LocalTableScanExec's
    * driver-side rows — a point lookup no longer schedules a 1-row
    * cluster job just to learn which bucket to prune to (the serving
    * path paid one such job PER PROBE KEY; `q_store_lookup.read` spent
    * most of its wall there). Still evaluated by Spark's own expression
    * engine end to end, so the hash semantics can never drift from the
    * write path's `pmod(hash(pk...))`. Job-freeness is spec-pinned
    * (StoreLookupSpec counts jobs under a listener).
    */
  private[streaming] def bucketOf(spark: SparkSession,
      typedKey: Seq[org.apache.spark.sql.Column], numBuckets: Int): Int = {
    import spark.implicits._
    Seq(0).toDF("_probe")
      .select(pmod(hash(typedKey: _*), lit(numBuckets)).cast("int"))
      .head().getInt(0)
  }
}
