package graft.util

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.streaming.{CommitConflictException, StoreTelemetry}

/** The one publish protocol every durable artifact commits through: the
  * keyed store ([[graft.streaming.ManifestUpsertStore]]), the manifest
  * maintainer ([[graft.streaming.VersionedManifestMaintainer]]), the ANN
  * index ([[graft.operators.AnnIndex]]), the tokenizer store
  * ([[graft.operators.TokenizerStore]]) and the txid ledger
  * ([[graft.streaming.TxidLedger]]). It is the Iceberg/Delta shape,
  * with no rename anywhere, so it is as correct on an object store as on a
  * local file system:
  *
  *  - DATA lands in immutable generation dirs under `dir` that no later
  *    operation mutates, moves or overwrites. A crash mid-write leaves an
  *    unreferenced (invisible) dir.
  *  - VISIBILITY is one small file per version, `manifest-<v%012d>.json`,
  *    naming the generations that serve that version. The zero-padded
  *    number makes name order numeric (the object-store LIST trick).
  *    Readers serve the HIGHEST COMPLETE version.
  *  - TORN-WRITE DEFENSE: each manifest is its JSON payload, a newline and
  *    the SHA-256 of the payload, appended LAST, so any torn prefix fails
  *    validation; [[decode]] returns None for it and readers skip it (the
  *    previous version serves).
  *  - COMMIT is one conditional PUT ([[ConditionalPut.claim]] plus a
  *    directory fsync): two writers racing the same slot produce exactly
  *    one winner, the loser gets [[CommitConflictException]]. An occupied
  *    slot always conflicts, even a torn occupant, so torn slots BURN their
  *    number and version gaps are part of the format. [[commit]] is the
  *    bounded, jittered retry loop callers rebase in.
  *  - RETENTION: readers serve only the newest `keepVersions` complete
  *    manifests ([[complete]], [[at]]); an older complete manifest is
  *    expired even while its file still exists.
  *  - GC ([[gc]]) runs strictly after a publish is readable: the
  *    generations only expired manifests name go first, then those
  *    manifests. A crash between the two leaves expired manifests that
  *    readers already refuse, and the next pass deletes whatever they
  *    still name at once, with no wait for the orphan grace.
  *
  * A caller supplies only its manifest fields ([[encodeFields]] /
  * [[decodeFields]]), the generations a manifest names, which dirs its GC
  * owns, and optionally a predicate of dirs GC must never sweep.
  *
  * @param keepVersions complete manifests retained, newest first: the
  *   time-travel horizon of the store and the maintainer; 1 for artifacts
  *   with no history API (the ANN index, the tokenizer, the txid ledger)
  * @param orphanGraceMs a dir NO manifest ever named is swept only once its
  *   newest mtime is this old: it may be a concurrent writer's in-flight
  *   commit (its PUT comes after its data write). Age is the only signal
  *   an object store offers for that (Iceberg's remove_orphan_files ships
  *   the same defense). Aged torn manifests and staging files sweep the
  *   same way.
  */
abstract class ManifestLog[M](dir: java.io.File, keepVersions: Int,
    orphanGraceMs: Long) {

  require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")

  /** Writes `m`'s fields, in format order, into the payload object. */
  protected def encodeFields(m: M, node: ObjectNode): Unit
  /** Reads a payload back; any exception reads as a torn manifest. */
  protected def decodeFields(n: JsonNode): M
  protected def versionOf(m: M): Long
  /** Generation dir names `m` serves from: GC keeps them while `m` is
    * retained.
    */
  protected def generationsOf(m: M): Iterable[String]
  /** Whether a dir under [[dir]] is a generation this log's GC owns. */
  protected def isGeneration(name: String): Boolean
  /** Generations GC must never sweep, given the serving manifest. */
  protected def pinned(serving: Option[M], name: String): Boolean = false

  /** Test seam: runs inside [[gc]] after the generations only expired
    * manifests name are deleted and before those manifests are — the crash
    * point whose order the GC spec pins. No-op in production.
    */
  protected def betweenGcDeletes(): Unit = {}

  // ObjectMapper is thread-safe after construction and expensive to build
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def sha256(payload: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(payload.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def encode(m: M): Array[Byte] = {
    val node = mapper.createObjectNode()
    encodeFields(m, node)
    val payload = mapper.writeValueAsString(node)
    s"$payload\n${sha256(payload)}\n".getBytes(StandardCharsets.UTF_8)
  }

  /** None when torn or corrupt — the reader's skip signal. */
  private def decode(bytes: Array[Byte]): Option[M] =
    try {
      val s = new String(bytes, StandardCharsets.UTF_8)
      val nl = s.lastIndexOf('\n', s.length - 2)
      if (nl < 0) None
      else {
        val payload = s.substring(0, nl)
        if (s.substring(nl + 1).trim != sha256(payload)) None
        else Some(decodeFields(mapper.readTree(payload)))
      }
    } catch { case _: Exception => None }

  private def manifestName(v: Long): String = f"manifest-$v%012d.json"

  /** Every manifest file, complete or torn, newest first (by NAME). */
  final def manifestFiles(): Seq[java.io.File] =
    Option(dir.listFiles((_: java.io.File, n: String) =>
      n.matches("manifest-\\d{12}\\.json")))
      .getOrElse(Array.empty[java.io.File]).sortBy(_.getName).reverse.toSeq

  /** Reads a manifest file, treating one that VANISHED between list and
    * read (a concurrent GC) exactly like a torn one.
    */
  private def tryRead(f: java.io.File): Option[M] =
    try decode(java.nio.file.Files.readAllBytes(f.toPath))
    catch {
      case _: java.nio.file.NoSuchFileException |
           _: java.io.FileNotFoundException => None
    }

  /** The retained manifests, newest first: the newest `keepVersions`
    * complete ones, the same split [[gc]] makes. An older complete
    * manifest (a GC that crashed before deleting it) is never served: its
    * generations may already be gone.
    */
  final def complete(): Seq[M] =
    manifestFiles().iterator.flatMap(tryRead).take(keepVersions).toSeq

  /** The complete manifest of `version`, if retained. */
  final def at(version: Long): Option[M] =
    complete().find(versionOf(_) == version)

  /** ONE list pass → (newest complete manifest, next free slot). The pair
    * MUST come from a single listing: the conditional PUT only fences
    * commits that target the SAME slot, so a writer that re-listed between
    * reading the manifest and choosing its slot could see an interleaved
    * commit in the second listing only, PUT one slot past it, and silently
    * drop that commit. From one listing, any later commit occupies a slot
    * >= ours, so our PUT conflicts instead. The next slot counts torn
    * files too: they burn their number.
    */
  final def state(): (Option[M], Long) = {
    val files = manifestFiles()
    val next = files.headOption
      .map(_.getName.stripPrefix("manifest-").stripSuffix(".json").toLong + 1)
      .getOrElse(1L)
    (files.iterator.flatMap(tryRead).nextOption(), next)
  }

  final def current(): Option[M] = state()._1

  /** The conditional PUT of `m` at its own version's slot: content-atomic
    * via [[ConditionalPut.claim]], then the directory entry made durable,
    * so a crash cannot lose the just-created name with its bytes forced.
    * Throws [[CommitConflictException]] when the slot is occupied.
    */
  final def put(m: M): Unit = {
    val v = versionOf(m)
    if (!ConditionalPut.claim(new java.io.File(dir, manifestName(v)), encode(m)))
      throw new CommitConflictException(
        s"$dir: version slot $v is occupied (a committed manifest, or a " +
          "crashed writer's torn put) — re-read the current manifest and " +
          "retry on top; torn slots burn their version number")
    Fs.fsyncDir(dir)
  }

  /** Bounded optimistic-commit loop (the Iceberg retry model):
    * `attempt(current, slot)` re-runs its own guards against each re-read
    * state, PUTs at the free slot, and may return without putting (a
    * no-op). On [[CommitConflictException]] the loop counts the conflict,
    * backs off 1–8 ms with jitter so lockstep racers desynchronize,
    * re-reads and retries; past [[ManifestLog.MaxRetries]] the conflict
    * surfaces. An [[ManifestLog.InputsReplaced]] from `attempt` surfaces
    * at once: its inputs are gone, and no retry can bring them back.
    */
  final def commit[A](attempt: (Option[M], Long) => A): A = {
    var (m, slot) = state()
    var retries = 0
    while (true) {
      try return attempt(m, slot)
      catch {
        case e: ManifestLog.InputsReplaced => throw e
        case e: CommitConflictException =>
          // absorbed conflicts are counted so the bench can report
          // contention per entry
          StoreTelemetry.addCount("commit_conflicts")
          retries += 1
          if (retries > ManifestLog.MaxRetries) throw e
          Thread.sleep(1L + scala.util.Random.nextInt(8))
          val (nm, ns) = state(); m = nm; slot = ns
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The one GC pass, every set computed from ONE listing:
    *  1. generation dirs no retained manifest names go FIRST: at once when
    *     expired manifests (complete ones past `keepVersions`) named them
    *     (committed data, never an in-flight write), and only once aged
    *     past the grace when no manifest names them. [[pinned]] dirs are
    *     never swept. Torn files do not count toward retention: a pile of
    *     them must not push the serving manifest out.
    *  2. then the expired manifests;
    *  3. aged torn manifests and aged `.staging-*` files (a crash inside a
    *     [[ConditionalPut.claim]]).
    * A crash between 1 and 2 leaves expired manifests that readers refuse
    * as not retained, and the next pass still knows what they named. The
    * reverse order left generations that no manifest names, which waited
    * out the whole orphan grace. Returns the serving manifest of that same
    * listing.
    */
  final def gc(): Option[M] = {
    val decoded = manifestFiles().map(f => f -> tryRead(f))
    val completeFiles = decoded.collect { case (f, Some(m)) => (f, m) }
    val (retained, expired) = completeFiles.splitAt(keepVersions)
    val referenced = retained.flatMap(x => generationsOf(x._2)).toSet
    val retired = expired.flatMap(x => generationsOf(x._2)).toSet -- referenced
    val serving = retained.headOption.map(_._2)
    val now = System.currentTimeMillis()
    def aged(f: java.io.File): Boolean = now - newestMtime(f) >= orphanGraceMs
    Option(dir.listFiles((f: java.io.File) =>
      f.isDirectory && isGeneration(f.getName)))
      .getOrElse(Array.empty[java.io.File])
      .filterNot(d => referenced(d.getName) || pinned(serving, d.getName))
      .filter(d => retired(d.getName) || aged(d))
      .foreach(Fs.rmTree)
    betweenGcDeletes()
    expired.foreach(x => Fs.rmTree(x._1))
    decoded.collect { case (f, None) => f }.filter(aged).foreach(Fs.rmTree)
    Option(dir.listFiles((_: java.io.File, n: String) =>
      n.startsWith(".staging-")))
      .getOrElse(Array.empty[java.io.File]).filter(aged).foreach(Fs.rmTree)
    serving
  }

  /** Newest mtime anywhere in a tree: an in-flight Spark write keeps
    * touching task files while the root dir's own mtime (set at job start)
    * goes stale.
    */
  private def newestMtime(f: java.io.File): Long =
    math.max(f.lastModified(),
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .map(newestMtime).maxOption.getOrElse(0L))
}

object ManifestLog {

  /** The default orphan grace: a day, sized for multi-hour backfill writes,
    * not for laptop jobs.
    */
  val DefaultOrphanGraceMs: Long = 24 * 3600 * 1000L

  /** Lost slot races a commit absorbs before the conflict surfaces: the
    * bound turns a livelock (writers in perfect lockstep) into a loud
    * error instead of an unbounded spin.
    */
  val MaxRetries = 100

  /** A commit whose inputs a concurrent commit replaced (a rewrite's fold
    * inputs compacted away, say): [[ManifestLog.commit]] surfaces it
    * without retrying.
    */
  class InputsReplaced(msg: String) extends CommitConflictException(msg)

  /** A fresh generation dir name: the tag, then a nonce. The name carries
    * no version: a commit's slot is chosen inside the retry loop and can
    * move under rebase, so the manifest entry is the sole authority
    * (ADVICE r11). The nonce is a FULL 122-bit UUID: generation dirs are
    * written with mode("overwrite"), so a collision with a live generation
    * would silently clobber committed data — at 32 bits a busy store
    * crosses birthday odds around ~2^16 commits (ADVICE r12) — and
    * concurrent writers never collide on a data write.
    */
  def generationName(tag: String): String =
    s"gen-$tag-" + java.util.UUID.randomUUID().toString

  /** Refuses a path that holds a pre-manifest artifact layout — a
    * `_meta.json` and no `manifest-*` — so it is never read as empty and
    * never overwritten.
    */
  def refuseLegacyLayout(dir: java.io.File, what: String, fix: String): Unit =
    if (new java.io.File(dir, "_meta.json").exists() &&
        !Option(dir.list()).exists(_.exists(_.startsWith("manifest-"))))
      throw new IllegalStateException(
        s"$what at $dir has the pre-manifest layout (_meta.json, no " +
          s"manifest-*); it is no longer readable or writable — $fix")
}
