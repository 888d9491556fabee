package graft.operators

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.{Fs, ManifestLog}

/** Durable tokenizer-model artifacts — the missing "train once, serve for
  * months" half of the trainer triple ([[BpeTrain]] merge table,
  * [[WordPieceTrain]] ranked merges, [[UnigramLm]] `(piece, count)`
  * model). A real pipeline fits the tokenizer on one corpus snapshot and
  * then serves every later batch from the SAME artifact; holding the
  * model as an in-memory `Seq` ties its lifetime to one driver. This
  * store persists the model as parquet (readable by any engine — the
  * artifact doubles as the audit record of what the tokenizer IS) and
  * publishes it through the shared generation + manifest protocol
  * ([[graft.util.ManifestLog]]), as the keyed store, the manifest
  * maintainer and the ANN index do: a reader NEVER observes a torn model,
  * and no crash point needs healing.
  *
  * Layout (`<path>` is the artifact):
  * {{{
  *   <path>/manifest-<v>.json  kind + the generation holding the model,
  *                             digest-checked; the newest complete one
  *                             serves
  *   <path>/gen-model-<nonce>/ parquet — merges: (rank, l, r, …extras);
  *                             unigram: (ord, piece, cnt)
  * }}}
  *
  * A save writes a fresh generation, fsyncs it ([[Fs.fsyncTree]]) BEFORE
  * any manifest names it, and publishes with one conditional PUT. A crash
  * before the PUT leaves an unreferenced generation (the previous model
  * serves; GC sweeps it once aged); a crash after it is a completed save.
  * Only the serving manifest is retained — there is no history API — so
  * the replaced model's generation is gone when the save returns. Two
  * concurrent saves both publish, one after the other (the later slot
  * wins); readers always see one complete model.
  *
  * Scale: every model here is vocabulary-bounded (merge tables = the
  * learned ranks; unigram = singles + seed pieces) — the same
  * bounded-collect class as the BPE argmax and KMeans centroids — so
  * `save` collects nothing corpus-sized and `load` returns a driver-side
  * `Seq` that rides into tasks as one broadcast, exactly like the
  * in-memory serving paths (`BpeTrain.tokenCountsCompiled`,
  * `UnigramLm.tokenCounts`).
  *
  * Reference analogy: rtdi's connector persists its schema mappings as
  * JSON files next to the pipeline (`TableMapping` facet, SURVEY §2.9);
  * the tokenizer model is this engine's equivalent long-lived artifact.
  */
object TokenizerStore {

  /** Model kinds — recorded in the manifest and checked on load so a BPE
    * serving path handed a unigram artifact fails loudly instead of
    * mis-deserializing.
    */
  val KindBpe = "bpe"
  val KindWordPiece = "wordpiece"
  val KindUnigram = "unigram"

  /** One published model: its kind and the generation holding its rows. */
  private case class Artifact(version: Long, kind: String, model: String)

  private def manifests(path: String) =
    new ManifestLog[Artifact](new java.io.File(path), keepVersions = 1,
        ManifestLog.DefaultOrphanGraceMs) {
      protected def encodeFields(a: Artifact, node: ObjectNode): Unit = {
        node.put("version", a.version)
        node.put("kind", a.kind)
        node.put("model", a.model)
      }
      protected def decodeFields(n: JsonNode): Artifact = Artifact(
        n.get("version").asLong(), n.get("kind").asText(),
        n.get("model").asText())
      protected def versionOf(a: Artifact): Long = a.version
      protected def generationsOf(a: Artifact): Iterable[String] = Seq(a.model)
      protected def isGeneration(name: String): Boolean =
        name.startsWith("gen-")
    }

  private def refuseLegacy(path: String): Unit =
    ManifestLog.refuseLegacyLayout(new java.io.File(path),
      "tokenizer artifact", "re-save the model to this path from its trainer")

  /** Merge-table artifact ([[BpeTrain.train]] / [[WordPieceTrain.train]]
    * output): any DataFrame with `rank`, `l`, `r` columns (extra columns —
    * `pair_count`, `score_q` — ride along and survive the round trip).
    * `kind` distinguishes how the ranks were learned; both serve through
    * the same greedy fusion.
    */
  def saveMerges(path: String, merges: DataFrame,
      kind: String = KindBpe): Unit = {
    require(kind == KindBpe || kind == KindWordPiece,
      s"merge-table kind must be $KindBpe or $KindWordPiece, got $kind")
    val cols = merges.columns.toSet
    require(Set("rank", "l", "r").subsetOf(cols),
      s"merge table needs rank/l/r columns, got ${merges.columns.mkString(",")}")
    publishModel(path, kind) { modelDir =>
      // vocabulary-bounded rows → one file; readable by any engine
      Fs.writeParquet(merges.coalesce(1), modelDir.getPath)
    }
  }

  /** Unigram model artifact ([[UnigramLm.train]] output). The saved `ord`
    * column restores the EXACT driver-side sequence order, making
    * save→load an identity even where order is semantically irrelevant
    * (the serving map is order-insensitive; the identity is what the spec
    * pins).
    */
  def saveUnigram(path: String, model: Seq[(String, Long)],
      spark: SparkSession): Unit = {
    require(model.nonEmpty, "refusing to persist an empty unigram model")
    import spark.implicits._
    publishModel(path, KindUnigram) { modelDir =>
      Fs.writeParquet(model.zipWithIndex
        .map { case ((p, c), i) => (i.toLong, p, c) }
        .toDF("ord", "piece", "cnt").coalesce(1), modelDir.getPath)
    }
  }

  private def publishModel(path: String, kind: String)(
      write: java.io.File => Unit): Unit = {
    refuseLegacy(path)
    val root = new java.io.File(path)
    if (root.mkdirs()) Fs.fsyncDir(root.getAbsoluteFile.getParentFile)
    val gen = ManifestLog.generationName("model")
    write(new java.io.File(root, gen))
    // data durable BEFORE the manifest names it
    Fs.fsyncTree(new java.io.File(root, gen))
    val log = manifests(path)
    log.commit { (_, slot) => log.put(Artifact(slot, kind, gen)) }
    log.gc()
  }

  /** The serving artifact; a missing, empty or legacy path fails loudly. */
  private def open(path: String): Artifact = {
    refuseLegacy(path)
    manifests(path).current().getOrElse(
      throw new IllegalStateException(s"no tokenizer artifact at $path"))
  }

  private def modelRows(spark: SparkSession, path: String,
      a: Artifact): DataFrame =
    spark.read.parquet(new java.io.File(path, a.model).getPath)

  private def mergeTable(spark: SparkSession, path: String,
      a: Artifact): DataFrame = {
    require(a.kind == KindBpe || a.kind == KindWordPiece,
      s"artifact at $path is a '${a.kind}' model, not a merge table")
    modelRows(spark, path, a).orderBy(col("rank"))
  }

  private def merges(spark: SparkSession, path: String,
      a: Artifact): Seq[(String, String)] =
    mergeTable(spark, path, a)
      .select("l", "r").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  private def unigram(spark: SparkSession, path: String,
      a: Artifact): Seq[(String, Long)] = {
    require(a.kind == KindUnigram,
      s"artifact at $path is a '${a.kind}' model, not a unigram model")
    modelRows(spark, path, a)
      .orderBy(col("ord"))
      .select("piece", "cnt").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** The raw persisted merge table, rank-ordered — for audit/inspection
    * and the gate's cross-engine read.
    */
  def loadMergeTable(spark: SparkSession, path: String): DataFrame =
    mergeTable(spark, path, open(path))

  /** The merge rules in learned order — the exact `Seq` the in-memory
    * serving paths take ([[BpeTrain.tokenCounts]] /
    * [[BpeTrain.tokenCountsCompiled]]).
    */
  def loadMerges(spark: SparkSession, path: String): Seq[(String, String)] =
    merges(spark, path, open(path))

  /** The unigram model in its saved order — the exact `Seq`
    * [[UnigramLm.tokenCounts]] / [[UnigramLm.sampleTokenCounts]] serve
    * with.
    */
  def loadUnigram(spark: SparkSession, path: String): Seq[(String, Long)] =
    unigram(spark, path, open(path))

  /** Load whatever model kind the artifact holds, as the manifest
    * family's serving ADT (the VERDICT r16 #2 seam): a unigram artifact
    * serves Viterbi, a merge-table artifact (BPE or WordPiece) serves
    * the compiled greedy fusion. This is what lets a
    * [[graft.streaming.VersionedManifestMaintainer]] pack windows under
    * ANY stored tokenizer kind instead of unigram-only.
    */
  def loadServed(spark: SparkSession, path: String): ServedModel =
    loadServedWithHash(spark, path)._1

  /** [[loadServed]] plus the [[contentHash]] of the SAME loaded rows —
    * one artifact read, so a retrain racing two separate load calls can
    * never hand a maintainer model B with hash A (the silent token-unit
    * mix the versioning stamp exists to prevent).
    */
  def loadServedWithHash(spark: SparkSession,
      path: String): (ServedModel, String) = {
    val a = open(path)
    // length-prefixed hash fields: pieces may contain ANY non-whitespace
    // char, so no separator character is collision-safe — a length prefix is
    a.kind match {
      case KindUnigram =>
        val pieces = unigram(spark, path, a)
        (ServedUnigram(pieces), hashOf(a.kind,
          pieces.map { case (p, c) => s"${p.length}:$p:$c;" }.mkString))
      case _ =>
        val rules = merges(spark, path, a)
        (ServedBpe(rules), hashOf(a.kind,
          rules.map { case (l, r) => s"${l.length}:$l:${r.length}:$r;" }
            .mkString))
    }
  }

  private def hashOf(kind: String, canon: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(kind.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.update(0.toByte)
    md.digest(canon.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** The artifact's model kind ([[KindBpe]]/[[KindWordPiece]]/
    * [[KindUnigram]]), read from the serving manifest.
    */
  def kindOf(spark: SparkSession, path: String): String = open(path).kind

  /** Content hash of the model's LOGICAL content (kind + ordered rows),
    * not its parquet bytes — two engines (or two parquet writer configs)
    * serializing the same model must hash equal, because the hash's job
    * is to answer "is this the same tokenizer?" for the manifest's
    * model-versioning stamp (VERDICT r16 #6). Vocabulary-bounded
    * driver-side work, like every load here.
    */
  def contentHash(spark: SparkSession, path: String): String =
    loadServedWithHash(spark, path)._2

  // ── GPT-2 artifact interop (r18, VERDICT r17 #3) ─────────────────────────

  /** Export a stored merge-table artifact as the published GPT-2 pair —
    * `encoder.json` (token → id) + `vocab.bpe` (one `l r` merge per line,
    * in RANK order, under the `#version: 0.2` header) — so a model
    * trained here serves OUTSIDE the engine (any GPT-2-compatible
    * tokenizer loader reads this pair; Radford et al. 2019's released
    * format). The vocabulary is the standard construction: the 256
    * byte-visible alphabet symbols at ids 0–255 (byte order — the
    * [[ByteLevel]] alphabet), then one id per merge in rank order for the
    * fused symbol `l + r` (first-wins when two merges fuse to the same
    * string). Line order in `vocab.bpe` IS the serving automaton's rank
    * priority — the r13 trainer-consistency condition made portable: a
    * loader that applies lines in file order reproduces
    * [[BpeTrain.tokenCountsCompiled]] exactly.
    *
    * The format is only faithful for models whose symbols contain no
    * whitespace — true by construction for anything trained over
    * whitespace-split words, and byte-level models additionally cover
    * every input (the GPT-2 deployment shape); refuses symbols with
    * whitespace rather than writing an ambiguous line.
    */
  def exportGpt2(spark: SparkSession, path: String,
      exportDir: String): Unit = {
    val a = open(path)
    require(a.kind == KindBpe || a.kind == KindWordPiece,
      s"artifact at $path is a '${a.kind}' model; the GPT-2 pair encodes a " +
        "merge table")
    val rules = merges(spark, path, a)
    rules.foreach { case (l, r) =>
      require(!(l + r).exists(_.isWhitespace),
        s"merge ('$l','$r') contains whitespace — not representable in " +
          "the space-separated vocab.bpe line format (byte-level models " +
          "never are; see ByteLevel)")
    }
    val dir = new java.io.File(exportDir)
    dir.mkdirs()
    val bpe = new java.io.File(dir, "vocab.bpe")
    java.nio.file.Files.write(bpe.toPath,
      ("#version: 0.2\n" +
        rules.map { case (l, r) => s"$l $r" }.mkString("", "\n", "\n"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    var id = 0
    def add(tok: String): Unit =
      if (!node.has(tok)) { node.put(tok, id); id += 1 }
    graft.operators.ByteLevel.byteFallbackPieces.foreach(add)
    // each merge's LEAF symbols enter the vocabulary before the fused
    // symbol (r18 review #4): a char-level model over non-byte-visible
    // characters (Cyrillic, CJK) has leaves outside the 256-byte
    // alphabet, and without them the exported encoder could not encode
    // the model's own text — and importGpt2's integrity cross-check
    // would reject the pair this engine itself just exported. For a
    // byte-level model every leaf is already present (alphabet or an
    // earlier fused symbol), so its ids are unchanged.
    rules.foreach { case (l, r) => add(l); add(r); add(l + r) }
    val enc = new java.io.File(dir, "encoder.json")
    java.nio.file.Files.write(enc.toPath,
      mapper.writeValueAsBytes(node))
    Fs.fsyncFile(bpe); Fs.fsyncFile(enc); Fs.fsyncDir(dir)
  }

  /** Import a GPT-2 artifact pair back into a stored merge-table
    * artifact ([[saveMerges]], kind `bpe`): `vocab.bpe` line order
    * becomes the rank order, and `encoder.json` cross-checks the pair's
    * integrity — every merge's `l`, `r`, and fused `l + r` must be in
    * the encoder's vocabulary (a pair whose halves the encoder never
    * assigned an id is torn or mismatched), refusing loudly rather than
    * importing a table that cannot reproduce the exporter's serving.
    */
  /** @param kind kind tag for the re-imported artifact — the published
    *   pair carries none (GPT-2's format is BPE-shaped regardless of how
    *   the ranks were learned), so a WordPiece export re-imports as
    *   `bpe` unless the caller says otherwise (r18 review #6); serving
    *   is identical either way (one greedy fusion family).
    */
  def importGpt2(spark: SparkSession, exportDir: String,
      path: String, kind: String = KindBpe): Unit = {
    import spark.implicits._
    val dir = new java.io.File(exportDir)
    val lines = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "vocab.bpe").toPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.toSeq
    // ONLY the first line is a header, and only when it says so: byte-
    // visible symbols can legitimately start with '#' (byte 0x23 maps to
    // itself), so a blanket '#'-comment filter would silently drop real
    // merges and shift every later rank with no error (r18 review #3)
    val body = lines.zipWithIndex
      .drop(if (lines.headOption.exists(_.startsWith("#version"))) 1 else 0)
      .filterNot(_._1.isEmpty)
    val merges = body.zipWithIndex.map { case ((line, fileIdx), i) =>
        val sp = line.indexOf(' ')
        require(sp > 0 && line.indexOf(' ', sp + 1) < 0,
          s"vocab.bpe line ${fileIdx + 1} is not 'l r': '$line'")
        (i + 1L, line.substring(0, sp), line.substring(sp + 1))
      }
    require(merges.nonEmpty, s"no merges in $exportDir/vocab.bpe")
    val encNode = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readAllBytes(
        new java.io.File(dir, "encoder.json").toPath))
    merges.foreach { case (rank, l, r) =>
      require(encNode.has(l) && encNode.has(r) && encNode.has(l + r),
        s"merge #$rank ('$l','$r') names tokens absent from " +
          "encoder.json — the artifact pair is torn or mismatched")
    }
    saveMerges(path, merges.toDF("rank", "l", "r"), kind)
  }
}
