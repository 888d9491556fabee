package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.cdc.Cdc
import graft.streaming.KeyedUpsertStore

/** A tokenizer model as the manifest family SERVES it — the model-kind
  * seam (VERDICT r16 #2): real GPT-family pipelines pack byte-level BPE
  * tokens, not only unigram counts, so the packing stages dispatch on
  * this ADT instead of hard-wiring `Seq[(String, Long)]`. Constructed
  * directly after training, or loaded from a persisted artifact with
  * [[TokenizerStore.loadServed]] (which dispatches on the kind the
  * artifact's manifest records).
  */
sealed trait ServedModel

/** [[UnigramLm]] `(piece, count)` model — Viterbi serving. */
final case class ServedUnigram(pieces: Seq[(String, Long)]) extends ServedModel

/** [[BpeTrain]] / [[WordPieceTrain]] ranked merges — greedy-fusion
  * serving through the compiled rank-priority automaton
  * ([[BpeTrain.tokenCountsCompiled]]), the vocabulary-scale path.
  */
final case class ServedBpe(merges: Seq[(String, String)]) extends ServedModel

/** Incremental pre-training-manifest maintenance — the composition the
  * engine exists for (VERDICT r15 #1): a real pipeline receives a NEW
  * crawl delta monthly and must not re-run the world. The batch manifest
  * (`q_pretrain_manifest`) is one artifact; this module maintains it
  * window by window, exactly the reference's delta-poll semantics
  * (S4HanaProducer.java:392-469 — poll the delta, fold against existing
  * state, emit only the consequences) applied to the LLM data pipeline:
  *
  *   - the dedup survivor set lives in a bucketed [[KeyedUpsertStore]] keyed
  *     by content hash — the CDC fold, not a recompute: each delta batch
  *     dedups within itself (one hash-keyed shuffle over the DELTA), then
  *     anti-joins the store's existing keys, so prior windows' documents
  *     are touched only as pruned store buckets, never re-scanned;
  *   - the tokenizer is trained ONCE on the initial window and served
  *     from [[TokenizerStore]] for every later window ("train once, serve
  *     for months" — retraining per delta would re-tokenize history);
  *   - each window's new survivors tokenize, shuffle (per-window seed),
  *     and pack into 512-token spans APPENDED to the manifest — earlier
  *     windows' spans are immutable, the training-order contract.
  *
  * Idempotence falls out of the store: replaying a delivered batch finds
  * every content hash already present, yields zero new survivors, and
  * appends zero spans — at-least-once delivery upstream is safe. A new
  * document duplicating an EXISTING survivor is dropped in the fold; its
  * id never enters the span set (`ManifestPipelineSpec` pins both).
  *
  * Scale shape per window at 100 TB: curation is map-side on the delta;
  * within-batch dedup shuffles 16-byte md5 keys (+id), delta-sized; the
  * anti-join shuffles delta keys against the store's bucketed key set;
  * tokenization is the distinct-word × broadcast-model plan; shuffle/pack
  * are the literal-boundary prefix-sum shapes ([[Sampling.shuffled]] /
  * [[Shards.packSpans]]) over the window's survivors only. Nothing
  * re-touches prior windows' corpus bytes.
  */
object ManifestPipeline {

  /** Min-id exact-dedup survivor ROWS of one curated batch: the
    * [[Dedup.exact]] operator (md5 shuffle keys) picks `keep_id` per
    * content, joined back so the survivor's full row (text, attributes)
    * rides along with its `content_hash`.
    */
  def survivorRows(batch: DataFrame, idCol: String,
      textCol: String): DataFrame =
    batch.join(
      Dedup.exact(batch, idCol, textCol)
        .select(col("content_hash"), col("keep_id").alias(idCol)),
      Seq(idCol))

  /** Bootstrap the survivor store from the initial crawl: the batch's
    * survivor KEY SET `(content_hash, id)` becomes the store's base;
    * the survivor rows return for tokenizer training and window-1
    * packing. Corpus text stays OUT of the store — the state a delta
    * fold needs is the key set, and a 100 TB corpus does not belong in
    * its own dedup index.
    */
  def initializeSurvivors(store: KeyedUpsertStore, gatedBatch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val surv = survivorRows(gatedBatch, idCol, textCol)
    store.initialize(Cdc.initialLoad(
      surv.select(col("content_hash"), col(idCol))))
    surv
  }

  /** The merge-free half of [[foldDelta]]: the batch's within-batch
    * survivors anti-joined against the store's EXISTING keys. Callers
    * materialize it before merging (so later store writes cannot
    * retroactively change the frame). Exposed separately because a
    * crash-safe maintainer ([[graft.streaming.VersionedManifestMaintainer]])
    * must write the window's spans BEFORE the store merge — replay-forward
    * ordering.
    */
  def freshSurvivors(store: KeyedUpsertStore, gatedBatch: DataFrame,
      idCol: String, textCol: String): DataFrame =
    survivorRows(gatedBatch, idCol, textCol)
      .join(store.snapshot().select(col("content_hash")),
        Seq("content_hash"), "left_anti")

  /** Record a fold's new survivors in the store (no-op on an empty
    * fold — an all-duplicate batch writes nothing).
    */
  def mergeSurvivors(store: KeyedUpsertStore, fresh: DataFrame,
      idCol: String, txnId: Long): Unit =
    if (!fresh.isEmpty) mergeSurvivorsNonEmpty(store, fresh, idCol, txnId)

  /** [[mergeSurvivors]] for a fold the caller has ALREADY probed
    * non-empty (the maintainers branch on `fresh.isEmpty` to pick their
    * commit path first) — skips the redundant second emptiness job over
    * the same materialized frame (r20, guide §1.2).
    */
  def mergeSurvivorsNonEmpty(store: KeyedUpsertStore, fresh: DataFrame,
      idCol: String, txnId: Long): Unit =
    store.merge(fresh.select(col("content_hash"), col(idCol))
      .withColumn(Cdc.ChangeType, lit(Cdc.Upsert))
      .withColumn(Cdc.TransactionId, lit(txnId)))

  /** Fold one delta batch against the existing survivor state: dedup
    * within the batch, anti-join the store's keys, upsert only the
    * genuinely new hashes, return the new survivor rows (empty on a
    * replay — every key already present). The fresh set is materialized
    * BEFORE the merge so the returned frame cannot observe the store
    * state its own upsert created.
    */
  def foldDelta(store: KeyedUpsertStore, gatedBatch: DataFrame,
      idCol: String, textCol: String, txnId: Long): DataFrame = {
    val fresh = freshSurvivors(store, gatedBatch, idCol, textCol)
      .localCheckpoint(true)
    mergeSurvivors(store, fresh, idCol, txnId)
    fresh
  }

  /** One manifest window over its survivors: Viterbi token counts under
    * the SERVED model, a within-window seeded shuffle, 512-token span
    * packing, and the window stamp. Prior windows are untouched — the
    * manifest grows append-only. `byteLevel = true` serves through
    * [[ByteLevel.tokenCountsBytes]] (GPT-2 pre-tokenize + byte-visible
    * encoding) so a window carrying a script the model never saw packs
    * through the 256-single-byte fallback instead of throwing — the
    * model must then be a byte model ([[ByteLevel.trainUnigramBytes]]).
    */
  def packWindow(survivors: DataFrame, idCol: String, textCol: String,
      model: Seq[(String, Long)], window: Long, shuffleSeed: Long,
      budget: Long = 512L, byteLevel: Boolean = false): DataFrame =
    packWindow(survivors, idCol, textCol, ServedUnigram(model), window,
      shuffleSeed, budget, byteLevel)

  /** [[packWindow]] over the model-kind seam: unigram models serve
    * Viterbi ([[UnigramLm.tokenCounts]]), merge tables serve the
    * compiled greedy fusion ([[BpeTrain.tokenCountsCompiled]]); either
    * kind composes with the byte-level pre-tokenize/encode front
    * ([[ByteLevel]]) — `ServedBpe + byteLevel` is the literal GPT-family
    * packing unit. Every branch is the distinct-word × broadcast-model
    * plan; the span arithmetic downstream is kind-blind.
    */
  def packWindow(survivors: DataFrame, idCol: String, textCol: String,
      model: ServedModel, window: Long, shuffleSeed: Long,
      budget: Long, byteLevel: Boolean): DataFrame = {
    val counts = model match {
      case ServedUnigram(pieces) =>
        if (byteLevel) ByteLevel.tokenCountsBytes(survivors, idCol, textCol, pieces)
        else UnigramLm.tokenCounts(survivors, idCol, textCol, pieces)
      case ServedBpe(merges) =>
        if (byteLevel) ByteLevel.tokenCountsBpeBytes(survivors, idCol, textCol, merges)
        else BpeTrain.tokenCountsCompiled(survivors, idCol, textCol, merges)
    }
    // Materialize the narrow (id, n_tok) frame ONCE before the shuffle/
    // pack arithmetic (r19, guide §1.2): downstream, [[Shards
    // .assignByTokenBudget]] runs an EAGER approxQuantile pass and bakes
    // two more references to its input into the plan (the per-bucket
    // offsets broadcast + the main window pass), and [[Sampling.shuffled]]
    // adds its own offsets subtree — without this checkpoint the whole
    // tokenization upstream (Viterbi/BPE over the window's words) executed
    // THREE times per packed window (measured: 42 approxQuantile jobs,
    // 5-7 s of one q_manifest_retokenize run, re-running tokenization).
    // The frame is two longs per window document — delta-sized at any
    // corpus scale; blocks are reclaimed by the ContextCleaner when the
    // returned frame goes out of scope, like every other kernel
    // checkpoint in this codebase.
    val toks = counts.select(col(idCol), col("n_tokens").alias("n_tok"))
      .localCheckpoint(true)
    // second pin, same reasoning: shuffled()'s own offsets subtree plus
    // packSpans' quantile/offsets/main passes reference THIS frame 4×
    val shuf = Sampling.shuffled(toks, idCol, seed = shuffleSeed)
      .localCheckpoint(true)
    // shuf's EAGER checkpoint was the last reader of toks: release its
    // blocks here instead of waiting on driver GC (r20, ADVICE r19 #4 —
    // the callers' release(packed) reaches only the shuf leaf, because
    // shuf's checkpoint truncated toks out of the returned plan)
    graft.util.Checkpoints.release(toks)
    Shards.packSpans(shuf, "shuffle_pos", "n_tok", budget)
      .withColumn("window", lit(window).cast(LongType))
      .select(col("window"), col(idCol), col("shuffle_pos"), col("n_tok"),
        col("cum_before"), col("seq"), col("tok_start"), col("tok_end"),
        col("seq_offset"))
  }
}
