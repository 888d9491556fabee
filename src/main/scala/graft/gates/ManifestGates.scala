package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Cdc
import graft.functions.TextAnalysis
import graft.operators.{ByteLevel, Dedup, ManifestPipeline, Sampling, Shards, TokenizerStore, UnigramLm}
import graft.streaming.{ManifestUpsertStore, VersionedManifestMaintainer}
import graft.util.Checkpoints

import GateSupport._

/** The pre-training manifest: curation, dedup, in-gate tokenizer training,
  * shuffle and span packing, and the maintained manifest's incremental,
  * retraction, time-travel, feed, streaming, two-writer, re-tokenization
  * and takedown gates.
  */
object ManifestGates extends GateFamily {

  lazy val gates: Seq[Gate] = Seq(
    // THE MIXED MANIFEST (r15): the pre-training manifest chain with a
    // TEMPERATURE MIX between dedup and training — the multilingual
    // pipeline shape, where the tokenizer is fit on the rebalanced
    // corpus so rare sources get vocabulary representation — crossing
    // the sampling → tokenizer seam no prior composition crossed. The
    // survivor row carries its source/n_chars; rates derive from the
    // SURVIVORS' totals (mix after dedup, the order that keeps dup
    // mass from distorting the temperature law); everything downstream
    // (train → store round-trip → tokenize → shuffle → pack) is the
    // q_pretrain_manifest machinery over the mixed corpus.
    Gate("q_pretrain_manifest_mixed", (s, dir) =>
      batchManifest(manifestMixedCorpus(t(s, dir, "documents")))(
        (corpus, path) => storedUnigram(s, path, trainUnigram(corpus)))(
        (corpus, served) => packCounts(
          UnigramLm.tokenCounts(corpus, "doc_id", "text", served), seed = 29L)),
      // the mixed variant: the survivor row keeps its source/n_chars
      // (arg_min by doc_id ≡ the min-id row's attributes), the temperature
      // rates re-derive from the SURVIVORS' totals exactly like
      // q_sample_temperature, the mixed set becomes the training corpus,
      // and the tail is the shared manifest replay under its own shuffle
      // seed
      (unigramOracleCtes(3, 40, emSteps = 1, serveRound = true,
        source = "corpus", prelude = ManifestGatedCte + s"""corpus0 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text,
          |    arg_min(source, doc_id) AS source,
          |    arg_min(n_chars, doc_id) AS n_chars
          |  FROM gated GROUP BY text),
          |tot AS (
          |  SELECT source, sum(n_chars)::BIGINT AS t FROM corpus0
          |  WHERE source IS NOT NULL GROUP BY source),
          |ntot AS (SELECT sum(t)::BIGINT AS nn FROM tot),
          |rraw AS (SELECT source,
          |           pow(CAST(t AS DOUBLE) / CAST((SELECT nn FROM ntot) AS DOUBLE),
          |               -0.5) AS raw
          |         FROM tot),
          |mrates AS (
          |  SELECT source,
          |    CAST(floor(1e6 * (raw / (SELECT max(raw) FROM rraw))) AS BIGINT)
          |      AS rq
          |  FROM rraw),
          |corpus AS MATERIALIZED (
          |  SELECT c.doc_id, c.text FROM corpus0 c JOIN mrates USING (source)
          |  WHERE ${uniformU32Sql("c.doc_id", 23L)} / 4294967296.0
          |    < CAST(rq AS DOUBLE) / 1e6),
          |""".stripMargin) + manifestTailSql(shuffleSeed = 29L))),

    // THE END-TO-END PRE-TRAINING MANIFEST (r15, VERDICT r14 #1): the
    // artifact a 100 TB pipeline actually emits, as ONE gate crossing the
    // tokenizer seam no prior composition crossed — curation gate (en
    // language score + length) → exact dedup (min-id survivor per text)
    // → unigram tokenizer TRAINED IN-GATE on the survivors (one hard-EM
    // round, pruneFraction 0, the q_unigram_train arithmetic) and
    // round-tripped through the crash-safe TokenizerStore → Viterbi
    // tokenization of the survivor corpus under the loaded model →
    // deterministic seeded shuffle → fixed-length 512-token span packing.
    // The oracle replays every stage in one statement: the curation CTEs
    // feed the unigram CTE family via its corpus-source seam, the
    // serve-round Viterbi block tokenizes, and the shuffle/pack tail is
    // the q_shuffled_shards + q_pack_spans window arithmetic. One flipped
    // survivor, one mis-trained piece, one off-by-one span boundary —
    // anywhere in the six stages — breaks the hash.
    Gate("q_pretrain_manifest", (s, dir) =>
      batchManifest(manifestCorpus(t(s, dir, "documents")))(
        (corpus, path) => storedUnigram(s, path, trainUnigram(corpus)))(
        (corpus, served) => packCounts(
          UnigramLm.tokenCounts(corpus, "doc_id", "text", served), seed = 11L)),
      // The six-stage pre-training manifest, replayed in ONE statement:
      // curation CTEs (the q_pipeline_compose language/length replay +
      // min-id dedup) feed the unigram CTE family through its
      // corpus-source seam; emSteps=1 + serveRound trains one hard-EM
      // round and re-segments under the trained model2 (best2); the tail
      // is the q_shuffled_shards permutation window over seed 11 plus the
      // q_pack_spans generate_series span cut at budget 512.
      (unigramOracleCtes(3, 40, emSteps = 1, serveRound = true,
        source = "corpus", prelude = ManifestGatedCte +
        """corpus AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text FROM gated GROUP BY text),
          |""".stripMargin) + manifestTailSql(shuffleSeed = 11L))),

    // THE BYTE-LEVEL MANIFEST (r16): the full pre-training manifest
    // chain under the BYTE tokenizer — curation → exact dedup → byte
    // pre-tokenize/encode → unigram-with-fallback trained in-gate →
    // TokenizerStore round trip → byte Viterbi tokenize → seeded shuffle
    // → 512-token span packing. Crosses the byte-level ↔ manifest seam:
    // the span budget now counts BYTE-LEVEL tokens, which is what an
    // actual GPT-family data pipeline packs.
    Gate("q_pretrain_manifest_bytes", (s, dir) =>
      batchManifest(manifestCorpus(t(s, dir, "documents")))(
        (corpus, path) => storedUnigram(s, path,
          ByteLevel.trainUnigramBytes(corpus, "text", vocabSize = 400,
            maxPieceLen = 3, seedSize = 40, emIters = 1,
            pruneFraction = 0.0)))(
        (corpus, served) => packCounts(
          ByteLevel.tokenCountsBytes(corpus, "doc_id", "text", served),
          seed = 47L)),
      // the byte-level manifest: curation + min-id dedup feed the byte
      // pre-tokenize/encode CTEs, whose output relation IS the unigram
      // family's corpus (byte words split on the spaces byteText inserts),
      // fallback-seeded; the serve round's best2 feeds the UNCHANGED
      // manifest shuffle/pack tail at this gate's seed
      (unigramOracleCtes(3, 40, emSteps = 1, serveRound = true,
        source = "corpus", byteFallbackSeed = true,
        prelude = (ManifestGatedCte + """corpus0 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text FROM gated GROUP BY text),""".stripMargin +
          preTokenizeCte("ptm", "corpus0") +
          byteTextCte("corpus", "ptm")).stripSuffix(",") + ",\n") +
        manifestTailSql(shuffleSeed = 47L))),

    // THE BPE-PACKED MANIFEST (r17, VERDICT r16 #2): the manifest chain
    // under a byte-level BPE tokenizer — what GPT-family pipelines
    // actually pack. Curation → exact dedup → byte pre-tokenize/encode →
    // BPE merge table trained in-gate (8 merges) → TokenizerStore
    // saveMerges/loadServed round trip (the model-KIND seam: the store
    // hands back a ServedBpe and packWindow dispatches on it) → compiled
    // greedy-fusion token counts → seeded shuffle → 512-token span
    // packing. The oracle replays the full unrolled 8-layer BPE fold
    // over the byte words and feeds the fused w8 vocabulary into the
    // shared pack tail.
    Gate("q_pretrain_manifest_bpe", (s, dir) =>
      batchManifest(manifestCorpus(t(s, dir, "documents")))(
        (corpus, path) => {
          TokenizerStore.saveMerges(path,
            ByteLevel.trainBpeBytes(corpus, "text", numMerges = 8))
          TokenizerStore.loadServed(s, path)
        })(
        (corpus, served) => ManifestPipeline.packWindow(corpus, "doc_id",
          "text", served, window = 1L, shuffleSeed = 83L, budget = 512L,
          byteLevel = true)),
      // the BPE-packed manifest (r17): curation + min-id dedup feed the
      // byte pre-tokenize/encode CTEs, the 8-layer unrolled BPE fold
      // learns the merge table over the byte words and w8 holds every
      // word's fused symbols; per-doc n_tok = Σ len(syms) over the byte
      // words, then the kind-blind shuffle/pack tail at this gate's seed
      (bpeOracleCtes(8, lastApply = true,
        prelude = (ManifestGatedCte + """corpus0 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text FROM gated GROUP BY text),""".stripMargin +
          preTokenizeCte("ptm", "corpus0") +
          byteTextCte("corpus", "ptm")).stripSuffix(",") + ",\n",
        source = "corpus") + s""",
        |doctoks AS MATERIALIZED (
        |  SELECT d.doc_id, sum(len(w.syms))::BIGINT AS n_tok
        |  FROM corpus_w d JOIN w8 w ON d.bword = w.word
        |  GROUP BY d.doc_id)""".stripMargin +
        manifestPackTailSql(shuffleSeed = 83L))),

    // INCREMENTAL MANIFEST MAINTENANCE (r16, VERDICT r15 #1): the
    // monthly-crawl composition — window 1 (doc_id < 250) bootstraps the
    // survivor ManifestUpsertStore, trains the tokenizer, and packs its
    // spans; window 2's delta batch flows curation → within-batch dedup →
    // ANTI-JOIN against the STORE's existing hashes (the CDC fold — no
    // recompute of window 1) → tokenize under the STORED tokenizer (no
    // retrain) → append its spans; then window 2 REPLAYS verbatim and
    // must contribute nothing (idempotence — the oracle has exactly two
    // windows, so one replay-surviving row breaks the hash). Each span
    // row carries its survivor's content_hash read back FROM THE STORE,
    // so the persisted dedup state is inside the hash proof too. The
    // oracle recomputes both windows from raw documents in one statement:
    // w1/w2 survivor CTEs (batch-2 texts already in w1 excluded), the
    // unigram family trained on w1 and SERVED over the union (the
    // serveSource seam), and the per-window shuffle/pack tail.
    Gate("q_pretrain_manifest_incremental", (s, dir) =>
      maintainedManifest(s, dir) { run =>
        val surv1 = ManifestPipeline
          .initializeSurvivors(run.store, run.batch1, "doc_id", "text")
          .localCheckpoint(true)
        run.saveTokenizer(surv1)
        val served = run.served()
        val m1 = ManifestPipeline
          .packWindow(surv1, "doc_id", "text", served, 1L, 41L)
        val fresh2 = ManifestPipeline
          .foldDelta(run.store, run.batch2, "doc_id", "text", txnId = 2L)
        val m2 = ManifestPipeline
          .packWindow(fresh2, "doc_id", "text", served, 2L, 43L)
        val replay = ManifestPipeline
          .foldDelta(run.store, run.batch2, "doc_id", "text", txnId = 3L)
        val mr = ManifestPipeline
          .packWindow(replay, "doc_id", "text", served, 2L, 43L)
        run.keyed(m1.unionByName(m2).unionByName(mr))
      },
      // the incremental manifest: window survivors as CTEs (w2 excludes
      // texts already surviving in w1 — first-batch-wins ≡ union min-id
      // because the split is an id THRESHOLD), the unigram family trained
      // on w1 and served over the union via the serveSource seam, and the
      // per-window shuffle/pack tail. One statement recomputes from raw
      // documents everything the Spark side produced through the store
      // fold, the stored tokenizer, and the replayed window.
      (unigramOracleCtes(3, 40, emSteps = 1, serveRound = true,
        source = "corpus", serveSource = Some("corpusu"),
        prelude = ManifestGatedCte + s"""w1 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id < $IncrementalSplitId GROUP BY text),
          |w2 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id >= $IncrementalSplitId
          |    AND text NOT IN (SELECT text FROM w1)
          |  GROUP BY text),
          |corpus AS MATERIALIZED (SELECT doc_id, text FROM w1),
          |corpusu AS (SELECT doc_id, text FROM w1
          |            UNION ALL SELECT doc_id, text FROM w2),
          |""".stripMargin) + incrementalTailSql(Seq(41L, 43L)))),

    // MANIFEST RETRACTION (r16 — the takedown path): documents leave the
    // manifest in two stages, exactly the MOR store's lifecycle applied
    // to training data — a durable retraction LEDGER makes them invisible
    // to every reader immediately (logical delete: window 2 below), and
    // window COMPACTION re-packs the remaining docs at the window's own
    // seed to restore the 512-dense span invariant (physical rewrite
    // into a fresh generation published by one manifest PUT: window 1
    // below). The store keeps retracted hashes — banned content cannot
    // re-enter under a new id. The oracle replays both stages: window 1
    // packed over the remaining docs, window 2 packed over ALL docs then
    // filtered.
    Gate("q_manifest_retract", (s, dir) =>
      maintainedManifest(s, dir) { run =>
        run.bootstrapEmpty()
        run.saveTokenizer(
          ManifestPipeline.survivorRows(run.batch1, "doc_id", "text"))
        val maint = run.maintainer(windowOf = _ + 1L,
          seedOf = bid => Seq(67L, 71L)(bid.toInt))
        maint.processBatch(run.batch1, 0L)
        maint.processBatch(run.batch2, 1L)
        maint.retract(run.gated.where(col("doc_id") % 7 === 0)
          .select(col("doc_id")))
        maint.compactWindow(s, 1L, seed = 67L)
        run.keyed(maint.readManifest(s))
      },
      // the retraction lifecycle: the incremental two-window prelude at
      // its own seeds, window 1 re-packed over remaining docs (compacted),
      // window 2 packed over all docs then filtered (logical)
      (unigramOracleCtes(3, 40, emSteps = 1, serveRound = true,
        source = "corpus", serveSource = Some("corpusu"),
        prelude = ManifestGatedCte + s"""w1 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id < $IncrementalSplitId GROUP BY text),
          |w2 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id >= $IncrementalSplitId
          |    AND text NOT IN (SELECT text FROM w1)
          |  GROUP BY text),
          |corpus AS MATERIALIZED (SELECT doc_id, text FROM w1),
          |corpusu AS (SELECT doc_id, text FROM w1
          |            UNION ALL SELECT doc_id, text FROM w2),
          |""".stripMargin) +
        retractTailSql(seed1 = 67L, seed2 = 71L,
          retractPred = "doc_id % 7 = 0"))),

    // MANIFEST TIME TRAVEL (r18): the takedown lifecycle REPLAYED
    // THROUGH THE VERSION HISTORY — the object-store maintainer commits
    // two windows (version A), retracts a doc set (version B), and
    // physically compacts window 1; the gate reads THREE states from ONE
    // directory: readManifestAt(A) = both windows' original spans,
    // readManifestAt(B) = the same spans logically filtered (retraction
    // is visible, positions untouched), and the current read = window 1
    // re-packed dense + window 2 still filtered. The oracle recomputes
    // all three sections from raw documents in one statement (the full
    // pack tail + the retract tail, namespaced), so a generation GC'd
    // too early, a version serving the wrong ledger state, or a
    // retention bug all break the hash — training reproducibility
    // ("the manifest exactly as last month's run trained on it") under
    // the cross-engine proof.
    Gate("q_manifest_timetravel", (s, dir) =>
      maintainedManifest(s, dir) { run =>
        run.bootstrapEmpty()
        run.saveTokenizer(
          ManifestPipeline.survivorRows(run.batch1, "doc_id", "text"))
        val maint = run.maintainer(windowOf = _ + 1L,
          seedOf = bid => Seq(113L, 127L)(bid.toInt))
        maint.processBatch(run.batch1, 0L)
        maint.processBatch(run.batch2, 1L)
        val vFull = maint.currentVersion // both windows, pre-retraction
        maint.retract(run.gated.where(col("doc_id") % 7 === 0)
          .select(col("doc_id")))
        val vRetract = maint.currentVersion // logical hide, same spans
        maint.compactWindow(s, 1L, seed = 113L)
        val keys = run.storedKeys()
        section("full", run.keyed(maint.readManifestAt(s, vFull), keys))
          .unionByName(section("retracted",
            run.keyed(maint.readManifestAt(s, vRetract), keys)))
          .unionByName(section("now", run.keyed(maint.readManifest(s), keys)))
      },
      // time travel: three states of one manifest recomputed in one
      // statement — the full two-window pack ('full' = the pre-retraction
      // version), the same spans logically filtered ('retracted' = the
      // post-ledger version, positions untouched), and the swept state
      // ('now' = window 1 re-packed dense, window 2 still filtered) — the
      // two pack tails composed via the CTE namespace
      (unigramOracleCtes(3, 40, emSteps = 1, serveRound = true,
        source = "corpus", serveSource = Some("corpusu"),
        prelude = ManifestGatedCte + s"""w1 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id < $IncrementalSplitId GROUP BY text),
          |w2 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id >= $IncrementalSplitId
          |    AND text NOT IN (SELECT text FROM w1)
          |  GROUP BY text),
          |corpus AS MATERIALIZED (SELECT doc_id, text FROM w1),
          |corpusu AS (SELECT doc_id, text FROM w1
          |            UNION ALL SELECT doc_id, text FROM w2),
          |""".stripMargin) +
        incrementalTailSql(Seq(113L, 127L), asCte = Some("fullsp"),
          prefix = "f") +
        retractTailSql(113L, 127L, "doc_id % 7 = 0",
          asCte = Some("nowsp")) + """
        |SELECT 'full' AS section, "window", doc_id, content_hash,
        |  shuffle_pos, n_tok, cum_before, seq, tok_start, tok_end,
        |  seq_offset FROM fullsp
        |UNION ALL
        |SELECT 'retracted', "window", doc_id, content_hash,
        |  shuffle_pos, n_tok, cum_before, seq, tok_start, tok_end,
        |  seq_offset FROM fullsp WHERE NOT (doc_id % 7 = 0)
        |UNION ALL
        |SELECT 'now', "window", doc_id, content_hash,
        |  shuffle_pos, n_tok, cum_before, seq, tok_start, tok_end,
        |  seq_offset FROM nowsp""".stripMargin)),

    // THE FEED-MAINTAINED MANIFEST REPLICA (r19, VERDICT r18 #1): a
    // training-serving replica materialized at one manifest version and
    // brought current by windowsBetween polls ALONE — which since r19
    // carry the DELETION delta (retracted ids, emptied-window sentinels,
    // window-replace semantics) the r18 feed silently dropped. Poll A
    // covers a retraction with NO physical rewrite (the r18 feed emitted
    // zero rows there, so a replica kept serving taken-down spans); poll
    // B covers a takedown sweep that compacts window 1 dense and EMPTIES
    // window 2 entirely, and is applied TWICE (the crash-replay before
    // the ack — replace-then-delete must converge). Output = the
    // replica's final spans AND readManifestAt(final) under two section
    // tags; the oracle recomputes the final state ONCE from raw
    // documents and emits it under both tags, so replica ≡ as-of ≡
    // recompute in a single hash.
    Gate("q_manifest_feed_replica", (s, dir) =>
      maintainedManifest(s, dir) { run =>
        run.bootstrapEmpty()
        run.saveTokenizer(
          ManifestPipeline.survivorRows(run.batch1, "doc_id", "text"))
        val seeds = Seq(131L, 137L)
        // keepVersions must retain every poll endpoint across the
        // 6-version lifecycle (2 commits, 2 retractions, 2 rewrites)
        val maint = new VersionedManifestMaintainer(run.store, run.tokPath,
          run.manifestDir, windowOf = _ + 1L, seedOf = bid => seeds(bid.toInt),
          keepVersions = 8)
        maint.processBatch(run.batch1, 0L)
        maint.processBatch(run.batch2, 1L)
        // attach BEFORE materializing: a commit landing in between
        // would be ahead of the cursor and replay (at-least-once)
        val feed = new graft.streaming.StoreChangeFeed(
          () => maint.currentVersion, maint.windowsBetween(s, _, _),
          run.path("cursor"))
        var replica = maint.readManifest(s).localCheckpoint(true)
        def drain(): Unit = {
          val (changes, to) = feed.poll()
          if (feed.cursor < to) Checkpoints.pinned(changes) { w =>
            // each poll applied TWICE before its ack — the crash-replay
            // between effect and commit must converge. Superseded
            // replica checkpoints release promptly (r20, guide §5 —
            // Dataset.unpersist was a no-op on checkpoint blocks)
            val prev0 = replica
            replica = VersionedManifestMaintainer
              .applyFeed(replica, w).localCheckpoint(true)
            Checkpoints.release(prev0)
            val prev1 = replica
            replica = VersionedManifestMaintainer
              .applyFeed(replica, w).localCheckpoint(true)
            Checkpoints.release(prev1)
            feed.commit(to)
          }
        }
        // poll A: retraction WITHOUT compaction — pure deletion delta
        maint.retract(run.gated.where(col("doc_id") % 7 === 0)
          .select(col("doc_id")))
        drain()
        // poll B: retract ALL of window 2, then sweep — window 1
        // compacts dense, window 2 rewrites to EMPTY
        maint.retract(run.batch2.select(col("doc_id")))
        val swept = maint.compactRetracted(s, w => seeds((w - 1).toInt))
        require(swept == Seq(1L, 2L),
          s"expected both windows swept (window 2 to empty), got $swept")
        drain()
        val v2 = maint.currentVersion
        val keys = run.storedKeys()
        section("replica", run.keyed(replica, keys))
          .unionByName(section("asof",
            run.keyed(maint.readManifestAt(s, v2), keys)))
      },
      // the feed-maintained replica: the FINAL swept state — window 1
      // re-packed dense over the non-retracted docs, window 2 emptied
      // entirely — recomputed once from raw documents and emitted under
      // BOTH section tags, because the gate's replica (feed-applied) and
      // its readManifestAt(final) must be byte-identical to it and to each
      // other
      (unigramOracleCtes(3, 40, emSteps = 1, serveRound = true,
        source = "corpus", serveSource = Some("corpusu"),
        prelude = ManifestGatedCte + s"""w1 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id < $IncrementalSplitId GROUP BY text),
          |w2 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id >= $IncrementalSplitId
          |    AND text NOT IN (SELECT text FROM w1)
          |  GROUP BY text),
          |corpus AS MATERIALIZED (SELECT doc_id, text FROM w1),
          |corpusu AS (SELECT doc_id, text FROM w1
          |            UNION ALL SELECT doc_id, text FROM w2),
          |""".stripMargin) +
        incrementalTailSql(Seq(131L, 137L),
          shufWhere = Some("win = 1 AND NOT (doc_id % 7 = 0)"),
          asCte = Some("finalsp")) + """
        |SELECT 'replica' AS section, "window", doc_id, content_hash,
        |  shuffle_pos, n_tok, cum_before, seq, tok_start, tok_end,
        |  seq_offset FROM finalsp
        |UNION ALL
        |SELECT 'asof', "window", doc_id, content_hash,
        |  shuffle_pos, n_tok, cum_before, seq, tok_start, tok_end,
        |  seq_offset FROM finalsp""".stripMargin)),

    // THE STREAMING MANIFEST MAINTAINER (r16): the incremental fold as a
    // LIVE foreachBatch loop — window 1 bootstraps store + tokenizer in
    // batch; two delta batches then arrive as REAL micro-batches through
    // a MemoryStream and VersionedManifestMaintainer's crash-ordered
    // protocol (spans durable before the store merge, manifest PUT
    // after), and batch 2 REPLAYS through processBatch (the
    // at-least-once case) where the committed manifest entry must no-op
    // it. Output = window-1 spans ∪
    // the manifest directory's committed windows, each span joined to
    // its survivor's content_hash FROM THE STORE; the oracle recomputes
    // all three windows from raw documents in one statement.
    Gate("q_manifest_stream_maintain", (s, dir) =>
      maintainedManifest(s, dir) { run =>
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import s.implicits._
        implicit val sqlCtx = s.sqlContext
        val gated = run.gated
        val b0 = gated.where(col("doc_id") < 150)
        val b1 = gated.where(col("doc_id") >= 150 && col("doc_id") < 300)
        val b2 = gated.where(col("doc_id") >= 300)
        val surv0 = ManifestPipeline
          .initializeSurvivors(run.store, b0, "doc_id", "text")
          .localCheckpoint(true)
        run.saveTokenizer(surv0)
        val m1 = ManifestPipeline
          .packWindow(surv0, "doc_id", "text", run.served(), 1L, 53L)
        // the rename-free conditional-PUT protocol: correct on POSIX
        // and object stores alike
        val maint = run.maintainer(windowOf = _ + 2L,
          seedOf = bid => Seq(59L, 61L)(bid.toInt))
        val ms = MemoryStream[(Long, String)]
        val q = ms.toDF().toDF("doc_id", "text")
          .writeStream.foreachBatch(maint.processBatch _).start()
        try {
          ms.addData(b1.as[(Long, String)].collect().toIndexedSeq: _*)
          q.processAllAvailable()
          ms.addData(b2.as[(Long, String)].collect().toIndexedSeq: _*)
          q.processAllAvailable()
        } finally q.stop()
        // at-least-once: batch 1 redelivered — its committed entry
        // must no-op it
        maint.processBatch(b2, batchId = 1L)
        run.keyed(m1.unionByName(maint.readManifest(s)))
      },
      // the streaming maintainer: the same replay generalized to THREE
      // windows at the stream gate's thresholds and seeds — the fold
      // protocol, the marker no-op, and the store reads all have to agree
      // with one batch recompute of raw documents
      (unigramOracleCtes(3, 40, emSteps = 1, serveRound = true,
        source = "corpus", serveSource = Some("corpusu"),
        prelude = ManifestGatedCte + s"""w1 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id < 150 GROUP BY text),
          |w2 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id >= 150 AND doc_id < 300
          |    AND text NOT IN (SELECT text FROM w1)
          |  GROUP BY text),
          |w3 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id >= 300
          |    AND text NOT IN (SELECT text FROM w1)
          |    AND text NOT IN (SELECT text FROM w2)
          |  GROUP BY text),
          |corpus AS MATERIALIZED (SELECT doc_id, text FROM w1),
          |corpusu AS (SELECT doc_id, text FROM w1
          |            UNION ALL SELECT doc_id, text FROM w2
          |            UNION ALL SELECT doc_id, text FROM w3),
          |""".stripMargin) + incrementalTailSql(Seq(53L, 59L, 61L)))),

    // TWO-WRITER MANIFEST MAINTENANCE (r17, VERDICT r16 #5): a backfill
    // maintainer and a tailer maintainer — REAL concurrent threads —
    // share one manifest directory and one REBASE-CAPABLE survivor store
    // (ManifestUpsertStore), with disjoint window spaces (the windowOf
    // seam), per-window create-exclusive claims, and content-disjoint
    // feeds (the deployment contract; the tailer's feed anti-joins the
    // backfill range's texts). Any interleaving must produce the same
    // manifest; the oracle recomputes the SERIAL three-window fold from
    // raw documents in one statement — hash equality IS the concurrency
    // proof.
    Gate("q_manifest_2writer", (s, dir) =>
      maintainedManifest(s, dir) { run =>
        val gated = run.gated
        val b0 = gated.where(col("doc_id") < 150)
        val range2 = gated.where(col("doc_id") >= 150 && col("doc_id") < 300)
        val b2 = gated.where(col("doc_id") >= 300)
          .join(range2.select(col("text")).distinct(), Seq("text"),
            "left_anti")
          .select(col("doc_id"), col("text"))
        val surv0 = ManifestPipeline
          .initializeSurvivors(run.store, b0, "doc_id", "text")
          .localCheckpoint(true)
        run.saveTokenizer(surv0)
        val m1 = ManifestPipeline
          .packWindow(surv0, "doc_id", "text", run.served(), 1L, 79L)
        // both writers on the object-store-safe protocol (r18): their
        // racing window commits rebase through the conditional-PUT
        // manifest slot exactly like the survivor store's merges
        val backfill = new VersionedManifestMaintainer(run.store,
          run.tokPath, run.manifestDir, windowOf = _ + 2L, seedOf = _ => 89L,
          writerId = "backfill")
        val tailer = new VersionedManifestMaintainer(run.store,
          run.tokPath, run.manifestDir, windowOf = _ + 3L, seedOf = _ => 97L,
          writerId = "tailer")
        val errs =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val ta = new Thread(() =>
          try backfill.processBatch(range2, 0L)
          catch { case t: Throwable => errs.add(t) })
        val tb = new Thread(() =>
          try tailer.processBatch(b2, 0L)
          catch { case t: Throwable => errs.add(t) })
        ta.start(); tb.start(); ta.join(600000); tb.join(600000)
        require(!ta.isAlive && !tb.isAlive, "a manifest writer hung")
        require(errs.isEmpty, s"manifest writer failed: ${errs.peek()}")
        run.keyed(m1.unionByName(backfill.readManifest(s)))
      },
      // the two-writer manifest: the SERIAL three-window fold — whatever
      // interleaving the two live threads actually ran, the result must
      // hash-equal this one-statement recompute; w3's feed is
      // content-disjoint from the backfill RANGE (not just its survivors),
      // exactly the Spark side's anti-join
      (unigramOracleCtes(3, 40, emSteps = 1, serveRound = true,
        source = "corpus", serveSource = Some("corpusu"),
        prelude = ManifestGatedCte + s"""w1 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id < 150 GROUP BY text),
          |w2 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id >= 150 AND doc_id < 300
          |    AND text NOT IN (SELECT text FROM w1)
          |  GROUP BY text),
          |w3 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id >= 300
          |    AND text NOT IN (SELECT text FROM w1)
          |    AND text NOT IN (SELECT text FROM gated
          |                     WHERE doc_id >= 150 AND doc_id < 300)
          |  GROUP BY text),
          |corpus AS MATERIALIZED (SELECT doc_id, text FROM w1),
          |corpusu AS (SELECT doc_id, text FROM w1
          |            UNION ALL SELECT doc_id, text FROM w2
          |            UNION ALL SELECT doc_id, text FROM w3),
          |""".stripMargin) + incrementalTailSql(Seq(79L, 89L, 97L)))),

    // MODEL-VERSIONED RE-TOKENIZATION (r17, VERDICT r16 #6): two windows
    // pack under tokenizer A; the artifact is RETRAINED in place
    // (seedSize 40 → 60 — a different model, same path); a fresh
    // maintainer refuses to append until adoptModel() versions the
    // change, then retokenizeWindow() re-packs BOTH windows from their
    // source batches under model B. The oracle recomputes the manifest
    // from raw documents under model B ONLY — hash equality proves the
    // restore left no window (and no single span) on model A's units.
    Gate("q_manifest_retokenize", (s, dir) =>
      maintainedManifest(s, dir) { run =>
        run.bootstrapEmpty()
        def survivors =
          ManifestPipeline.survivorRows(run.batch1, "doc_id", "text")
        run.saveTokenizer(survivors, seedSize = 40)
        val seeds = Seq(107L, 109L)
        val maint = run.maintainer(windowOf = _ + 1L,
          seedOf = bid => seeds(bid.toInt))
        maint.processBatch(run.batch1, 0L)
        maint.processBatch(run.batch2, 1L)
        // the retrain lands at the same artifact path; a fresh
        // maintainer process MUST refuse to pack under it unversioned
        run.saveTokenizer(survivors, seedSize = 60)
        val maint2 = run.maintainer(windowOf = _ + 1L,
          seedOf = bid => seeds(bid.toInt))
        maint2.adoptModel(s)
        maint2.retokenizeWindow(s, 1L, run.batch1, seeds(0))
        maint2.retokenizeWindow(s, 2L, run.batch2, seeds(1))
        run.keyed(maint2.readManifest(s))
      },
      // versioned re-tokenization: the manifest recomputed from raw
      // documents under model B ONLY (the seedSize-60 retrain) — model A
      // never appears, which is the uniform-units restore claim itself
      (unigramOracleCtes(3, 60, emSteps = 1, serveRound = true,
        source = "corpus", serveSource = Some("corpusu"),
        prelude = ManifestGatedCte + s"""w1 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id < $IncrementalSplitId GROUP BY text),
          |w2 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id >= $IncrementalSplitId
          |    AND text NOT IN (SELECT text FROM w1)
          |  GROUP BY text),
          |corpus AS MATERIALIZED (SELECT doc_id, text FROM w1),
          |corpusu AS (SELECT doc_id, text FROM w1
          |            UNION ALL SELECT doc_id, text FROM w2),
          |""".stripMargin) + incrementalTailSql(Seq(107L, 109L)))),

    // THE TAKEDOWN SWEEP (r17, VERDICT r16 #3): one retraction, EVERY
    // surface — the whole-pipeline right-to-be-forgotten composition. A
    // doc set (doc_id % 9 = 4) is retracted from a two-window manifest
    // (ledger → compactRetracted sweeps every affected window
    // physically), deleted from the persisted IVF index
    // (AnnIndex.deleteIvf tombstones), and stays BANNED in the survivor
    // store (a re-crawl of the same texts under new ids folds to an
    // empty window; a replay of the original batch no-ops on its
    // committed entry). Output = manifest spans ∪ ANN top-k as one null-padded
    // union; the oracle recomputes both surfaces minus the retracted
    // docs in one statement, so a single leaked span OR a single
    // tombstone-escaping neighbor breaks the hash.
    Gate("q_takedown_sweep", (s, dir) =>
      maintainedManifest(s, dir) { run =>
        run.bootstrapEmpty()
        run.saveTokenizer(
          ManifestPipeline.survivorRows(run.batch1, "doc_id", "text"))
        val seeds = Seq(101L, 103L)
        // the takedown composition runs over the object-store-safe
        // maintainer (r18): retraction = immutable rgen + one PUT
        val maint = run.maintainer(windowOf = _ + 1L,
          seedOf = bid => seeds(bid.toInt))
        maint.processBatch(run.batch1, 0L)
        maint.processBatch(run.batch2, 1L)
        val emb = t(s, dir, "embeddings")
        val ix = run.path("ix")
        graft.operators.AnnIndex.buildIvf(ix, emb, "vec_id", "embedding",
          numCells = 8, fitSampleSize = 2000)
        // THE takedown: one doc set leaves every surface
        val takedown = run.gated.where(col("doc_id") % 9 === 4)
        maint.retract(takedown.select(col("doc_id")))
        val swept = maint.compactRetracted(s,
          w => seeds((w - 1).toInt))
        require(swept.nonEmpty, "the sweep found no affected windows — " +
          "the takedown predicate selects none at this sf")
        graft.operators.AnnIndex.deleteIvf(ix,
          emb.where(pmod(col("vec_id"), lit(9)) === 4)
            .select(col("vec_id")))
        // ban-on-recrawl: the same texts under NEW ids fold to an
        // all-duplicate batch → window 3 commits EMPTY (the oracle has
        // exactly two windows, so any leaked span breaks the hash)...
        maint.processBatch(
          takedown.select((col("doc_id") + 1000000L).alias("doc_id"),
            col("text")), 2L)
        // ...and the original batch's redelivery no-ops on its entry
        maint.processBatch(run.batch2, 1L)
        val nullL = lit(null).cast(LongType)
        val manifestSec = section("manifest", run.keyed(maint.readManifest(s)))
          .select(col("*"),
            nullL.alias("query_id"), nullL.alias("neighbor_id"),
            nullL.alias("rank"),
            lit(null).cast(DoubleType).alias("cosine_r"))
        val annSec = graft.operators.AnnIndex.searchIvf(ix,
            emb.where(col("vec_id") < 4)
              .select(col("vec_id").alias("query_id"), col("embedding")),
            "query_id", k = 10, nprobe = 8)
          .select(lit("ann").alias("section"), nullL.alias("window"),
            nullL.alias("doc_id"),
            lit(null).cast(StringType).alias("content_hash"),
            nullL.alias("shuffle_pos"), nullL.alias("n_tok"),
            nullL.alias("cum_before"), nullL.alias("seq"),
            nullL.alias("tok_start"), nullL.alias("tok_end"),
            nullL.alias("seq_offset"), col("query_id"),
            col("neighbor_id").cast(LongType).alias("neighbor_id"),
            col("rank").cast(LongType).alias("rank"),
            round(col("cosine"), 6).alias("cosine_r"))
        manifestSec.unionByName(annSec)
      },
      // the takedown sweep: the two-window manifest recomputed over the
      // non-retracted docs with BOTH windows re-packed dense (the swept
      // physical state), unioned with exact top-k over the embeddings
      // minus the deleted ids — one statement, two surfaces, one hash
      (unigramOracleCtes(3, 40, emSteps = 1, serveRound = true,
        source = "corpus", serveSource = Some("corpusu"),
        prelude = ManifestGatedCte + s"""w1 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id < $IncrementalSplitId GROUP BY text),
          |w2 AS MATERIALIZED (
          |  SELECT min(doc_id) AS doc_id, text, md5(text) AS content_hash
          |  FROM gated WHERE doc_id >= $IncrementalSplitId
          |    AND text NOT IN (SELECT text FROM w1)
          |  GROUP BY text),
          |corpus AS MATERIALIZED (SELECT doc_id, text FROM w1),
          |corpusu AS (SELECT doc_id, text FROM w1
          |            UNION ALL SELECT doc_id, text FROM w2),
          |""".stripMargin) +
        incrementalTailSql(Seq(101L, 103L),
          shufWhere = Some("NOT (doc_id % 9 = 4)"),
          asCte = Some("mrows")) + """
        |SELECT 'manifest' AS section, "window", doc_id, content_hash,
        |  shuffle_pos, n_tok, cum_before, seq, tok_start, tok_end,
        |  seq_offset, NULL::BIGINT AS query_id,
        |  NULL::BIGINT AS neighbor_id, NULL::BIGINT AS rank,
        |  NULL::DOUBLE AS cosine_r
        |FROM mrows
        |UNION ALL
        |SELECT 'ann', NULL::BIGINT, NULL::BIGINT, NULL::VARCHAR,
        |  NULL::BIGINT, NULL::BIGINT, NULL::BIGINT, NULL::BIGINT,
        |  NULL::BIGINT, NULL::BIGINT, NULL::BIGINT,
        |  query_id, neighbor_id, rank, cosine_r
        |FROM (
        |  SELECT query_id, neighbor_id, rank,
        |    round(cosine, 6) AS cosine_r FROM (
        |    SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
        |      list_cosine_similarity(d.embedding::DOUBLE[],
        |        q.embedding::DOUBLE[]) AS cosine,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(d.embedding::DOUBLE[],
        |          q.embedding::DOUBLE[]) DESC, d.vec_id) AS rank
        |    FROM embeddings d, embeddings q
        |    WHERE q.vec_id < 4 AND d.vec_id <> q.vec_id
        |      AND d.vec_id % 9 <> 4)
        |  WHERE rank <= 10)""".stripMargin))
  )

  /** The ten span columns the maintained-manifest gates emit: each span
    * carries its survivor's content hash as the store holds it.
    */
  private val SpanCols = Seq("window", "doc_id", "content_hash",
    "shuffle_pos", "n_tok", "cum_before", "seq", "tok_start", "tok_end",
    "seq_offset")

  /** The batch manifests' span columns. */
  private val PackCols = SpanCols.filterNot(Set("window", "content_hash"))

  /** The manifest gates' unigram tokenizer: one hard-EM round, no
    * pruning, over the survivors' text.
    */
  private def trainUnigram(corpus: DataFrame,
      seedSize: Int = 40): Seq[(String, Long)] =
    UnigramLm.train(corpus, "text", vocabSize = 200, maxPieceLen = 3,
      seedSize = seedSize, emIters = 1, pruneFraction = 0.0)

  /** Token counts shuffled by `seed` and packed into 512-token spans. */
  private def packCounts(counts: DataFrame, seed: Long): DataFrame =
    Shards.packSpans(
      Sampling.shuffled(counts.select(col("doc_id"),
        col("n_tokens").alias("n_tok")), "doc_id", seed = seed),
      "shuffle_pos", "n_tok", budget = 512L)

  /** The batch manifests' chain over a curated corpus: pin it, `serve` a
    * model built from it through a tokenizer artifact path whose work
    * directory is gone before packing, `pack` the corpus under that
    * model, and materialize the spans before the corpus is released.
    */
  private def batchManifest[M](corpus: DataFrame)(
      serve: (DataFrame, String) => M)(
      pack: (DataFrame, M) => DataFrame): DataFrame =
    Checkpoints.pinned(corpus) { pinned =>
      val served = withWorkDir("graft-pretrain") { work =>
        serve(pinned, work.resolve("tok").toString)
      }
      pack(pinned, served).select(PackCols.map(col): _*).localCheckpoint(true)
    }

  /** A maintained-manifest gate over the curated documents: the gate's
    * body gets a [[ManifestRun]] and returns its result frame, which is
    * materialized, then the work directory is removed, then the pinned
    * documents are released.
    */
  private def maintainedManifest(s: SparkSession, dir: String)(
      body: ManifestRun => DataFrame): DataFrame =
    Checkpoints.pinned(manifestGated(t(s, dir, "documents"))
        .select(col("doc_id"), col("text"))) { gated =>
      withWorkDir("graft-manifest") { work =>
        body(new ManifestRun(s, gated, work)).localCheckpoint(true)
      }
    }

  /** One maintained-manifest gate's working set: the pinned curated
    * documents, and a work directory holding the survivor store (keyed by
    * content hash), the tokenizer artifact and the manifest.
    */
  private final class ManifestRun(s: SparkSession, val gated: DataFrame,
      work: java.nio.file.Path) {
    def path(name: String): String = work.resolve(name).toString
    val tokPath: String = path("tok")
    val manifestDir: String = path("manifest")
    val store = new ManifestUpsertStore(s, path("surv"),
      pkCols = Seq("content_hash"), numBuckets = 8)

    /** The two-window gates' batches, split at [[IncrementalSplitId]]. */
    def batch1: DataFrame = gated.where(col("doc_id") < IncrementalSplitId)
    def batch2: DataFrame = gated.where(col("doc_id") >= IncrementalSplitId)

    /** Empty bootstrap: EVERY window (including the first) flows through
      * the same fold — the maintainer's uniform path.
      */
    def bootstrapEmpty(): Unit = {
      import s.implicits._
      store.initialize(Cdc.initialLoad(
        Seq.empty[(String, Long)].toDF("content_hash", "doc_id")))
    }

    def saveTokenizer(corpus: DataFrame, seedSize: Int = 40): Unit =
      TokenizerStore.saveUnigram(tokPath, trainUnigram(corpus, seedSize), s)

    def served(): Seq[(String, Long)] = TokenizerStore.loadUnigram(s, tokPath)

    def maintainer(windowOf: Long => Long,
        seedOf: Long => Long): VersionedManifestMaintainer =
      new VersionedManifestMaintainer(store, tokPath, manifestDir,
        windowOf = windowOf, seedOf = seedOf)

    /** The survivor keys as the store holds them now. */
    def storedKeys(): DataFrame =
      store.snapshot().select(col("content_hash"), col("doc_id"))

    /** `spans` joined to their survivors' stored content hashes. */
    def keyed(spans: DataFrame, keys: DataFrame = storedKeys()): DataFrame =
      spans.join(keys, Seq("doc_id")).select(SpanCols.map(col): _*)
  }

  /** Keyed spans tagged with a section name, for the multi-state gates. */
  private def section(name: String, spans: DataFrame): DataFrame =
    spans.select(lit(name).alias("section") +: SpanCols.map(col): _*)

  /** The pre-training-manifest curation gate (language score + length,
    * survivor attributes carried) — ONE builder shared by every manifest
    * gate AND by `UnigramBoundaryMarginSpec`, so the margin scan provably
    * covers the exact corpora the gates train on instead of a hand-kept
    * copy (VERDICT r15 #4).
    */
  private[graft] def manifestGated(docs: DataFrame): DataFrame =
    Dedup.widen(docs)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      .where(TextAnalysis.langScore(col("text"), "en") > 0.05 &&
        TextAnalysis.tokenCount(col("text")).cast(DoubleType) >= 20)

  /** Min-id exact-dedup survivor rows of a curated batch — ONE source of
    * truth: [[graft.operators.ManifestPipeline.survivorRows]] (the same
    * join the incremental fold uses), with the pipeline's content_hash
    * column dropped where the batch gates don't need it.
    */
  private[graft] def manifestSurvivors(gated: DataFrame): DataFrame =
    graft.operators.ManifestPipeline.survivorRows(gated, "doc_id", "text")
      .drop("content_hash")

  /** The plain manifest training corpus: curation → exact dedup. */
  private[graft] def manifestCorpus(docs: DataFrame): DataFrame =
    manifestSurvivors(manifestGated(docs)).select(col("doc_id"), col("text"))

  /** The incremental manifest gate's batch boundary: documents with
    * `doc_id < IncrementalSplitId` are the initial crawl (window 1, the
    * batch the tokenizer trains on), the rest arrive as the delta batch
    * (window 2). An id THRESHOLD — not a parity — so min-id survivor
    * semantics over the union coincide with first-batch-wins incremental
    * folding: any text present in both batches has its union-minimum id
    * in window 1, exactly the row the store already holds.
    */
  private[graft] val IncrementalSplitId = 250L

  /** The temperature-mixed manifest training corpus: curation → exact
    * dedup → p^0.5 source rebalancing at the mixed gate's pinned seed.
    */
  private[graft] def manifestMixedCorpus(docs: DataFrame): DataFrame =
    Sampling.mixByTemperature(manifestSurvivors(manifestGated(docs)),
        "doc_id", "source", "n_chars", alpha = 0.5, maxRate = 1.0, seed = 23L)
      .select(col("doc_id"), col("text"))

  /** The curation-gate CTE (language score + length, survivor attributes
    * carried) shared by both pre-training manifest oracles. Ends with a
    * comma — a `corpus` CTE follows in each.
    */
  private val ManifestGatedCte: String =
    """gated AS MATERIALIZED (
      |  SELECT doc_id, text, source, n_chars FROM (
      |    SELECT doc_id, text, source, n_chars,
      |      CAST(len(list_intersect(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')),
      |        ['the','and','of','to','a','in','is','that','for','it'])) AS DOUBLE)
      |        / CAST(greatest(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))), 1) AS DOUBLE) AS s_en,
      |      CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS ntoks
      |    FROM documents)
      |  WHERE s_en > 0.05 AND ntoks >= 20),
      |""".stripMargin

  /** The manifest replay tail shared by both pre-training manifest
    * oracles: Viterbi token counts under the trained `best2` model, the
    * seeded shuffle permutation, the running-sum window, and the
    * 512-token span cut. Consumes the `corpus` CTE.
    */
  private def manifestTailSql(shuffleSeed: Long): String = s""",
    |doctoks AS MATERIALIZED (
    |  SELECT d.doc_id, sum(b.ntok)::BIGINT AS n_tok FROM (
    |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
    |    FROM corpus) d
    |  JOIN best2 b USING (word) WHERE d.word <> ''
    |  GROUP BY d.doc_id)""".stripMargin + manifestPackTailSql(shuffleSeed)

  /** The kind-blind half of the manifest replay tail — seeded shuffle
    * permutation, running-sum window, 512-token span cut — consuming a
    * `doctoks(doc_id, n_tok)` CTE whatever model kind produced it (the
    * unigram tail above, or the BPE `w8` fusion the BPE manifest oracle
    * builds its own head from).
    */
  private def manifestPackTailSql(shuffleSeed: Long): String = s""",
    |shuf AS MATERIALIZED (
    |  SELECT doc_id, n_tok,
    |    CAST(row_number() OVER (
    |      ORDER BY ${uniformU32Sql("doc_id", shuffleSeed)}, doc_id) - 1
    |      AS BIGINT) AS shuffle_pos
    |  FROM doctoks),
    |cumt AS (
    |  SELECT doc_id, shuffle_pos, n_tok,
    |    CAST(coalesce(sum(n_tok) OVER (ORDER BY shuffle_pos
    |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    |      AS cum_before
    |  FROM shuf),
    |spans AS (
    |  SELECT doc_id, shuffle_pos, n_tok, cum_before,
    |    unnest(generate_series(cum_before // 512,
    |      (cum_before + n_tok - 1) // 512)) AS seq
    |  FROM cumt WHERE n_tok > 0)
    |SELECT doc_id, shuffle_pos, n_tok, cum_before, seq,
    |  greatest(0, seq * 512 - cum_before) AS tok_start,
    |  least(n_tok, (seq + 1) * 512 - cum_before) AS tok_end,
    |  greatest(0, cum_before - seq * 512) AS seq_offset
    |FROM spans""".stripMargin

  /** The incremental-manifest replay tail: the two windows' survivors
    * (`w1`, `w2` with their content hashes) tokenize under the serve
    * round's `best2` (trained on window 1, enumerated over the union via
    * the `serveSource` seam), then shuffle/cum/pack PER WINDOW — each
    * window at its own seed, positions and token budgets restarting at
    * zero, because appended windows never re-shuffle history. The
    * replayed window contributes nothing by construction: the oracle has
    * exactly two windows, so any replay-produced Spark row breaks the
    * hash.
    */
  private def incrementalTailSql(seeds: Seq[Long],
      shufWhere: Option[String] = None,
      finalWhere: Option[String] = None,
      asCte: Option[String] = None,
      prefix: String = ""): String = {
    // asCte: wrap the final span select as a named CTE and leave the
    // statement OPEN — for composition gates (q_takedown_sweep) whose
    // final statement unions the manifest rows with other surfaces.
    // prefix: namespace the internal CTEs so TWO tails (e.g. the full
    // pack and the swept pack of the time-travel gate) compose in one
    // statement (r18)
    val p = prefix
    val unions = seeds.indices.map { i =>
      s"""  SELECT ${i + 1}::BIGINT AS win, doc_id, content_hash,
        |    unnest(string_split_regex(text, '\\s+')) AS word FROM w${i + 1}"""
        .stripMargin
    }.mkString("\n  UNION ALL\n")
    val seedCase = "CASE " + seeds.zipWithIndex.map { case (sd, i) =>
      s"WHEN win = ${i + 1} THEN ${uniformU32Sql("doc_id", sd)}"
    }.mkString("\n           ") + "\n           END"
    // optional retraction seams: shufWhere drops docs BEFORE positions
    // are assigned (a compacted window's re-pack), finalWhere drops span
    // ROWS after packing (a logically-filtered window's read)
    val shufPred = shufWhere.map(w => s"\n  WHERE $w").getOrElse("")
    val finalPred = finalWhere.map(w => s" WHERE $w").getOrElse("")
    s""",
    |${p}docw AS (
    |$unions),
    |${p}doctoks AS MATERIALIZED (
    |  SELECT d.win, d.doc_id, any_value(d.content_hash) AS content_hash,
    |    sum(b.ntok)::BIGINT AS n_tok
    |  FROM ${p}docw d JOIN best2 b USING (word) WHERE d.word <> ''
    |  GROUP BY d.win, d.doc_id),
    |${p}shuf AS MATERIALIZED (
    |  SELECT win, doc_id, content_hash, n_tok,
    |    CAST(row_number() OVER (PARTITION BY win ORDER BY
    |      $seedCase, doc_id) - 1
    |      AS BIGINT) AS shuffle_pos
    |  FROM ${p}doctoks$shufPred),
    |${p}cumt AS (
    |  SELECT win, doc_id, content_hash, shuffle_pos, n_tok,
    |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY win ORDER BY shuffle_pos
    |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    |      AS cum_before
    |  FROM ${p}shuf),
    |${p}spans AS (
    |  SELECT win, doc_id, content_hash, shuffle_pos, n_tok, cum_before,
    |    unnest(generate_series(cum_before // 512,
    |      (cum_before + n_tok - 1) // 512)) AS seq
    |  FROM ${p}cumt WHERE n_tok > 0)
    |${asCte.map(n => s",\n$n AS (").getOrElse("")}SELECT win AS window, doc_id, content_hash, shuffle_pos, n_tok,
    |  cum_before, seq,
    |  greatest(0, seq * 512 - cum_before) AS tok_start,
    |  least(n_tok, (seq + 1) * 512 - cum_before) AS tok_end,
    |  greatest(0, cum_before - seq * 512) AS seq_offset
    |FROM ${p}spans$finalPred${asCte.map(_ => ")").getOrElse("")}""".stripMargin
  }

  /** The retraction replay tail: window 1 re-packs over the REMAINING
    * docs (the compacted state), window 2 packs over ALL its docs then
    * filters retracted rows out (the logical read-time state) — the two
    * halves of the MOR-style takedown lifecycle as the generalized
    * incremental tail's two filter seams (ONE span-arithmetic builder,
    * r16).
    */
  private def retractTailSql(seed1: Long, seed2: Long,
      retractPred: String, asCte: Option[String] = None,
      prefix: String = ""): String =
    incrementalTailSql(Seq(seed1, seed2),
      shufWhere = Some(s"win = 2 OR NOT ($retractPred)"),
      finalWhere = Some(s"NOT (win = 2 AND ($retractPred))"),
      asCte = asCte, prefix = prefix)
}
