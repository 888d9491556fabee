package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Cdc
import graft.operators.{Retrieval, Similarity}

import GateSupport._

/** Vector search: exact and approximate top-k, the persisted IVF/PQ
  * index and its maintenance, MMR re-ranking and k-means.
  */
object AnnGates extends GateFamily {

  lazy val gates: Seq[Gate] = Seq(
    // Symmetric int8 embedding quantization (4× smaller ANN storage/IO):
    // per-(vector, dim) code + scale. codes = floor(v/scale + 0.5) — pure
    // IEEE double ops in a fixed order, so the DuckDB oracle recomputes
    // them bit-for-bit and the gate is hash-checked, not rows-only.
    Gate("q_emb_quantize_int8", (s, dir) => {
      graft.operators.Similarity.quantizeInt8(t(s, dir, "embeddings"), "embedding")
        .select(col("vec_id"), round(col("scale"), 6).alias("scale_r"),
          posexplode(col("codes")))
        .select(col("vec_id"), col("pos").cast(IntegerType).alias("dim"),
          col("col").cast(IntegerType).alias("code"), col("scale_r"))
    },
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) / 127.0
        |      AS scale
        |  FROM embeddings)
        |SELECT vec_id, dim, code, scale_r FROM (
        |  SELECT vec_id, round(scale, 6) AS scale_r,
        |    unnest([{'dim': i - 1,
        |      'code': CASE WHEN scale = 0 THEN 0
        |        ELSE CAST(floor(CAST(embedding[i] AS DOUBLE) / scale + 0.5)
        |          AS INTEGER) END}
        |      for i in range(1, len(embedding) + 1)], recursive := true)
        |  FROM s)""".stripMargin),

    // Per-language embedding centroids (mean pooling): documents⋈embeddings
    // on the shared id, explode dims, EXACT decimal accumulation per
    // (lang, dim) — order-independent, so cluster and local runs agree
    // bit-for-bit (a raw double sum over a shuffle is not).
    Gate("q_emb_centroid_by_lang", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val joined = emb.join(docs, emb("vec_id") === docs("doc_id"))
        .select(col("lang"), col("embedding"))
      Similarity.centroids(joined, "embedding", Seq("lang"))
        .select(col("lang"), col("dim"),
          round(col("centroid_v"), 6).alias("centroid_r"))
    },
      """SELECT lang, CAST(i - 1 AS INT) AS dim,
        |  round(CAST(sum(CAST(e AS DECIMAL(27,10))) AS DOUBLE) / count(*), 6)
        |    AS centroid_r
        |FROM (
        |  SELECT d.lang, unnest(em.embedding) AS e,
        |         unnest(range(1, len(em.embedding) + 1)) AS i
        |  FROM embeddings em JOIN documents d ON em.vec_id = d.doc_id)
        |GROUP BY lang, i""".stripMargin),

    // Brute-force cosine top-10 for the first 5 query vectors (the exact
    // ANN baseline; DuckDB oracle via list_cosine_similarity).
    Gate("q_sim_topk_bruteforce", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").alias("query_id"), col("embedding"))
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
          "query_id", k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).alias("cosine_r"))
    },
      ExactTopKOracle),

    // int8 compressed-domain ANN, HASH-GATED via its degenerate-exact
    // configuration (r14 — the last ladder rung still spec-only): a
    // refineFactor covering the corpus makes the int8 candidate heap
    // total, so the exact float refine equals brute force — the SAME
    // quantize/int8_dot/bounded-heap/refine code the production config
    // runs, oracled by the shared exact top-k SQL. Partial-refine recall
    // stays SimilaritySpec's.
    Gate("q_sim_topk_int8", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").alias("query_id"), col("embedding"))
      Similarity.int8TopK(emb, queries, "vec_id", "embedding", "query_id",
          k = 10, refineFactor = 10000)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).alias("cosine_r"))
    },
      ExactTopKOracle),

    // LSH-bucketed ANN, HASH-GATED via its degenerate-exact configuration
    // (the wordpiece/simhash graduation trick, VERDICT r9 #6): at
    // numPlanes=1 the multi-probe set {b, b^1} covers BOTH buckets, so
    // every vector is scored exactly once and the result IS brute force —
    // same bucketing/probing/heap code the production config runs, oracled
    // by the exact top-k SQL. Partial-probe recall at production planes is
    // spec-pinned (SimilaritySpec).
    Gate("q_sim_topk_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").alias("query_id"), col("embedding"))
      Similarity.lshTopK(emb, queries, "vec_id", "embedding",
          "query_id", k = 10, dim = 64, numPlanes = 1)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).alias("cosine_r"))
    },
      // the ANN ladder's degenerate-exact gate configs all equal brute
      // force (all buckets probed / all cells probed / all candidates
      // refined), so they share its oracle — the graduation trick
      ExactTopKOracle),

    // IVF ANN, hash-gated at nprobe = numCells (probe every cell ⇒ exact
    // ≡ brute force; SimilaritySpec asserts the identity and pins partial-
    // probe recall). The cells/probe/scoring path is the production code.
    Gate("q_sim_topk_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").alias("query_id"), col("embedding"))
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
          "query_id", k = 10, numCells = 16, nprobe = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).alias("cosine_r"))
    },
      ExactTopKOracle),

    // PQ ANN, hash-gated with the refine multiplier opened wide enough
    // that every ADC candidate survives to the exact re-score (refine·k ≥
    // corpus at any tested SF) — the ADC scan, codebooks, and bounded-heap
    // stages all run for real; the exact refine then equals brute force.
    // Production refine=4 recall is spec-pinned.
    Gate("q_sim_topk_pq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").alias("query_id"), col("embedding"))
      Similarity.pqTopK(emb, queries, "vec_id", "embedding",
          "query_id", k = 10, dim = 64, refine = 100000)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).alias("cosine_r"))
    },
      ExactTopKOracle),

    // PERSISTED IVF index (AnnIndex): build → search-from-disk, hash-gated
    // at nprobe=numCells (all cells probed ⇒ exact ≡ brute force). The
    // gate drives the real serving path — fit, cell-partitioned layout,
    // centroid probing, file-pruned scan — end-to-end against the same
    // exact-top-k oracle; partial-probe recall and file pruning are
    // AnnIndexSpec's.
    Gate("q_ann_index_search", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      withWorkDir("graft-annix") { work =>
        val ix = work.resolve("ix").toString
        graft.operators.AnnIndex.buildIvf(ix, emb, "vec_id", "embedding",
          numCells = 8, fitSampleSize = 2000)
        graft.operators.AnnIndex.searchIvf(ix,
            emb.where(col("vec_id") < 5)
              .select(col("vec_id").alias("query_id"), col("embedding")),
            "query_id", k = 10, nprobe = 8)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cosine"), 6).alias("cosine_r"))
          .localCheckpoint(true)
      }
    },
      ExactTopKOracle),

    // CDC-driven DELETION under the oracle (r11, VERDICT r10 #7): build
    // the persisted index, tombstone every vec_id ≡ 3 (mod 10), search at
    // the degenerate-exact config — the oracle is exact top-k over the
    // corpus MINUS the deleted ids, so the tombstone filter itself is
    // hash-verified (a row leaking past a tombstone, or an over-delete,
    // breaks the hash). Physical fold-at-compact is AnnIndexSpec's.
    Gate("q_ann_delete_search", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      withWorkDir("graft-anndel") { work =>
        val ix = work.resolve("ix").toString
        graft.operators.AnnIndex.buildIvf(ix, emb, "vec_id", "embedding",
          numCells = 8, fitSampleSize = 2000)
        graft.operators.AnnIndex.deleteIvf(ix,
          emb.where(pmod(col("vec_id"), lit(10)) === 3).select(col("vec_id")))
        graft.operators.AnnIndex.searchIvf(ix,
            emb.where(col("vec_id") < 5)
              .select(col("vec_id").alias("query_id"), col("embedding")),
            "query_id", k = 10, nprobe = 8)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cosine"), 6).alias("cosine_r"))
          .localCheckpoint(true)
      }
    },
      // exact top-k over the corpus minus the tombstoned ids — one shared
      // definition for both index layouts (see AnnDeleteOracle)
      AnnDeleteOracle),

    // POLICY-MAINTAINED INDEX UNDER THE ORACLE (r13, VERDICT r12 #3): six
    // CDC micro-batches (appends of the initially-absent third, deletes of
    // 1/50-slices of the initial rows) flow through AnnIndexMaintainer
    // with the debt-count compaction policy — NO explicit compact call
    // anywhere — then the index is searched at the degenerate-exact
    // config. Oracle = exact top-k over the final live corpus: a row a
    // policy compaction dropped, a tombstone it lost, or a batch a replay
    // duplicated breaks the hash. Debt boundedness and replay are
    // AnnMaintainerSpec's.
    Gate("q_ann_stream_maintain", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      withWorkDir("graft-annmaint") { work =>
        val ix = work.resolve("ix").toString
        graft.operators.AnnIndex.buildIvf(ix,
          emb.where(pmod(col("vec_id"), lit(3)) =!= 0),
          "vec_id", "embedding", numCells = 8, fitSampleSize = 2000)
        val maint = new graft.streaming.AnnIndexMaintainer(ix,
          autoCompactDeltas = Some(4))
        (0 until 6).foreach { b =>
          val appends = emb
            .where(pmod(col("vec_id"), lit(3)) === 0 &&
              pmod(col("vec_id"), lit(18)) === 3 * b)
            .withColumn(Cdc.ChangeType, lit(Cdc.Upsert))
          val deletes = emb
            .where(pmod(col("vec_id"), lit(3)) =!= 0 &&
              pmod(col("vec_id"), lit(50)) === b)
            .withColumn(Cdc.ChangeType, lit(Cdc.Delete))
          maint.processBatch(appends.unionByName(deletes), b.toLong)
        }
        require(graft.operators.AnnIndex.deltaDebt(ix) < 4,
          "maintenance policy failed to bound the delta debt")
        graft.operators.AnnIndex.searchIvf(ix,
            emb.where(col("vec_id") < 5)
              .select(col("vec_id").alias("query_id"), col("embedding")),
            "query_id", k = 10, nprobe = 8)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cosine"), 6).alias("cosine_r"))
          .localCheckpoint(true)
      }
    },
      // exact top-k over the NET live corpus after the 6 policy-maintained
      // CDC batches — one shared definition for both index layouts (see
      // AnnMaintainOracle)
      AnnMaintainOracle),

    // MAINTENANCE SYMMETRY on the PQ layout (r14, VERDICT r13 #1): the
    // same 6 policy-maintained CDC batches against IVF-PQ — appends must
    // encode with the PERSISTED codebooks (no refit) and the mid-stream
    // policy folds must carry codes and refine vectors together — then
    // searched at the composed degenerate-exact config (all cells probed
    // + all candidates refined). Shares q_ann_stream_maintain's oracle:
    // a stale code, a refit codebook, or a fold that loses either column
    // breaks the hash.
    Gate("q_ann_stream_maintain_pq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      withWorkDir("graft-annmaintpq") { work =>
        val ix = work.resolve("ix").toString
        graft.operators.AnnIndex.buildIvfPq(ix,
          emb.where(pmod(col("vec_id"), lit(3)) =!= 0),
          "vec_id", "embedding", numCells = 8, m = 8, ksub = 16,
          fitSampleSize = 2000)
        val maint = new graft.streaming.AnnIndexMaintainer(ix,
          autoCompactDeltas = Some(4))
        (0 until 6).foreach { b =>
          val appends = emb
            .where(pmod(col("vec_id"), lit(3)) === 0 &&
              pmod(col("vec_id"), lit(18)) === 3 * b)
            .withColumn(Cdc.ChangeType, lit(Cdc.Upsert))
          val deletes = emb
            .where(pmod(col("vec_id"), lit(3)) =!= 0 &&
              pmod(col("vec_id"), lit(50)) === b)
            .withColumn(Cdc.ChangeType, lit(Cdc.Delete))
          maint.processBatch(appends.unionByName(deletes), b.toLong)
        }
        require(graft.operators.AnnIndex.deltaDebt(ix) < 4,
          "maintenance policy failed to bound the delta debt")
        graft.operators.AnnIndex.searchIvfPq(ix,
            emb.where(col("vec_id") < 5)
              .select(col("vec_id").alias("query_id"), col("embedding")),
            "query_id", k = 10, nprobe = 8, refine = 100000)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cosine"), 6).alias("cosine_r"))
          .localCheckpoint(true)
      }
    },
      AnnMaintainOracle),

    // FILTERED SEARCH OVER A MAINTAINED INDEX (r14): the two features
    // composed — 6 policy-maintained CDC batches (same stream as
    // q_ann_stream_maintain), then a filtered search at the degenerate-
    // exact config. The predicate must apply to the NET live rows: a
    // tombstoned row leaking through the filter scan, or a policy fold
    // dropping a qualifying append, breaks the hash. Oracle = exact
    // top-k over (net live corpus ∩ predicate).
    Gate("q_ann_filtered_maintained", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      withWorkDir("graft-annfm") { work =>
        val ix = work.resolve("ix").toString
        graft.operators.AnnIndex.buildIvf(ix,
          emb.where(pmod(col("vec_id"), lit(3)) =!= 0),
          "vec_id", "embedding", numCells = 8, fitSampleSize = 2000)
        val maint = new graft.streaming.AnnIndexMaintainer(ix,
          autoCompactDeltas = Some(4))
        (0 until 6).foreach { b =>
          val appends = emb
            .where(pmod(col("vec_id"), lit(3)) === 0 &&
              pmod(col("vec_id"), lit(18)) === 3 * b)
            .withColumn(Cdc.ChangeType, lit(Cdc.Upsert))
          val deletes = emb
            .where(pmod(col("vec_id"), lit(3)) =!= 0 &&
              pmod(col("vec_id"), lit(50)) === b)
            .withColumn(Cdc.ChangeType, lit(Cdc.Delete))
          maint.processBatch(appends.unionByName(deletes), b.toLong)
        }
        graft.operators.AnnIndex.searchIvf(ix,
            emb.where(col("vec_id") < 5)
              .select(col("vec_id").alias("query_id"), col("embedding")),
            "query_id", k = 10, nprobe = 8,
            where = Some(pmod(col("vec_id"), lit(5)) === 1))
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cosine"), 6).alias("cosine_r"))
          .localCheckpoint(true)
      }
    },
      // the maintained net-live corpus INTERSECTED with the filter — the
      // composition of the maintenance oracle and the filtered-search
      // oracle's predicate placement
      """SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine_r FROM (
        |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
        |    list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, d.vec_id) AS rank
        |  FROM embeddings d, embeddings q
        |  WHERE q.vec_id < 5 AND d.vec_id <> q.vec_id
        |    AND (d.vec_id % 3 = 0 OR d.vec_id % 50 >= 6)
        |    AND d.vec_id % 5 = 1)
        |WHERE rank <= 10""".stripMargin),

    // MMR DIVERSITY RE-RANK (r12): exact top-20 per query, then 5 greedy
    // maximal-marginal-relevance selections at λ=0.5 — the oracle unrolls
    // the identical 5 steps in SQL (per-step anti-set, max-sim to the
    // selected set, the same 0.5·rel − 0.5·maxsim argmax with id
    // tie-break), so the whole greedy trajectory is hash-verified, not
    // just the final set.
    Gate("q_mmr_rerank", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").alias("query_id"), col("embedding"))
      val top20 = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", "query_id", k = 20)
      val cands = top20.join(
        emb.select(col("vec_id").alias("neighbor_id"), col("embedding")),
        Seq("neighbor_id"))
      Retrieval.mmrRerank(cands, "query_id", "neighbor_id", "cosine",
          "embedding", m = 5, lambda = 0.5)
        .select(col("query_id"), col("neighbor_id"), col("mmr_rank"),
          round(col("mmr_score"), 6).alias("mmr_score_r"))
    },
      // the 5-step greedy MMR trajectory, unrolled (see mmrOracleSql)
      mmrOracleSql(5)),

    // FILTERED VECTOR SEARCH (r12): top-k among vectors satisfying a
    // metadata predicate, applied to the probed-cell scan BEFORE top-k
    // (post-filtering would under-fill k) — searched at the degenerate-
    // exact config so the oracle is exact top-k over the QUALIFYING
    // corpus: a disqualified vector leaking into the heap, or a
    // qualifying one dropped by the filter pushdown, breaks the hash.
    // Attribute-column persistence and append/tombstone composition are
    // AnnIndexSpec's.
    Gate("q_ann_filtered_search", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      withWorkDir("graft-annflt") { work =>
        val ix = work.resolve("ix").toString
        graft.operators.AnnIndex.buildIvf(ix, emb, "vec_id", "embedding",
          numCells = 8, fitSampleSize = 2000)
        graft.operators.AnnIndex.searchIvf(ix,
            emb.where(col("vec_id") < 5)
              .select(col("vec_id").alias("query_id"), col("embedding")),
            "query_id", k = 10, nprobe = 8,
            where = Some(pmod(col("vec_id"), lit(3)) === 1))
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cosine"), 6).alias("cosine_r"))
          .localCheckpoint(true)
      }
    },
      // exact top-k over the QUALIFYING corpus (the filtered-search dual
      // of the deletion gate) — one definition for both index layouts
      AnnFilteredOracle),

    // ...and the PQ layout's filtered twin (all cells + full refine ⇒
    // exact over the qualifying corpus; the filter must run before the
    // ADC candidate heap or disqualified vectors eat the refine slots)
    Gate("q_ann_filtered_search_pq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      withWorkDir("graft-annfltpq") { work =>
        val ix = work.resolve("ix").toString
        graft.operators.AnnIndex.buildIvfPq(ix, emb, "vec_id", "embedding",
          numCells = 8, m = 8, ksub = 16, fitSampleSize = 2000)
        graft.operators.AnnIndex.searchIvfPq(ix,
            emb.where(col("vec_id") < 5)
              .select(col("vec_id").alias("query_id"), col("embedding")),
            "query_id", k = 10, nprobe = 8, refine = 100000,
            where = Some(pmod(col("vec_id"), lit(3)) === 1))
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cosine"), 6).alias("cosine_r"))
          .localCheckpoint(true)
      }
    },
      AnnFilteredOracle),

    // DELETION SYMMETRY on the PQ index (VERDICT r11 #4): the same
    // tombstone batch against the IVF-PQ layout, searched at the
    // composed degenerate-exact config (all cells probed + all
    // candidates refined) — shares q_ann_delete_search's oracle, so the
    // PQ path's tombstone filter is hash-verified too, not just
    // spec-pinned.
    Gate("q_ann_delete_search_pq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      withWorkDir("graft-anndelpq") { work =>
        val ix = work.resolve("ix").toString
        graft.operators.AnnIndex.buildIvfPq(ix, emb, "vec_id", "embedding",
          numCells = 8, m = 8, ksub = 16, fitSampleSize = 2000)
        graft.operators.AnnIndex.deleteIvf(ix,
          emb.where(pmod(col("vec_id"), lit(10)) === 3).select(col("vec_id")))
        graft.operators.AnnIndex.searchIvfPq(ix,
            emb.where(col("vec_id") < 5)
              .select(col("vec_id").alias("query_id"), col("embedding")),
            "query_id", k = 10, nprobe = 8, refine = 100000)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cosine"), 6).alias("cosine_r"))
          .localCheckpoint(true)
      }
    },
      AnnDeleteOracle),

    // IVF-PQ ANN, hash-gated by composing both degenerate-exact knobs
    // (all cells probed + all candidates refined).
    Gate("q_sim_topk_ivfpq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").alias("query_id"), col("embedding"))
      Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
          "query_id", k = 10, dim = 64, numCells = 16, nprobe = 16,
          refine = 100000)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).alias("cosine_r"))
    },
      ExactTopKOracle),

    // Distributed spherical k-means, EXACT and oracle-gated end-to-end:
    // two Lloyd's iterations from the k lowest-id seeds, then the final
    // assignment — the oracle unrolls the identical iterations in SQL
    // (cosine assignment via the bit-matching list_cosine_similarity,
    // centroid means via exact DECIMAL sums). Output: one row per
    // (cell, dim) with the rounded centroid and the cell's member count.
    Gate("q_kmeans", (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cen = graft.operators.KMeans.fit(emb, "vec_id", "embedding",
        k = 8, iters = 2)
      val counts = graft.operators.KMeans.assign(emb, "embedding", cen)
        .groupBy(col("cell")).agg(count(lit(1)).alias("n_members"))
      val cenDf = cen.zipWithIndex.flatMap { case (v, c) =>
        v.zipWithIndex.map { case (m, d) => (c, d, m) }
      }.toDF("cell", "dim", "centroid")
      cenDf.join(broadcast(counts), Seq("cell"))
        .select(col("cell"), col("dim"),
          round(col("centroid"), 6).alias("centroid_r"), col("n_members"))
    },
      kmeansOracleSql(8, 2)),

    // THE VECTOR INDEX AS A FEED-MAINTAINED REPLICA (r14): the r13
    // store→store replica topology with an ANN index as the downstream —
    // the 100 TB serving shape where a ManifestUpsertStore owns the
    // embeddings and its change feed maintains the search index. A
    // StoreChangeFeed (durable cursor, at-least-once) tails the store
    // across two merges; each polled window IS AnnIndexMaintainer's batch
    // shape (folded envelope, one row per key) and the window's end
    // version is the replay-idempotent batch id, so every window is
    // applied TWICE before its ack (the crash-between-effect-and-ack
    // replay) and must no-op the second time. Search at the
    // degenerate-exact config; oracle = exact top-k over the final live
    // arithmetic. A skipped window, a replayed duplicate, or a delete the
    // feed lost breaks the hash.
    Gate("q_ann_feed_maintained", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      withWorkDir("graft-annfeed") { work =>
        val source = new graft.streaming.ManifestUpsertStore(s,
          work.resolve("source").toString, pkCols = Seq("vec_id"),
          numBuckets = 8)
        source.initialize(Cdc.initialLoad(
          emb.where(pmod(col("vec_id"), lit(3)) =!= 0)))
        // attach BEFORE snapshotting: a merge landing in between replays
        val feed = new graft.streaming.StoreChangeFeed(source,
          work.resolve("cursor").toString)
        val ix = work.resolve("ix").toString
        graft.operators.AnnIndex.buildIvf(ix,
          source.snapshot().select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", numCells = 8, fitSampleSize = 2000)
        val maint = new graft.streaming.AnnIndexMaintainer(ix,
          autoCompactDeltas = Some(4))
        def drain(): Unit = {
          val (changes, to) = feed.poll()
          if (feed.cursor < to) graft.util.Checkpoints.pinned(changes) { w =>
            maint.processBatch(w, to)
            maint.processBatch(w, to) // crash-replay before ack: no-op
            feed.commit(to)
          }
        }
        source.merge(emb
          .where(pmod(col("vec_id"), lit(3)) =!= 0 &&
            pmod(col("vec_id"), lit(7)) === 0)
          .withColumn(Cdc.ChangeType, lit(Cdc.Delete))
          .withColumn(Cdc.TransactionId, lit(1L)))
        drain()
        source.merge(emb.where(pmod(col("vec_id"), lit(6)) === 0)
          .withColumn(Cdc.ChangeType, lit(Cdc.Upsert))
          .withColumn(Cdc.TransactionId, lit(2L)))
        drain()
        graft.operators.AnnIndex.searchIvf(ix,
            emb.where(col("vec_id") < 5)
              .select(col("vec_id").alias("query_id"), col("embedding")),
            "query_id", k = 10, nprobe = 8)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cosine"), 6).alias("cosine_r"))
          .localCheckpoint(true)
      }
    },
      // the feed-maintained index's final live set: initial (%3<>0), minus
      // the batch-1 deletes (%7=0 of those), plus the batch-2 inserts
      // (%6=0 — disjoint from the initial set since %6=0 implies %3=0)
      """SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine_r FROM (
        |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
        |    list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, d.vec_id) AS rank
        |  FROM embeddings d, embeddings q
        |  WHERE q.vec_id < 5 AND d.vec_id <> q.vec_id
        |    AND ((d.vec_id % 3 <> 0 AND d.vec_id % 7 <> 0)
        |      OR d.vec_id % 6 = 0))
        |WHERE rank <= 10""".stripMargin)
  )

  /** DuckDB transcription of [[graft.operators.KMeans]]: `iters` Lloyd's
    * iterations unrolled as CTE pairs (assign rk=1 by cosine DESC, cell
    * ASC — the argmax-ties-low rule — then exact DECIMAL per-dim means),
    * with the empty-cell carry-over branch mirroring fit()'s
    * `getOrElse(prev)`. Generated, not hand-unrolled, so the SQL cannot
    * drift from the k/iters the Spark query uses.
    */
  private def kmeansOracleSql(k: Int, iters: Int): String = {
    def assignCte(a: String, c: String) =
      s"""$a AS (SELECT vec_id, embedding, cell FROM (
         |  SELECT e.vec_id, e.embedding, c.cell,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      list_cosine_similarity(e.embedding::DOUBLE[], c.centroid) DESC,
         |      c.cell) AS rk
         |  FROM embeddings e CROSS JOIN $c c) WHERE rk = 1)""".stripMargin
    def updateCte(m: String, cNew: String, a: String, cPrev: String) =
      s"""$m AS (SELECT cell, i,
         |  CAST(sum(CAST(e AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m
         |  FROM (SELECT cell, unnest(embedding) AS e,
         |        unnest(range(1, len(embedding) + 1)) AS i FROM $a)
         |  GROUP BY cell, i),
         |$cNew AS (SELECT cell, list(m ORDER BY i) AS centroid FROM $m GROUP BY cell
         |  UNION ALL SELECT cell, centroid FROM $cPrev
         |  WHERE cell NOT IN (SELECT cell FROM $m))""".stripMargin
    val steps = (0 until iters).map { i =>
      assignCte(s"a$i", s"c$i") + ",\n" + updateCte(s"m$i", s"c${i + 1}", s"a$i", s"c$i")
    }.mkString(",\n")
    s"""WITH seeds AS (SELECT vec_id, embedding FROM embeddings
       |  ORDER BY vec_id LIMIT $k),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |  AS cell, embedding::DOUBLE[] AS centroid FROM seeds),
       |$steps,
       |${assignCte("afin", s"c$iters")},
       |n AS (SELECT cell, count(*) AS n_members FROM afin GROUP BY cell),
       |cl AS (SELECT cell, unnest(centroid) AS m,
       |  unnest(range(1, len(centroid) + 1)) AS i FROM c$iters)
       |SELECT cl.cell, CAST(cl.i - 1 AS INT) AS dim,
       |  round(cl.m, 6) AS centroid_r, n.n_members
       |FROM cl JOIN n USING (cell)""".stripMargin
  }

  /** Exact cosine top-10 for the first 5 query vectors — shared by the
    * brute-force gate and every ANN-ladder gate's degenerate-exact
    * configuration (all of which reduce to brute force by construction).
    */
  private val ExactTopKOracle =
    """SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine_r FROM (
      |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
      |    list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cosine,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, d.vec_id) AS rank
      |  FROM embeddings d, embeddings q
      |  WHERE q.vec_id < 5 AND d.vec_id <> q.vec_id)
      |WHERE rank <= 10""".stripMargin

  /** Exact top-k over the corpus minus the tombstoned ids — shared by the
    * IVF and IVF-PQ deletion gates: both index layouts must serve the
    * identical post-delete result BY CONTRACT, so their oracle is one
    * definition that cannot drift (ADVICE r11).
    */
  /** Generated m-step MMR oracle (see q_mmr_rerank): cand = exact
    * top-20 per query; sel1 = pure-relevance argmax; each later step
    * computes every remaining candidate's max cosine to the selected set
    * (NOT EXISTS anti-set), scores `0.5·rel − 0.5·maxsim`, and picks the
    * per-query argmax with the id tie-break — the greedy trajectory the
    * Spark operator walks, layer for layer. MATERIALIZED per layer for
    * the same CTE-inlining reason as the BPE oracle.
    */
  private def mmrOracleSql(m: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH cand AS MATERIALIZED (
      |  SELECT query_id, id, rel, emb FROM (
      |    SELECT q.vec_id AS query_id, d.vec_id AS id,
      |      list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS rel,
      |      d.embedding AS emb,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, d.vec_id) AS rn
      |    FROM embeddings d, embeddings q
      |    WHERE q.vec_id < 5 AND d.vec_id <> q.vec_id)
      |  WHERE rn <= 20),
      |sel1 AS MATERIALIZED (
      |  SELECT query_id, id, emb, 1 AS mmr_rank, rel AS score FROM (
      |    SELECT query_id, id, emb, rel,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY rel DESC, id) AS rn
      |    FROM cand) WHERE rn = 1)""".stripMargin
    for (i <- 2 to m) {
      val prev = s"sel${i - 1}"
      sb ++= s""",
        |ms$i AS MATERIALIZED (
        |  SELECT c.query_id, c.id,
        |    max(list_cosine_similarity(c.emb::DOUBLE[], s.emb::DOUBLE[])) AS maxsim
        |  FROM cand c JOIN $prev s ON c.query_id = s.query_id
        |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
        |    WHERE x.query_id = c.query_id AND x.id = c.id)
        |  GROUP BY c.query_id, c.id),
        |s$i AS MATERIALIZED (
        |  SELECT query_id, id, emb, $i AS mmr_rank, score FROM (
        |    SELECT c.query_id, c.id, c.emb,
        |      0.5 * c.rel - 0.5 * mm.maxsim AS score,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY 0.5 * c.rel - 0.5 * mm.maxsim DESC, c.id) AS rn
        |    FROM cand c JOIN ms$i mm
        |      ON c.query_id = mm.query_id AND c.id = mm.id)
        |  WHERE rn = 1),
        |sel$i AS MATERIALIZED (
        |  SELECT * FROM $prev UNION ALL SELECT * FROM s$i)""".stripMargin
    }
    sb ++= s"""
      |SELECT query_id, id AS neighbor_id, mmr_rank,
      |  round(score, 6) AS mmr_score_r FROM sel$m""".stripMargin
    sb.toString
  }

  /** Exact top-k over the corpus rows satisfying the gate predicate —
    * shared by the IVF and IVF-PQ filtered-search gates (one definition,
    * cannot drift; same pattern as [[AnnDeleteOracle]]).
    */
  private val AnnFilteredOracle =
    """SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine_r FROM (
      |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
      |    list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cosine,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, d.vec_id) AS rank
      |  FROM embeddings d, embeddings q
      |  WHERE q.vec_id < 5 AND d.vec_id <> q.vec_id AND d.vec_id % 3 = 1)
      |WHERE rank <= 10""".stripMargin

  /** Exact top-k over the NET live corpus after the 6 policy-maintained
    * CDC batches: the whole initially-absent third (vec_id%3=0 — the six
    * %18 slices cover it) plus the initial rows whose 1/50 slice was
    * never deleted (vec_id%50 >= 6). The index folded under the debt
    * policy mid-stream; any row lost or resurrected by those compactions
    * breaks the hash. Shared by the IVF and IVF-PQ maintenance gates
    * (one definition, cannot drift — the [[AnnDeleteOracle]] pattern).
    */
  private val AnnMaintainOracle =
    """SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine_r FROM (
      |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
      |    list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cosine,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, d.vec_id) AS rank
      |  FROM embeddings d, embeddings q
      |  WHERE q.vec_id < 5 AND d.vec_id <> q.vec_id
      |    AND (d.vec_id % 3 = 0 OR d.vec_id % 50 >= 6))
      |WHERE rank <= 10""".stripMargin

  private val AnnDeleteOracle =
    """SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine_r FROM (
      |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
      |    list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cosine,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, d.vec_id) AS rank
      |  FROM embeddings d, embeddings q
      |  WHERE q.vec_id < 5 AND d.vec_id <> q.vec_id AND d.vec_id % 10 <> 3)
      |WHERE rank <= 10""".stripMargin
}
