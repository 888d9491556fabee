package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextAnalysis
import graft.operators.{Decontaminate, Dedup}

import GateSupport._

/** Deduplication and decontamination: exact, normalized, MinHash,
  * SimHash, n-gram, embedding and span dedup, connected components and
  * the leakage-aware splits.
  */
object DedupGates extends GateFamily {

  lazy val gates: Seq[Gate] = Seq(
    // ── Training-data pipeline: dedup + text analysis ─────────────────────
    // Exact dedup: hash-groupBy on content (documents table) — the shipped
    // operator, not an inline copy, so the gate tests what users run.
    Gate("q_dedup_exact", (s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("content_hash", "text_hash")
        .select(col("text_hash"), col("keep_id"), col("n_copies"))
    },
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin),

    // Corpus-frequency segment removal (the RefinedWeb/CCNet boilerplate
    // pass). The synthetic corpus is single-line with no exact-duplicate
    // texts, so a newline-segment run drops nothing — the gate instead
    // runs the SAME operator at whitespace segments with a high threshold
    // (frequency-based token pruning), so the common-set match, ordered
    // reassembly, and count bookkeeping all see real drops under the
    // oracle hash. Multi-line/empty-doc behavior is spec-pinned.
    Gate("q_line_dedup", (s, dir) => {
      Dedup.dropFrequentLines(t(s, dir, "documents"), "doc_id", "text",
        minCount = 940, sep = " ")
    },
      """WITH lines AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS line,
        |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        |  FROM documents),
        |common AS (SELECT line FROM lines GROUP BY line
        |  HAVING count(*) >= 940),
        |reb AS (
        |  SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text_clean,
        |    count(*) AS n_kept_lines
        |  FROM lines WHERE line NOT IN (SELECT line FROM common)
        |  GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.text_clean, '') AS text_clean,
        |  coalesce(r.n_kept_lines, 0) AS n_kept_lines,
        |  len(string_split(d.text, ' ')) - coalesce(r.n_kept_lines, 0)
        |    AS n_dropped_lines
        |FROM documents d LEFT JOIN reb r USING (doc_id)""".stripMargin),

    // ── Dedup / similarity (training-data pipeline) ───────────────────────
    // MinHash-LSH near-dup pairs with exact-Jaccard verification. At
    // threshold 0.5 with 32 bands × 4 rows the per-pair miss probability is
    // ≤ (1-0.5⁴)³² ≈ 1e-1 at J=0.5 but ≤ 5e-8 at J=0.8 — and every true
    // pair in this corpus sits at J ≥ 0.8, so the LSH output equals the
    // exact all-pairs join (the DuckDB oracle).
    Gate("q_dedup_minhash_pairs", (s, dir) => {
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).alias("jaccard_r"))
    },
      // exact all-pairs 5-gram Jaccard at 0.5 — one shared definition for
      // the batch LSH pipeline and the streaming state-machine pipeline
      // (see MinhashPairsOracle)
      MinhashPairsOracle),

    // EXACT n-gram Jaccard similarity join: prefix filtering (rarest-first
    // global token order) guarantees 100% recall — no LSH probability in
    // the loop, so the oracle is the plain all-pairs join. Word trigrams,
    // not char-grams: this corpus's char-5-gram vocabulary is ~2k tokens
    // (every bucket huge), while word trigrams give ~30k mostly-rare
    // tokens — prefix buckets stay small and the join near-linear.
    Gate("q_dedup_ngram_jaccard", (s, dir) => {
      Dedup.ngramJaccardJoin(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, threshold = 0.8, wordGrams = true)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).alias("jaccard_r"))
    },
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                   for i in range(1, len(ws) - 1)]) AS s
        |  FROM w),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(jaccard, 6) AS jaccard_r
        |FROM p WHERE jaccard >= 0.8""".stripMargin),

    // EXACT embedding-cosine near-dup pairs (block-distributed all-pairs;
    // the LSH variant below is the recall-traded scale path).
    Gate("q_dedup_embedding_exact", (s, dir) => {
      Dedup.embeddingExactPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).alias("cosine_r"))
    },
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine_r
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""".stripMargin),

    // SimHash near-dup pairs: pigeonhole banding is COMPLETE within the
    // radius (4 chunks of 16 bits for maxHamming 3), exact Hamming verify
    // after — so the output EQUALS brute force, and since r9 the token
    // hash (FNV-1a/64 over code points) is DuckDB-reproducible: the
    // oracle recomputes every simhash and the full pair set. Hash-gated.
    Gate("q_dedup_simhash_pairs", (s, dir) => {
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)
    },
      // SimHash near-dup pairs: the banding is pigeonhole-complete within
      // maxHamming=3 (4 chunks — ≤3 differing bits leave ≥1 chunk equal), so
      // the LSH output EQUALS the brute-force pair set the oracle computes.
      s"""WITH $FnvTokenHashCte,
        |sim AS (
        |  SELECT doc_id,
        |    CASE WHEN u >= 9223372036854775808
        |      THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |      ELSE CAST(u AS BIGINT) END AS fp
        |  FROM (SELECT doc_id, list_sum([
        |      CASE WHEN list_sum([CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END
        |        for h in hs]) > 0
        |      THEN CAST(1 AS UBIGINT) << b ELSE CAST(0 AS UBIGINT) END
        |      for b in range(0, 64)]) AS u
        |    FROM th))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       bit_count(xor(a.fp, b.fp)) AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin),

    // Embedding near-dup pairs via hyperplane LSH + exact cosine,
    // HASH-GATED at numPlanes=0 (zero hyperplanes = one bucket = the
    // exact all-pairs verify, running the same collect/kernel path the
    // pruning configs run); LSH recall at production planes stays
    // spec-pinned (DedupSpec). GATE-ONLY config: one bucket collects the
    // whole corpus into a single row — bounded to the oracle-able SFs
    // (the DuckDB oracle is itself the O(n²) self-join, so the gate can
    // never outgrow its oracle); production pruning configs stay
    // distributed.
    Gate("q_dedup_embedding_pairs", (s, dir) => {
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, threshold = 0.35, numPlanes = 0)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).alias("cosine_r"))
    },
      // the LSH gate's numPlanes=0 configuration is the exact all-pairs
      // verify at its own threshold — same SQL shape
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine_r
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35""".stripMargin),

    // Transitive dedup groups over verified near-dup pairs; components are
    // labeled by their minimum doc_id, so the DuckDB oracle is a recursive
    // transitive closure over the same exact pair set.
    Gate("q_dedup_groups", (s, dir) => {
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.5)
      Dedup.connectedComponents(pairs)
        .groupBy(col("component"))
        .agg(count(lit(1)).alias("group_size"), min(col("id")).alias("keep_id"))
    },
      DedupGroupsOracle),

    // The DISTRIBUTED pointer-jumping path under the oracle (r11, VERDICT
    // r10 #6): every prior oracle run took the driver union-find fast path
    // (edges ≪ 4M at verify scale), leaving the arbitrarily-large-graph
    // code DuckDB-unverified. driverEdgeLimit = 0 forces min-label
    // propagation + pointer jumping — the path a 100 TB dedup actually
    // runs — against the same recursive-CTE oracle; identical output to
    // q_dedup_groups is itself part of the contract (the two paths must
    // agree exactly, spec-pinned in DedupSpec).
    Gate("q_dedup_groups_distributed", (s, dir) => {
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.5)
      Dedup.connectedComponents(pairs, driverEdgeLimit = 0L)
        .groupBy(col("component"))
        .agg(count(lit(1)).alias("group_size"), min(col("id")).alias("keep_id"))
    },
      // Same oracle as q_dedup_groups (shared val) — the Spark side runs
      // the forced-distributed pointer-jumping path instead of the driver
      // union-find (degenerate-config graduation, same trick as the ANN
      // ladder).
      DedupGroupsOracle),

    // The dedup END PRODUCT: the corpus with one survivor per near-dup
    // group (docs outside any group pass through; each group keeps its
    // minimum id). What a training-data pipeline actually ships.
    Gate("q_dedup_keep_one", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      val comps = Dedup.connectedComponents(pairs)
      val losers = comps.where(col("id") =!= col("component"))
        .select(col("id").alias("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), length(col("text")).alias("n_chars"))
    },
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct([substr(text, i, 5) for i in range(1, length(text) - 3)]) AS s
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
        |losers AS (
        |  SELECT id FROM reach GROUP BY id HAVING id <> min(r))
        |SELECT doc_id, CAST(length(text) AS INT) AS n_chars
        |FROM documents WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin),

    // Corpus-level n-gram overlap between the two doc_id-parity halves:
    // "how much of corpus B is already in corpus A" as ONE row of distinct
    // 3-gram set counts + Jaccard. Spark runs on FNV gram hashes, the
    // oracle on gram strings — identical modulo 64-bit collisions (the
    // ExactSubstr contract). The bottom-k sketch estimator variant is
    // spec-pinned against this exact value (OverlapSpec).
    Gate("q_corpus_overlap", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Overlap.ngramOverlap(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "text", n = 3)
        .select(col("n_a"), col("n_b"), col("n_common"),
          round(col("jaccard"), 6).alias("jaccard_r"))
    },
      // Corpus overlap: distinct 3-gram STRINGS per half (Spark side uses
      // FNV hashes of the same grams — identical counts modulo collisions).
      // Tokenization mirrors word_ngram_hashes: trim, split on \s+, DROP
      // empty tokens, no lowercasing, grams joined by single spaces.
      """WITH toks AS (
        |  SELECT doc_id % 2 AS half,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> t <> '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT half, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |    for i in range(1, len(ws) - 1)]) AS gram
        |  FROM toks WHERE len(ws) >= 3),
        |agg AS (
        |  SELECT gram, bool_or(half = 0) AS ina, bool_or(half = 1) AS inb
        |  FROM g GROUP BY gram)
        |SELECT count(*) FILTER (ina) AS n_a, count(*) FILTER (inb) AS n_b,
        |  count(*) FILTER (ina AND inb) AS n_common,
        |  round(CAST(count(*) FILTER (ina AND inb) AS DOUBLE) / count(*), 6)
        |    AS jaccard_r
        |FROM agg""".stripMargin),

    // Benchmark decontamination: corpus documents sharing any 13-gram
    // with the held-out benchmark slice (doc_id % 10 == 0). The benchmark
    // gram set broadcasts; the corpus is read once.
    Gate("q_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.overlap(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 13)
    },
      DecontaminateOracle),

    // Bloom-prefiltered decontamination: same answer as q_decontaminate
    // (bloom survivors re-verify through an exact join), but the eval side
    // ships as ~16 bits/gram instead of an exact 64-bit hash set — the
    // variant for eval sets too big to broadcast exactly.
    Gate("q_decontaminate_bloom", (s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.overlapBloom(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 13)
    },
      // identical oracle by design: the bloom is a prefilter, the exact
      // verify join restores the exact answer
      DecontaminateOracle),

    // Quality-aware exact dedup: keep the cleanest copy of each duplicated
    // document (max quality, id tie-break) — one hash-aggregate shuffle,
    // no per-group window.
    Gate("q_dedup_keep_best", (s, dir) => {
      Dedup.keepBest(t(s, dir, "documents"), "doc_id", "text",
          round(TextAnalysis.qualityScore(col("text")), 6))
        .withColumnRenamed("content_hash", "text_hash")
        .select(col("text_hash"), col("keep_id"), col("best_score"),
          col("n_copies"))
    },
      s"""WITH q AS ($TextQualityOracle),
        |j AS (SELECT d.text, d.doc_id, q.quality_r
        |      FROM documents d JOIN q ON d.doc_id = q.doc_id),
        |r AS (SELECT text, doc_id, quality_r,
        |        row_number() OVER (PARTITION BY text
        |          ORDER BY quality_r DESC, doc_id DESC) AS rn
        |      FROM j)
        |SELECT md5(text) AS text_hash,
        |       max(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
        |       max(quality_r) AS best_score,
        |       count(*) AS n_copies
        |FROM r GROUP BY text""".stripMargin),

    // Substring-level dedup (Lee et al. 2022 ExactSubstr): maximal token
    // spans whose every 13-gram repeats somewhere in the corpus. Gram
    // selection runs on 64-bit hashes in Spark and literal gram strings in
    // the oracle — identical output modulo hash collisions (~2^-40 at this
    // corpus size).
    Gate("q_dedup_spans", (s, dir) => {
      Dedup.duplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
        gramLen = 13)
    },
      s"""WITH $DupSpansCte
        |SELECT doc_id, span_start, span_end FROM spans""".stripMargin),

    // The removal applied: md5 of the rebuilt text gates EXACT
    // reconstruction (surviving tokens, original case, single-space
    // rejoin), not just counts.
    Gate("q_dedup_span_clean", (s, dir) => {
      Dedup.removeDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
          gramLen = 13)
        .select(col("doc_id"), md5(col("clean_text")).alias("clean_md5"),
          when(length(col("clean_text")) === 0, lit(0L))
            .otherwise(size(split(col("clean_text"), "\\s+")).cast(LongType))
            .alias("n_tokens_clean"))
    },
      s"""WITH $DupSpansCte,
        |toks0 AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws0
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    unnest([{'j': j, 'w': ws0[j]} for j in range(1, len(ws0) + 1)]) AS t
        |  FROM toks0),
        |sdocs AS (SELECT DISTINCT doc_id FROM spans),
        |keptagg AS (
        |  SELECT k.doc_id, string_agg(k.t.w, ' ' ORDER BY k.t.j) AS cln
        |  FROM tok k
        |  WHERE EXISTS (SELECT 1 FROM sdocs s WHERE s.doc_id = k.doc_id)
        |    AND NOT EXISTS (SELECT 1 FROM spans s WHERE s.doc_id = k.doc_id
        |      AND k.t.j - 1 >= s.span_start AND k.t.j - 1 < s.span_end)
        |  GROUP BY k.doc_id),
        |fin AS (
        |  SELECT sd.doc_id, coalesce(ka.cln, '') AS cln
        |  FROM sdocs sd LEFT JOIN keptagg ka USING (doc_id))
        |SELECT d.doc_id,
        |  CASE WHEN f.doc_id IS NULL THEN md5(d.text) ELSE md5(f.cln) END
        |    AS clean_md5,
        |  CAST(CASE WHEN f.doc_id IS NULL THEN
        |         CASE WHEN length(d.text) = 0 THEN 0
        |              ELSE len(regexp_split_to_array(d.text, '\\s+')) END
        |       ELSE CASE WHEN f.cln = '' THEN 0
        |              ELSE len(regexp_split_to_array(f.cln, '\\s+')) END
        |       END AS BIGINT) AS n_tokens_clean
        |FROM documents d LEFT JOIN fin f USING (doc_id)""".stripMargin),

    // SemDeDup (Abbas et al. 2023): k-means cells prune the cosine verify
    // to same-cell pairs; components + keep-one produce the surviving
    // corpus. HASH-GATED at numCells=1 (one cell = the exact all-pairs
    // verify; SemDedupSpec asserts the identity) — the oracle replays
    // threshold pairs + min-label components via a recursive CTE. Cross-
    // cell recall at production cell counts stays spec-pinned.
    Gate("q_semdedup_keep", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = Dedup.semanticNearDups(emb, "vec_id", "embedding",
        threshold = 0.4, numCells = 1, fitSampleSize = 2000)
      val comps = Dedup.connectedComponents(pairs)
      val losers = comps.where(col("id") =!= col("component"))
        .select(col("id").alias("vec_id"))
      emb.join(losers, Seq("vec_id"), "left_anti")
        .select(col("vec_id"))
    },
      // SemDeDup at numCells=1 = exact all-pairs threshold graph; keep-one
      // = drop every node whose component's min id is not itself. The
      // recursive CTE propagates min labels to a fixpoint (UNION dedups, so
      // iteration terminates when no smaller label reaches any node).
      """WITH RECURSIVE pair AS (
        |  SELECT a.vec_id AS u, b.vec_id AS v
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4),
        |edge AS (SELECT u, v FROM pair UNION ALL SELECT v AS u, u AS v FROM pair),
        |comp(id, label) AS (
        |  SELECT u AS id, u AS label FROM edge
        |  UNION
        |  SELECT e.u AS id, c.label FROM edge e JOIN comp c ON c.id = e.v),
        |losers AS (
        |  SELECT id FROM comp GROUP BY id HAVING min(label) <> id)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM losers)""".stripMargin),

    // Normalization-exact dedup: case/punctuation/whitespace-insensitive
    // grouping — the standard first pass before near-dup machinery.
    Gate("q_dedup_exact_normalized", (s, dir) => {
      Dedup.exactNormalized(t(s, dir, "documents"), "doc_id", "text")
        .select(col("content_hash"), col("keep_id"), col("n_copies"))
    },
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      regexp_replace(lower(text), '[^\p{L}\p{N} \t\n\r\f]', '', 'g'),
        |      '[ \t\n\r\f]+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT md5(norm) AS content_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_copies
        |FROM n GROUP BY norm""".stripMargin),

    // CROSS-MODAL fused dedup: a pair is a near-dup if its TEXT matches
    // (exact prefix-filter n-gram Jaccard) OR its EMBEDDING matches (exact
    // cosine) — the documents and embeddings tables share ids, so the two
    // operators compose into one labeled pair list, the fusion a real
    // multimodal pipeline ships.
    Gate("q_fused_dedup_pairs", (s, dir) => {
      val textPairs = Dedup.ngramJaccardJoin(t(s, dir, "documents"),
          "doc_id", "text", shingleN = 3, threshold = 0.8, wordGrams = true)
        .select(col("id_a"), col("id_b"), lit("text").alias("modality"))
      // the LSH scale path, NOT the exact block join: 48 banded hyperplane
      // tables at 4 planes — the r7 (tables × planes) sweep's cheapest
      // recall-1.0 point at BOTH sf0.01 and sf0.1 (25% less bucket shuffle
      // than r6's 64×4; 40×4 and every >=5-plane config already miss
      // pairs — tools/LshSweep, SCALING.md). Deterministic seeded planes
      // keep the gate reproducible; DedupSpec pins recall == 1.0 vs the
      // embeddingExactPairs baseline.
      val embPairs = Dedup.embeddingNearDups(t(s, dir, "embeddings"),
          "vec_id", "embedding", dim = 64, threshold = 0.4,
          numPlanes = 4, tables = 48)
        .select(col("id_a"), col("id_b"), lit("embedding").alias("modality"))
      textPairs.unionByName(embPairs)
        .groupBy(col("id_a"), col("id_b"))
        .agg(array_join(array_sort(collect_set(col("modality"))), "+")
          .alias("modalities"))
    },
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                   for i in range(1, len(ws) - 1)]) AS s
        |  FROM w),
        |tp AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, 'text' AS modality
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        >= 0.8),
        |ep AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, 'embedding' AS modality
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4)
        |SELECT id_a, id_b,
        |  string_agg(modality, '+' ORDER BY modality) AS modalities
        |FROM (SELECT * FROM tp UNION ALL SELECT * FROM ep)
        |GROUP BY id_a, id_b""".stripMargin),

    // Split-leakage audit: near-duplicate pairs STRADDLING a split
    // boundary — the train/eval contamination check every pipeline must
    // run after dealing splits (a val doc whose near-dup sits in train
    // inflates eval). Composes two gated kernels: the LSH pair set
    // (recall 1.0 on this corpus, same argument as q_dedup_minhash_pairs)
    // and the split deal applied as a map-side EXPRESSION on each pair's
    // two ids — zero extra joins or shuffles beyond the pair join itself,
    // so the audit costs the same as the dedup pass it rides on.
    Gate("q_split_leakage", (s, dir) => {
      import graft.operators.Splits
      val w = Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0)
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          Splits.assignExpr(col("id_a"), w).alias("split_a"),
          Splits.assignExpr(col("id_b"), w).alias("split_b"),
          round(col("jaccard"), 6).alias("jaccard_r"))
        .where(col("split_a") =!= col("split_b"))
    },
      // same pair set as q_dedup_minhash_pairs (LSH recall 1.0 there), with
      // the split deal re-derived per id by the same CASE the split oracle
      // uses — interpolated IEEE bounds and all
      {
      val bounds = graft.operators.Splits.cumulativeBounds(
        Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0))
      def splitCase(idExpr: String): String =
        s"""CASE WHEN ${uniformU32Sql(idExpr, 42L)} / 4294967296.0 < ${bounds(0)} THEN 'train'
          |     WHEN ${uniformU32Sql(idExpr, 42L)} / 4294967296.0 < ${bounds(1)} THEN 'val'
          |     ELSE 'test' END""".stripMargin
      s"""WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([substr(text, i, 5) for i in range(1, length(text) - 3)]) AS s
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |  ${splitCase("id_a")} AS split_a,
        |  ${splitCase("id_b")} AS split_b,
        |  round(jaccard, 6) AS jaccard_r
        |FROM p WHERE jaccard >= 0.5
        |  AND ${splitCase("id_a")} <> ${splitCase("id_b")}""".stripMargin
    }),

    // Group-aware splits — the FIX for what q_split_leakage detects: deal
    // the split from the near-dup GROUP label (component, singletons =
    // own id), so a whole duplicate family lands in one split and
    // train/eval leakage is structurally zero (spec-asserted). The group
    // table is near-dup members only (tiny by contract) → broadcast; the
    // deal itself stays a map-side expression.
    Gate("q_split_by_group", (s, dir) => {
      import graft.operators.Splits
      val w = Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0)
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.5)
      val groups = Dedup.connectedComponents(pairs)
        .withColumnRenamed("id", "doc_id")
      docs.select(col("doc_id"))
        .join(broadcast(groups), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).alias("grp"))
        .select(col("doc_id"), col("grp"),
          Splits.assignExpr(col("grp"), w).alias("split"))
    },
      // recursive-CTE components (as in q_dedup_groups) + singleton
      // coalesce + the split CASE applied to the GROUP label
      {
      val bounds = graft.operators.Splits.cumulativeBounds(
        Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0))
      s"""WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct([substr(text, i, 5) for i in range(1, length(text) - 3)]) AS s
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |g AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS grp
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
        |SELECT doc_id, grp,
        |  CASE WHEN ${uniformU32Sql("grp", 42L)} / 4294967296.0 < ${bounds(0)} THEN 'train'
        |       WHEN ${uniformU32Sql("grp", 42L)} / 4294967296.0 < ${bounds(1)} THEN 'val'
        |       ELSE 'test' END AS split
        |FROM g""".stripMargin
    })
  )

  /** Shared by q_decontaminate and q_decontaminate_bloom: the bloom path
    * must produce the IDENTICAL answer (its survivors re-verify through an
    * exact join), so one oracle gates both.
    */
  private val DecontaminateOracle =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest(list_distinct([array_to_string(ws[i:i+12], ' ')
      |                          for i in range(1, len(ws) - 11)])) AS g
      |  FROM toks WHERE len(ws) >= 13),
      |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0),
      |corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % 10 <> 0)
      |SELECT c.doc_id, count(*) AS n_shared
      |FROM corpus c JOIN bench USING (g)
      |GROUP BY c.doc_id""".stripMargin

  /** Duplicated-span CTE list (Lee et al. ExactSubstr shape), shared by
    * the span gate and the removal gate: positional 13-gram explode over
    * the lower(trim) word tokenization, corpus-wide ≥2-occurrence gate,
    * per-document gaps-and-islands merge. The oracle selects grams by
    * LITERAL STRING equality where Spark compares 64-bit gram hashes —
    * identical output modulo hash collisions (~2^-40 at gate scale).
    */
  private val DupSpansCte =
    """toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
      |  FROM documents),
      |gr AS (
      |  SELECT doc_id,
      |    unnest([{'p': i - 1, 'g': array_to_string(ws[i:i+12], ' ')}
      |            for i in range(1, len(ws) - 11)]) AS e
      |  FROM toks WHERE len(ws) >= 13),
      |grams AS (SELECT doc_id, e.p AS pos, e.g AS gram FROM gr),
      |dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
      |marked AS (
      |  SELECT doc_id, pos FROM grams WHERE gram IN (SELECT gram FROM dup)),
      |isl AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 13
      |         THEN 0 ELSE 1 END AS brk
      |  FROM marked),
      |grp AS (
      |  SELECT doc_id, pos,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS UNBOUNDED PRECEDING) AS gid
      |  FROM isl),
      |spans AS (
      |  SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |         CAST(max(pos) + 13 AS BIGINT) AS span_end
      |  FROM grp GROUP BY doc_id, gid)""".stripMargin

  /** Connected-components oracle (5-gram Jaccard edges → recursive-CTE
    * reachability → per-component size + keeper) — shared by the driver
    * union-find gate and the forced-distributed pointer-jumping gate: the
    * two Spark paths must agree with each other BY CONTRACT, so their
    * oracle is one definition that cannot drift (ADVICE r11).
    */
  private val DedupGroupsOracle =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id,
      |    list_distinct([substr(text, i, 5) for i in range(1, length(text) - 3)]) AS s
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.5),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM p
      |  UNION SELECT id_b, id_a FROM p),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
      |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
      |SELECT component, count(*) AS group_size, min(id) AS keep_id
      |FROM comp GROUP BY component""".stripMargin
}
