package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextAnalysis
import graft.operators.{Dedup, ImportanceResample, Sampling, Shards}

import GateSupport._

/** Corpus curation: sampling and mixing, DSIR importance resampling,
  * shuffling, packing, splits and the composed funnels.
  */
object CurationGates extends GateFamily {

  lazy val gates: Seq[Gate] = Seq(
    // The corpus card: one grouped report per language — doc/token
    // counts, exact mean quality (per-doc round-6 values summed as
    // DECIMAL, so the distributed average is order-independent), Latin
    // character share, and token-count percentiles via the mergeable
    // quantile sketch. Composes four r9/r7 surfaces into the one-page
    // summary every curation run publishes; the oracle re-derives each
    // piece from the same shared SQL.
    // Deterministic global corpus shuffle (training-order): exact 0-based
    // positions under the seeded (residue, id) total order — the oracle
    // replays the identical int64 arithmetic through row_number(), so the
    // PERMUTATION itself is hash-gated, not just its row set.
    Gate("q_corpus_shuffle", (s, dir) =>
      graft.operators.Sampling.shuffled(
          t(s, dir, "documents"), "doc_id", seed = 7L)
        .select(col("doc_id"), col("shuffle_pos")),
      // Shuffle: the same residue arithmetic, ordered by (residue, id)
      s"""SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY ${uniformU32Sql("doc_id", 7L)}, doc_id) - 1 AS BIGINT)
        |    AS shuffle_pos
        |FROM documents""".stripMargin),

    // Deterministic stratified sample: 30 docs per language by smallest
    // id-hash (engine/parallelism-independent, unlike rand(seed)) — the
    // per-source quota step of corpus curation.
    Gate("q_sample_quota", (s, dir) =>
      graft.operators.Sampling.quotaPerStratum(t(s, dir, "documents"),
          "doc_id", "lang", quota = 30, seed = 7L)
        .select(col("doc_id"), col("lang")),
      // the Sampling hash, verbatim (via [[uniformU32Sql]] so the three
      // sampling/split gates share one transcription that cannot drift)
      s"""SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY ${uniformU32Sql("doc_id", 7L)}, doc_id) AS rk
        |  FROM documents) WHERE rk <= 30""".stripMargin),

    // Weighted corpus mixing: per-language keep rates folded into one
    // map-side CASE filter (downsample en, keep zh, default 60%).
    Gate("q_sample_mix", (s, dir) =>
      graft.operators.Sampling.mix(t(s, dir, "documents"), "doc_id", "lang",
          rates = Map("en" -> 0.3, "zh" -> 1.0), defaultRate = 0.6,
          seed = 11L)
        .select(col("doc_id"), col("lang")),
      s"""SELECT doc_id, lang FROM documents
        |WHERE ${uniformU32Sql("doc_id", 11L)} / 4294967296.0
        |  < CASE lang WHEN 'en' THEN 0.3 WHEN 'zh' THEN 1.0 ELSE 0.6 END""".stripMargin),

    // Token(char)-budget corpus mixing: rates measured from per-source
    // weight totals (rate = min(1, budget/total)), then one map-side
    // filter — how practitioners actually budget corpora (by tokens, not
    // documents). src1's budget exceeds its total → rate clamps to 1.0.
    Gate("q_sample_token_budget", (s, dir) =>
      Sampling.mixByBudget(t(s, dir, "documents"), "doc_id", "source",
          "n_chars", budgets = Map("src0" -> 4000L, "src1" -> 100000L),
          defaultRate = 0.5, seed = 13L)
        .select(col("doc_id"), col("source")),
      // the rate derivation re-runs IN SQL from the same data (sum of an
      // int column → exact; the double division is the same IEEE op both
      // engines run), so the data-derived rates cannot drift
      s"""WITH tot AS (SELECT source, sum(n_chars) AS t
        |             FROM documents GROUP BY source)
        |SELECT doc_id, source FROM documents JOIN tot USING (source)
        |WHERE ${uniformU32Sql("doc_id", 13L)} / 4294967296.0
        |  < CASE source
        |      WHEN 'src0' THEN least(1.0, CAST(4000 AS DOUBLE) / CAST(t AS DOUBLE))
        |      WHEN 'src1' THEN least(1.0, CAST(100000 AS DOUBLE) / CAST(t AS DOUBLE))
        |      ELSE 0.5 END""".stripMargin),

    // Temperature-based corpus mixing (r15 — the XLM-R/mT5 multilingual
    // upsampling law): stratum share p sampled ∝ p^alpha, realized as
    // keep rate maxRate·p^(alpha−1)/max(p^(alpha−1)), quantized to
    // micro-units per STRATUM so the per-row keep test is exact. alpha
    // 0.5 halves the head/tail imbalance in log space; the oracle
    // re-derives every rate from the same totals (pow + floor — the
    // within-ulp class, margins spec-scanned) and replays the residue
    // draw.
    Gate("q_sample_temperature", (s, dir) =>
      Sampling.mixByTemperature(t(s, dir, "documents"), "doc_id", "source",
          "n_chars", alpha = 0.5, maxRate = 1.0, seed = 17L)
        .select(col("doc_id"), col("source")),
      // temperature rates re-derived IN SQL from the same totals: one
      // division for p, pow(p, -0.5), 1e6·(raw/mx) floored — the ratio
      // first, the exact association order the operator computes, so the
      // normalizing stratum is exactly 1e6 in both engines (maxRate = 1.0
      // folds into the 1e6 literal exactly) — then the identical
      // micro/1e6 keep test
      s"""WITH tot AS (
        |  SELECT source, sum(n_chars)::BIGINT AS t FROM documents
        |  WHERE source IS NOT NULL GROUP BY source),
        |n AS (SELECT sum(t)::BIGINT AS nn FROM tot),
        |r AS (SELECT source,
        |        pow(CAST(t AS DOUBLE) / CAST((SELECT nn FROM n) AS DOUBLE),
        |            -0.5) AS raw
        |      FROM tot),
        |rates AS (
        |  SELECT source,
        |    CAST(floor(1e6 * (raw / (SELECT max(raw) FROM r))) AS BIGINT)
        |      AS rq
        |  FROM r)
        |SELECT doc_id, source FROM documents JOIN rates USING (source)
        |WHERE ${uniformU32Sql("doc_id", 17L)} / 4294967296.0
        |  < CAST(rq AS DOUBLE) / 1e6""".stripMargin),

    // The training-data pipeline COMPOSED: language gate → length gate →
    // exact dedup → token accounting, one declarative plan end-to-end
    // (filters push into the scan, dedup is one shuffle on text).
    Gate("q_pipeline_compose", (s, dir) => {
      val scored = Dedup.widen(t(s, dir, "documents")).select(
        col("doc_id"), col("text"),
        TextAnalysis.langScore(col("text"), "en").alias("s_en"),
        TextAnalysis.tokenCount(col("text")).cast(DoubleType).alias("ntoks"),
        TextAnalysis.bpeishTokenCount(col("text")).alias("n_bpeish"))
      scored.where(col("s_en") > 0.05 && col("ntoks") >= 20)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).alias("keep_id"),
          count(lit(1)).alias("n_copies"),
          min(col("n_bpeish")).alias("n_tokens_kept"))
        .select(col("keep_id"), col("n_copies"), col("n_tokens_kept"))
    },
      """WITH s AS (
        |  SELECT doc_id, text,
        |    CAST(len(list_intersect(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')),
        |      ['the','and','of','to','a','in','is','that','for','it'])) AS DOUBLE)
        |      / CAST(greatest(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))), 1) AS DOUBLE) AS s_en,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS ntoks,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS n_bpeish
        |  FROM documents)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        |       min(n_bpeish) AS n_tokens_kept
        |FROM s WHERE s_en > 0.05 AND ntoks >= 20
        |GROUP BY text""".stripMargin),

    // DSIR importance weights (Xie et al. 2023): log p_target − log p_raw
    // under add-½ smoothed bigram models, target = the src18 slice —
    // quantized to integer micro-nats so the distributed double-sum is
    // exact and order-independent (same trick as q_text_lm_score).
    Gate("q_dsir_weights", (s, dir) => {
      ImportanceResample.logWeights(t(s, dir, "documents"), "doc_id",
        "text", col("source") === "src18", n = 2, alpha = 0.5)
    },
      (DsirWeightsCtes + """
        |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
        |  coalesce(gsum + n_grams * (SELECT c_micro FROM c), 0) AS lw_micro
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin)),

    // ...and the DSIR §2.3 sampler over them, GATED (r14 — previously
    // spec-only): Gumbel-top-60 at temperature 0.7, the noise derived
    // from the doc id's residue hash so the "random" sample is the same
    // set in any engine — the oracle recomputes the weights, the
    // micro-unit integer key floor(1e6·(lw/1e6/temp + standard Gumbel of
    // the clamped uniform)) (r15: quantized so within-ulp ln differences
    // tie on id instead of flipping the cut), and the (key desc, id) cut.
    Gate("q_dsir_resample", (s, dir) => {
      ImportanceResample.resampleGumbel(
        ImportanceResample.logWeights(t(s, dir, "documents"), "doc_id",
          "text", col("source") === "src18", n = 2, alpha = 0.5),
        "doc_id", "lw_micro", k = 60, temperature = 0.7, seed = 3L)
    },
      // Gumbel-top-k over the DSIR weights: the weights CTEs (shared with
      // q_dsir_weights via one definition) plus the exact key arithmetic —
      // floor(1e6 · (lw/1e6/temperature + (-ln(-ln(max(u, 1e-12)))))) over
      // the same residue-hash u, quantized to an integer micro-unit key so
      // a within-ulp ln difference cannot flip membership at the cut — and
      // the (key desc, id asc) top-60. Membership of the selected set is
      // what the hash compares.
      DsirResampleOracle),

    // ...and the beyond-driver-scale path (r16 — the scaladoc's promised
    // threshold hatch as real code): one exact-quantile key threshold,
    // a map-side stratum filter, then the exact top-k inside the
    // stratum. Gated against the IDENTICAL oracle as q_dsir_resample —
    // the hatch's whole contract is that the selected set cannot differ.
    Gate("q_dsir_resample_threshold", (s, dir) => {
      ImportanceResample.resampleGumbelThreshold(
        ImportanceResample.logWeights(t(s, dir, "documents"), "doc_id",
          "text", col("source") === "src18", n = 2, alpha = 0.5),
        "doc_id", "lw_micro", k = 60, temperature = 0.7, seed = 3L)
    },
      // the threshold hatch must select the IDENTICAL set — same oracle,
      // different physical path (exact-quantile stratum filter vs global
      // k-heap)
      DsirResampleOracle),

    // Shard packing: cut the doc_id-ordered corpus into ~2000-token
    // training shards via the DISTRIBUTED two-pass prefix sum (no
    // single-partition global window).
    Gate("q_pack_shards", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).alias("n_tok"))
      Shards.assignByTokenBudget(d, "doc_id", "n_tok", 2000L)
        .select(col("doc_id"), col("n_tok"), col("cum_before"), col("shard"))
    },
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT doc_id, n_tok,
        |  CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum_before,
        |  CAST(floor(coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0) AS BIGINT)
        |    AS shard
        |FROM d""".stripMargin),

    // Span-level packing manifest: exact-length training sequences cut
    // ACROSS document boundaries — one row per (doc × sequence) slice with
    // reassembly coordinates. Pure integer arithmetic over the gated
    // prefix sum; a 512-token budget on ~100-token docs exercises both
    // many-docs-per-sequence and the straddle case.
    Gate("q_pack_sequence_spans", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).alias("n_tok"))
      Shards.packSpans(d, "doc_id", "n_tok", 512L)
        .select(col("doc_id"), col("seq"), col("tok_start"), col("tok_end"),
          col("seq_offset"))
    },
      // window prefix sum → generate_series over the sequence range each doc
      // intersects → the same greatest/least slice arithmetic
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum
        |  FROM d),
        |s AS (
        |  SELECT doc_id, n_tok, cum,
        |    unnest(generate_series(cum // 512, (cum + n_tok - 1) // 512)) AS seq
        |  FROM c WHERE n_tok > 0)
        |SELECT doc_id, seq,
        |  greatest(0, seq * 512 - cum) AS tok_start,
        |  least(n_tok, (seq + 1) * 512 - cum) AS tok_end,
        |  greatest(0, cum - seq * 512) AS seq_offset
        |FROM s""".stripMargin),

    // Shuffle → shard composed: shards cut over the SHUFFLED order (what a
    // real pipeline packs — id-order shards reproduce crawl correlation
    // inside every shard). shuffle_pos is the unique numeric layout key,
    // so the two hash-gated operators compose with no glue; the oracle
    // replays permutation + running sum in one window chain.
    Gate("q_shuffled_shards", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).alias("n_tok"))
      val shuf = graft.operators.Sampling.shuffled(d, "doc_id", seed = 7L)
      Shards.assignByTokenBudget(shuf, "shuffle_pos", "n_tok", 2000L)
        .select(col("doc_id"), col("shuffle_pos"), col("n_tok"),
          col("cum_before"), col("shard"))
    },
      // Shuffle → shard: permutation + running sum in one window chain
      s"""WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
        |      AS n_tok,
        |    CAST(row_number() OVER (
        |      ORDER BY ${uniformU32Sql("doc_id", 7L)}, doc_id) - 1 AS BIGINT)
        |      AS shuffle_pos
        |  FROM documents)
        |SELECT doc_id, shuffle_pos, n_tok,
        |  CAST(coalesce(sum(n_tok) OVER (ORDER BY shuffle_pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum_before,
        |  CAST(floor(coalesce(sum(n_tok) OVER (ORDER BY shuffle_pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0)
        |    AS BIGINT) AS shard
        |FROM d""".stripMargin),

    // Packed training sequences: the concat-and-chunk materialization of
    // the shard assignment — member docs concatenated in id order with an
    // EOS separator; text gated as md5 of the packed bytes.
    Gate("q_pack_sequences", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).alias("n_tok"))
      Shards.packText(d, "doc_id", "text", "n_tok", 2000L, eos = "\n<EOS>\n")
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          md5(col("text").cast(BinaryType)).alias("packed_md5"))
    },
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, text, n_tok,
        |    CAST(floor(coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0)
        |      AS BIGINT) AS shard
        |  FROM d)
        |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  md5(string_agg(text, e'\n<EOS>\n' ORDER BY doc_id)) AS packed_md5
        |FROM a GROUP BY shard""".stripMargin),

    // Curation funnel audit: cumulative stage counts for a realistic
    // clean→dedup→sample pass (declared-lang gate → quality gate →
    // normalized exact-dedup survivors → 50% Bernoulli) — the per-stage
    // accounting every large curation run reports. One scan + one
    // dedup-group shuffle + one final 5-int aggregation.
    Gate("q_curation_funnel", (s, dir) => {
      val docs = t(s, dir, "documents")
      val f2 = col("lang") === "en"
      val f3 = f2 && TextAnalysis.qualityScore(col("text")) >= 0.8
      val flagged = docs.select(col("doc_id"), col("text"), f3.alias("_f3"),
        f2.alias("_f2"))
      // survivor = min doc_id per normalized-text group among stage-3 rows
      val keep = flagged.where(col("_f3"))
        .groupBy(Dedup.normalizedText(col("text")).alias("_n"))
        .agg(min(col("doc_id")).alias("_kid"))
        .select(col("_kid"))
      val f5u = Sampling.uniform(col("doc_id"), 17L)
      val staged = flagged
        .join(keep, flagged("doc_id") === keep("_kid"), "left")
        .select(col("_f2"), col("_f3"),
          col("_kid").isNotNull.alias("_f4"),
          (col("_kid").isNotNull && f5u < 0.5).alias("_f5"))
      val one = staged.agg(
        count(lit(1)).alias("n0"),
        sum(when(col("_f2"), 1L).otherwise(0L)).alias("n1"),
        sum(when(col("_f3"), 1L).otherwise(0L)).alias("n2"),
        sum(when(col("_f4"), 1L).otherwise(0L)).alias("n3"),
        sum(when(col("_f5"), 1L).otherwise(0L)).alias("n4"))
      one.select(explode(array(
          struct(lit(0L).alias("stage"), lit("total").alias("name"),
            col("n0").alias("n")),
          struct(lit(1L).alias("stage"), lit("lang_en").alias("name"),
            col("n1").alias("n")),
          struct(lit(2L).alias("stage"), lit("quality").alias("name"),
            col("n2").alias("n")),
          struct(lit(3L).alias("stage"), lit("dedup_survivor").alias("name"),
            col("n3").alias("n")),
          struct(lit(4L).alias("stage"), lit("sampled").alias("name"),
            col("n4").alias("n")))).alias("s"))
        .select(col("s.stage").alias("stage"), col("s.name").alias("name"),
          col("s.n").alias("n"))
    },
      s"""WITH q AS (
        |  SELECT doc_id, text, lang,
        |    CAST(length(text) AS DOUBLE) AS nchars,
        |    CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS DOUBLE) AS ntoks,
        |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |      / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |    CAST(len(list_intersect(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')),
        |      ['the','and','of','to','a','in','is','that','for','it'])) AS DOUBLE)
        |      / CAST(greatest(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))), 1) AS DOUBLE) AS en_score
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text,
        |    (lang = 'en') AS f2,
        |    (lang = 'en' AND
        |      0.4 * (CASE WHEN ntoks >= 20 THEN 1.0 ELSE ntoks / 20.0 END)
        |    + 0.2 * (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 1.0 - punct_ratio END)
        |    + 0.2 * (CASE WHEN nchars / greatest(ntoks, 1.0) >= 3
        |                   AND nchars / greatest(ntoks, 1.0) <= 10 THEN 1.0 ELSE 0.5 END)
        |    + 0.2 * (CASE WHEN en_score > 0 THEN 1.0 ELSE 0.5 END) >= 0.8) AS f3
        |  FROM q),
        |k AS (
        |  SELECT min(doc_id) AS kid FROM f WHERE f3
        |  GROUP BY trim(regexp_replace(regexp_replace(lower(text),
        |    '[^\\p{L}\\p{N} \\t\\n\\r\\f]', '', 'g'), '[ \\t\\n\\r\\f]+', ' ', 'g'))),
        |s AS (
        |  SELECT f2, f3, (kid IS NOT NULL) AS f4,
        |    (kid IS NOT NULL AND
        |      ${uniformU32Sql("doc_id", 17L)} / 4294967296.0 < 0.5) AS f5
        |  FROM f LEFT JOIN k ON f.doc_id = k.kid),
        |agg AS (
        |  SELECT count(*) AS n0,
        |    sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS n2,
        |    sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS n3,
        |    sum(CASE WHEN f5 THEN 1 ELSE 0 END) AS n4
        |  FROM s)
        |SELECT CAST(0 AS BIGINT) AS stage, 'total' AS name, CAST(n0 AS BIGINT) AS n FROM agg
        |UNION ALL SELECT 1, 'lang_en', CAST(n1 AS BIGINT) FROM agg
        |UNION ALL SELECT 2, 'quality', CAST(n2 AS BIGINT) FROM agg
        |UNION ALL SELECT 3, 'dedup_survivor', CAST(n3 AS BIGINT) FROM agg
        |UNION ALL SELECT 4, 'sampled', CAST(n4 AS BIGINT) FROM agg""".stripMargin),

    // Deterministic train/val/test deal over the corpus — hash-gated since
    // r8: the deal runs on the Sampling hash, which the DuckDB oracle
    // reproduces verbatim (determinism, proportions, and partition-
    // invariance are additionally spec-tested).
    Gate("q_split_assign", (s, dir) => {
      graft.operators.Splits.assign(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0))
        .groupBy(col("split")).agg(count(lit(1)).alias("n_docs"))
    },
      {
      val bounds = graft.operators.Splits.cumulativeBounds(
        Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0))
      // the bounds interpolate as full-precision doubles (0.8 + 0.1 is
      // 0.9000000000000001 in IEEE — writing "0.9" would disagree with the
      // plan on a hash landing in the gap)
      s"""SELECT CASE WHEN u < ${bounds(0)} THEN 'train'
        |            WHEN u < ${bounds(1)} THEN 'val' ELSE 'test' END AS split,
        |       count(*) AS n_docs
        |FROM (SELECT ${uniformU32Sql("doc_id", 42L)} / 4294967296.0 AS u
        |      FROM documents)
        |GROUP BY 1""".stripMargin
    })
  )

  /** The Gumbel-top-60 resample replay — ONE definition gating BOTH the
    * k-heap path (`q_dsir_resample`) and the rank-slack-compensated
    * quantile threshold hatch (`q_dsir_resample_threshold`): the hatch's
    * whole claim is selection identity, so it must face the identical
    * oracle.
    */
  private lazy val DsirResampleOracle: String =
    DsirWeightsCtes + s""",
      |sel AS MATERIALIZED (
      |  SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
      |    coalesce(gsum + n_grams * (SELECT c_micro FROM c), 0) AS lw_micro
      |  FROM documents d LEFT JOIN sc USING (doc_id))
      |SELECT doc_id, n_grams, lw_micro FROM (
      |  SELECT doc_id, n_grams, lw_micro,
      |    CAST(floor(1e6 * (CAST(lw_micro AS DOUBLE) / 1e6 / 0.7 +
      |      (- ln(- ln(greatest(
      |        (${uniformU32Sql("doc_id", 3L)}) / 4294967296.0, 1e-12))))))
      |      AS BIGINT) AS k
      |  FROM sel)
      |ORDER BY k DESC, doc_id LIMIT 60""".stripMargin

  /** The DSIR bag-of-bigrams statistics CTEs (through `sc`), shared by
    * the weights gate and the Gumbel-resample gate so the model
    * arithmetic cannot drift between them.
    */
  private val DsirWeightsCtes: String =
    """WITH toks AS (
      |  SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
      |  FROM documents),
      |gr AS (
      |  SELECT doc_id, source,
      |    unnest([array_to_string(ws[i:i+1], ' ')
      |            for i in range(1, len(ws))]) AS g
      |  FROM toks WHERE len(ws) >= 2),
      |cnt AS (
      |  SELECT g, count(*) AS cr,
      |    CAST(sum(CASE WHEN source = 'src18' THEN 1 ELSE 0 END) AS BIGINT) AS ct
      |  FROM gr GROUP BY g),
      |tot AS (
      |  SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(ct) AS BIGINT) AS tt,
      |    count(*) AS v
      |  FROM cnt),
      |c AS (
      |  SELECT CAST(floor(1e6 * (ln(CAST(tr AS DOUBLE) + 0.5 * CAST(v AS DOUBLE))
      |                          - ln(CAST(tt AS DOUBLE) + 0.5 * CAST(v AS DOUBLE))))
      |    AS BIGINT) AS c_micro
      |  FROM tot),
      |sc AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(sum(CAST(floor(1e6 * (ln(CAST(ct AS DOUBLE) + 0.5)
      |                             - ln(CAST(cr AS DOUBLE) + 0.5))) AS BIGINT))
      |      AS BIGINT) AS gsum
      |  FROM gr JOIN cnt USING (g) GROUP BY doc_id)""".stripMargin
}
