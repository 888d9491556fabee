package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Cdc
import graft.operators.{Sampling, UnigramLm}

/** Helpers and oracle SQL fragments shared by more than one gate
  * family.
  */
private[graft] object GateSupport {

  /** Run `body` over a fresh temporary directory and remove the directory
    * when `body` returns or throws. A frame `body` returns must not read
    * the directory lazily: materialize it inside.
    */
  private[gates] def withWorkDir[A](prefix: String)(
      body: java.nio.file.Path => A): A = {
    val work = java.nio.file.Files.createTempDirectory(prefix)
    try body(work) finally graft.util.Fs.rmTree(work.toFile)
  }

  /** Save a unigram model at `path` and load it back: the tokenizer
    * artifact round trip the served gates take.
    */
  private[gates] def storedUnigram(s: SparkSession, path: String,
      model: Seq[(String, Long)]): Seq[(String, Long)] = {
    graft.operators.TokenizerStore.saveUnigram(path, model, s)
    graft.operators.TokenizerStore.loadUnigram(s, path)
  }

  private[gates] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private[gates] def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** The engine's change-feed view of the `events` table: user_id is the
    * changed key, event_id the transaction id (monotone by generation).
    */
  private[gates] def changeFeed(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("user_id"), col("event_id").alias(Cdc.TransactionId))

  /** The canonical delta fold of the events change feed against the
    * customer master (window (100, 1e9]) — the CDC hot path, reused by the
    * wire-format round-trips and the aggregate-maintenance query.
    */
  private[gates] def customerDeltaFold(s: SparkSession, dir: String): DataFrame =
    Cdc.delta(changeFeed(s, dir), t(s, dir, "customer"),
      Seq(("user_id", "c_custkey")), lo = 100L, hi = 1000000000L)

  /** The GPT-2 pre-tokenizer replayed as a positional recursive CTE
    * (RE2 has no lookahead, so the oracle walks the alternation
    * explicitly): at each position — contraction literals first (2-char
    * before 3-char; their first letters are disjoint so order within
    * each group is free), then the space-glued letter/number/punct runs,
    * then the whitespace rule (`\s+(?!\S)` releases the run's LAST char
    * to glue to the next word unless the run ends the string). Emits
    * `($name: doc_id, pos, tok)` over relation `$rel(doc_id, text)`;
    * the seed row (`tok = ''`) must be filtered by consumers.
    */
  private[gates] def preTokenizeCte(name: String, rel: String): String = s"""
    |$name(doc_id, pos, tok) AS (
    |  SELECT doc_id, 1::BIGINT, '' FROM $rel
    |  UNION ALL
    |  SELECT p.doc_id, p.pos + length(p.t), p.t FROM (
    |    SELECT x.doc_id, x.pos,
    |      CASE
    |        WHEN substr(rest,1,1) = chr(39)
    |          AND substr(rest,2,1) IN ('s','t','m','d')
    |          THEN substr(rest,1,2)
    |        WHEN substr(rest,1,1) = chr(39)
    |          AND substr(rest,2,2) IN ('re','ve','ll')
    |          THEN substr(rest,1,3)
    |        WHEN regexp_extract(rest, '^ ?\\p{L}+') <> ''
    |          THEN regexp_extract(rest, '^ ?\\p{L}+')
    |        WHEN regexp_extract(rest, '^ ?\\p{N}+') <> ''
    |          THEN regexp_extract(rest, '^ ?\\p{N}+')
    |        WHEN regexp_extract(rest, '^ ?[^ \\t\\n\\r\\f\\p{L}\\p{N}]+') <> ''
    |          THEN regexp_extract(rest, '^ ?[^ \\t\\n\\r\\f\\p{L}\\p{N}]+')
    |        ELSE CASE
    |          WHEN length(regexp_extract(rest, '^[ \\t\\n\\r\\f]+')) = length(rest)
    |            THEN regexp_extract(rest, '^[ \\t\\n\\r\\f]+')
    |          WHEN length(regexp_extract(rest, '^[ \\t\\n\\r\\f]+')) >= 2
    |            THEN substr(regexp_extract(rest, '^[ \\t\\n\\r\\f]+'), 1,
    |                   length(regexp_extract(rest, '^[ \\t\\n\\r\\f]+')) - 1)
    |          ELSE regexp_extract(rest, '^[ \\t\\n\\r\\f]+') END
    |      END AS t
    |    FROM (SELECT doc_id, pos, substr(text, pos::INT) AS rest
    |          FROM $name JOIN $rel USING (doc_id)
    |          WHERE pos <= length(text)) x) p),""".stripMargin

  /** Byte-encoding of a pre-token stream: each token's chars become
    * UTF-8 bytes by pure arithmetic (no engine encode() trusted), each
    * byte becomes its byte-visible char via [[byteVisibleSql]], and the
    * per-document byte TEXT re-joins the byte words with single spaces —
    * exactly `ByteLevel.byteText`. Emits `${name}_w(doc_id, pos, bword)`
    * and `$name(doc_id, text)`.
    */
  private[gates] def byteTextCte(name: String, pretok: String): String = s"""
    |${name}_w AS MATERIALIZED (
    |  SELECT doc_id, pos,
    |    list_aggregate(list_transform(
    |      flatten([CASE
    |          WHEN cp < 128 THEN [cp]
    |          WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]
    |          WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64,
    |                                128 + cp % 64]
    |          ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64,
    |                128 + (cp // 64) % 64, 128 + cp % 64] END
    |        for cp in [unicode(tok[i]) for i in range(1, length(tok) + 1)]]),
    |      b -> chr(${byteVisibleSql("b")})),
    |      'string_agg', '') AS bword
    |  FROM $pretok WHERE tok <> ''),
    |$name AS MATERIALIZED (
    |  SELECT doc_id, string_agg(bword, ' ' ORDER BY pos) AS text
    |  FROM ${name}_w GROUP BY doc_id),""".stripMargin

  /** DuckDB transcription of [[graft.operators.Sampling.uniform]]'s u32
    * (the value before the /2^32 division): an XOR-spread and a translated
    * residue of the id (mod two ~2^31 primes), each spread by a mix
    * constant mod 2^32, XOR-folded and avalanched by a final odd multiply.
    * The seed constants are interpolated from the same driver-side
    * functions the Spark plan embeds, so SQL and plan cannot drift.
    */
  private[gates] def uniformU32Sql(idExpr: String, seed: Long): String =
    s"((xor((xor($idExpr, ${Sampling.seedA(seed)}) % 2147483629)" +
      " * 2654435761 % 4294967296," +
      s" (($idExpr + ${Sampling.seedB(seed)}) % 2147483587)" +
      " * 2246822519 % 4294967296)" +
      s" % 2147483629) * 2654435761 % 4294967296)"

  private[gates] val TextQualityOracle =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    CAST(length(text) AS DOUBLE) AS nchars,
      |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE) AS ntoks,
      |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
      |      / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
      |    CAST(len(list_intersect(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')),
      |      ['the','and','of','to','a','in','is','that','for','it'])) AS DOUBLE)
      |      / CAST(greatest(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))), 1) AS DOUBLE) AS en_score
      |  FROM documents
      |)
      |SELECT doc_id,
      |  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS n_bpeish_tokens,
      |  round(
      |    0.4 * (CASE WHEN ntoks >= 20 THEN 1.0 ELSE ntoks / 20.0 END)
      |  + 0.2 * (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 1.0 - punct_ratio END)
      |  + 0.2 * (CASE WHEN nchars / greatest(ntoks, 1.0) >= 3
      |                 AND nchars / greatest(ntoks, 1.0) <= 10 THEN 1.0 ELSE 0.5 END)
      |  + 0.2 * (CASE WHEN en_score > 0 THEN 1.0 ELSE 0.5 END), 6) AS quality_r
      |FROM t""".stripMargin

  /** Shared DuckDB CTE: per-document token-hash list reproducing
    * [[graft.functions.SketchOps.fnvTokenHashes]] bit-for-bit — the same
    * `lower(trim(text))` whitespace tokenization the other text oracles
    * use, then FNV-1a/64 folded over each token's code points
    * (`unicode(...)`) with wrap-around multiplication emulated as
    * `(xor(h, cp) * prime) % 2^64` in HUGEINT.
    */
  private[gates] val FnvTokenHashCte =
    """toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
      |  FROM documents),
      |th AS (
      |  SELECT doc_id, [list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
      |        [CAST(unicode(t[i]) AS UBIGINT) for i in range(1, len(t)+1)]),
      |      (acc, cp) -> CAST((CAST(xor(acc, cp) AS HUGEINT) * 1099511628211)
      |        % 18446744073709551616 AS UBIGINT))
      |    for t in ws] AS hs
      |  FROM toks)""".stripMargin

  /** Generated BPE oracle CTE chain, `w0 … w{k}` (see q_bpe_train): w0 =
    * char-symbolized word counts; each layer i computes pair counts over
    * w{i-1} (`p{i}`), picks the argmax under the trainer's exact
    * tie-break (`b{i}`), and replays the greedy left-to-right fusion as a
    * recursive positional fold (`a{i}` → w{i}). `lastApply` controls
    * whether the final layer also materializes w{k} (needed by the
    * tokenize gate, dead weight for the train gate).
    */
  /** @param serveSource when set, ALSO fold the learned rules over this
    *                     relation's distinct words (`u0 … u{k}` chains —
    *                     the same per-layer greedy fusion the training
    *                     replay uses, applied to words the trainer never
    *                     saw): the serve-on-unseen-words seam. Unseen
    *                     symbols simply never match a rule and survive
    *                     as singles — the BPE fallback, replayed.
    */
  private[gates] def bpeOracleCtes(k: Int, lastApply: Boolean,
      wordpiece: Boolean = false, prelude: String = "",
      source: String = "documents",
      serveSource: Option[String] = None): String = {
    // every non-recursive layer is MATERIALIZED: DuckDB inlines CTEs by
    // default, and a k-deep chain whose layers each reference the
    // previous one 2-3 times would otherwise expand to exponentially
    // many base-table scans (observed as fd exhaustion at k=8)
    val sb = new StringBuilder
    sb ++= s"""WITH RECURSIVE ${prelude}w0 AS MATERIALIZED (
      |  SELECT word, cnt,
      |    [substr(word, i, 1) for i in range(1, length(word) + 1)] AS syms
      |  FROM (
      |    SELECT word, count(*)::BIGINT AS cnt FROM (
      |      SELECT unnest(string_split_regex(text, '\\s+')) AS word
      |      FROM $source)
      |    WHERE word <> '' GROUP BY word))""".stripMargin
    for (i <- 1 to k) {
      val w = s"w${i - 1}"
      sb ++= s""",
        |p$i AS MATERIALIZED (
        |  SELECT p.l AS l, p.r AS r, sum(cnt)::BIGINT AS c FROM (
        |    SELECT cnt,
        |      unnest([{'l': syms[j], 'r': syms[j+1]} for j in range(1, len(syms))]) AS p
        |    FROM $w)
        |  GROUP BY p.l, p.r)""".stripMargin
      if (wordpiece)
        // the likelihood argmax: per-layer symbol counts feed the
        // quantized ratio q = floor((c·1e12)/(c_l·c_r)) — every step an
        // exact-rounding IEEE op, no transcendental (see WordPieceTrain)
        sb ++= s""",
          |sy$i AS MATERIALIZED (
          |  SELECT sym, sum(cnt)::BIGINT AS c FROM (
          |    SELECT cnt, unnest(syms) AS sym FROM $w) GROUP BY sym),
          |b$i AS MATERIALIZED (
          |  SELECT $i::BIGINT AS rank, l, r, q, c FROM (
          |    SELECT p.l AS l, p.r AS r, p.c AS c,
          |      CAST(floor((p.c::DOUBLE * 1e12) /
          |        (sl.c::DOUBLE * sr.c::DOUBLE)) AS BIGINT) AS q
          |    FROM p$i p JOIN sy$i sl ON sl.sym = p.l
          |    JOIN sy$i sr ON sr.sym = p.r)
          |  ORDER BY q DESC, l, r LIMIT 1)""".stripMargin
      else
        sb ++= s""",
          |b$i AS MATERIALIZED (
          |  SELECT $i::BIGINT AS rank, l, r, c FROM p$i
          |  ORDER BY c DESC, l, r LIMIT 1)""".stripMargin
      if (i < k || lastApply) sb ++= s""",
        |a$i(word, cnt, syms, pos, acc) AS (
        |  SELECT word, cnt, syms, 1, []::VARCHAR[] FROM $w
        |  UNION ALL
        |  SELECT word, cnt, syms, pos + 1,
        |    CASE WHEN len(acc) > 0 AND acc[-1] = (SELECT l FROM b$i)
        |              AND syms[pos] = (SELECT r FROM b$i)
        |         THEN acc[1:len(acc)-1] || [(SELECT l || r FROM b$i)]
        |         ELSE acc || [syms[pos]] END
        |  FROM a$i WHERE pos <= len(syms)),
        |w$i AS MATERIALIZED (
        |  SELECT word, cnt, acc AS syms FROM a$i WHERE pos = len(syms) + 1)""".stripMargin
    }
    serveSource.foreach { rel =>
      sb ++= s""",
        |u0 AS MATERIALIZED (
        |  SELECT word,
        |    [substr(word, i, 1) for i in range(1, length(word) + 1)] AS syms
        |  FROM (
        |    SELECT DISTINCT unnest(string_split_regex(text, '\\s+')) AS word
        |    FROM $rel)
        |  WHERE word <> '')""".stripMargin
      for (i <- 1 to k) sb ++= s""",
        |ua$i(word, syms, pos, acc) AS (
        |  SELECT word, syms, 1, []::VARCHAR[] FROM u${i - 1}
        |  UNION ALL
        |  SELECT word, syms, pos + 1,
        |    CASE WHEN len(acc) > 0 AND acc[-1] = (SELECT l FROM b$i)
        |              AND syms[pos] = (SELECT r FROM b$i)
        |         THEN acc[1:len(acc)-1] || [(SELECT l || r FROM b$i)]
        |         ELSE acc || [syms[pos]] END
        |  FROM ua$i WHERE pos <= len(syms)),
        |u$i AS MATERIALIZED (
        |  SELECT word, acc AS syms FROM ua$i WHERE pos = len(syms) + 1)""".stripMargin
    }
    sb.toString
  }

  /** The GPT-2 `bytes_to_unicode` closed form as a SQL scalar over `b`
    * (0–255) — the SAME arithmetic as `SketchOps.byteVisible`, so the
    * byte-level oracles re-derive the alphabet rather than trusting the
    * Spark side's table.
    */
  private[gates] def byteVisibleSql(b: String): String =
    s"CAST(CASE WHEN ($b BETWEEN 33 AND 126) OR ($b BETWEEN 161 AND 172)" +
      s" OR $b >= 174 THEN $b WHEN $b <= 32 THEN 256 + $b" +
      s" WHEN $b <= 160 THEN 289 + ($b - 127) ELSE 323 END AS INTEGER)"

  /** Generated unigram-LM oracle CTE prefix (see q_unigram_*): substring
    * seed statistics (`sub` → `seed`), micro-nat quantization (`scored`,
    * `z` — the q_dsir_weights floor(1e6·ln) pattern), then `paths`
    * enumerates EVERY segmentation of every distinct word by recursive
    * piece-extension (bounded: only vocab pieces extend a path) and
    * `best` picks per word under the operator's exact tie-break
    * (total desc, ntok asc, U+0001-joined pieces asc — chr(1) sorts below
    * every corpus character, so string order ≡ piece-sequence order).
    * Enumeration replaces the operator's linear DP on purpose: the oracle
    * must not share the implementation's shortcut to be evidence.
    *
    * `emSteps` > 0 chains full hard-EM rounds for the TRAIN gate: after
    * round r's Viterbi block, `est{r}` folds the per-piece expected
    * counts (word-count-weighted occurrences in the best segmentations)
    * and `model{r+1}` re-assembles the next model exactly like
    * `UnigramLm.train` at pruneFraction 0 — every seed single character
    * floored at count 1, surviving multi-char pieces at their est
    * counts — then round r+1's Viterbi block scores under `model{r+1}`.
    * Round 1's CTE names stay unsuffixed so the serve/sample gates share
    * one prefix text.
    */
  /** @param prelude    extra CTEs injected before `wcnt` (must end with
    *                    a comma) — lets a composition gate train on a
    *                    CURATED corpus CTE instead of raw `documents`
    * @param source     the table/CTE the word counts fold over
    * @param serveRound also emit the Viterbi block for the model AFTER
    *                   the last EM fold (`best{emSteps+1}`) without a
    *                   further fold — the serving stage of a
    *                   train-then-tokenize composition
    */
  private[gates] def unigramOracleCtes(maxPieceLen: Int, seedSize: Int,
      emSteps: Int = 0, prelude: String = "",
      source: String = "documents", serveRound: Boolean = false,
      serveSource: Option[String] = None,
      byteFallbackSeed: Boolean = false): String = {
    // serveSource: when set, the FINAL (serve) round's Viterbi enumerates
    // the words of THIS relation instead of the training corpus — the
    // train-on-window-1 / serve-the-union seam the incremental manifest
    // oracle needs. Training rounds (and their EM folds) always run over
    // `wcnt`.
    def round(r: Int, words: String): String = {
      val model = if (r == 1) "seed" else s"model$r"
      val x = if (r == 1) "" else r.toString
      s""",
        |scored$x AS MATERIALIZED (
        |  SELECT piece, cnt, CAST(floor(1e6 * ln(cnt::DOUBLE)) AS BIGINT) AS s,
        |         length(piece) AS pl FROM $model),
        |z$x AS MATERIALIZED (
        |  SELECT CAST(floor(1e6 * ln(sum(cnt)::DOUBLE)) AS BIGINT) AS sz
        |  FROM $model),
        |paths$x(word, pos, score, ntok, toks) AS (
        |  SELECT word, 1::BIGINT, 0::BIGINT, 0::BIGINT, '' FROM $words
        |  UNION ALL
        |  SELECT p.word, p.pos + v.pl, p.score + v.s, p.ntok + 1,
        |         CASE WHEN p.toks = '' THEN v.piece
        |              ELSE p.toks || chr(1) || v.piece END
        |  FROM paths$x p JOIN scored$x v
        |    ON substr(p.word, p.pos::INT, v.pl::INT) = v.piece
        |  WHERE p.pos <= length(p.word)),
        |segs$x AS MATERIALIZED (
        |  SELECT word, score - ntok * (SELECT sz FROM z$x) AS total, ntok, toks
        |  FROM paths$x WHERE pos = length(word) + 1),
        |best$x AS MATERIALIZED (
        |  SELECT word, total, ntok, toks FROM (
        |    SELECT word, total, ntok, toks, row_number() OVER (
        |      PARTITION BY word ORDER BY total DESC, ntok ASC, toks ASC) AS rn
        |    FROM segs$x) WHERE rn = 1)""".stripMargin
    }
    def emFold(r: Int): String = {
      val x = if (r == 1) "" else r.toString
      s""",
        |est$x AS MATERIALIZED (
        |  SELECT piece, sum(cnt)::BIGINT AS est_cnt FROM (
        |    SELECT w.cnt, unnest(string_split(b.toks, chr(1))) AS piece
        |    FROM best$x b JOIN wcnt w USING (word))
        |  GROUP BY piece),
        |model${r + 1} AS MATERIALIZED (
        |  SELECT s.piece, COALESCE(e.est_cnt, 1)::BIGINT AS cnt
        |  FROM (SELECT piece FROM seed WHERE length(piece) = 1) s
        |  LEFT JOIN est$x e USING (piece)
        |  UNION ALL
        |  SELECT piece, est_cnt AS cnt FROM est$x
        |  WHERE length(piece) >= 2)""".stripMargin
    }
    val sb = new StringBuilder
    sb ++= s"""WITH RECURSIVE ${prelude}wcnt AS MATERIALIZED (
      |  SELECT word, count(*)::BIGINT AS cnt FROM (
      |    SELECT unnest(string_split_regex(text, '\\s+')) AS word
      |    FROM $source)
      |  WHERE word <> '' GROUP BY word),
      |s1 AS (SELECT cnt, word, unnest(range(1, length(word) + 1)) AS i
      |       FROM wcnt),
      |s2 AS (SELECT cnt, word, i,
      |         unnest(range(1, least($maxPieceLen, length(word) - i + 1) + 1)) AS l
      |       FROM s1),
      |sub AS MATERIALIZED (
      |  SELECT substr(word, i::INT, l::INT) AS piece, sum(cnt)::BIGINT AS cnt
      |  FROM s2 GROUP BY 1),
      |seed AS MATERIALIZED (
      |  SELECT piece, cnt FROM sub WHERE length(piece) = 1
      |${
        if (byteFallbackSeed)
          s"""  UNION ALL
          |  SELECT piece, 1::BIGINT AS cnt FROM (
          |    SELECT chr(${byteVisibleSql("b")}) AS piece
          |    FROM range(0, 256) t(b))
          |  WHERE piece NOT IN (SELECT piece FROM sub WHERE length(piece) = 1)
          |""".stripMargin
        else ""
      }  UNION ALL
      |  SELECT piece, cnt FROM (
      |    SELECT piece, cnt FROM sub WHERE length(piece) >= 2
      |    ORDER BY cnt DESC, piece LIMIT $seedSize))""".stripMargin
    require(!serveRound || emSteps >= 1,
      "serveRound needs at least one EM fold to produce the served model")
    require(serveSource.isEmpty || serveRound,
      "serveSource only applies to a serve round")
    serveSource.foreach { rel =>
      sb ++= s""",
        |swcnt AS MATERIALIZED (
        |  SELECT word, count(*)::BIGINT AS cnt FROM (
        |    SELECT unnest(string_split_regex(text, '\\s+')) AS word
        |    FROM $rel)
        |  WHERE word <> '' GROUP BY word)""".stripMargin
    }
    val rounds = math.max(emSteps, 1) + (if (serveRound) 1 else 0)
    for (r <- 1 to rounds) {
      val words =
        if (r == rounds && serveSource.isDefined) "swcnt" else "wcnt"
      sb ++= round(r, words)
      if (r <= emSteps) sb ++= emFold(r)
    }
    sb.toString
  }

  /** The A1 latest-per-key fold — shared by the batch gate
    * (`q_a1_latest_per_key`) and the streaming `StatefulDedup` gate
    * (`q_stream_latest_per_key`): the stream's update emissions, LWW-
    * folded, must equal the batch fold exactly. One definition, cannot
    * drift.
    */
  private[gates] val LatestPerKeyOracle =
    """SELECT user_id, max(event_id) AS _transactionid
      |FROM events WHERE event_id > 100 AND event_id <= 1000000000
      |GROUP BY user_id""".stripMargin

  /** Exact all-pairs 5-gram Jaccard join at threshold 0.5 — shared by the
    * batch MinHash-LSH gate (`q_dedup_minhash_pairs`) and the streaming
    * near-dup gate (`q_stream_neardup`): both pipelines end in exact
    * Jaccard verification over their candidate stage (LSH banding vs the
    * per-bucket state machine), so both must produce THE true pair set —
    * one definition, cannot drift.
    */
  private[gates] val MinhashPairsOracle =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct([substr(text, i, 5) for i in range(1, length(text) - 3)]) AS s
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |SELECT id_a, id_b, round(jaccard, 6) AS jaccard_r
      |FROM p WHERE jaccard >= 0.5""".stripMargin
}
