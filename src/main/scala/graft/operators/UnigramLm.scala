package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Unigram language-model tokenizer — the THIRD tokenizer family next to
  * BPE ([[BpeTrain]], learns merges) and WordPiece
  * (`TextAnalysis.wordpieceTokens`, consumes a vocabulary): SentencePiece's
  * actual default algorithm ("Subword Regularization", Kudo 2018 §3;
  * "SentencePiece", Kudo & Richardson 2018). Where BPE composes tokens
  * bottom-up from learned merges, the unigram model starts from a LARGE
  * seed vocabulary of candidate pieces, fits piece probabilities by EM,
  * prunes low-contribution pieces toward the target vocabulary size, and
  * SERVES by Viterbi: each word is segmented into the piece sequence of
  * maximum likelihood Π p(piece).
  *
  * Determinism contract (the property every cross-engine gate hangs off):
  * this implementation is HARD-EM (Viterbi E-step) with exact integer
  * scores. Piece log-probabilities are quantized to micro-nats the way
  * [[ImportanceResample.logWeights]] quantizes its importance ratios —
  * `s(piece) = floor(1e6 · ln count)`, `sz = floor(1e6 · ln Σ counts)` —
  * so a segmentation's score is the INTEGER `Σ s(pieceᵢ) − n·sz`
  * (= 1e6 · log-likelihood up to quantization), ties break on fewer
  * pieces, then on the lexicographically smallest piece sequence (compared
  * as the pieces joined by U+0001, which equals element-wise sequence
  * order because the separator sorts below every corpus character). The
  * result is order-independent, cluster ≡ local bit-for-bit, and a SQL
  * engine enumerating segmentations reproduces it exactly
  * (`q_unigram_seed` / `q_unigram_train_step` / `q_unigram_tokenize`).
  * Soft-EM (forward–backward expected counts, Kudo §3.2) would converge
  * slightly differently but shares every distributed shape below; the
  * hard-EM variant is chosen because its fixed points are
  * hash-verifiable, not because soft-EM is harder to distribute.
  *
  * 100 TB design, mirroring the [[BpeTrain]] split: the corpus is touched
  * ONCE (the same `(word, count)` fold every trainer iterates on — reuse
  * [[BpeTrain.wordCounts]]); seeding, EM and serving all run over the
  * DISTINCT-word table; the model artifact is vocabulary-bounded (seed
  * size ≈ thousands of rows — the same bounded-collect class as BPE's
  * merge table and KMeans' centroids) and rides into tasks as ONE
  * broadcast HashMap, never as nested expression layers, so per-word cost
  * is O(|word| · maxPieceLen) independent of vocabulary size — the
  * automaton trade [[BpeTrain.vocabTokensCompiled]] measured (SCALING
  * §24), adopted here from the start.
  */
object UnigramLm {

  /** All substrings of length 1..maxPieceLen of every distinct word,
    * counted with multiplicity and weighted by word count — the candidate
    * statistics the seed vocabulary ranks. One explode over the
    * distinct-word table: O(Σ |word| · maxPieceLen) rows of short strings,
    * map-side combined into the piece fold.
    */
  def substringCounts(counts: DataFrame, maxPieceLen: Int): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    counts
      .select(col("cnt"), explode(flatten(transform(
        sequence(lit(1), length(col("word"))),
        i => transform(
          sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - i + 1)),
          l => col("word").substr(i, l))))).alias("piece"))
      .groupBy("piece").agg(sum(col("cnt")).alias("cnt"))
  }

  /** The seed vocabulary: EVERY single character (coverage — Viterbi must
    * always have a path) plus the `seedSize` most frequent multi-character
    * substrings, ties broken (count desc, piece asc). The top-k is an
    * `orderBy().limit()` → TakeOrderedAndProject (per-partition heaps),
    * never a global window. Returns `(piece, cnt)`.
    */
  def seedVocab(counts: DataFrame, maxPieceLen: Int = 4,
      seedSize: Int = 1000): DataFrame = {
    require(seedSize >= 1, s"seedSize must be >= 1, got $seedSize")
    val subs = substringCounts(counts, maxPieceLen)
    subs.where(length(col("piece")) === 1).unionByName(
      subs.where(length(col("piece")) >= 2)
        .orderBy(col("cnt").desc, col("piece")).limit(seedSize))
  }

  /** Micro-nat piece scores: `(piece → floor(1e6 · ln cnt), floor(1e6 ·
    * ln Σ cnt))`. ln of an exact integer count — the only float in the
    * whole operator, quantized the proven-cross-engine way (see
    * `q_dsir_weights`).
    */
  private def quantize(model: Seq[(String, Long)])
      : (java.util.HashMap[String, java.lang.Long], Long) = {
    require(model.nonEmpty, "empty model")
    // boxed values: java.util.HashMap.get on a missing key returns null,
    // and a primitive-Long value type would silently unbox that to 0L
    val m = new java.util.HashMap[String, java.lang.Long]()
    // the normalizer Z sums the SAME first occurrences the score map
    // keeps — a duplicate piece must not deflate every piece's
    // probability while its score rides the first count
    var z = 0L
    model.foreach { case (p, c) =>
      require(c >= 1, s"piece '$p' has non-positive count $c")
      require(p.forall(_ > '\u0001'),
        s"piece ${p.map(ch => f"U+${ch.toInt}%04X").mkString("[", " ", "]")} " +
          "contains a control character <= U+0001 — reserved as the " +
          "piece-sequence tie-break separator")
      // first occurrence wins, like BpeTrain's duplicate-rule guard
      if (!m.containsKey(p)) {
        m.put(p, math.floor(1e6 * math.log(c.toDouble)).toLong)
        z += c
      }
    }
    (m, math.floor(1e6 * math.log(z.toDouble)).toLong)
  }

  /** The DP's tie-break compares piece sequences as strings joined by
    * U+0001, which equals element-wise sequence order ONLY when no piece
    * character sorts at or below the separator: a word containing U+0001
    * would fragment on the final `split('\u0001')` (inflating ntok), and
    * U+0000 would sort below the separator and corrupt the tie-break.
    * Both entry points fail loudly instead — strip control characters
    * upstream (real tokenizer pipelines normalize them away; none of the
    * word-splitting callers can produce one from whitespace-split text,
    * but a hand-fed frame can).
    */
  private def requireNoControlChars(word: String): Unit =
    if (!word.forall(_ > '\u0001'))
      throw new IllegalArgumentException(
        s"word ${word.map(ch => f"U+${ch.toInt}%04X").mkString("[", " ", "]")} " +
          "contains a control character <= U+0001 — reserved as the " +
          "piece-sequence tie-break separator; strip control characters " +
          "upstream")

  /** Viterbi segmentation of one word under quantized piece scores:
    * maximize `Σ s(pieceᵢ) − n·sz`, ties → fewer pieces → lexicographically
    * smallest piece sequence. The DP key at every prefix is the
    * suffix-invariant triple (partial total, token count, joined pieces):
    * a common completion adds the same Δ to score and count and appends
    * the same suffix to two equal-length joined strings, so keeping one
    * best prefix per position yields the global optimum under the full
    * lexicographic comparator — exactly what the oracle's all-segmentation
    * enumeration picks.
    *
    * Throws if some prefix has no piece — cannot happen for a model that
    * contains every single character of the word (which [[seedVocab]] and
    * [[train]] guarantee for their own corpus); a hand-built model that
    * violates coverage fails loudly instead of emitting a silent partial
    * segmentation.
    */
  private[operators] def viterbiWord(word: String,
      s: java.util.HashMap[String, java.lang.Long], sz: Long, maxPieceLen: Int)
      : (Array[String], Long) = {
    requireNoControlChars(word)
    val n = word.length
    // per position: best (total, ntok, joined, backPos, backPiece)
    val total = new Array[Long](n + 1)
    val ntok = new Array[Int](n + 1)
    val joined = new Array[String](n + 1)
    joined(0) = ""
    var j = 1
    while (j <= n) {
      var bestT = Long.MinValue
      var bestN = Int.MaxValue
      var bestJ: String = null
      var l = 1
      val lMax = math.min(maxPieceLen, j)
      while (l <= lMax) {
        if (joined(j - l) != null) {
          val piece = word.substring(j - l, j)
          val ps = s.get(piece)
          if (ps != null) {
            val t = total(j - l) + ps.longValue() - sz
            val k = ntok(j - l) + 1
            val cj = if (j - l == 0) piece else joined(j - l) + "\u0001" + piece
            if (t > bestT || (t == bestT && (k < bestN ||
                (k == bestN && cj.compareTo(bestJ) < 0)))) {
              bestT = t; bestN = k; bestJ = cj
            }
          }
        }
        l += 1
      }
      total(j) = bestT; ntok(j) = bestN; joined(j) = bestJ
      j += 1
    }
    if (joined(n) == null)
      throw new IllegalArgumentException(
        s"model does not cover word '$word' (missing single characters?)")
    (joined(n).split('\u0001'), total(n))
  }

  /** Exact top-`nBest` segmentations of one word under the same comparator
    * as [[viterbiWord]] (score desc, fewer pieces, lex-smallest sequence),
    * best first — the candidate lattice subword-regularization samples
    * from (Kudo 2018 §3.2 keeps the n-best list; the full
    * forward-filtering–backward-sampling lattice differs only in tail
    * mass). Beam of `nBest` per position is EXACT for this DAG: any
    * final top-n path's prefix at a position must itself rank top-n
    * there, because the comparator is suffix-invariant (the [[viterbiWord]]
    * argument, applied n-wide).
    */
  private[operators] def viterbiNBest(word: String,
      s: java.util.HashMap[String, java.lang.Long], sz: Long,
      maxPieceLen: Int, nBest: Int): Seq[(Array[String], Long, Long)] = {
    require(nBest >= 1, s"nBest must be >= 1, got $nBest")
    requireNoControlChars(word)
    val n = word.length
    val ord = Ordering.Tuple3(Ordering.Long.reverse, Ordering.Int,
      Ordering.String) // (total desc, ntok asc, joined asc)
    val beams = new Array[Seq[(Long, Int, String)]](n + 1)
    beams(0) = Seq((0L, 0, ""))
    var j = 1
    while (j <= n) {
      val cands = Seq.newBuilder[(Long, Int, String)]
      var l = 1
      val lMax = math.min(maxPieceLen, j)
      while (l <= lMax) {
        if (beams(j - l) != null && beams(j - l).nonEmpty) {
          val piece = word.substring(j - l, j)
          val ps = s.get(piece)
          if (ps != null) beams(j - l).foreach { case (t, k, cj) =>
            cands += ((t + ps.longValue() - sz, k + 1,
              if (j - l == 0) piece else cj + "\u0001" + piece))
          }
        }
        l += 1
      }
      beams(j) = cands.result().sorted(ord).take(nBest)
      j += 1
    }
    if (beams(n).isEmpty)
      throw new IllegalArgumentException(
        s"model does not cover word '$word' (missing single characters?)")
    beams(n).map { case (t, k, cj) => (cj.split('\u0001'), k.toLong, t) }
  }

  /** `(word, cands)` for every DISTINCT word: the exact top-`nBest`
    * segmentations, best first, each as `(toks, ntok, score_micro)` — the
    * n-best twin of [[segmentWords]], same broadcast-model
    * `mapPartitions` shape.
    */
  def segmentWordsNBest(words: DataFrame, model: Seq[(String, Long)],
      nBest: Int): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val modelB = spark.sparkContext.broadcast(model.toArray)
    val maxLen = model.iterator.map(_._1.length).max
    words.select("word").distinct().as[String]
      .mapPartitions { it =>
        val (s, sz) = quantize(modelB.value.toSeq)
        it.map(w => (w, viterbiNBest(w, s, sz, maxLen, nBest)))
      }
      .toDF("word", "cands")
      .select(col("word"), transform(col("cands"),
        c => struct(c.getField("_1").alias("toks"),
          c.getField("_2").alias("ntok"),
          c.getField("_3").alias("score_micro"))).alias("cands"))
  }

  /** Subword-REGULARIZATION serving (Kudo 2018 §3.2 — the algorithm's
    * headline feature): instead of always emitting the Viterbi argmax,
    * each word OCCURRENCE samples a segmentation from the n-best list
    * with P(seg) ∝ P(seg)^alpha, so the same word tokenizes differently
    * across (and within) documents — the stochastic augmentation unigram
    * tokenizers were built to provide. Returns `(idCol, n_tokens,
    * score_micro)` per document over the sampled segmentations.
    *
    * The sampling is DETERMINISTIC and engine-independent, which is what
    * makes it oracle-gateable (`q_unigram_sample`): candidate weights are
    * quantized integers `floor(1e6 · exp(alpha·(scoreᵢ − score₁)/1e6)) + 1`
    * (one transcendental per candidate, the q_dsir_weights quantization
    * pattern); the draw is inverse-CDF with `r = floor(u · W)` where `u`
    * is [[Sampling.uniform]]'s integer-residue hash of the occurrence key
    * `id·4096 + position` and `W` the integer weight total — every
    * comparison after the two float steps is exact int64. alpha → ∞
    * approaches the argmax ([[tokenCounts]]); alpha = 0 samples the
    * n-best uniformly. Documents beyond 4096 words per row fail loudly
    * (the occurrence key packs the position into 12 bits; chunk upstream
    * — `TextAnalysis.chunkByTokens` — rather than silently reusing noise).
    *
    * Plan shape: the n-best lattice is computed once per DISTINCT word
    * and broadcast; the per-occurrence draw is a map-side `aggregate`
    * fold over the ≤ nBest candidates — no shuffle beyond the final
    * per-document fold.
    */
  def sampleTokenCounts(docs: DataFrame, idCol: String, textCol: String,
      model: Seq[(String, Long)], nBest: Int = 8, alpha: Double = 0.2,
      seed: Long = 0L): DataFrame = {
    require(alpha >= 0, s"alpha must be >= 0, got $alpha")
    val occ = docs.select(col(idCol),
        posexplode(filter(split(col(textCol), "\\s+"),
          w => length(w) > 0)).as(Seq("pos", "word")))
      .withColumn("pos",
        when(col("pos") >= 4096, raise_error(concat(lit("document "),
          col(idCol).cast("string"),
          lit(" exceeds 4096 words — chunk before sampling"))))
          .otherwise(col("pos")))
    val nbest = segmentWordsNBest(occ.select("word"), model, nBest)
      .select(col("word"),
        transform(col("cands"), c =>
          struct(c.getField("ntok").alias("ntok"),
            c.getField("score_micro").alias("score_micro"))).alias("cands"))
    val key = Sampling.idAsLong(occ, idCol) * 4096 + col("pos")
    val weighted = occ.join(broadcast(nbest), Seq("word"))
      .withColumn("_w", transform(col("cands"), c =>
        struct(c.getField("ntok").alias("ntok"),
          c.getField("score_micro").alias("score_micro"),
          (floor(lit(1e6) * exp(lit(alpha) *
            (c.getField("score_micro") -
              element_at(col("cands"), 1).getField("score_micro"))
              .cast("double") / lit(1e6))).cast(LongType) + 1L).alias("wq"))))
      .withColumn("_r", floor(Sampling.uniform(key, seed) *
        aggregate(col("_w"), lit(0L), (a, c) => a + c.getField("wq"))
          .cast("double")).cast(LongType))
    // first candidate (best-first order) whose cumulative weight exceeds
    // r — r <= W-1, so one is always chosen (ntok = -1 never survives)
    val chosen = weighted.withColumn("_c",
      aggregate(col("_w"),
        struct(lit(0L).alias("cum"), lit(-1L).alias("ntok"),
          lit(0L).alias("score_micro")),
        (acc, c) => when(acc.getField("ntok") >= 0, acc)
          .otherwise(when(acc.getField("cum") + c.getField("wq") > col("_r"),
            struct((acc.getField("cum") + c.getField("wq")).alias("cum"),
              c.getField("ntok").alias("ntok"),
              c.getField("score_micro").alias("score_micro")))
            .otherwise(struct(
              (acc.getField("cum") + c.getField("wq")).alias("cum"),
              lit(-1L).alias("ntok"), lit(0L).alias("score_micro"))))))
    chosen.groupBy(col(idCol))
      .agg(sum(col("_c.ntok")).cast(LongType).alias("n_tokens"),
        sum(col("_c.score_micro")).cast(LongType).alias("score_micro"))
  }

  /** `(word, toks, ntok, score_micro)` for every DISTINCT word of `words`
    * (a one-column `word` frame), segmented by Viterbi under the model.
    * The model rides once as a task broadcast — the same justified
    * `mapPartitions` shape as [[BpeTrain.vocabTokensCompiled]]: per-word
    * DP against a broadcast table that cannot ride as expression layers.
    */
  def segmentWords(words: DataFrame, model: Seq[(String, Long)]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val modelB = spark.sparkContext.broadcast(model.toArray)
    val maxLen = model.iterator.map(_._1.length).max
    words.select("word").distinct().as[String]
      .mapPartitions { it =>
        val (s, sz) = quantize(modelB.value.toSeq)
        it.map { w =>
          val (toks, score) = viterbiWord(w, s, sz, maxLen)
          (w, toks, toks.length.toLong, score)
        }
      }
      .toDF("word", "toks", "ntok", "score_micro")
  }

  /** log(e^a + e^b) without overflow; -Inf is the additive identity. */
  private def logSumExp(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else { val m = math.max(a, b); m + math.log1p(math.exp(math.min(a, b) - m)) }

  /** Forward-backward expected piece counts of ONE word under the
    * quantized model — the soft-EM E-step kernel (Kudo 2018 §3.2's actual
    * EM, where [[viterbiWord]] is the hard approximation). Log-domain:
    * `logp(piece) = (s(piece) − sz)/1e6`; forward `α(j) = lse_l(α(j−l) +
    * logp)`, backward symmetric; an occurrence (i, j)'s posterior is
    * `exp(α(i) + logp + β(j) − α(n))`. Returns the per-piece expected
    * counts and the word's log marginal likelihood `α(n)` (in nats, the
    * EM objective's summand).
    *
    * Exactness note the degenerate oracle gate leans on: for a word with
    * a SINGLE admissible segmentation every `lse` reduces to its one
    * argument, so each posterior is `exp(δ)` for an association-order
    * ulp `δ` — within 1e-12 of exactly 1 — and the M-step's
    * `floor(x + 0.5)` integerization absorbs it.
    */
  private[operators] def softWordCounts(word: String,
      s: java.util.HashMap[String, java.lang.Long], sz: Long,
      maxPieceLen: Int): (Array[(String, Double)], Double) = {
    requireNoControlChars(word)
    val n = word.length
    val fwd = Array.fill(n + 1)(Double.NegativeInfinity)
    fwd(0) = 0.0
    var j = 1
    while (j <= n) {
      var l = 1
      val lMax = math.min(maxPieceLen, j)
      while (l <= lMax) {
        if (fwd(j - l) != Double.NegativeInfinity) {
          val ps = s.get(word.substring(j - l, j))
          if (ps != null)
            fwd(j) = logSumExp(fwd(j), fwd(j - l) + (ps.longValue() - sz) / 1e6)
        }
        l += 1
      }
      j += 1
    }
    if (fwd(n) == Double.NegativeInfinity)
      throw new IllegalArgumentException(
        s"model does not cover word '$word' (missing single characters?)")
    val bwd = Array.fill(n + 1)(Double.NegativeInfinity)
    bwd(n) = 0.0
    var i = n - 1
    while (i >= 0) {
      var l = 1
      val lMax = math.min(maxPieceLen, n - i)
      while (l <= lMax) {
        if (bwd(i + l) != Double.NegativeInfinity) {
          val ps = s.get(word.substring(i, i + l))
          if (ps != null)
            bwd(i) = logSumExp(bwd(i), (ps.longValue() - sz) / 1e6 + bwd(i + l))
        }
        l += 1
      }
      i -= 1
    }
    val acc = new java.util.HashMap[String, Double]()
    i = 0
    while (i < n) {
      if (fwd(i) != Double.NegativeInfinity) {
        var l = 1
        val lMax = math.min(maxPieceLen, n - i)
        while (l <= lMax) {
          if (bwd(i + l) != Double.NegativeInfinity) {
            val piece = word.substring(i, i + l)
            val ps = s.get(piece)
            if (ps != null) {
              val post = math.exp(
                fwd(i) + (ps.longValue() - sz) / 1e6 + bwd(i + l) - fwd(n))
              acc.merge(piece, post, (a, b) => a + b)
            }
          }
          l += 1
        }
      }
      i += 1
    }
    val out = new Array[(String, Double)](acc.size())
    val it = acc.entrySet().iterator()
    var k = 0
    while (it.hasNext) { val e = it.next(); out(k) = (e.getKey, e.getValue); k += 1 }
    (out, fwd(n))
  }

  /** Per-(word, piece) soft posterior expected counts, quantized to
    * integer micro-units `floor(1e6 · E + 0.5)` — the cross-engine-
    * gateable face of the soft E-step (`q_unigram_soft_step`). Half-up
    * rounding (not plain floor) is load-bearing: single-segmentation
    * words have EXACTLY integer posteriors, which sit exactly ON a floor
    * boundary — `+0.5` moves every integer-valued E half a micro-unit
    * from the nearest boundary, so the two engines' ~1e-9 float-path
    * differences cannot flip the quantum (the ratio-of-exp-sums values
    * in between are transcendental and margin-scanned by
    * `UnigramBoundaryMarginSpec`). Rides the same distinct-word ×
    * broadcast-model `mapPartitions` shape as [[segmentWords]].
    */
  def softExpectedMicro(words: DataFrame, model: Seq[(String, Long)])
      : DataFrame =
    softExpectedRaw(words, model)
      .select(col("word"), col("piece"),
        floor(lit(1e6) * col("e") + lit(0.5)).cast(LongType).alias("e_micro"))

  /** The raw doubles behind [[softExpectedMicro]] — exposed at package
    * visibility so `UnigramBoundaryMarginSpec` can measure each value's
    * distance from its quantization boundary on the actual gate corpus.
    */
  private[operators] def softExpectedRaw(words: DataFrame,
      model: Seq[(String, Long)]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val modelB = spark.sparkContext.broadcast(model.toArray)
    val maxLen = model.iterator.map(_._1.length).max
    words.select("word").distinct().as[String]
      .mapPartitions { it =>
        val (s, sz) = quantize(modelB.value.toSeq)
        it.flatMap { w =>
          softWordCounts(w, s, sz, maxLen)._1.iterator.map { case (p, e) =>
            (w, p, e)
          }
        }
      }
      .toDF("word", "piece", "e")
  }

  /** One SOFT-EM step (expected counts — the SentencePiece default this
    * module's hard-EM scaladoc documents as the honest gap): every
    * admissible segmentation of every distinct word contributes its
    * posterior mass, so a piece hard-EM starves to zero (it wins no
    * Viterbi argmax) retains fractional support here. Returns `(piece,
    * est_cnt: Double)` — fractional by nature; [[trainSoft]] integerizes
    * with `floor(x + 0.5)` (IEEE-exact, the house float rule) to stay in
    * the hash-verifiable integer-count model domain.
    *
    * Same distributed shape as [[emStep]]: the corpus never re-enters —
    * one `mapPartitions` over the DISTINCT-word table against the ONE
    * broadcast model HashMap, then a piece-keyed fold.
    */
  def emStepSoft(counts: DataFrame, model: Seq[(String, Long)]): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val modelB = spark.sparkContext.broadcast(model.toArray)
    val maxLen = model.iterator.map(_._1.length).max
    counts.select(col("word"), col("cnt")).as[(String, Long)]
      .mapPartitions { it =>
        val (s, sz) = quantize(modelB.value.toSeq)
        it.flatMap { case (w, cnt) =>
          softWordCounts(w, s, sz, maxLen)._1.iterator
            .map { case (p, e) => (p, cnt * e) }
        }
      }
      .toDF("piece", "est")
      .groupBy("piece").agg(sum(col("est")).alias("est_cnt"))
  }

  /** The EM objective: corpus log marginal likelihood `Σ_w cnt_w ·
    * log P(w | model)` in nats (under the micro-nat-quantized piece
    * probabilities — the model actually served). Soft EM is
    * guaranteed non-decreasing on this; the spec pins it.
    */
  def logLikelihood(counts: DataFrame, model: Seq[(String, Long)]): Double = {
    val spark = counts.sparkSession
    import spark.implicits._
    val modelB = spark.sparkContext.broadcast(model.toArray)
    val maxLen = model.iterator.map(_._1.length).max
    counts.select(col("word"), col("cnt")).as[(String, Long)]
      .mapPartitions { it =>
        val (s, sz) = quantize(modelB.value.toSeq)
        it.map { case (w, cnt) => cnt * softWordCounts(w, s, sz, maxLen)._2 }
      }
      .toDF("ll").agg(sum(col("ll"))).head().getDouble(0)
  }

  /** One hard-EM step: Viterbi-segment every distinct word under `model`,
    * return each piece's expected count `Σ word-count · occurrences` —
    * the M-step statistics the next model normalizes. Pieces that win no
    * segmentation are absent (their next-round probability is zero; the
    * caller floors retained single characters at 1 for coverage). The
    * corpus never re-enters: one vocab-sized segment pass + one explode
    * fold.
    */
  def emStep(counts: DataFrame, model: Seq[(String, Long)]): DataFrame =
    counts.join(segmentWords(counts.select("word"), model), Seq("word"))
      .select(col("cnt"), explode(col("toks")).alias("piece"))
      .groupBy("piece").agg(sum(col("cnt")).alias("est_cnt"))

  /** Per-document serving: `(idCol, n_tokens, score_micro)` — Viterbi
    * token count and total quantized log-likelihood per document. Same
    * corpus-scale plan as [[BpeTrain.tokenCountsCompiled]]: segment each
    * DISTINCT word once, broadcast-join back to word occurrences, one
    * fold per document.
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      model: Seq[(String, Long)]): DataFrame = {
    val words = docs.select(col(idCol),
      explode(filter(split(col(textCol), "\\s+"),
        w => length(w) > 0)).alias("word"))
    words.join(broadcast(segmentWords(words.select("word"), model)
        .select(col("word"), col("ntok"), col("score_micro"))),
      Seq("word"))
      .groupBy(col(idCol))
      .agg(sum(col("ntok")).cast(LongType).alias("n_tokens"),
        sum(col("score_micro")).cast(LongType).alias("score_micro"))
  }

  /** Full training loop: seed → (hard-EM step + prune) × `emIters` →
    * final truncation to `vocabSize`. Single characters are never pruned
    * (coverage) and floor at count 1 if an EM step leaves them unused;
    * multi-character pieces are kept by (est count desc, piece asc), each
    * round retaining the larger of the target multi-piece budget and
    * `1 − pruneFraction` of the survivors — SentencePiece's gradual-prune
    * schedule, so a piece whose early support was an artifact of a
    * not-yet-fit model can still lose its corpus to a better piece before
    * the final cut. Every collect is model-sized (≤ singles + seedSize
    * rows); all corpus- and vocab-sized work is DataFrame-distributed.
    *
    * Returns the model `(piece, count)` in (count desc, piece asc) order —
    * the artifact [[tokenCounts]] serves with.
    */
  def train(docs: DataFrame, textCol: String, vocabSize: Int,
      maxPieceLen: Int = 4, seedSize: Int = 1000, emIters: Int = 2,
      pruneFraction: Double = 0.2,
      extraSingles: Seq[String] = Nil): Seq[(String, Long)] = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(emIters >= 0, s"emIters must be >= 0, got $emIters")
    require(pruneFraction >= 0 && pruneFraction < 1,
      s"pruneFraction must be in [0, 1), got $pruneFraction")
    trainLoop(docs, textCol, vocabSize, maxPieceLen, seedSize, emIters,
      pruneFraction, (counts, model) =>
        emStep(counts, model)
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap,
      extraSingles)
  }

  /** [[train]] with the SOFT E-step ([[emStepSoft]]) — the actual
    * SentencePiece default. Fractional expected counts are integerized
    * per round by `floor(x + 0.5)` (pieces rounding to 0 drop, exactly
    * like hard-EM pieces that win no segmentation), so both trainers
    * share one model domain, one prune schedule, and one serving path.
    * Degenerate configs where every word has a single admissible
    * segmentation (e.g. maxPieceLen = 1) make soft ≡ hard — the
    * cross-engine gate (`q_unigram_train_soft`) rides that identity; the
    * divergence and EM-objective-monotonicity behavior is spec-pinned.
    */
  def trainSoft(docs: DataFrame, textCol: String, vocabSize: Int,
      maxPieceLen: Int = 4, seedSize: Int = 1000, emIters: Int = 2,
      pruneFraction: Double = 0.2,
      extraSingles: Seq[String] = Nil): Seq[(String, Long)] = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(emIters >= 0, s"emIters must be >= 0, got $emIters")
    require(pruneFraction >= 0 && pruneFraction < 1,
      s"pruneFraction must be in [0, 1), got $pruneFraction")
    trainLoop(docs, textCol, vocabSize, maxPieceLen, seedSize, emIters,
      pruneFraction, (counts, model) =>
        emStepSoft(counts, model)
          .collect().iterator
          .map(r => (r.getString(0),
            math.floor(r.getDouble(1) + 0.5).toLong))
          .filter(_._2 >= 1L).toMap,
      extraSingles)
  }

  /** The shared seed → (E-step + prune) × iters → truncate loop behind
    * [[train]] (hard/Viterbi counts) and [[trainSoft]] (expected counts):
    * the estimator is the ONLY difference between the two trainers, so
    * the prune schedule, coverage floor, and final truncation cannot
    * drift apart.
    */
  /** The EXACT seed [[trainLoop]] starts from: the corpus substring seed
    * plus any missing fallback singles at count 1 (the singles floor —
    * they survive every EM round since singles are never pruned, so the
    * trained model provably covers them; byte-fallback, ByteLevel.scala).
    * Exposed `private[graft]` so the boundary-margin specs scan the seed
    * the gates ACTUALLY train with, not a hand-kept copy.
    */
  private[graft] def trainSeed(counts: DataFrame, maxPieceLen: Int,
      seedSize: Int, extraSingles: Seq[String]): Seq[(String, Long)] = {
    require(extraSingles.forall(_.length == 1),
      "extraSingles must be single characters (fallback coverage pieces)")
    val corpusSeed = seedVocab(counts, maxPieceLen, seedSize)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val present = corpusSeed.iterator
      .filter(_._1.length == 1).map(_._1).toSet
    corpusSeed ++ extraSingles.distinct.sorted
      .filterNot(present).map((_, 1L))
  }

  private def trainLoop(docs: DataFrame, textCol: String, vocabSize: Int,
      maxPieceLen: Int, seedSize: Int, emIters: Int, pruneFraction: Double,
      estimate: (DataFrame, Seq[(String, Long)]) => Map[String, Long],
      extraSingles: Seq[String] = Nil): Seq[(String, Long)] = {
    graft.util.Checkpoints.pinned(BpeTrain.wordCounts(docs, textCol)) { counts =>
      val seed = trainSeed(counts, maxPieceLen, seedSize, extraSingles)
      val singles = seed.filter(_._1.length == 1).map(_._1).toSet
      require(singles.size <= vocabSize,
        s"vocabSize $vocabSize below the ${singles.size} single characters " +
          "coverage requires")
      val multiBudget = vocabSize - singles.size
      var model = seed
      var iter = 0
      while (iter < emIters) {
        val est = estimate(counts, model)
        val keptSingles = singles.toSeq.sorted
          .map(p => (p, math.max(est.getOrElse(p, 0L), 1L)))
        val survivors = model.iterator.map(_._1)
          .filter(p => p.length >= 2 && est.contains(p))
          .map(p => (p, est(p))).toSeq
          .sortBy { case (p, c) => (-c, p) }
        val keep = math.max(multiBudget,
          math.floor(survivors.size * (1 - pruneFraction)).toInt)
        model = keptSingles ++ survivors.take(keep)
        iter += 1
      }
      (model.filter(_._1.length == 1) ++
        model.filter(_._1.length >= 2).sortBy { case (p, c) => (-c, p) }
          .take(multiBudget))
        .sortBy { case (p, c) => (-c, p) }
    }
  }
}
