package graft.operators

import graft.functions.GraftExpressions.word_ngram_hash_seq
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Corpus-statistics language-model scoring — the CCNet-style idea
  * ("CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
  * Data", Wenzek et al. 2020: score each document by an n-gram LM and
  * filter on perplexity) with the corpus ITSELF as the model. A document
  * whose word n-grams are common across the corpus reads like the corpus;
  * one full of hapax n-grams is an outlier (boilerplate soup, garbled
  * encoding, another language). CCNet trains KenLM on a reference corpus;
  * the self-trained variant needs no model artifact and the "train" is one
  * aggregation over the same table being scored.
  *
  * All outputs are EXACT integers (and one division of them): sums of
  * per-gram corpus counts, not floating log-likelihoods — so the result is
  * order-independent, cluster ≡ local bit-for-bit, and a SQL engine
  * computing the same counts reproduces it (`q_text_lm_score`).
  * `log2_sum` (Σ ⌊log2 count⌋, an integer log-likelihood proxy) stands in
  * for Σ log p(gram): the two rank documents near-identically and the
  * integer version survives hash-comparison.
  */
object LmScore {

  /** Per-document n-gram count features against the corpus-wide n-gram
    * count table.
    *
    * Output: (idCol, n_grams, cnt_sum, log2_sum, n_rare, avg_log2) —
    * gram occurrences in the doc; Σ corpus-count over them; Σ ⌊log2
    * corpus-count⌋ (the LM-score proxy — higher = more predictable text);
    * how many occurrences are "rare" (corpus count ≤ `rareThreshold`,
    * default = hapax: this doc is the only place the gram appears); and
    * log2_sum/n_grams (the per-gram average, the perplexity analogue).
    * Documents with fewer than `n` tokens score all-zero rather than
    * dropping out.
    *
    * Scale shape: the explode is O(total tokens) rows of 8-byte gram
    * hashes (never gram strings); the count table is one
    * partial-aggregating groupBy on that key; the scoring join shuffles
    * both sides on the same 8-byte key (a boilerplate gram repeated 10^9
    * times is a hot join key, not a collected list); the final per-doc
    * fold is a groupBy on the doc id with integer sums — three shuffles,
    * all map-side combined, nothing quadratic, no driver participation.
    * At 100 TB the count table itself is big (≈ distinct n-grams); if it
    * must shrink, prune to counts ≥ 2 and treat absent grams as count 1
    * (exactly the hapax semantics) — that variant broadcasts for most
    * corpora, at the price of `cnt_sum` no longer being exact for hapax
    * runs.
    */
  def ngramCountFeatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, rareThreshold: Long = 1L): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(rareThreshold >= 1, s"rareThreshold must be >= 1, got $rareThreshold")
    val grams = Dedup.widen(df).select(col(idCol),
      explode(word_ngram_hash_seq(col(textCol), n)).alias("_g"))
    val counts = grams.groupBy(col("_g")).agg(count(lit(1)).alias("_c"))
    val scored = grams.join(counts, Seq("_g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).alias("n_grams"),
        sum(col("_c")).alias("cnt_sum"),
        sum(floor(log2(col("_c"))).cast(LongType)).alias("log2_sum"),
        sum(when(col("_c") <= rareThreshold, 1L).otherwise(0L)).alias("n_rare"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).alias("n_grams"),
        coalesce(col("cnt_sum"), lit(0L)).alias("cnt_sum"),
        coalesce(col("log2_sum"), lit(0L)).alias("log2_sum"),
        coalesce(col("n_rare"), lit(0L)).alias("n_rare"))
      .withColumn("avg_log2",
        when(col("n_grams") > 0,
          col("log2_sum").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** The TRUE conditional-probability form of the score above (r14):
    * an add-one-smoothed bigram model — P(w2 | w1) = (c(w1,w2) + 1) /
    * (c(w1) + V) — with the per-document score avg(-ln P) over its
    * bigrams, i.e. the log of CCNet's perplexity. Two things the
    * integer-feature variant deliberately does not offer:
    *
    *  - a TRAIN corpus separate from the scored one (`train`) — the
    *    actual CCNet deployment trains on a reference corpus (Wikipedia)
    *    and scores the crawl; [[ngramCountFeatures]] is self-trained by
    *    construction;
    *  - calibrated probabilities: thresholds like "perplexity < 500"
    *    from the literature transfer to exp(avg_nll), where the integer
    *    log2 proxy only preserves ranking.
    *
    * Context counts are derived FROM the pair counts (c(w1) = Σ_w
    * c(w1, w)) so the conditional sums to one over the vocab by
    * construction and the model fit never re-reads the corpus: one
    * tokenized pass feeds the pair `groupBy`, the context fold runs on
    * the already-aggregated pairs, and one scalar job counts the vocab.
    * Scoring joins the document bigrams against the model — broadcast
    * when it fits (`broadcastModel`, the default; bigram vocabularies
    * grow sub-linearly), a shuffle join on the pair key otherwise (the
    * 100 TB hatch). An unseen context scores exactly 1/V. Documents with
    * fewer than two tokens have no bigram and are omitted.
    *
    * @return (idCol, n_bigrams, avg_nll) — avg_nll is the average
    *         negative natural-log bigram probability
    */
  def scoreByBigramLm(docs: DataFrame, idCol: String, textCol: String,
      train: Option[DataFrame] = None,
      broadcastModel: Boolean = true): DataFrame = {
    import graft.functions.TextAnalysis
    val trainDf = train.getOrElse(docs)

    def bigrams(df: DataFrame, keep: Seq[String]): DataFrame = {
      val toks = df
        .select(keep.map(col) :+
          TextAnalysis.tokens(col(textCol)).alias("_t"): _*)
        .where(size(col("_t")) >= 2)
      toks.select(keep.map(col) :+ col("_t") :+ posexplode(
          slice(col("_t"), lit(1), size(col("_t")) - 1)): _*)
        .select(keep.map(col) :+ col("col").alias("_w1") :+
          element_at(col("_t"), col("pos") + 2).alias("_w2"): _*)
    }

    // hold the tokenized TRAINING pass once: it feeds the pair counts
    // and the context fold, and re-tokenizing the corpus is the dominant
    // cost at scale. Like mmrRerank's final checkpoint, this model-sized
    // block stays live for the returned lazy plan's lifetime (the caller
    // consumes, then the engine-level cache sweep or GC reclaims) — the
    // accepted trade for a lazily-returned plan that reads it twice
    val pairCounts = bigrams(trainDf, Nil)
      .groupBy(col("_w1"), col("_w2"))
      .agg(count(lit(1)).alias("_c12"))
      .localCheckpoint(false) // feeds scoring AND the context fold
    val ctxCounts = pairCounts.groupBy(col("_w1"))
      .agg(sum(col("_c12")).alias("_c1"))
    // vocab over ALL token positions (the last bigram's w2 included):
    // both bigram slots draw from the same smoothing space
    val v = trainDf
      .select(explode(TextAnalysis.tokens(col(textCol))).alias("_w"))
      .agg(countDistinct(col("_w"))).head().getLong(0)

    def side(m: DataFrame) = if (broadcastModel) broadcast(m) else m
    bigrams(docs, Seq(idCol))
      .join(side(pairCounts), Seq("_w1", "_w2"), "left")
      .join(side(ctxCounts), Seq("_w1"), "left")
      .withColumn("_nll", -log(
        (coalesce(col("_c12"), lit(0L)) + 1).cast("double") /
          (coalesce(col("_c1"), lit(0L)) + v).cast("double")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).alias("n_bigrams"),
        avg(col("_nll")).alias("avg_nll"))
  }

  /** CCNet's perplexity BUCKETS (Wenzek et al. 2020 §4.3 — the step the
    * scores exist for): rank every document by its [[scoreByBigramLm]]
    * `avg_nll` and split at exact interpolated quantiles into labeled
    * buckets — the canonical config is head/middle/tail terciles, where
    * "head" is the LOWEST perplexity (most fluent under the model) and a
    * curation pipeline keeps head+middle or reweights by bucket.
    *
    * Cross-engine determinism of the assignment (the gate hashes
    * (doc, bucket) rows): the cuts are exact percentiles of the scores —
    * each engine computes them from ITS OWN score values, so a document
    * AT a cut compares its own value to itself (consistent by identity),
    * and a document NEAR a cut is separated from it by a real fraction
    * of the gap between adjacent distinct scores, orders of magnitude
    * above the within-ulp cross-libm spread of the `ln` sums (the
    * q_a5_percentile gate pins Spark `percentile` ≡ DuckDB
    * `quantile_cont` interpolation). Documents with fewer than two
    * tokens have no bigram evidence and are ABSENT, as in
    * [[scoreByBigramLm]] — chunk or pass them through upstream.
    *
    * Scale shape: the scoring plan unchanged; the cuts are ONE percentile
    * aggregate collected as `fractions.size` doubles; the assignment is
    * a map-side CASE. The EXACT percentile buffers distinct scores —
    * doc-count-sized at worst, fine to hundreds of millions of docs but
    * not to billions — so `approxCutsAccuracy` switches the cut
    * derivation to `approx_percentile` at that accuracy (rank error ≤
    * 1/accuracy, GK-sketch memory) with the assignment logic unchanged:
    * the hatch is real code, not advice (the r13/r14 filtered-ANN
    * lesson). Default exact — the gate wants cross-engine exactness, and
    * bucket boundaries move by at most the rank error when approximated.
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
      train: Option[DataFrame] = None, broadcastModel: Boolean = true,
      fractions: Seq[Double] = Seq(1.0 / 3, 2.0 / 3),
      labels: Seq[String] = Seq("head", "middle", "tail"),
      approxCutsAccuracy: Int = 0): DataFrame = {
    require(labels.size == fractions.size + 1,
      s"need ${fractions.size + 1} labels for ${fractions.size} cuts, " +
        s"got ${labels.size}")
    require(fractions.nonEmpty && fractions == fractions.sorted &&
      fractions.forall(f => f > 0 && f < 1),
      s"fractions must be sorted within (0, 1), got $fractions")
    require(approxCutsAccuracy >= 0,
      s"approxCutsAccuracy must be >= 0 (0 = exact), got $approxCutsAccuracy")
    // pinned: feeds the cuts AND the assignment once
    graft.util.Checkpoints.pinned(
        scoreByBigramLm(docs, idCol, textCol, train, broadcastModel)) { scored =>
      val cutExpr =
        if (approxCutsAccuracy == 0)
          s"percentile(avg_nll, array(${fractions.mkString(", ")}))"
        else s"approx_percentile(avg_nll, array(${fractions.mkString(", ")})," +
          s" $approxCutsAccuracy)"
      val cuts = scored.agg(expr(cutExpr)).head().getSeq[Double](0)
      // percentile/approx_percentile return NULL over zero rows — surface
      // "nothing scoreable" as a diagnosis, not a bare NPE from cuts.zip
      // (ADVICE r15)
      require(cuts != null,
        "perplexityBuckets: no scoreable documents — every document has " +
          "< 2 tokens, so no bigram score exists to bucket")
      val bucket = cuts.zip(labels.init).reverse
        .foldLeft(lit(labels.last)) { case (acc, (c, lab)) =>
          when(col("avg_nll") <= c, lab).otherwise(acc)
        }
      scored.select(col(idCol), col("n_bigrams"),
        round(col("avg_nll"), 6).alias("avg_nll_r"),
        bucket.alias("bucket"))
        .localCheckpoint(true) // survive the scored block's release
    }
  }
}
