package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BpeTrainSpec extends SparkSpec {
  import spark.implicits._

  // the classic BPE worked example (low/lower/newest/widest), hand-traced:
  //   merge 1: (e,s) c=9 — ties (s,t) at 9, pair-lexicographic break
  //   merge 2: (es,t) c=9
  //   merge 3: (l,o) c=7 — ties (o,w) at 7
  private lazy val corpus = Seq(
    "low low low low low",
    "lower lower",
    "newest newest newest newest newest newest",
    "widest widest widest"
  ).toDF("text")

  test("train learns the hand-traced merges with deterministic tie-breaks") {
    val got = BpeTrain.train(corpus, "text", numMerges = 3)
      .orderBy("rank")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "e", "s", 9L),
      (2L, "es", "t", 9L),
      (3L, "l", "o", 7L)))
  }

  test("trainFromCounts runs ONE Spark ACTION per merge round (r20)") {
    // the per-round cost of the trainer is per-action planning floor, not
    // compute (VERDICT r19 #6): the vocab+pair tables ride one tagged
    // checkpoint per round and the argmax rides that same action as an
    // observed metric — so a full k-merge train is k+1 actions (round 0's
    // initial checkpoint plus one per learned merge) plus the final
    // learned-table collect, where the r19 shape ran 3 actions per round.
    // Counted as SQL EXECUTIONS, not scheduler jobs: AQE legitimately
    // materializes one action as several stage-jobs. The count also
    // proves the observed-metrics argmax fired (a silent metrics failure
    // would learn zero merges and fail the hand-traced test above first).
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          actions.incrementAndGet(); ()
        case _ =>
      }
    }
    // wordCounts materializes OUTSIDE the counted window so the count is
    // the loop's own (the trainFromCounts contract takes a counts table)
    val counts = BpeTrain.wordCounts(corpus, "text").localCheckpoint(true)
    try {
      spark.sparkContext.addSparkListener(listener)
      try {
        val got = BpeTrain.trainFromCounts(counts, numMerges = 3)
          .orderBy("rank").as[(Long, String, String, Long)].collect().toSeq
        assert(got.map(x => (x._2, x._3)) == Seq(("e", "s"), ("es", "t"), ("l", "o")))
        // listener bus is async; drain before asserting
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        // 3 merge rounds + round 0 + the final learned-table collect
        assert(actions.get() <= 5,
          s"expected <= 5 actions for a 3-merge train (1 checkpoint per " +
            s"round + the result collect), saw ${actions.get()}")
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally graft.util.Checkpoints.release(counts)
  }

  test("fuse is greedy left-to-right non-overlapping") {
    val got = Seq("aaaa", "aaa", "baab").toDF("w")
      .select(BpeTrain.fuse(BpeTrain.charSyms(col("w")), "a", "a").alias("s"))
      .as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq("aa", "aa"), Seq("aa", "a"), Seq("b", "aa", "b")))
  }

  test("fuse properties on random words: lossless, greedy-complete, idempotent") {
    val rnd = new scala.util.Random(42)
    val words = (1 to 300).map(_ =>
      (1 to (1 + rnd.nextInt(12))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    for ((l, r) <- Seq(("a", "b"), ("a", "a"), ("c", "a"))) {
      val fused = words.toDF("w")
        .select(BpeTrain.fuse(BpeTrain.charSyms(col("w")), l, r).alias("s"))
      val got = fused.as[Seq[String]].collect().toSeq
      words.zip(got).foreach { case (w, syms) =>
        assert(syms.mkString == w, s"lossy fuse of '$w' under ($l,$r): $syms")
        assert(!syms.sliding(2).exists(p =>
          p.length == 2 && p(0) == l && p(1) == r),
          s"unfused ($l,$r) adjacency left in '$w': $syms")
      }
      val twice = fused.select(BpeTrain.fuse(col("s"), l, r).alias("s"))
        .as[Seq[String]].collect().toSeq
      assert(got == twice, s"fuse under ($l,$r) is not idempotent")
    }
  }

  test("train ≡ an independent in-Scala BPE reference on random corpora") {
    val rnd = new scala.util.Random(5)
    def fuseRef(syms: List[String], l: String, r: String): List[String] =
      syms match {
        case a :: b :: rest if a == l && b == r =>
          (l + r) :: fuseRef(rest, l, r)
        case a :: rest => a :: fuseRef(rest, l, r)
        case Nil => Nil
      }
    def trainRef(texts: Seq[String], k: Int): Seq[(Long, String, String, Long)] = {
      var vocab = texts.flatMap(_.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) =>
          (w.map(_.toString).toList, ws.size.toLong) }.toSeq
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
      var rank = 1L
      var done = false
      while (rank <= k && !done) {
        val pairs = vocab.flatMap { case (syms, cnt) =>
          syms.sliding(2).collect { case List(a, b) => ((a, b), cnt) }
        }.groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
        if (pairs.isEmpty) done = true
        else {
          val ((l, r), c) = pairs.minBy { case ((l, r), c) => (-c, l, r) }
          out += ((rank, l, r, c))
          vocab = vocab.map { case (syms, cnt) => (fuseRef(syms, l, r), cnt) }
          rank += 1
        }
      }
      out.toSeq
    }
    (1 to 8).foreach { trial =>
      // small alphabet forces heavy pair collisions and ties
      val texts = (1 to 10).map(_ => (1 to (2 + rnd.nextInt(6))).map(_ =>
        (1 to (1 + rnd.nextInt(6))).map(_ =>
          ('a' + rnd.nextInt(3)).toChar).mkString).mkString(" "))
      val got = BpeTrain.train(texts.toDF("text"), "text", numMerges = 5)
        .orderBy("rank").as[(Long, String, String, Long)].collect().toSeq
      assert(got == trainRef(texts, 5), s"trial $trial on corpus $texts")
    }
  }

  test("train is partitioning-invariant (corpus row order immaterial)") {
    val a = BpeTrain.train(corpus, "text", 3)
      .orderBy("rank").as[(Long, String, String, Long)].collect().toSeq
    val b = BpeTrain.train(corpus.repartition(7), "text", 3)
      .orderBy("rank").as[(Long, String, String, Long)].collect().toSeq
    assert(a == b)
  }

  test("train stops early when no adjacent pair remains") {
    val got = BpeTrain.train(Seq("a b c a").toDF("text"), "text", numMerges = 5)
    assert(got.count() == 0)
  }

  test("tokens/tokenCount apply the learned table in rank order") {
    val merges = BpeTrain.train(corpus, "text", numMerges = 3)
      .orderBy("rank").as[(Long, String, String, Long)].collect()
      .map(m => (m._2, m._3)).toSeq
    val doc = Seq("low lower newest").toDF("text")
    // low -> [lo, w]; lower -> [lo, w, e, r]; newest -> [n, e, w, est]
    val toks = doc.select(BpeTrain.tokens(col("text"), merges).alias("t"))
      .as[Seq[Seq[String]]].head()
    assert(toks == Seq(Seq("lo", "w"), Seq("lo", "w", "e", "r"),
      Seq("n", "e", "w", "est")))
    val n = doc.select(BpeTrain.tokenCount(col("text"), merges).alias("n"))
      .as[Long].head()
    assert(n == 10L)
  }

  test("tokenCounts (fold per distinct word + broadcast join) ≡ per-row tokenCount") {
    val docs = corpus.withColumn("id", monotonically_increasing_id())
    val merges = BpeTrain.train(corpus, "text", numMerges = 3)
      .orderBy("rank").as[(Long, String, String, Long)].collect()
      .map(m => (m._2, m._3)).toSeq
    val scaled = BpeTrain.tokenCounts(docs, "id", "text", merges)
      .as[(Long, Long)].collect().toMap
    val perRow = docs.select(col("id"),
        BpeTrain.tokenCount(col("text"), merges).alias("n"))
      .as[(Long, Long)].collect().toMap
    assert(scaled == perRow)
  }

  test("tokenizing the training words with the learned table reproduces the trainer's folded vocab") {
    val merges = BpeTrain.train(corpus, "text", numMerges = 3)
      .orderBy("rank").as[(Long, String, String, Long)].collect()
      .map(m => (m._2, m._3)).toSeq
    // apply-in-rank-order over initial chars must equal iterative training
    // state: fold all three merges over 'newest'
    val got = Seq("newest").toDF("w")
      .select(merges.foldLeft(BpeTrain.charSyms(col("w"))) {
        case (s, (l, r)) => BpeTrain.fuse(s, l, r)
      }.alias("s")).as[Seq[String]].head()
    assert(got == Seq("n", "e", "w", "est"))
  }

  // ── r13: the compiled rank-priority automaton ─────────────────────────

  private def rankMap(merges: Seq[(String, String)]) = {
    val m = new java.util.HashMap[(String, String), Integer]()
    merges.zipWithIndex.foreach { case (p, i) =>
      if (!m.containsKey(p)) m.put(p, i)
    }
    m
  }

  test("compiled automaton ≡ literal fold on trainer-consistent tables (randomized)") {
    // 6 random corpora, deep merge tables (up to 20 rules): every word's
    // compiled tokenization must equal the k-layer fold — the equivalence
    // the Scaladoc proves only holds because train()'s tables are
    // creation-ordered, so randomized tables must come from train()
    val rnd = new scala.util.Random(7)
    (0 until 6).foreach { trial =>
      val alphabet = "abcd".take(2 + rnd.nextInt(3))
      val words = (0 until 40).map(_ =>
        (0 until 1 + rnd.nextInt(8))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      val docs = words.grouped(5).map(_.mkString(" ")).toSeq.toDF("text")
      val merges = BpeTrain.train(docs, "text", numMerges = 20)
        .orderBy("rank").as[(Long, String, String, Long)].collect()
        .map(m => (m._2, m._3)).toSeq
      val rank = rankMap(merges)
      val foldToks = docs.select(
          explode(BpeTrain.tokens(col("text"), merges)).alias("t"))
        .as[Seq[String]].collect()
      val foldWords = docs.select(
          explode(filter(split(col("text"), "\\s+"), w => length(w) > 0))
            .alias("w")).as[String].collect()
      foldWords.zip(foldToks).foreach { case (w, expect) =>
        val compiled = BpeTrain.applyWordCompiled(w, rank).toSeq
        assert(compiled == expect,
          s"trial $trial word '$w': compiled $compiled != fold $expect")
      }
    }
  }

  test("tokenCountsCompiled ≡ tokenCounts on the hand-traced corpus and gate-shaped docs") {
    val docs = corpus.withColumn("id", monotonically_increasing_id())
    val merges = BpeTrain.train(corpus, "text", numMerges = 3)
      .orderBy("rank").as[(Long, String, String, Long)].collect()
      .map(m => (m._2, m._3)).toSeq
    val fold = BpeTrain.tokenCounts(docs, "id", "text", merges)
      .as[(Long, Long)].collect().toMap
    val compiled = BpeTrain.tokenCountsCompiled(docs, "id", "text", merges)
      .as[(Long, Long)].collect().toMap
    assert(compiled == fold)
  }

  test("compiled automaton edge cases: repeats, single chars, unknown symbols, first-rank-wins") {
    // repeats: greedy left-to-right non-overlapping, same as fuse
    assert(BpeTrain.applyWordCompiled("aaaa", rankMap(Seq(("a", "a")))).toSeq
      == Seq("aa", "aa"))
    assert(BpeTrain.applyWordCompiled("aaaaa", rankMap(Seq(("a", "a")))).toSeq
      == Seq("aa", "aa", "a"))
    // cascading trainer-consistent rules apply transitively
    assert(BpeTrain.applyWordCompiled("aaaa",
      rankMap(Seq(("a", "a"), ("aa", "aa")))).toSeq == Seq("aaaa"))
    // single char / no applicable rule
    assert(BpeTrain.applyWordCompiled("x", rankMap(Seq(("a", "b")))).toSeq
      == Seq("x"))
    assert(BpeTrain.applyWordCompiled("xyz", rankMap(Seq(("a", "b")))).toSeq
      == Seq("x", "y", "z"))
    // a duplicated rule keeps its FIRST rank (Map-literal last-wins would
    // silently re-rank)
    val dup = rankMap(Seq(("a", "b"), ("a", "b")))
    assert(dup.get(("a", "b")) == 0)
  }

  test("the equivalence is CONDITIONAL: an inconsistent table splits the two paths") {
    // rank 1 = (ab, c) mentions a symbol rank 2 builds — impossible from
    // train(), constructible by hand. The fold passes rule (ab, c) before
    // 'ab' exists and never revisits it; the priority loop revisits and
    // fuses to 'abc'. Pinning the split documents WHY the contract
    // requires trainer-consistent tables.
    val inconsistent = Seq(("ab", "c"), ("a", "b"))
    val compiled = BpeTrain.applyWordCompiled("abc", rankMap(inconsistent)).toSeq
    assert(compiled == Seq("abc"))
    val fold = Seq("abc").toDF("w")
      .select(inconsistent.foldLeft(BpeTrain.charSyms(col("w"))) {
        case (s, (l, r)) => BpeTrain.fuse(s, l, r)
      }.alias("s")).as[Seq[String]].head()
    assert(fold == Seq("ab", "c"))
  }

  test("compiled symbolization is code points, matching charSyms on non-BMP words (r17)") {
    // the trainer and literal fold symbolize through Spark's UTF8String
    // substr (code-point indexed); the compiled automaton used to split
    // UTF-16 units, breaking an emoji into unmatched surrogate halves
    // and over-counting its tokens by one per non-BMP char
    val word = "a😀b🚀" // 4 code points, 6 UTF-16 units
    val compiled = BpeTrain.applyWordCompiled(word, rankMap(Seq())).toSeq
    assert(compiled == Seq("a", "😀", "b", "🚀"))
    val exprSyms = Seq(word).toDF("w")
      .select(BpeTrain.charSyms(col("w")).alias("s"))
      .as[Seq[String]].head()
    assert(compiled == exprSyms, "compiled and expression symbolization agree")
    // and a merge over a non-BMP pair applies identically in both paths
    val rules = Seq(("😀", "b"))
    val c2 = BpeTrain.applyWordCompiled(word, rankMap(rules)).toSeq
    val f2 = Seq(word).toDF("w")
      .select(rules.foldLeft(BpeTrain.charSyms(col("w"))) {
        case (s, (l, r)) => BpeTrain.fuse(s, l, r)
      }.alias("s")).as[Seq[String]].head()
    assert(c2 == Seq("a", "😀b", "🚀") && c2 == f2)
  }
}
