package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The harness's own logic, without Spark: seeded generation, the output
  * checks, the percentile and failure accounting, and span self time.
  */
class HarnessSpec extends AnyFunSuite {

  private val smallCdc = CdcParams(masterRows = 300, windows = 20, txnsPerWindow = 10)
  private val smallCorpus = CorpusParams(vocab = 200, bootstrapDocs = 40, batchDocs = 30)

  private def corpusHash(seed: Long, batches: Int): String = {
    val g = new CorpusGen(seed, smallCorpus)
    (0 until batches).foreach(_ => g.nextBatch())
    g.inputHash
  }

  test("same seed, identical inputs; another seed, different inputs") {
    val a = CdcGen.generate(7L, smallCdc)
    val b = CdcGen.generate(7L, smallCdc)
    val c = CdcGen.generate(8L, smallCdc)
    assert(a.hash === b.hash)
    assert(a.log === b.log && a.finalRows === b.finalRows)
    assert(a.hash !== c.hash)
    assert(corpusHash(7L, 4) === corpusHash(7L, 4))
    assert(corpusHash(7L, 4) !== corpusHash(8L, 4))
  }

  test("the change log has the stated mix and ends at the final master") {
    val in = CdcGen.generate(3L, smallCdc.copy(windows = 200))
    val types = in.log.groupBy(_.changeType).map { case (t, rs) => t -> rs.size }
    val n = in.log.size.toDouble
    assert(math.abs(types("U") / n - 0.7) < 0.05, types)
    assert(math.abs(types("I") / n - 0.2) < 0.05, types)
    assert(math.abs(types("D") / n - 0.1) < 0.05, types)
    // a PK-changing update logs its new key as an update of an unseen key
    val initialKeys = in.initial.map(_.key).toSet
    assert(in.log.groupBy(_.key).count { case (k, rs) =>
      !initialKeys(k) && rs.minBy(r => (r.txid, r.seq)).changeType == "U"
    } > 0)
    assert(in.expectedAfter(in.params.windows) === in.finalMaster)
    assert(in.initial.map(r => r.key -> r).toMap !== in.finalMaster)
    // some deleted keys come back
    val deletedThenInserted = in.log.groupBy(_.key).values.count { rs =>
      val t = rs.sortBy(r => (r.txid, r.seq)).map(_.changeType)
      t.indexOf("D") >= 0 && t.lastIndexOf("I") > t.indexOf("D")
    }
    assert(deletedThenInserted > 0)
  }

  test("corpus duplicates follow the model: first batch, lowest id survives") {
    val g = new CorpusGen(5L, smallCorpus)
    val boot = g.nextBatch()
    val model = new CorpusModel(boot)
    val b1 = g.nextBatch()
    val fresh = model.deliver(1, b1)
    assert(fresh < b1.size, "the batch carries duplicates")
    val texts = b1.groupBy(_.text)
    model.survivors.keys.foreach { id =>
      val d = b1.find(_.id == id).get
      assert(texts(d.text).map(_.id).min === id)
      assert(!boot.exists(_.text == d.text))
    }
  }

  private val row = MasterRow("K1", "n", 100L, 1.5)

  test("the replica check fires on a corrupted expectation") {
    val expected = Map("K1" -> row, "K2" -> row.copy(key = "K2"))
    assert(Checks.tableDiff(expected.values.toSeq, expected).isEmpty)
    assert(Checks.tableDiff(expected.values.toSeq,
      expected + ("K1" -> row.copy(amountCents = 101L))) === Set("K1"))
    assert(Checks.tableDiff(expected.values.toSeq, expected - "K2") === Set("K2"))
    assert(Checks.tableDiff(expected.values.toSeq,
      expected + ("K3" -> row.copy(key = "K3"))) === Set("K3"))
    assert(Checks.tableDiff(Seq(row, row), Map("K1" -> row)) === Set("K1"))
  }

  test("the read checks fire on a corrupted expectation") {
    assert(!Checks.lookupDiff(Seq(row), Some(row)))
    assert(Checks.lookupDiff(Seq(row), Some(row.copy(score = 2.0))))
    assert(Checks.lookupDiff(Seq(row), None))
    val feed = Seq("K1" -> Some(row), "K2" -> None)
    assert(Checks.changesDiff(feed, feed.toMap).isEmpty)
    assert(Checks.changesDiff(feed, feed.toMap + ("K2" -> Some(row))) === Set("K2"))
    assert(Checks.changesDiff(feed, feed.toMap + ("K9" -> None)) === Set("K9"))
  }

  test("the corpus check fires on a corrupted expectation") {
    val spans = Seq(SpanRow(1, 10, 0, 700, 0, 512), SpanRow(1, 10, 0, 700, 512, 700),
      SpanRow(1, 11, 1, 30, 0, 30))
    assert(Checks.corpus(spans, Set(10L, 11L), Set.empty).ok)
    assert(Checks.corpus(spans, Set(10L, 11L, 12L), Set.empty).missing === Set(12L))
    assert(Checks.corpus(spans, Set(10L), Set.empty).unexpected === Set(11L))
    assert(Checks.corpus(spans, Set(10L), Set(11L)).retractedServed === Set(11L))
    val torn = spans.filterNot(_.tokStart == 512)
    assert(Checks.corpus(torn, Set(10L, 11L), Set.empty).badSpans === Set(10L))
    val twice = spans :+ SpanRow(2, 11, 0, 30, 0, 30)
    assert(Checks.corpus(twice, Set(10L, 11L), Set.empty).badSpans === Set(11L))
  }

  test("percentiles interpolate between ranks and respect the sample-count rule") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.median(xs) === 50.5)
    assert(math.abs(Stats.percentile(xs, 0.9) - 90.1) < 1e-9)
    assert(Stats.percentile(Seq(3.0), 0.9) === 3.0)
    assert(Stats.qualifies(100, 0.9))
    assert(!Stats.qualifies(99, 0.9))
    assert(Stats.qualifies(20, 0.5) && !Stats.qualifies(19, 0.5))
    assert(Stats.qualifies(1000, 0.99) && !Stats.qualifies(999, 0.99))
    assert(Stats.highestQualified(100).exists(p => math.abs(p - 0.9) < 1e-9))
    assert(Stats.highestQualified(40).exists(p => math.abs(p - 0.75) < 1e-9))
    assert(Stats.highestQualified(19).isEmpty)
  }

  test("a failed op misses every latency limit and is never dropped") {
    val log = new OpLog
    (1 to 6).foreach(i => log.ok(i.toDouble))
    log.fail()
    val i = log.attempted
    log.ok(0.5)
    log.markFailed(i) // its output check fired after it was timed
    log.markFailed(i) // counted once
    assert(log.attempted === 8 && log.failed === 2)
    assert(Stats.percentile(log.values, 1.0).isInfinite)
    assert(Stats.percentile(log.values, 0.9).isInfinite)
    assert(Stats.median(log.values) === 4.5)
  }

  test("self time is the wall minus what the children cover") {
    // root [0, 100) with children [10, 30) and [20, 50) overlapping, and a
    // grandchild inside the second; plus jobs of the root at [60, 70) and
    // one at [25, 40) that the children already cover
    val spans = Seq(
      Span(1, 0, "root", 0, 100),
      Span(2, 1, "a", 10, 30),
      Span(3, 1, "b", 20, 50),
      Span(4, 3, "c", 30, 35))
    val work = Map(1 -> SparkWork(jobs = 2, jobIntervalsNs = List((60L, 70L), (25L, 40L))))
    val figs = TraceMath.figures(spans, work).map(f => f.span.name -> f).toMap
    assert(figs("root").selfNs === 60)
    assert(figs("root").driverNs === 50)
    assert(figs("b").selfNs === 25)
    assert(figs("c").selfNs === 5 && figs("c").driverNs === 5)
    assert(TraceMath.unionLength(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0, 35) === 25)
    assert(TraceMath.descendants(spans) === Map(1 -> Set(1, 2, 3, 4)))
  }

  test("coverage counts only layer spans under the loop's ops") {
    // over [0, 200): op [0, 100) with layer spans covering [10, 50); op
    // [120, 180) fully covered; gaps between ops count as uncovered
    val spans = Seq(
      Span(1, 0, "bench.op", 0, 100),
      Span(2, 1, "layer.a", 10, 30),
      Span(3, 1, "layer.b", 20, 50),
      Span(4, 3, "layer.c", 30, 35),
      Span(5, 0, "bench.op", 120, 180),
      Span(6, 5, "layer.a", 120, 180),
      Span(7, 0, "bench.op", 190, 260)) // ends after the interval
    assert(TraceMath.coveragePct(spans, 0, 200) === 50.0)
    assert(TraceMath.coveragePct(spans, 100, 200) === 60.0)
  }
}
