package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.ManifestUpsertStore

/** Pins [[ManifestPipeline]]'s fold semantics on a corpus small enough to
  * enumerate by hand — especially the two contracts the gate hash can
  * only prove in aggregate (VERDICT r15 #1):
  *
  *   - duplicate-arrives-later: a delta document whose content already
  *     survived an earlier window is dropped in the fold, and its id
  *     never enters the span set;
  *   - idempotence: replaying a delivered batch yields zero new
  *     survivors and zero new spans, and leaves the store untouched.
  */
class ManifestPipelineSpec extends SparkSpec {
  import spark.implicits._

  // every char covered so Viterbi serves all windows
  private val model: Seq[(String, Long)] =
    Seq("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L, "e" -> 1L, "f" -> 1L)

  test("delta fold drops later duplicates, replays are no-ops, and incremental state equals the union recompute") {
    val work = java.nio.file.Files.createTempDirectory("graft-mptest")
    try {
      val batch1 = Seq((1L, "aa bb"), (2L, "cc dd"), (3L, "aa bb"))
        .toDF("doc_id", "text")
      val batch2 = Seq(
        (10L, "ee ff"),  // genuinely new content
        (11L, "aa bb"),  // duplicates window 1's survivor (doc 1)
        (12L, "ee ff")   // within-batch duplicate of doc 10
      ).toDF("doc_id", "text")

      val store = new ManifestUpsertStore(spark,
        work.resolve("surv").toString, pkCols = Seq("content_hash"),
        numBuckets = 4)

      val surv1 = ManifestPipeline
        .initializeSurvivors(store, batch1, "doc_id", "text")
        .localCheckpoint(true)
      assert(surv1.select("doc_id").as[Long].collect().toSet === Set(1L, 2L),
        "window 1: min-id survivor per content (doc 3 is a dup of doc 1)")

      val fresh2 = ManifestPipeline
        .foldDelta(store, batch2, "doc_id", "text", txnId = 2L)
      assert(fresh2.select("doc_id").as[Long].collect().toSet === Set(10L),
        "delta fold: 11 dropped against the store, 12 dropped in-batch")

      // the later duplicate's id never enters the span set
      val spans2 = ManifestPipeline
        .packWindow(fresh2, "doc_id", "text", model, 2L, shuffleSeed = 7L)
      assert(spans2.select("doc_id").as[Long].collect().toSet === Set(10L))

      // replay the SAME batch: zero survivors, zero spans, store untouched
      val versionBefore = store.currentVersion
      val replay = ManifestPipeline
        .foldDelta(store, batch2, "doc_id", "text", txnId = 3L)
      assert(replay.isEmpty, "replayed batch yields no new survivors")
      assert(ManifestPipeline
        .packWindow(replay, "doc_id", "text", model, 2L, shuffleSeed = 7L)
        .isEmpty, "replayed batch appends no spans")
      assert(store.currentVersion === versionBefore,
        "an all-duplicate batch writes nothing to the store")

      // incremental survivor state == one-shot recompute over the union
      val incr = store.snapshot()
        .select("content_hash", "doc_id").as[(String, Long)].collect().toSet
      val full = ManifestPipeline
        .survivorRows(batch1.unionByName(batch2), "doc_id", "text")
        .select("content_hash", "doc_id").as[(String, Long)].collect().toSet
      assert(incr === full,
        "threshold-split fold must equal the union min-id recompute")
    } finally graft.util.Fs.rmTree(work.toFile)
  }

  test("window packing restarts positions and budgets per window") {
    val surv = Seq((1L, "aa bb"), (2L, "cc dd")).toDF("doc_id", "text")
    val w1 = ManifestPipeline
      .packWindow(surv, "doc_id", "text", model, 1L, shuffleSeed = 7L)
    val w2 = ManifestPipeline
      .packWindow(surv, "doc_id", "text", model, 2L, shuffleSeed = 7L)
    // same survivors, same seed → identical layout; only the stamp moves
    assert(w1.drop("window").collect().toSeq.toSet ===
      w2.drop("window").collect().toSeq.toSet)
    assert(w1.select("window").as[Long].collect().toSet === Set(1L))
    assert(w2.select("window").as[Long].collect().toSet === Set(2L))
    val pos = w1.select("shuffle_pos").as[Long].collect().sorted
    assert(pos.headOption.contains(0L), "positions restart at 0 per window")
  }
}
