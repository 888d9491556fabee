package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.Cdc
import graft.operators.{AnnIndex, ServingManifest, Similarity}

/** Policy-driven ANN index maintenance (VERDICT r12 #3): a long
  * append+delete CDC stream through [[AnnIndexMaintainer]] must keep the
  * index's un-folded debt bounded with NO explicit compact call anywhere,
  * stay replay-idempotent through the policy's folds, and serve exactly
  * the live corpus at the end — the same maintenance discipline
  * [[CdcStreamJob]] gives the upsert stores, applied to the vector index.
  */
class AnnMaintainerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val queries = emb.limit(8)
    .select(col("vec_id").alias("qid"), col("embedding"))

  /** Batch b: append the b-th slice of the initially-absent third
    * (vec_id ≡ 0 mod 3), delete the b-th 1/50 slice of the initial rows.
    * Disjoint by construction — an append is never later deleted.
    */
  private def envelope(b: Int) = {
    val appends = emb
      .where(pmod(col("vec_id"), lit(3)) === 0 &&
        pmod(col("vec_id"), lit(30)) === 3 * b)
      .withColumn(Cdc.ChangeType, lit(Cdc.Upsert))
    val deletes = emb
      .where(pmod(col("vec_id"), lit(3)) =!= 0 &&
        pmod(col("vec_id"), lit(50)) === b)
      .withColumn(Cdc.ChangeType, lit(Cdc.Delete))
    appends.unionByName(deletes)
  }

  test("a 10-batch append+delete stream keeps debt bounded with no explicit compact") {
    val dir = Files.createTempDirectory("graft-annmnt").resolve("ix").toString
    AnnIndex.buildIvf(dir, emb.where(pmod(col("vec_id"), lit(3)) =!= 0),
      "vec_id", "embedding", numCells = 4, seed = 1L, fitSampleSize = 500)
    val maint = new AnnIndexMaintainer(dir, autoCompactDeltas = Some(4))
    var maxDebt = 0
    (0 until 10).foreach { b =>
      maint.processBatch(envelope(b), b.toLong)
      maxDebt = math.max(maxDebt, AnnIndex.deltaDebt(dir))
    }
    // each batch adds ≤ 2 dirs and the policy folds at ≥ 4, so post-batch
    // debt can never reach the threshold — bounded forever, not just small
    assert(maxDebt < 4, s"debt escaped the policy bound: $maxDebt")
    // the bound was achieved by the POLICY, not by never needing it: a
    // compaction folded batch 0 into the base, and replaying it no-ops
    assert(ServingManifest.folded(dir).contains("a0"),
      "no compaction ever ran — the debt bound proved nothing")
    val debt = AnnIndex.deltaDebt(dir)
    maint.processBatch(envelope(0), 0L)
    assert(AnnIndex.deltaDebt(dir) === debt)
    // final state serves exactly the live corpus (appends minus deletes)
    val live = emb.where(pmod(col("vec_id"), lit(3)) === 0 ||
      pmod(col("vec_id"), lit(50)) >= 10)
    val got = AnnIndex.searchIvf(dir, queries, "qid", k = 5, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val want = Similarity.bruteForceTopK(live,
        queries.withColumnRenamed("qid", "vec_id"), "vec_id", "embedding",
        "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got === want)
  }

  test("replaying a policy-folded batch is a no-op (crash-replay after maintenance)") {
    val dir = Files.createTempDirectory("graft-annmnt2").resolve("ix").toString
    AnnIndex.buildIvf(dir, emb.where(pmod(col("vec_id"), lit(3)) =!= 0),
      "vec_id", "embedding", numCells = 4, seed = 1L, fitSampleSize = 500)
    val maint = new AnnIndexMaintainer(dir, autoCompactDeltas = Some(4))
    (0 until 6).foreach(b => maint.processBatch(envelope(b), b.toLong))
    def fingerprint() = (AnnIndex.deltaDebt(dir),
      AnnIndex.searchIvf(dir, queries, "qid", k = 5, nprobe = 4)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet)
    val before = fingerprint()
    // batch 0 was folded away by an intervening policy compaction; the
    // newest batch may still be a live delta — BOTH must replay as no-ops
    maint.processBatch(envelope(0), 0L)
    maint.processBatch(envelope(5), 5L)
    assert(fingerprint() === before)
  }

  test("PQ symmetry: policy-maintained IVF-PQ serves the net live corpus; codebooks never refit") {
    // VERDICT r13 #1: the same maintained stream against the PQ layout.
    // Appends encode with the PERSISTED codebooks and the policy's folds
    // carry codes + refine vectors together — searched degenerate-exact
    // (all cells + full refine), the final state must equal brute force
    // over the net live corpus, and the codebook bytes must be untouched.
    val dir = Files.createTempDirectory("graft-annmntpq").resolve("ix").toString
    AnnIndex.buildIvfPq(dir, emb.where(pmod(col("vec_id"), lit(3)) =!= 0),
      "vec_id", "embedding", numCells = 4, m = 8, ksub = 16,
      seed = 1L, fitSampleSize = 500)
    def codebookBytes() = {
      val d = new java.io.File(ServingManifest.quantizer(dir), "codebooks")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .flatMap(f => java.nio.file.Files.readAllBytes(f.toPath)).toSeq
    }
    val cbBefore = codebookBytes()
    val maint = new AnnIndexMaintainer(dir, autoCompactDeltas = Some(4))
    var maxDebt = 0
    (0 until 10).foreach { b =>
      maint.processBatch(envelope(b), b.toLong)
      maxDebt = math.max(maxDebt, AnnIndex.deltaDebt(dir))
    }
    assert(maxDebt < 4, s"debt escaped the policy bound: $maxDebt")
    assert(ServingManifest.folded(dir).contains("a0"),
      "no compaction ever ran — the debt bound proved nothing")
    // a replayed (possibly folded) batch stays a no-op on the PQ layout
    val debtBefore = AnnIndex.deltaDebt(dir)
    maint.processBatch(envelope(0), 0L)
    assert(AnnIndex.deltaDebt(dir) === debtBefore)
    val live = emb.where(pmod(col("vec_id"), lit(3)) === 0 ||
      pmod(col("vec_id"), lit(50)) >= 10)
    val got = AnnIndex.searchIvfPq(dir, queries, "qid", k = 5,
        nprobe = 4, refine = 100000)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val want = Similarity.bruteForceTopK(live,
        queries.withColumnRenamed("qid", "vec_id"), "vec_id", "embedding",
        "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got === want)
    assert(codebookBytes() === cbBefore,
      "maintenance must never refit or rewrite the codebooks")
  }

  test("upserting an indexed key replaces it in place — never serves stale and new") {
    // ADVICE r13: a folded CDC Upsert of a key ALREADY in the index must
    // hide the old vector. Key 7 exists in the base, then gets its vector
    // replaced twice across two maintained batches; a full-probe search
    // must serve it exactly once, with the NEWEST vector.
    val dir = Files.createTempDirectory("graft-annmnt4").resolve("ix").toString
    AnnIndex.buildIvf(dir, emb.where(col("vec_id") < 60), "vec_id",
      "embedding", numCells = 2, seed = 1L, fitSampleSize = 200)
    val maint = new AnnIndexMaintainer(dir, autoCompactDeltas = Some(16))
    def reVec(src: Long) = emb.where(col("vec_id") === src)
      .select(lit(7L).alias("vec_id"), col("embedding"))
      .withColumn(Cdc.ChangeType, lit(Cdc.Upsert))
    maint.processBatch(reVec(200L), 0L)
    maint.processBatch(reVec(300L), 1L)
    val probe = emb.where(col("vec_id") === 300)
      .select(lit(9999L).alias("qid"), col("embedding"))
    def servedFor7() = AnnIndex.searchIvf(dir, probe, "qid", k = 100,
        nprobe = 2)
      .where(col("neighbor_id") === 7)
      .select(col("cosine")).as[Double].collect()
    val rows = servedFor7()
    assert(rows.length === 1,
      s"key 7 served ${rows.length} rows — stale vectors not hidden")
    assert(rows.head > 0.999, s"key 7 serves a stale vector: ${rows.head}")
    // and the replacement survives a physical fold identically
    AnnIndex.compactIvf(dir)
    val folded = servedFor7()
    assert(folded.length === 1 && folded.head > 0.999)
  }

  test("the byte-ratio policy folds a huge backfill delta the count policy would miss") {
    val dir = Files.createTempDirectory("graft-annmnt3").resolve("ix").toString
    AnnIndex.buildIvf(dir, emb.where(col("vec_id") < 100), "vec_id",
      "embedding", numCells = 2, seed = 1L, fitSampleSize = 200)
    val maint = new AnnIndexMaintainer(dir,
      autoCompactDeltas = None, autoCompactDebtRatio = Some(0.5))
    // one delta dir (far below any count threshold) holding 4x the base
    maint.processBatch(
      emb.where(col("vec_id") >= 100 && col("vec_id") < 500)
        .withColumn(Cdc.ChangeType, lit(Cdc.Upsert)), 0L)
    assert(AnnIndex.deltaDebt(dir) === 0,
      "ratio policy must have folded the oversized delta")
    // and the fold kept every row servable: all cells probed ⇒ exact
    val got = AnnIndex.searchIvf(dir, queries, "qid", k = 5, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val want = Similarity.bruteForceTopK(emb.where(col("vec_id") < 500),
        queries.withColumnRenamed("qid", "vec_id"), "vec_id", "embedding",
        "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got === want)
  }
}
