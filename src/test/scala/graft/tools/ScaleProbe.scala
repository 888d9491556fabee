package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.streaming.ManifestUpsertStore

/** One-off scale probe for the two central at-scale claims (VERDICT r10
  * #8): (1) bucket-selective compaction is O(delta debt), not O(store) —
  * grow the BASE 10× while holding the delta feed fixed and narrow (all
  * keys hash to one bucket) and compact time must stay ~flat for the
  * merge-on-read manifest store; (2) `changesBetween` is O(range), not
  * O(history) — time the feed across growing version ranges on one store. A WIDE
  * feed (keys spraying all buckets) is probed too, documenting the
  * claim's boundary: selectivity degrades to a full rewrite exactly when
  * the debt itself touches every bucket.
  *
  * Run: `sbt "Test/runMain graft.tools.ScaleProbe"`. Prints one
  * `name=seconds` line per measurement; numbers land in SCALING.md §18.
  */
object ScaleProbe {

  private val NumBuckets = 32

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ids that land in bucket 0 of 32 under the store's pmod(hash(id), 32)
    val narrowIds = spark.range(1700000)
      .where(pmod(hash(col("id")), lit(NumBuckets)) === 0)
      .limit(50000).select(col("id")).as[Long](
        org.apache.spark.sql.Encoders.scalaLong).collect()
    require(narrowIds.length >= 50000, s"only ${narrowIds.length} narrow ids")

    def base(n: Long): DataFrame = spark.range(n).toDF("id")
      .withColumn("payload", lpad(col("id").cast("string"), 100, "x"))

    def narrowBatch(round: Int): DataFrame = {
      import spark.implicits._
      narrowIds.slice(round * 5000, (round + 1) * 5000).toSeq
        .toDF("id")
        .withColumn(Cdc.ChangeType, lit(Cdc.Upsert))
        .withColumn(Cdc.TransactionId, lit(round.toLong + 1))
        .withColumn("payload", lit("updated-" + round))
        .select(Cdc.ChangeType, Cdc.TransactionId, "id", "payload")
    }

    def wideBatch(round: Int, n: Long): DataFrame =
      spark.range(5000).toDF("s")
        .select((col("s") * 997 % n).alias("id"))
        .withColumn(Cdc.ChangeType, lit(Cdc.Upsert))
        .withColumn(Cdc.TransactionId, lit(round.toLong + 1))
        .withColumn("payload", lit("updated-" + round))
        .select(Cdc.ChangeType, Cdc.TransactionId, "id", "payload")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    def probeCompact(label: String, n: Long, wide: Boolean): Unit = {
      val work = java.nio.file.Files.createTempDirectory(s"graft-sp-$label")
      try {
        val store = new ManifestUpsertStore(spark, work.resolve("s").toString,
          pkCols = Seq("id"), numBuckets = NumBuckets)
        store.initialize(Cdc.initialLoad(base(n)))
        (0 until 5).foreach { r =>
          store.merge(if (wide) wideBatch(r, n) else narrowBatch(r))
        }
        println(f"$label=${time(store.compact())}%.3f")
      } finally graft.util.Fs.rmTree(work.toFile)
    }

    // JIT/codegen warmup so the first measured compact isn't taxed
    probeCompact("warmup", 100000L, wide = false)
    // ── Claim 1: compact ~O(debt): 1×, 10×, 40× base, same narrow debt ──
    for (n <- Seq(200000L, 2000000L, 8000000L))
      probeCompact(s"compact_narrow_manifest_base$n", n, wide = false)
    // boundary: a wide feed touches every bucket — selectivity can't help,
    // and compact degrades to the O(store) full rewrite by design
    for (n <- Seq(200000L, 2000000L, 8000000L))
      probeCompact(s"compact_wide_manifest_base$n", n, wide = true)

    // ── Claim 2: changesBetween ~O(range), not O(history) ────────────────
    val work = java.nio.file.Files.createTempDirectory("graft-sp-cdf")
    try {
      val s = new ManifestUpsertStore(spark, work.resolve("s").toString,
        pkCols = Seq("id"), numBuckets = NumBuckets, keepVersions = 20)
      s.initialize(Cdc.initialLoad(base(200000L)))
      (0 until 16).foreach { r =>
        s.merge(narrowBatch(r % 10))
      }
      val v = s.currentVersion
      for (range <- Seq(1, 4, 16)) {
        val sec = time { s.changesBetween(v - range, v).count() }
        println(f"cdf_range$range=$sec%.3f")
      }
    } finally graft.util.Fs.rmTree(work.toFile)

    spark.stop()
  }
}
