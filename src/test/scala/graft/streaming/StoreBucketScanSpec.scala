package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.Cdc
import graft.operators.ManifestPipeline

/** The store's bucket scan: input partition `i` reads bucket `i`'s files
  * from the base and every live delta, and declares
  * `HashPartitioning(pk, numBuckets)`, so the LWW fold keyed by pk plans
  * no exchange. These specs check that the declaration is true row by
  * row, that the read folds really plan without an exchange and still
  * equal a plain-groupBy reference fold, and that the scan reports the
  * size that keeps join planning where it was.
  */
class StoreBucketScanSpec extends SparkSpec {
  import spark.implicits._

  private val n = 4

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$name").toString

  /** Every plan node of an executed query, through AQE's final plan. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children.flatMap(nodes) ++
      other.subqueries.flatMap(nodes))
  }

  private def exchanges(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    nodes(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec => e
    }
  }

  private val initial = Seq(
    (1L, "eu", "one"), (2L, "eu", "two"), (2L, "us", "two-us"),
    (3L, "us", "three"), (4L, "ap", "four"), (5L, "eu", "five"))

  /** Batches over a two-column key: the first adds a column (base files
    * lack it), the second deletes, the third re-inserts a deleted key.
    */
  private val batches: Seq[Seq[(String, Long, Long, String, String, String)]] = Seq(
    Seq((Cdc.Upsert, 10L, 1L, "eu", "ONE", "n1"),
      (Cdc.Upsert, 11L, 6L, "us", "six", "n6"),
      (Cdc.Upsert, 12L, 7L, "ap", "seven", null)),
    Seq((Cdc.Delete, 20L, 2L, "eu", null, null),
      (Cdc.Delete, 21L, 4L, "ap", null, null),
      (Cdc.Upsert, 22L, 3L, "us", "THREE", "n3")),
    Seq((Cdc.Upsert, 30L, 2L, "eu", "two again", "n2"),
      (Cdc.Upsert, 31L, 8L, "eu", "eight", null)))

  private def batchDf(rows: Seq[(String, Long, Long, String, String, String)]) =
    rows.toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "region", "payload",
      "note")

  /** A MOR store with `initial` as its base and `batches` as live deltas;
    * returns the store, the version after each commit, and its dir.
    */
  private def liveStore(name: String): (ManifestUpsertStore, Seq[Long], String) = {
    val dir = tmp(name)
    val store = new ManifestUpsertStore(spark, dir, Seq("id", "region"),
      numBuckets = n, keepVersions = 8)
    store.initialize(Cdc.initialLoad(initial.toDF("id", "region", "payload")))
    val versions = store.currentVersion +: batches.map { b =>
      store.merge(batchDf(b)); store.currentVersion
    }
    assert(store.deltaCount === batches.size)
    (store, versions, dir)
  }

  /** The reference LWW fold: base rows at seq 0, batch `i` at seq `i + 1`,
    * one plain `groupBy` by key, the newest row per key kept.
    */
  private def reference(fromBatch: Int, toBatch: Int, withBase: Boolean) = {
    val base = initial.toDF("id", "region", "payload")
      .withColumn("note", lit(null).cast("string"))
      .withColumn(Cdc.ChangeType, lit(Cdc.Upsert))
      .withColumn("seq", lit(0L))
    val deltas = (fromBatch until toBatch).map(i =>
      batchDf(batches(i)).drop(Cdc.TransactionId).withColumn("seq", lit(i + 1L)))
    val all = ((if (withBase) Seq(base) else Nil) ++ deltas)
      .reduce(_.unionByName(_))
    all.groupBy("id", "region")
      .agg(max_by(struct("id", "region", "payload", "note", Cdc.ChangeType),
        col("seq")).alias("r"))
      .select("r.*")
  }

  private def rows(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  test("bucket scan: every row of partition i is in bucket i (two-column key, added column, deletes, re-insert)") {
    val (store, versions, _) = liveStore("bscan")
    val scan = store.bucketScanAt(store.currentVersion)
    assert(scan.rdd.getNumPartitions === n)
    val checked = scan.select(spark_partition_id().alias("pid"),
      pmod(hash(col("id"), col("region")), lit(n)).alias("b"),
      col("_bucket"), col("_graft_seq"), col("note"), col(Cdc.ChangeType))
      .collect()
    // every base row and every delta row, superseded ones included
    assert(checked.length === initial.size + batches.map(_.size).sum)
    checked.foreach { r =>
      assert(r.getInt(0) === r.getInt(1), s"row in partition ${r.getInt(0)} " +
        s"belongs to bucket ${r.getInt(1)}: $r")
      assert(r.getInt(2) === r.getInt(1), s"_bucket disagrees with the key: $r")
    }
    // base files predate the added column and store no change type
    val base = checked.filter(_.getLong(3) == 0L)
    assert(base.length === initial.size)
    assert(base.forall(r => r.isNullAt(4) && r.isNullAt(5)))
    // each delta's rows carry that delta's seq
    assert(checked.map(_.getLong(3)).toSet === Set(0L, 1L, 2L, 3L))
    // the fold keeps the scan's partitioning: the change feed folds each
    // bucket of the deltas within one task, so partition i still holds
    // exactly bucket i's keys
    val fed = store.changesBetween(versions.head, versions.last)
      .select(spark_partition_id().alias("pid"),
        pmod(hash(col("id"), col("region")), lit(n)).alias("b")).collect()
    assert(fed.length === batches.flatten.map(r => (r._3, r._4)).distinct.size)
    fed.foreach(r => assert(r.getInt(0) === r.getInt(1), r))
  }

  test("read folds over live deltas plan no exchange and equal a plain-groupBy LWW fold") {
    val (store, versions, _) = liveStore("bfold")
    val cols = Seq("id", "region", "payload", "note")
    val live = reference(0, batches.size, withBase = true)
      .where(col(Cdc.ChangeType) === Cdc.Upsert)
    assert(rows(store.snapshot(), cols: _*) === rows(live, cols: _*))
    assert(exchanges(store.snapshot()).isEmpty)

    val atV2 = reference(0, 2, withBase = true)
      .where(col(Cdc.ChangeType) === Cdc.Upsert)
    assert(rows(store.snapshotAt(versions(2)), cols: _*) === rows(atV2, cols: _*))
    assert(exchanges(store.snapshotAt(versions(2))).isEmpty)

    // the feed keeps deletes as 'D' rows: LWW over the range's deltas alone
    val feed = store.changesBetween(versions(1), versions(3))
    val feedCols = cols :+ Cdc.ChangeType
    assert(rows(feed, feedCols: _*) ===
      rows(reference(1, 3, withBase = false), feedCols: _*))
    assert(exchanges(feed).isEmpty)

    // point reads: a key a delta re-inserted, a deleted key, a base key
    // whose bucket no delta touched or did, and a key never written
    Seq((2L, "eu"), (4L, "ap"), (5L, "eu"), (3L, "us"), (99L, "xx")).foreach {
      case (id, region) =>
        val probe = store.lookup(id, region)
        val want = live.where(col("id") === id && col("region") === region)
        assert(rows(probe, cols: _*) === rows(want, cols: _*), (id, region))
        assert(exchanges(probe).isEmpty, (id, region))
    }
  }

  test("the bucket scan reports its files' bytes, so a small store's snapshot anti-join still broadcasts") {
    val (store, _, storeDir) = liveStore("bstats")
    def parquetBytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(parquetBytes).sum
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    // nothing was compacted or garbage-collected: every generation on
    // disk is live, and the all-bucket scan reads each of their files
    val onDisk = new java.io.File(storeDir)
      .listFiles((f: java.io.File) => f.getName.startsWith("gen-"))
      .map(parquetBytes).sum
    assert(onDisk > 0)
    assert(store.bucketScanAt(store.currentVersion)
      .queryExecution.optimizedPlan.stats.sizeInBytes === BigInt(onDisk))

    // the maintainer's two anti-joins against the store's key set: the
    // planner's own choice (before adaptive re-planning can rescue a bad
    // estimate) is a broadcast of the small store side, over live deltas
    // and over a compacted store alike
    val dir = tmp("bjoin")
    val corpus = new ManifestUpsertStore(spark, dir, Seq("content_hash"),
      numBuckets = n)
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta"))
      .toDF("doc_id", "text")
    ManifestPipeline.initializeSurvivors(corpus, docs, "doc_id", "text")
    val more = Seq((4L, "epsilon"), (5L, "gamma delta")).toDF("doc_id", "text")
    ManifestPipeline.mergeSurvivors(corpus,
      ManifestPipeline.freshSurvivors(corpus, more, "doc_id", "text").cache(),
      "doc_id", 1L)
    assert(corpus.deltaCount === 1)
    def assertBroadcast(join: DataFrame): Unit = {
      val planned = join.queryExecution.sparkPlan
      assert(planned.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        planned.treeString)
      assert(planned.collect { case j: SortMergeJoinExec => j }.isEmpty,
        planned.treeString)
    }
    val batch = Seq((6L, "epsilon"), (7L, "zeta")).toDF("doc_id", "text")
    Seq(false, true).foreach { compacted =>
      if (compacted) corpus.compact()
      val fresh = ManifestPipeline.freshSurvivors(corpus, batch, "doc_id", "text")
      assertBroadcast(fresh)
      assert(fresh.select("doc_id").as[Long].collect().toSet === Set(7L))
      val ids = Seq(1L, 4L, 9L).toDF("doc_id")
      assertBroadcast(ids.join(corpus.snapshot().select(col("doc_id")),
        Seq("doc_id"), "left_anti"))
    }
  }
  test("a batch keyed by a narrower type lands in the stored key's bucket; more buckets than cores share partitions") {
    // hash(5) != hash(5L): a merge buckets by the STORED key types, or the
    // scan's declared partitioning would put one key in two buckets. With
    // 8 buckets over 4 cores the scan has 4 partitions: partition i holds
    // the buckets b with b % 4 == i, and pmod(hash, 4) == i is still true
    Seq(WritePolicy.MergeOnRead, WritePolicy.CopyOnWrite).foreach { policy =>
      val store = new ManifestUpsertStore(spark, tmp("bnarrow"), Seq("id"),
        numBuckets = 8, writePolicy = policy)
      store.initialize(Cdc.initialLoad(
        (1L to 40L).map(i => (i, s"v$i")).toDF("id", "payload")))
      store.merge((1 to 40).map(i => (Cdc.Upsert, 100L, i, s"w$i"))
        .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "payload"))
      val scan = store.bucketScanAt(store.currentVersion)
      assert(scan.rdd.getNumPartitions === 4, policy)
      val placed = scan.select(spark_partition_id(),
        pmod(hash(col("id")), lit(8)), pmod(hash(col("id")), lit(4)),
        col("_bucket")).collect()
      // a merge-on-read store keeps the batch as a delta; copy-on-write
      // rewrote the base
      assert(placed.length === (if (policy == WritePolicy.MergeOnRead) 80 else 40),
        policy)
      assert(placed.forall(r => r.getInt(1) == r.getInt(3) &&
        r.getInt(0) == r.getInt(2) && r.getInt(3) % 4 == r.getInt(0)), policy)
      assert(store.snapshot().as[(Long, String)].collect().toSet ===
        (1L to 40L).map(i => (i, s"w$i")).toSet, policy)
      (1L to 40L by 7).foreach(k =>
        assert(store.lookup(k).as[(Long, String)].collect().toSeq ===
          Seq((k, s"w$k")), (policy, k)))
    }
  }
}
