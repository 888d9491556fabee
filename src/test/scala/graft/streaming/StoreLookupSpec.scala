package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.Cdc

/** Point-lookup read path: correct under COW and MOR (updates, deletes,
  * missing keys), and PRUNED — the plan must read one bucket's files, not
  * the store.
  */
class StoreLookupSpec extends SparkSpec {
  import spark.implicits._

  private def filesRead(df: DataFrame): Long = {
    df.collect()
    def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case q: QueryStageExec => leaves(q.plan) // AQE hides stages from children
        case s: FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(leaves) ++
          other.subqueries.flatMap(leaves)
      }
    leaves(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
  }

  test("lookup: COW correctness + single-bucket file pruning") {
    val dir = Files.createTempDirectory("graft-lookup").toString
    val store = new ManifestUpsertStore(spark, dir, pkCols = Seq("id"),
      numBuckets = 8, writePolicy = WritePolicy.CopyOnWrite)
    store.initialize(Cdc.initialLoad(
      spark.range(1000).toDF("id").withColumn("v", col("id") * 3)))
    val hit = store.lookup(77L).collect()
    assert(hit.length === 1 && hit.head.getLong(1) === 231L)
    // int probe against a long key column must cast, not silently miss
    assert(store.lookup(77).collect().length === 1)
    assert(store.lookup(123456L).collect().isEmpty)
    // pruning: the full snapshot reads every bucket's files, the lookup
    // reads one bucket's
    val all = filesRead(store.snapshot())
    val one = filesRead(store.lookup(77L))
    assert(all >= 8, s"expected >=8 base files, saw $all")
    assert(one * 8 <= all + 7, s"lookup read $one files of $all")
    intercept[IllegalArgumentException] { store.lookup(1L, 2L) }
  }

  test("lookup: bucket probe schedules no Spark job (r20)") {
    val dir = Files.createTempDirectory("graft-lookup-nojob").toString
    val store = new ManifestUpsertStore(spark, dir, pkCols = Seq("id"),
      numBuckets = 8, writePolicy = WritePolicy.CopyOnWrite)
    store.initialize(Cdc.initialLoad(
      spark.range(100).toDF("id").withColumn("v", col("id") * 3)))
    store.lookup(1L).collect() // warm listings/codegen caches
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // plan construction only: the bucket probe inside lookup() must
      // resolve driver-side (ConvertToLocalRelation folds the one-row
      // probe; LocalTableScan serves head() without a job) — the r19
      // shape scheduled a 1-row cluster job PER PROBE KEY here
      store.lookup(77L)
      // listener bus is async; drain before asserting
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      assert(jobs.get() === 0,
        s"lookup() plan construction scheduled ${jobs.get()} Spark " +
          "job(s) — the bucket probe must evaluate driver-side")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
