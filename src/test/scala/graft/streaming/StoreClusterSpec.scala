package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.Cdc
import graft.functions.GraftExpressions.zorder2
import graft.functions.SketchOps

/** Clustered compaction (`compact(clusterBy)`): the layout half of data
  * skipping. The spec measures the scan-side effect directly — rows
  * SURVIVING parquet row-group pruning under a pushed-down range filter —
  * rather than trusting the sort happened: clustered data must let the
  * scan skip most row groups, unclustered data defeats the same stats.
  */
class StoreClusterSpec extends SparkSpec {
  import spark.implicits._

  // small row groups so each bucket file holds MANY of them — the pruning
  // unit the test measures (parquet clamps tiny values upward; 64 KB is
  // enough to yield ~10+ groups per bucket at this row count/width)
  spark.sparkContext.hadoopConfiguration.setInt("parquet.block.size", 64 * 1024)

  private val N = 60000

  private def freshStore(clusterBy: Seq[String]): ManifestUpsertStore = {
    val dir = Files.createTempDirectory("graft-cluster").toString
    val store = new ManifestUpsertStore(spark, dir, pkCols = Seq("id"),
      numBuckets = 2)
    // pad makes rows wide enough that a bucket spans many 64 KB row
    // groups; v is id-scrambled so raw insert order carries NO v-locality
    val data = spark.range(N).toDF("id")
      .withColumn("v", pmod(col("id") * 2654435761L, lit(N.toLong)))
      .withColumn("w", pmod(col("id") * 2246822519L, lit(N.toLong)))
      .withColumn("pad", lpad(col("id").cast("string"), 80, "x"))
    store.initialize(Cdc.initialLoad(data))
    store.compact(clusterBy)
    store
  }

  /** Rows output by the leaf parquet scans of `df`'s executed plan — i.e.
    * rows in row groups that SURVIVED footer min/max pruning (the
    * post-scan Filter then re-evaluates exactly; results are unaffected).
    */
  private def scanOutputRows(df: DataFrame): Long = {
    df.collect() // execute so metrics populate
    def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case s: FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(leaves) ++
          other.subqueries.flatMap(leaves)
      }
    leaves(df.queryExecution.executedPlan)
      .map(_.metrics("numOutputRows").value).sum
  }

  test("clustered compact makes parquet row-group stats selective") {
    val sel = col("v") < 1000 // 1/60 of the value range
    val flat = freshStore(Nil)
    val clustered = freshStore(Seq("v"))
    // same answer either way — clustering is layout only
    val expect = flat.snapshot().where(sel).agg(sum("id")).head.getLong(0)
    assert(clustered.snapshot().where(sel).agg(sum("id")).head.getLong(0)
      === expect)

    val flatRows = scanOutputRows(flat.snapshot().where(sel))
    val clusteredRows = scanOutputRows(clustered.snapshot().where(sel))
    // unclustered: v is uniform per row group, so NO group is prunable
    // and the scan surfaces everything
    assert(flatRows === N.toLong,
      s"expected unclustered scan to read all rows, got $flatRows")
    // clustered: only the row groups covering v<1000 survive — allow
    // generous slack for group-boundary straddle, still an 85%+ skip
    assert(clusteredRows < N / 6,
      s"clustered scan read $clusteredRows of $N rows — pruning inert")
  }

  test("zorder2 key clusters two dimensions at once") {
    val dir = Files.createTempDirectory("graft-zcluster").toString
    val store = new ManifestUpsertStore(spark, dir, pkCols = Seq("id"),
      numBuckets = 2)
    val data = spark.range(N).toDF("id")
      .withColumn("v", pmod(col("id") * 2654435761L, lit(N.toLong)))
      .withColumn("w", pmod(col("id") * 2246822519L, lit(N.toLong)))
      .withColumn("pad", lpad(col("id").cast("string"), 80, "x"))
      .withColumn("zkey", zorder2(col("v"), col("w")))
    store.initialize(Cdc.initialLoad(data))
    store.compact(clusterBy = Seq("zkey"))
    // a corner box in (v, w): under z-order BOTH columns' row-group
    // stats tighten, so either single-column predicate already prunes
    val box = col("v") < 4096 && col("w") < 4096
    val rows = scanOutputRows(store.snapshot().where(box))
    assert(rows < N / 2,
      s"z-ordered scan read $rows of $N rows — no 2-D locality")
    // and the key itself is the documented interleave: a=101₂ lands on
    // even positions 0/4, b=011₂ on odd positions 1/3 → 11011₂
    assert(SketchOps.zorder2(0b101L, 0b011L) === 0b11011L)
  }

  test("zorder2_bucketized: 2^40-domain keys cluster instead of throwing (VERDICT r10 #9)") {
    import graft.functions.GraftExpressions.zorder2_bucketized
    // raw zorder2 on a 2^40 key raises with actionable guidance (constant
    // folding may surface it driver-side, execution wraps it — either way
    // the bucketize hint must reach the user)
    val wide = intercept[Throwable] {
      spark.range(4).select(zorder2(lit(1L << 40), lit(3L))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(wide).exists(_.contains("bucketize")))
    // ...the bucketized variant works end-to-end through compact(clusterBy)
    val dir = Files.createTempDirectory("graft-zwide").toString
    val store = new ManifestUpsertStore(spark, dir, pkCols = Seq("id"),
      numBuckets = 2)
    val data = spark.range(N).toDF("id")
      // two 2^40-scale dimensions with real low-bits structure
      .withColumn("v", col("id") * 2654435761L + (1L << 40))
      .withColumn("w", col("id") * 2246822519L + (1L << 41))
      .withColumn("zkey", zorder2_bucketized(col("v"), col("w")))
    store.initialize(Cdc.initialLoad(data))
    store.compact(clusterBy = Seq("zkey")) // no runtime throw mid-rewrite
    assert(store.snapshot().count() === N.toLong)
    // identity on in-range values: bucketized ≡ plain below 2^31
    val both = spark.range(16).select(
        zorder2(col("id") * 7, col("id") * 13).alias("a"),
        zorder2_bucketized(col("id") * 7, col("id") * 13).alias("b"))
      .where(col("a") =!= col("b")).count()
    assert(both === 0L)
  }

  test("clusterBy validates columns and preserves merged rows") {
    // merge-on-read: the merged row is a delta the clustered rewrite folds
    val dir = Files.createTempDirectory("graft-morcluster").toString
    val store = new ManifestUpsertStore(spark, dir, pkCols = Seq("id"),
      numBuckets = 2)
    store.initialize(Cdc.initialLoad(
      spark.range(100).toDF("id").withColumn("v", col("id") * 7)))
    store.merge(Seq((Cdc.Upsert, 1L, 5L, 999L), (Cdc.Upsert, 2L, 100L, 1000L))
      .toDF(Cdc.ChangeType, Cdc.TransactionId, "id", "v"))
    intercept[IllegalArgumentException] {
      store.compact(clusterBy = Seq("nope"))
    }
    store.compact(clusterBy = Seq("v"))
    assert(store.deltaCount === 0)
    val out = store.snapshot().orderBy("id").collect()
    assert(out.length === 101)
    assert(out.find(_.getLong(0) == 5L).get.getLong(1) === 999L)
  }
}
