package graft.util

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CheckpointsSpec extends SparkSpec {

  /** Ids of the RDDs the block manager still holds persisted. */
  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the checkpointed RDDs behind a pinned frame. */
  private def pinnedIds(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet

  test("pinned: the pinned RDD is released when the body returns") {
    var ids = Set.empty[Int]
    val n = Checkpoints.pinned(spark.range(100).toDF("id")) { p =>
      ids = pinnedIds(p)
      assert(ids.nonEmpty && ids.subsetOf(persisted()), "pinned while in scope")
      p.count()
    }
    assert(n === 100L)
    assert((ids & persisted()).isEmpty, "released after the scope")
  }

  test("pinned: the pinned RDD is released when the body throws") {
    var ids = Set.empty[Int]
    val ex = intercept[IllegalStateException] {
      Checkpoints.pinned(spark.range(100).toDF("id"), eager = false) { p =>
        p.count() // a lazy pin materializes under the first action
        ids = pinnedIds(p)
        assert(ids.subsetOf(persisted()))
        throw new IllegalStateException("body failed")
      }
    }
    assert(ex.getMessage === "body failed")
    assert(ids.nonEmpty && (ids & persisted()).isEmpty,
      "released although the body threw")
  }

  test("pinned: a result materialized inside the scope still reads after the release") {
    val out = Checkpoints.pinned(spark.range(100).toDF("id")) { p =>
      p.select((col("id") * 2).alias("twice")).localCheckpoint(true)
    }
    assert(out.agg(sum(col("twice"))).head().getLong(0) === 9900L)
  }
}
