package graft.util

import org.apache.spark.sql.DataFrame

/** Block-manager hygiene for `localCheckpoint`'d frames.
  *
  * `Dataset.unpersist` is a cache-manager call: it clears entries the
  * CACHE manager registered and does nothing to the RDD a local
  * checkpoint materialized, so checkpoint blocks are freed only when the
  * driver GC collects the RDD reference (ADVICE r16 — the maintainer's
  * per-batch `fresh.unpersist()` was a silent no-op). A long-running
  * foreachBatch stream that checkpoints per batch would pin every
  * batch's blocks until a GC happens to run; on a 1000-executor cluster
  * that is real memory held for no reason.
  */
object Checkpoints {

  /** Checkpoint `df` (eagerly or lazily), run `body` over the pinned
    * frame, and [[release]] its blocks when `body` returns or throws. The
    * pin's lifetime is the lexical scope, so a pinned frame cannot be
    * released twice or outlive its readers by accident. Whatever `body`
    * returns must not read the pinned frame lazily afterwards: a result
    * frame must be materialized inside the scope (its own checkpoint or
    * a write).
    */
  def pinned[A](df: DataFrame, eager: Boolean = true)(
      body: DataFrame => A): A = {
    val p = df.localCheckpoint(eager)
    try body(p) finally release(p)
  }

  /** Proactively free the blocks behind a localCheckpoint'd frame by
    * unpersisting the checkpointed RDDs at the plan's leaves. The frame
    * (and anything lazily derived from it) MUST NOT be computed again
    * afterwards — the checkpoint truncated its lineage, so the blocks
    * are the only copy. Safe on non-checkpointed frames (no LogicalRDD
    * leaf → no-op).
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ =>
    }
}
