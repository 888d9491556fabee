package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Cdc
import graft.operators.Dedup

import GateSupport._

/** Structured Streaming: stateful dedup, interval joins, windowed
  * aggregates and the streaming near-duplicate and CDC union gates.
  */
object StreamGates extends GateFamily {

  lazy val gates: Seq[Gate] = Seq(
    // STREAMING NEAR-DUP, ORACLE-GATED END-TO-END (r14, VERDICT r13 #3):
    // the documents corpus arrives as 3 micro-batches (split by doc_id%3)
    // through StreamingNearDup.pairs at the degenerate-complete config —
    // the batch path's 32 bands × 4 rows banding, est-threshold 0.5 far
    // below this corpus's J ≥ 0.8 true pairs, bucket cap off — then the
    // emitted candidate pairs are exact-Jaccard verified downstream,
    // exactly like the batch pipeline's LSH→verify composition. The
    // oracle is therefore the SAME exact all-pairs join as
    // q_dedup_minhash_pairs (one shared definition): a pair the bucket
    // state lost across micro-batch boundaries, a same-batch pair the
    // fold order missed, or a self/replay match surviving the dedup
    // breaks the hash. Cap-recall and TTL semantics are
    // StreamingNearDupSpec's.
    Gate("q_stream_neardup", (s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").alias("doc_id"), col("text"))
      // one collect, split driver-side (same pmod batches as before).
      // NOT wrapped in withStreamStatePartitions: this stream's cost is
      // per-row minhash COMPUTE (shingle + 128 hashes per doc), not state
      // commits — measured 7.7 s at 32 partitions vs 23.0 s serialized
      // onto 1, the opposite sign of the interval joins
      val all = docs.as[(Long, String)].collect().toIndexedSeq
      val batches = (0 until 3)
        .map(b => all.filter { case (id, _) => ((id % 3) + 3) % 3 == b })
      val ms = MemoryStream[(Long, String)]
      val hits = graft.streaming.StreamingNearDup.pairs(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text",
        shingleN = 5, k = 128, bands = 32, threshold = 0.5,
        maxBucket = Int.MaxValue)
      val q = hits.writeStream.format("memory")
        .queryName("stream_neardup_hits").outputMode("append").start()
      try {
        batches.foreach { rows =>
          ms.addData(rows: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      // at-least-once hits, one per agreeing band, reported by the later
      // arrival — normalize orientation and dedup before the exact verify
      val cands = s.table("stream_neardup_hits")
        .select(least(col("docId"), col("matchId")).alias("id_a"),
          greatest(col("docId"), col("matchId")).alias("id_b"))
        .distinct()
      Dedup.jaccardVerify(cands, docs, "doc_id", "text", shingleN = 5,
          threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).alias("jaccard_r"))
        .localCheckpoint(true)
    },
      MinhashPairsOracle),

    // STREAMING LATEST-PER-KEY UNDER THE ORACLE (r14): the A1 fold's
    // streaming twin (StatefulDedup.latestPerKeyRows) driven by three
    // DELIBERATELY out-of-order windows — the upper event_id half first,
    // then the stale lower half (emits only keys whose winner lives
    // there), then a full replay of window 1 (emits nothing). Each key
    // therefore emits EXACTLY once; the in-gate require pins that count,
    // so a stale row leaking past the txid gate fails even though the
    // downstream LWW fold (the idempotent-sink contract) would mask it.
    // Oracle = the A1 latest-per-key SQL, shared with q_a1.
    Gate("q_stream_latest_per_key", (s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val feed = t(s, dir, "events")
        .where(col("event_id") > 100 && col("event_id") <= 1000000000L)
        .select(col("user_id"), col("event_id"))
      // the upper/lower split point, derived from the feed so both halves
      // are non-trivial at every SF (event_id is a dense 0..N sequence)
      val mid = feed.agg((min(col("event_id")) + max(col("event_id"))) / 2)
        .head().getDouble(0).toLong
      // collected BEFORE the query starts so the state partitioning can
      // derive from the stream's actual size (withStreamStatePartitions)
      val upper = feed.where(col("event_id") > mid)
        .as[(Long, Long)].collect().toIndexedSeq
      val lower = feed.where(col("event_id") <= mid)
        .as[(Long, Long)].collect().toIndexedSeq
      withStreamStatePartitions(s, upper.size.toLong + lower.size) {
        val ms = MemoryStream[(Long, Long)]
        val emissions = graft.streaming.StatefulDedup.latestPerKeyRows(
          ms.toDF().toDF("user_id", Cdc.TransactionId), Seq("user_id"))
        val q = emissions.writeStream.format("memory")
          .queryName("stream_latest_per_key").outputMode("update").start()
        try {
          ms.addData(upper: _*); q.processAllAvailable()
          ms.addData(lower: _*); q.processAllAvailable()
          ms.addData(upper: _*); q.processAllAvailable() // full replay
        } finally q.stop()
      }
      val out = s.table("stream_latest_per_key").localCheckpoint(true)
      val keys = feed.select(col("user_id")).distinct().count()
      require(out.count() == keys,
        s"latest-per-key emitted ${out.count()} rows for $keys keys — " +
          "the txid gate leaked a stale or duplicate emission")
      out.groupBy(col("user_id"))
        .agg(max(col(Cdc.TransactionId)).alias(Cdc.TransactionId))
    },
      LatestPerKeyOracle),

    // STREAMING INTERVAL JOIN UNDER THE ORACLE (r14): purchases and
    // clicks arrive as two streams in three event-time-ordered windows;
    // StreamJoin.intervalJoin matches each purchase to the same user's
    // clicks in [purchase.ts − 1h, purchase.ts]. The watermark delay (40
    // days) exceeds the corpus span, so no state is evicted and the
    // emitted pair set must be COMPLETE — the oracle is the exact batch
    // interval join in DuckDB. Cross-window matches (a click buffered
    // windows before its purchase arrives) are the semantics under test;
    // bounded-state eviction is StreamJoinSpec's.
    Gate("q_stream_interval_join", (s, dir) =>
      intervalJoinGate(s, dir, "stream_interval_join") { (l, r) =>
        graft.streaming.StreamJoin.intervalJoin(l, r,
          "user_id", "r_user_id", "l_ts", "r_ts",
          leftDelay = "40 days", rightDelay = "40 days",
          before = "1 hour", after = "0 seconds")
      },
      // the exact batch interval join the streaming state machine must
      // reproduce completely (no eviction at the gate's watermark delay)
      IntervalJoinOracle),

    // THE SALTED SKEW VARIANT UNDER THE SAME ORACLE (r15, VERDICT r14
    // #5): identical three-window topology through
    // StreamJoin.saltedIntervalJoin ×8 — the salt splits every (key,
    // batch) across eight state-store partitions, and the result must
    // still hash-equal the exact batch interval join, proving the salt
    // is semantically invisible (each pair meets in exactly one bucket;
    // no loss, no duplication). The concentration measurement lives in
    // StreamJoinSpec + SCALING §25.
    Gate("q_stream_interval_join_salted", (s, dir) =>
      intervalJoinGate(s, dir, "stream_interval_join_salted") { (l, r) =>
        graft.streaming.StreamJoin.saltedIntervalJoin(l, r,
          "user_id", "r_user_id", "l_ts", "r_ts",
          leftDelay = "40 days", rightDelay = "40 days",
          before = "1 hour", after = "0 seconds", saltFactor = 8)
      },
      // the salted variant must be INVISIBLE in the result — one shared
      // oracle definition
      IntervalJoinOracle),

    // STREAMING LEFT-OUTER INTERVAL JOIN UNDER THE ORACLE (r14): the
    // hardest streaming semantic in the family — an unmatched purchase's
    // null row may only emit once the watermark PROVES no matching click
    // can still arrive. The gate drives the same three windows, then a
    // far-future sentinel row on BOTH streams (filtered back out of the
    // result) so the watermark passes every real join window and the
    // buffered outer results flush deterministically; two extra empty
    // triggers propagate the watermark (it is computed from the PREVIOUS
    // batch's max event time). Oracle = the exact batch LEFT JOIN: a
    // null row emitted early (match still possible), suppressed forever,
    // or duplicated next to its match breaks the hash.
    Gate("q_stream_interval_join_outer", (s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ev = t(s, dir, "events")
        .withColumn("ts_t", col("ts").cast("timestamp"))
      def side(tpe: String) = ev.where(col("event_type") === tpe)
        .select(col("user_id"), col("event_id"), col("ts_t"))
        .as[(Long, Long, java.sql.Timestamp)].collect().toIndexedSeq
      // collected BEFORE the query starts so the state partitioning can
      // derive from the stream's actual size (withStreamStatePartitions)
      val (purchases, clicks) = (side("purchase"), side("click"))
      withStreamStatePartitions(s, purchases.size.toLong + clicks.size) {
        val msL = MemoryStream[(Long, Long, java.sql.Timestamp)]
        val msR = MemoryStream[(Long, Long, java.sql.Timestamp)]
        val joined = graft.streaming.StreamJoin.intervalJoin(
          msL.toDF().toDF("user_id", "l_event_id", "l_ts"),
          msR.toDF().toDF("r_user_id", "r_event_id", "r_ts"),
          "user_id", "r_user_id", "l_ts", "r_ts",
          leftDelay = "40 days", rightDelay = "40 days",
          before = "1 hour", after = "0 seconds", joinType = "leftOuter")
        val q = joined.select(col("l_event_id"), col("r_event_id"))
          .writeStream.format("memory")
          .queryName("stream_interval_join_outer")
          .outputMode("append").start()
        try {
          val cuts = Seq(
            java.sql.Timestamp.valueOf("2024-01-11 00:00:00"),
            java.sql.Timestamp.valueOf("2024-01-21 00:00:00"))
          def window(rows: IndexedSeq[(Long, Long, java.sql.Timestamp)], b: Int) =
            rows.filter { case (_, _, ts) =>
              (b == 0 || !ts.before(cuts(b - 1))) &&
                (b == 2 || ts.before(cuts(b)))
            }
          (0 until 3).foreach { b =>
            msR.addData(window(clicks, b): _*)
            msL.addData(window(purchases, b): _*)
            q.processAllAvailable()
          }
          val sentinel = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
          (0 until 2).foreach { i =>
            msL.addData((-1L, -1L - i, sentinel))
            msR.addData((-1L, -1L - i, sentinel))
            q.processAllAvailable()
          }
        } finally q.stop()
      }
      s.table("stream_interval_join_outer")
        .where(col("l_event_id") >= 0) // the sentinel rows are harness
        .localCheckpoint(true)
    },
      // the exact batch LEFT join: every purchase appears, the unmatched
      // ones with a NULL click — the watermark-flushed outer rows must
      // land exactly here
      """SELECT l.event_id AS l_event_id, r.event_id AS r_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
        |ON l.user_id = r.user_id
        |  AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts""".stripMargin),

    // §3.2 + §3.1 composed: the full change stream a consumer sees —
    // initial-load INSERT envelope unioned with the delta fold.
    Gate("q_cdc_stream_union", (s, dir) => {
      val initial = Cdc.initialLoad(
        t(s, dir, "customer").select(
          col("c_custkey"), col("c_name"), col("c_acctbal")),
        Some("c_acctbal > 5000"))
      val delta = customerDeltaFold(s, dir)
        .select(col(Cdc.ChangeType), col(Cdc.TransactionId),
          col("user_id").alias("c_custkey"), col("c_name"), col("c_acctbal"))
      initial.unionByName(delta)
    },
      """SELECT 'I' AS _change_type, CAST(NULL AS BIGINT) AS _transactionid,
        |       c_custkey, c_name, c_acctbal
        |FROM customer WHERE c_acctbal > 5000
        |UNION ALL
        |SELECT CASE WHEN c.c_custkey IS NULL THEN 'D' ELSE 'A' END,
        |       l._transactionid, l.user_id, c.c_name, c.c_acctbal
        |FROM (SELECT user_id, max(event_id) AS _transactionid
        |      FROM events WHERE event_id > 100 AND event_id <= 1000000000
        |      GROUP BY user_id) l
        |LEFT OUTER JOIN customer c ON l.user_id = c.c_custkey""".stripMargin),

    // ST8: event-time tumbling window aggregation (ts arrives as a µs
    // TIMESTAMP_NTZ; cast to session-tz TIMESTAMP — UTC everywhere — so the
    // window bounds keep the pre-r9 instant semantics and output type).
    Gate("q_window_tumbling_agg", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_t",
        col("ts").cast("timestamp"))
      ev.groupBy(window(col("ts_t"), "1 day"), col("event_type"))
        .agg(count(lit(1)).alias("n"),
          sum(dec(col("value"))).cast(DoubleType).alias("sum_value"))
        .select(col("window.start").alias("window_start"),
          col("event_type"), col("n"), col("sum_value"))
    },
      """SELECT time_bucket(INTERVAL 1 DAY, ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // ST8: gap-based session windows per user (the extension the reference
    // lacks). Oracle = gaps-and-islands SQL: a new session starts when the
    // µs-truncated gap to the previous event is >= the window gap, exactly
    // Spark's [first, last+gap) semantics.
    Gate("q_window_session", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_t",
        col("ts").cast("timestamp")) // µs NTZ → UTC-session TIMESTAMP, exact
      ev.groupBy(session_window(col("ts_t"), "101 minutes"), col("user_id"))
        .agg(count(lit(1)).alias("n"),
          sum(dec(col("value"))).cast(DoubleType).alias("sum_value"))
        .select(col("session_window.start").alias("session_start"),
          col("user_id"), col("n"), col("sum_value"))
    },
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value FROM events),
        |x AS (
        |  SELECT user_id, t, value,
        |    CASE WHEN lag(t) OVER w IS NULL
        |           OR t - lag(t) OVER w >= INTERVAL 101 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |s AS (
        |  SELECT user_id, t, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT min(t) AS session_start, user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin)
  )

  /** Shared three-window MemoryStream harness for the stream-stream
    * interval-join gates: purchases (left) × clicks (right) from the
    * events table, cut into three event-time windows, each trigger
    * feeding both streams — `join` builds the joined frame from the
    * (left, right) column-named inputs. The harness is gate scaffolding
    * (the collect feeds MemoryStream), not an operator path.
    */
  private def intervalJoinGate(s: SparkSession, dir: String,
      queryName: String)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val ev = t(s, dir, "events")
      .withColumn("ts_t", col("ts").cast("timestamp"))
    def side(tpe: String) = ev.where(col("event_type") === tpe)
      .select(col("user_id"), col("event_id"), col("ts_t"))
      .as[(Long, Long, java.sql.Timestamp)].collect().toIndexedSeq
    // collected BEFORE the query starts so the state partitioning can
    // derive from the stream's actual size (withStreamStatePartitions)
    val (purchases, clicks) = (side("purchase"), side("click"))
    withStreamStatePartitions(s, purchases.size.toLong + clicks.size) {
      val msL = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val msR = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val joined = join(
        msL.toDF().toDF("user_id", "l_event_id", "l_ts"),
        msR.toDF().toDF("r_user_id", "r_event_id", "r_ts"))
      val q = joined.select(col("l_event_id"), col("r_event_id"))
        .writeStream.format("memory").queryName(queryName)
        .outputMode("append").start()
      try {
        val cuts = Seq(
          java.sql.Timestamp.valueOf("2024-01-11 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-21 00:00:00"))
        def window(rows: IndexedSeq[(Long, Long, java.sql.Timestamp)], b: Int) =
          rows.filter { case (_, _, ts) =>
            (b == 0 || !ts.before(cuts(b - 1))) &&
              (b == 2 || ts.before(cuts(b)))
          }
        (0 until 3).foreach { b =>
          msR.addData(window(clicks, b): _*)
          msL.addData(window(purchases, b): _*)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    s.table(queryName).localCheckpoint(true)
  }

  /** Scale-adaptive state-store partitioning for the stateful streaming
    * gates (guide §2: derive the partitioning from input size instead of
    * a constant tuned to either local mode or the cluster). A stateful
    * streaming query pays a FIXED per-trigger commit (delta file write +
    * fsync, ×4 internal stores for a stream-stream join) per state
    * partition, so at gate scale (tens of thousands of rows) the session
    * default of one partition per core is nearly pure overhead —
    * measured same-JVM: `q_stream_interval_join` 22.7 s → 9.1 s when the
    * 32 state partitions drop to 4. The count derives from the stream's
    * actual row volume at ~16k rows per state partition and is CAPPED by
    * the session's configured `spark.sql.shuffle.partitions`, so a
    * production deployment sized for its cluster keeps its setting —
    * the derivation only ever shrinks tiny-state queries, it never
    * second-guesses a real load. Set for the query's whole lifetime
    * (Structured Streaming fixes state partitioning at the first batch)
    * and restored after.
    */
  private val RowsPerStatePartition = 16384L

  private def withStreamStatePartitions[A](s: SparkSession, rows: Long)(
      body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    val derived = math.max(1L,
      (rows + RowsPerStatePartition - 1) / RowsPerStatePartition)
    s.conf.set(key, math.min(prev.toLong, derived).toString)
    try body finally s.conf.set(key, prev)
  }

  /** The exact batch interval join BOTH the plain and the salted
    * streaming gate must reproduce (one definition — the salt must be
    * semantically invisible).
    */
  private val IntervalJoinOracle: String =
    """SELECT l.event_id AS l_event_id, r.event_id AS r_event_id
      |FROM events l JOIN events r ON l.user_id = r.user_id
      |WHERE l.event_type = 'purchase' AND r.event_type = 'click'
      |  AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts""".stripMargin
}
