package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Cdc
import graft.operators.IncrementalAgg
import graft.streaming.{CdcStreamJob, ManifestUpsertStore, TxidLedger,
  WritePolicy}

/** The whole engine in one scenario: initial load → streamed delta rounds
  * (update, insert, delete, mid-stream ADDITIVE SCHEMA CHANGE) → replica
  * fidelity after every round → a consumer-side aggregate maintained
  * INCREMENTALLY from each round's fold and checked against a full
  * recompute over the final replica. This is the integration the parts
  * exist for; each piece is unit-tested elsewhere.
  */
class GrandTourSpec extends SparkSpec {
  import spark.implicits._

  private val dec2 = DecimalType(18, 2)

  private def rows(t: (Long, String, Double)*): DataFrame =
    t.toDF("id", "segment", "amount")
      .select($"id", $"segment", $"amount".cast(dec2).as("amount"))

  private def agg(df: DataFrame): Set[(String, Long, java.math.BigDecimal)] =
    df.groupBy($"segment")
      .agg(count(lit(1)).as("n"), sum($"amount").cast(DecimalType(38, 2)).as("s"))
      .as[(String, Long, java.math.BigDecimal)].collect().toSet

  test("load → stream → evolve → maintain: every layer agrees") {
    val dir = java.nio.file.Files.createTempDirectory("grandtour").toString
    var source = rows((1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 5.0))
    val store = new ManifestUpsertStore(spark, s"$dir/store", Seq("id"),
      numBuckets = 4, writePolicy = WritePolicy.CopyOnWrite)
    store.initialize(Cdc.initialLoad(source))
    val ledger = new TxidLedger(s"$dir/txid")
    val job = new CdcStreamJob(spark, () => source, store, ledger,
      Seq(("id", "id")))

    // the maintained aggregate starts from the initial load
    var maintained = rows((1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 5.0))
      .groupBy($"segment")
      .agg(count(lit(1)).as("n"), sum($"amount").as("s"))

    def applyRound(changedIds: Seq[(Long, Long)]): Unit = {
      val beforeSnap = store.snapshot()
      val feed = changedIds.toDF("id", Cdc.TransactionId)
      // fold once against the CURRENT source (what the job will also see)
      val folded = Cdc.delta(feed, source, Seq(("id", "id")),
        lo = ledger.read(), hi = Long.MaxValue).localCheckpoint(true)
      // maintain the aggregate from the old snapshot + the fold
      val oldRows = beforeSnap.join(folded.select($"id"), Seq("id"), "left_semi")
      val newRows = folded.where(col(Cdc.ChangeType) === Cdc.Upsert)
        .select($"segment", $"amount")
      maintained = IncrementalAgg.maintainCountSum(
        maintained, oldRows, newRows, "segment", "amount")
        .localCheckpoint(true)
      // and apply the same batch through the streaming job
      job.processBatch(feed, 0)
    }

    // round 1: update + insert
    source = rows((1L, "A", 11.0), (2L, "A", 20.0), (3L, "B", 5.0), (4L, "C", 7.0))
    applyRound(Seq((1L, 101L), (4L, 102L)))
    assert(store.snapshot().as[(Long, String, java.math.BigDecimal)].collect().toSet
      == source.as[(Long, String, java.math.BigDecimal)].collect().toSet)

    // round 2: delete kills segment B entirely
    source = rows((1L, "A", 11.0), (2L, "A", 20.0), (4L, "C", 7.0))
    applyRound(Seq((3L, 103L)))

    // round 3: ADDITIVE SCHEMA CHANGE — source grows a `origin` column
    source = Seq((1L, "A", 11.0, "eu"), (2L, "A", 20.0, "eu"),
        (4L, "C", 7.0, "us"), (5L, "C", 3.0, "us"))
      .toDF("id", "segment", "amount", "origin")
      .select($"id", $"segment", $"amount".cast(dec2).as("amount"), $"origin")
    applyRound(Seq((5L, 104L), (1L, 105L)))

    // replica == evolved source (old rows carry origin = null)
    val snap = store.snapshot()
    assert(snap.columns.toSeq == Seq("id", "segment", "amount", "origin"))
    assert(snap.as[(Long, String, java.math.BigDecimal, Option[String])]
      .collect().toSet ==
      Set((1L, "A", bd("11.00"), Some("eu")), (2L, "A", bd("20.00"), None),
        (4L, "C", bd("7.00"), None), (5L, "C", bd("3.00"), Some("us"))))
    assert(ledger.read() == 105L)

    // the incrementally-maintained aggregate == full recompute over the
    // final replica (B died at count 0; C was born mid-stream)
    val recomputed = agg(snap.select($"id", $"segment", $"amount"))
    val got = maintained
      .select($"segment", $"n", $"s".cast(DecimalType(38, 2)).as("s"))
      .as[(String, Long, java.math.BigDecimal)].collect().toSet
    assert(got == recomputed)
    assert(got.map(_._1) == Set("A", "C"))

    // round 4: the EXPLICIT schema rewrite (r9) — rename the column that
    // arrived additively, then keep streaming in the new shape; the
    // maintained aggregate keeps agreeing across the rename
    store.renameColumn("origin", "region")
    source = Seq((1L, "A", 11.0, "eu"), (2L, "A", 20.0, "eu"),
        (4L, "C", 8.0, "us"), (5L, "C", 3.0, "us"))
      .toDF("id", "segment", "amount", "region")
      .select($"id", $"segment", $"amount".cast(dec2).as("amount"), $"region")
    applyRound(Seq((4L, 106L)))
    val snap2 = store.snapshot()
    assert(snap2.columns.toSeq == Seq("id", "segment", "amount", "region"))
    assert(snap2.where($"id" === 4L)
      .as[(Long, String, java.math.BigDecimal, Option[String])].head() ==
      ((4L, "C", bd("8.00"), Some("us"))))
    assert(agg(snap2.select($"id", $"segment", $"amount")) ==
      maintained.select($"segment", $"n", $"s".cast(DecimalType(38, 2)).as("s"))
        .as[(String, Long, java.math.BigDecimal)].collect().toSet)
  }

  private def bd(s: String) = new java.math.BigDecimal(s)
}
