package graft.operators

import graft.SparkSpec
import graft.catalog.{ColumnMapping, JoinCondition, Relation, TableMapping}

class HierarchySpec extends SparkSpec {
  import spark.implicits._

  private lazy val header = Seq(
    ("SO1", "alice"), ("SO2", "bob"), ("SO3", "carol") // SO3 has no items
  ).toDF("SALESORDERID", "PARTNER")

  private lazy val items = Seq(
    ("SO1", 1, "widget"), ("SO1", 2, "gadget"), ("SO2", 1, "gizmo")
  ).toDF("SALESORDERID", "LINE", "PRODUCT")

  test("nest: child rows become a sorted array-of-structs field") {
    val got = Hierarchy.nest(header, items,
      Seq(("SALESORDERID", "SALESORDERID")), "items")
    val byId = got.collect().map(r => r.getString(0) ->
      r.getSeq[org.apache.spark.sql.Row](2)).toMap
    assert(byId("SO1").map(_.getInt(0)) == Seq(1, 2))
    assert(byId("SO1").map(_.getString(1)) == Seq("widget", "gadget"))
    assert(byId("SO2").length == 1)
    assert(byId("SO3").isEmpty) // left outer: parent kept, empty array
  }

  test("nest groups only by the join key, never the whole parent row") {
    import org.apache.spark.sql.functions.{col, lit, size}
    // a wide parent (payload columns beyond the PK) must NOT widen the
    // aggregation key — the child aggregates by its join key alone and the
    // payload re-attaches via the PK join
    val wide = header.withColumn("payload_a", lit("x"))
      .withColumn("payload_b", lit(1.5))
    val got = Hierarchy.nest(wide, items,
      Seq(("SALESORDERID", "SALESORDERID")), "items")
    val groupings = got.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.groupingExpressions
    }
    assert(groupings.nonEmpty)
    assert(groupings.forall(_.size == 1), groupings.toString)
    val so3 = got.where(col("SALESORDERID") === "SO3")
      .select(size(col("items"))).as[Int].head()
    assert(so3 == 0) // childless parent still nests []
  }

  test("build from a TableMapping with relations (SO.Header shape)") {
    val mapping = TableMapping(
      name = "SO.Header", mastertable = "SO_HEADER",
      columnmappings = Seq(
        ColumnMapping("SALESORDERID", "SALESORDERID", "NVARCHAR(10)"),
        ColumnMapping("PARTNER", "PARTNER", "NVARCHAR(10)")),
      pkcolumns = Seq("SALESORDERID"),
      relations = Seq(Relation("SO.Item", "items",
        Seq(JoinCondition("SALESORDERID", "SALESORDERID")))))
    val got = Hierarchy.build(mapping, header, Map("SO.Item" -> items))
    assert(got.columns.toSeq == Seq("SALESORDERID", "PARTNER", "items"))
    assert(got.count() == 3)
  }

  test("impactedParents: child change marks only its parent for rebuild") {
    val changed = Seq(("SO2", 1, "gizmo2")).toDF("SALESORDERID", "LINE", "PRODUCT")
    val got = Hierarchy.impactedParents(header, changed,
      Seq(("SALESORDERID", "SALESORDERID")))
      .select("SALESORDERID").as[String].collect().toSeq
    assert(got == Seq("SO2"))
  }

  test("rebuild: emits exactly the impacted parents, freshly nested from current child state") {
    import org.apache.spark.sql.functions.col
    // current child state: SO1's line 2 was deleted, SO2's product renamed
    val state = Seq(
      ("SO1", 1, "widget"), ("SO2", 1, "gizmo-v2")
    ).toDF("SALESORDERID", "LINE", "PRODUCT")
    // the change batch touches SO1 (a delete) and SO2 (an update) — SO3
    // is untouched and must NOT be re-emitted
    val delta = Seq(
      ("SO1", 2, "gadget"), ("SO2", 1, "gizmo-v2")
    ).toDF("SALESORDERID", "LINE", "PRODUCT")
    val got = Hierarchy.rebuild(header, state, delta,
      Seq(("SALESORDERID", "SALESORDERID")), "items")
    val byId = got.collect().map(r => r.getString(0) ->
      r.getSeq[org.apache.spark.sql.Row](2)).toMap
    assert(byId.keySet == Set("SO1", "SO2")) // only impacted parents
    assert(byId("SO1").map(_.getString(1)) == Seq("widget")) // delete applied
    assert(byId("SO2").map(_.getString(1)) == Seq("gizmo-v2"))
    // a delta whose parent lost ALL child rows still re-emits it with []
    val allGone = Hierarchy.rebuild(header,
      state.where(col("SALESORDERID") =!= "SO1"),
      delta, Seq(("SALESORDERID", "SALESORDERID")), "items")
    val so1 = allGone.collect().map(r => r.getString(0) ->
      r.getSeq[org.apache.spark.sql.Row](2)).toMap
    assert(so1("SO1").isEmpty)
    // plan shape: BOTH cut-down semi-joins carry the broadcast hint (the
    // changed-key set must never shuffle the parent or the child side),
    // and the backfill hatch drops both
    def hints(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    assert(hints(got) == 2, "expected a broadcast hint per semi-join")
    assert(hints(Hierarchy.rebuild(header, state, delta,
      Seq(("SALESORDERID", "SALESORDERID")), "items",
      broadcastKeys = false)) == 0)
  }

  test("rebuildBoth: impact union of parent and child changes; both-sides hit rebuilds ONCE") {
    import org.apache.spark.sql.functions.col
    val state = Seq(
      ("SO1", 1, "widget"), ("SO2", 1, "gizmo-v2")
    ).toDF("SALESORDERID", "LINE", "PRODUCT")
    // SO1 changed on BOTH sides (its header row AND a child row); SO2
    // only parent-side; SO3 untouched
    val parentDelta = Seq(("SO1", "P9"), ("SO2", "P8"))
      .toDF("SALESORDERID", "PARTNER")
    val childDelta = Seq(("SO1", 2, "gadget"))
      .toDF("SALESORDERID", "LINE", "PRODUCT")
    val got = Hierarchy.rebuildBoth(header, state, parentDelta, childDelta,
      Seq(("SALESORDERID", "SALESORDERID")), "items")
    val rows = got.collect()
    // union of impacts, each exactly once — the doubly-impacted SO1 must
    // not emit two (conflicting) upsert rows into a downstream LWW merge
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("SO1", "SO2"),
      rows.mkString(", "))
    val byId = rows.map(r => r.getString(0) ->
      r.getSeq[org.apache.spark.sql.Row](2)).toMap
    assert(byId("SO1").map(_.getString(1)) == Seq("widget"))
    assert(byId("SO2").map(_.getString(1)) == Seq("gizmo-v2"))
    // child-side-only equivalence: with no parent changes, rebuildBoth
    // IS rebuild (shared nestForKeys core — contract, not coincidence)
    val emptyParent = parentDelta.where(col("SALESORDERID") === "none")
    val both = Hierarchy.rebuildBoth(header, state, emptyParent, childDelta,
      Seq(("SALESORDERID", "SALESORDERID")), "items").collect().toSet
    val plain = Hierarchy.rebuild(header, state, childDelta,
      Seq(("SALESORDERID", "SALESORDERID")), "items").collect().toSet
    assert(both == plain)
  }

  test("rebuild ≡ an independent in-Scala recompute on random parent/child/delta") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val parents = (1 to 30).map(i => (s"P$i", s"payload-$i"))
    val children = for {
      i <- 1 to 30
      c <- 0 until rnd.nextInt(5) // some parents childless
    } yield (s"P$i", c, s"item-$i-$c-v${rnd.nextInt(3)}")
    // the delta batch names changed keys (values irrelevant to rebuild)
    val changedKeys = (1 to 30).filter(_ => rnd.nextBoolean()).map(i => s"P$i")
    val pDf = parents.toDF("SALESORDERID", "PARTNER")
    val cDf = children.toDF("SALESORDERID", "LINE", "PRODUCT")
    val dDf = changedKeys.map((_, 0, "x")).toDF("SALESORDERID", "LINE", "PRODUCT")
    val got = Hierarchy.rebuild(pDf, cDf, dDf,
        Seq(("SALESORDERID", "SALESORDERID")), "items")
      .collect().map(r => r.getString(0) -> (r.getString(1),
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(x => (x.getInt(0), x.getString(1))).toSeq)).toMap
    val want = changedKeys.map { k =>
      val (_, partner) = parents.find(_._1 == k).get
      k -> (partner, children.filter(_._1 == k)
        .map(c => (c._2, c._3)).sorted.toSeq)
    }.toMap
    assert(got == want)
  }

  test("nested business objects ride BOTH write policies identically (COW vs MOR)") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.cdc.Cdc
    import graft.streaming.{ManifestUpsertStore, WritePolicy}
    // q_hier_cdc_rebuild gates the merge-on-read store; this pins that a
    // copy-on-write merge rewrites the SAME array-of-struct payloads (LWW
    // over nested schemas) to the identical snapshot
    val work = java.nio.file.Files.createTempDirectory("graft-hier2s")
    val initial = Hierarchy.nest(header, items,
      Seq(("SALESORDERID", "SALESORDERID")), "items")
    val delta = Seq(("SO2", 1, "gizmo-v2"), ("SO2", 2, "bonus"))
      .toDF("SALESORDERID", "LINE", "PRODUCT")
    val rebuilt = Hierarchy.rebuild(header,
        items.where($"PRODUCT" =!= "gizmo").unionByName(delta), delta,
        Seq(("SALESORDERID", "SALESORDERID")), "items")
      .withColumn(Cdc.ChangeType, lit(Cdc.Upsert))
      .withColumn(Cdc.TransactionId, lit(1L))
    val cow = new ManifestUpsertStore(spark, work.resolve("cow").toString,
      pkCols = Seq("SALESORDERID"), numBuckets = 4,
      writePolicy = WritePolicy.CopyOnWrite)
    val man = new ManifestUpsertStore(spark, work.resolve("man").toString,
      pkCols = Seq("SALESORDERID"), numBuckets = 4)
    cow.initialize(Cdc.initialLoad(initial)); cow.merge(rebuilt)
    man.initialize(Cdc.initialLoad(initial)); man.merge(rebuilt)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("SALESORDERID"), col("PARTNER"), col("items"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getSeq[org.apache.spark.sql.Row](2)
            .map(x => (x.getInt(0), x.getString(1))).toSeq)).toSet
    val a = canon(cow.snapshot())
    val b = canon(man.snapshot())
    assert(a === b)
    // and the content is the rebuilt state: SO2 re-nested from updated
    // items, SO1/SO3 untouched
    assert(a.find(_._1 == "SO2").get._3 == Seq((1, "gizmo-v2"), (2, "bonus")))
    assert(a.find(_._1 == "SO1").get._3 == Seq((1, "widget"), (2, "gadget")))
    graft.util.Fs.rmTree(work.toFile)
  }

  test("impactedParents backfill path: no broadcast hint, same result (VERDICT r6 #6)") {
    val changed = Seq(("SO2", 1, "gizmo2")).toDF("SALESORDERID", "LINE", "PRODUCT")
    val broadcasted = Hierarchy.impactedParents(header, changed,
      Seq(("SALESORDERID", "SALESORDERID")))
    val shuffled = Hierarchy.impactedParents(header, changed,
      Seq(("SALESORDERID", "SALESORDERID")), broadcastKeys = false)
    // the escape hatch drops the broadcast hint (a backfill key set would
    // OOM the driver-collected broadcast) without changing the semantics
    assert(broadcasted.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(!shuffled.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(shuffled.select("SALESORDERID").as[String].collect().toSeq == Seq("SO2"))
  }
}
