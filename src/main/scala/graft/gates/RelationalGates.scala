package graft
package gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftExpressions
import graft.operators.{AsofJoin, RangeJoin}
import graft.sources.{JdbcSource, MetadataCatalog}

import GateSupport._

/** Relational operators: catalog and partition discovery, scalar and
  * geometry functions, joins, aggregates, windows and the TPC-H-shaped
  * queries.
  */
object RelationalGates extends GateFamily {

  lazy val gates: Seq[Gate] = Seq(
    // P1: arbitrary-SQL column mappings through the TableMapping catalog
    // path (S4HanaTableMapping.java:683-738 — any scalar SQL per column).
    Gate("q_p1_expr_projection", (s, dir) => {
      val m = graft.catalog.TableMapping(
        name = "cust_proj", mastertable = "customer",
        columnmappings = Seq(
          graft.catalog.ColumnMapping("c_custkey", "c_custkey", "BIGINT"),
          graft.catalog.ColumnMapping("name_up", "upper(c_name)", "NVARCHAR(30)"),
          graft.catalog.ColumnMapping("bal_x2",
            "CAST(c_acctbal AS DOUBLE) * 2", "DOUBLE"),
          graft.catalog.ColumnMapping("seg3",
            "substring(c_mktsegment, 1, 3)", "NVARCHAR(3)")),
        pkcolumns = Seq("c_custkey")).validated
      m.project(t(s, dir, "customer"))
    },
      """SELECT c_custkey, upper(c_name) AS name_up,
        |  CAST(c_acctbal AS DOUBLE) * 2 AS bal_x2,
        |  substring(c_mktsegment, 1, 3) AS seg3
        |FROM customer""".stripMargin),

    // §3.3 control plane in one query: a TableMapping registered through
    // GraftCatalog and consumed via spark.sql — the reference's
    // createSchema/business-object path end-to-end.
    Gate("q_catalog_view", (s, dir) => {
      val m = graft.catalog.TableMapping(
        name = "nation_view", mastertable = "nation",
        columnmappings = Seq(
          graft.catalog.ColumnMapping("n_nationkey", "n_nationkey", "INTEGER"),
          graft.catalog.ColumnMapping("name_region",
            "concat(n_name, '-', CAST(n_regionkey AS STRING))", "NVARCHAR(40)")),
        pkcolumns = Seq("n_nationkey"))
      graft.catalog.GraftCatalog.register(s, Seq(m), _ => t(s, dir, "nation"))
      s.sql("SELECT n_nationkey, name_region FROM nation_view")
    },
      """SELECT n_nationkey,
        |  n_name || '-' || CAST(n_regionkey AS VARCHAR) AS name_region
        |FROM nation""".stripMargin),

    // S7/S8: metadata catalog scan — table/column inventory with ordinals
    // (the DD02L/table_columns analog; schemas come from the table store).
    Gate("q_s7_catalog_columns", (s, dir) => {
      import s.implicits._
      val rows = Tables.names.flatMap { n =>
        t(s, dir, n).schema.fields.zipWithIndex.map { case (f, i) =>
          (n, f.name, i + 1)
        }
      }
      rows.toDF("table_name", "column_name", "ordinal")
    },
      """SELECT table_name, column_name, CAST(ordinal_position AS INT) AS ordinal
        |FROM information_schema.columns
        |WHERE table_name IN ('region','nation','customer','supplier','part',
        |  'orders','lineitem','events','documents','embeddings')""".stripMargin),

    // ── Relational operators ──────────────────────────────────────────────
    // A1-shape wide aggregation (TPC-H Q1 pricing summary): sums run in
    // exact decimal (order-independent), final cast to DOUBLE — one
    // well-defined conversion that is bit-identical in Spark and DuckDB.
    Gate("q1_pricing_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast(DoubleType).alias("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast(DoubleType).alias("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast(DoubleType).alias("sum_disc_price"),
          count(lit(1)).alias("count_order"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // S8: ABAP-dictionary browse — DD02L/DD02T-shaped frames derived
    // deterministically from nation (both engines derive the same frames),
    // run through the shipped MetadataCatalog.browseTables operator
    // (S4HanaBrowse.java:85-102).
    Gate("q_s8_browse_tables", (s, dir) => {
      val n = t(s, dir, "nation")
      val dd02l = n.select(
        concat(lit("T_"), col("n_name")).alias("tabname"),
        when(col("n_regionkey") % 2 === 0, "TRANSP").otherwise("INTTAB")
          .alias("tabclass"))
      val dd02t = n.select(
        concat(lit("T_"), col("n_name")).alias("tabname"),
        when(col("n_nationkey") % 2 === 0, "E").otherwise("D")
          .alias("ddlanguage"),
        concat(lit("Description of "), col("n_name")).alias("ddtext"))
      MetadataCatalog.browseTables(dd02l, dd02t)
    },
      """WITH dd02l AS (
        |  SELECT 'T_' || n_name AS tabname,
        |    CASE WHEN n_regionkey % 2 = 0 THEN 'TRANSP' ELSE 'INTTAB' END AS tabclass
        |  FROM nation),
        |dd02t AS (
        |  SELECT 'T_' || n_name AS tabname,
        |    CASE WHEN n_nationkey % 2 = 0 THEN 'E' ELSE 'D' END AS ddlanguage,
        |    'Description of ' || n_name AS ddtext
        |  FROM nation)
        |SELECT t.tabname, x.ddtext
        |FROM dd02l t LEFT OUTER JOIN dd02t x
        |  ON x.tabname = t.tabname AND x.ddlanguage = 'E'
        |WHERE t.tabclass = 'TRANSP'""".stripMargin),

    // S8: ABAP-dictionary PK fallback — a DD03L-shaped frame from part,
    // through MetadataCatalog.pkFallback (keyflag='X', as4local='A',
    // ORDER BY position; S4HanaTableMapping.java:308-321).
    Gate("q_s8_pk_fallback", (s, dir) => {
      val dd03l = t(s, dir, "part").select(
        concat(lit("T_PART"), col("p_partkey") % 5).alias("tabname"),
        concat(lit("F_"), col("p_partkey")).alias("fieldname"),
        when(col("p_partkey") % 3 === 0, "X").otherwise("").alias("keyflag"),
        when(col("p_partkey") % 7 === 0, "N").otherwise("A").alias("as4local"),
        col("p_partkey").alias("position"))
      MetadataCatalog.pkFallback(dd03l, "T_PART2")
    },
      """SELECT 'F_' || p_partkey AS fieldname, p_partkey AS position
        |FROM part
        |WHERE 'T_PART' || (p_partkey % 5) = 'T_PART2'
        |  AND p_partkey % 3 = 0 AND p_partkey % 7 <> 0""".stripMargin),

    // S3: partition discovery — the reference's EXACT m_cs_partitions probe
    // text (S4HanaProducer.java:511) executed via spark.sql against an
    // m_cs_partitions-shaped frame, then the row→task mapping
    // (partition 0 / NULL / no-rows → one plain scan; 1..n → one task per
    // physical part, S4HanaProducer.java:516-533). Covers all four shapes
    // the reference tolerates.
    Gate("q_s3_partition_discovery", (s, dir) => {
      import s.implicits._
      val n = t(s, dir, "nation")
      val mcs = n.where(col("n_nationkey").between(1, 4))
        .select(lit("S4").alias("schema_name"),
          lit("T_PART").alias("table_name"),
          col("n_nationkey").cast("int").alias("partition"))
        .unionByName(n.where(col("n_nationkey") === 0).select(
          lit("S4").alias("schema_name"), lit("T_FLAT").alias("table_name"),
          lit(0).alias("partition")))
        .unionByName(n.where(col("n_nationkey") === 0).select(
          lit("S4").alias("schema_name"), lit("T_NULLP").alias("table_name"),
          lit(null).cast("int").alias("partition")))
      mcs.createOrReplaceTempView("m_cs_partitions")
      Seq("T_PART", "T_FLAT", "T_NULLP", "T_ABSENT").map { tn =>
        val discovered = s.sql(JdbcSource.partitionDiscoverySql("S4", tn))
        JdbcSource.partitionTasks(discovered)
          .map(id => (tn, if (id == 0) None else Some(id)))
          .toDF("table_name", "part_id")
      }.reduce(_ unionByName _)
    },
      // The reference's discovery semantics re-derived relationally: a task
      // list per table, part_id NULL for plain scans (rows with partition
      // 0/NULL and tables absent from m_cs_partitions), 1..n otherwise.
      """WITH mcs AS (
        |  SELECT 'T_PART' AS table_name, CAST(n_nationkey AS INT) AS part
        |  FROM nation WHERE n_nationkey BETWEEN 1 AND 4
        |  UNION ALL SELECT 'T_FLAT', 0 FROM nation WHERE n_nationkey = 0
        |  UNION ALL SELECT 'T_NULLP', NULL FROM nation WHERE n_nationkey = 0),
        |tabs(table_name) AS (
        |  VALUES ('T_PART'),('T_FLAT'),('T_NULLP'),('T_ABSENT'))
        |SELECT tabs.table_name AS table_name,
        |  CAST(CASE WHEN COALESCE(mcs.part, 0) = 0 THEN NULL ELSE mcs.part END
        |       AS INT) AS part_id
        |FROM tabs LEFT JOIN mcs ON mcs.table_name = tabs.table_name""".stripMargin),

    // S4: parallel partition load — union of per-physical-partition scans
    // must equal the plain scan (the readPartitioned plan shape,
    // S4HanaTableMapping.java:751-755; each branch = one PARTITION (n)
    // select/connection over JDBC).
    Gate("q_s4_partition_union", (s, dir) =>
      JdbcSource.unionPartitionScans(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus")),
        col("o_orderkey"), parts = 4),
      // union of per-partition scans ≡ plain scan, independent of the hash
      "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders"),

    // S9: existence probe — `select 1 from tables where table_name = ?`
    // (S4HanaTableMapping.java:491-505) over a tables-shaped frame; a
    // present and an absent table probed through the shipped operator.
    Gate("q_s9_existence_probe", (s, dir) => {
      val tables = t(s, dir, "nation").select(
        lit("S4").alias("schema_name"),
        concat(lit("T_"), col("n_name")).alias("table_name"))
      Seq("T_CHINA", "T_NOWHERE").map { probe =>
        MetadataCatalog.existenceProbe(tables, "S4", probe)
          .select(lit(probe).alias("probe"), col("one"))
      }.reduce(_ unionByName _)
    },
      """WITH tabs AS (SELECT 'T_' || n_name AS table_name FROM nation),
        |probes(probe) AS (VALUES ('T_CHINA'),('T_NOWHERE'))
        |SELECT probe, 1 AS one FROM probes
        |WHERE EXISTS (SELECT 1 FROM tabs WHERE tabs.table_name = probes.probe)""".stripMargin),

    // S10: validation probe — the reference's validate() top-1 dictionary
    // read (S4HanaBrowse.java:154-177) over the same DD02L/DD02T frames as
    // q_s8_browse_tables; healthy iff one row comes back.
    Gate("q_s10_validation_probe", (s, dir) => {
      val n = t(s, dir, "nation")
      val dd02l = n.select(
        concat(lit("T_"), col("n_name")).alias("tabname"),
        when(col("n_regionkey") % 2 === 0, "TRANSP").otherwise("INTTAB")
          .alias("tabclass"))
      val dd02t = n.select(
        concat(lit("T_"), col("n_name")).alias("tabname"),
        when(col("n_nationkey") % 2 === 0, "E").otherwise("D")
          .alias("ddlanguage"),
        concat(lit("Description of "), col("n_name")).alias("ddtext"))
      MetadataCatalog.validationProbe(dd02l, dd02t)
    },
      """WITH dd02l AS (
        |  SELECT 'T_' || n_name AS tabname,
        |    CASE WHEN n_regionkey % 2 = 0 THEN 'TRANSP' ELSE 'INTTAB' END AS tabclass
        |  FROM nation),
        |dd02t AS (
        |  SELECT 'T_' || n_name AS tabname,
        |    CASE WHEN n_nationkey % 2 = 0 THEN 'E' ELSE 'D' END AS ddlanguage,
        |    'Description of ' || n_name AS ddtext
        |  FROM nation)
        |SELECT t.tabname, x.ddtext
        |FROM dd02l t LEFT OUTER JOIN dd02t x
        |  ON x.tabname = t.tabname AND x.ddlanguage = 'E'
        |WHERE t.tabclass = 'TRANSP'
        |ORDER BY t.tabname LIMIT 1""".stripMargin),

    // J2: left outer join with a constant conjunct in the condition
    // (S4HanaBrowse.java:86-88 — DD02L ⟕ DD02T ON … AND ddlanguage='E').
    Gate("q_j2_outer_const_conjunct", (s, dir) => {
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      n.join(broadcast(r),
          n("n_regionkey") === r("r_regionkey") && r("r_name") === "ASIA",
          "left_outer")
        .select(n("n_nationkey"), n("n_name"), r("r_name").alias("region_name"))
    },
      """SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
        |FROM nation n LEFT OUTER JOIN region r
        |  ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'""".stripMargin),

    // J3: metadata-style inner join with a constant conjunct in the
    // condition + aggregation (S4HanaTableMapping.java:273-276 shape).
    Gate("q_j3_meta_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey") &&
          o("o_orderstatus") === "O")
        .groupBy(c("c_custkey"))
        .agg(count(lit(1)).alias("n_open"))
    },
      """SELECT c_custkey, count(*) AS n_open
        |FROM customer JOIN orders
        |  ON c_custkey = o_custkey AND o_orderstatus = 'O'
        |GROUP BY c_custkey""".stripMargin),

    // A4: row-count accumulation (per-partition counts summed natively —
    // S4HanaProducer.java:541-551).
    Gate("q_a4_rowcount", (s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).alias("n_rows")),
      "SELECT count(*) AS n_rows FROM lineitem"),

    // W3: deterministic ORDER BY projection (metadata ordering,
    // S4HanaTableMapping.java:277).
    Gate("q_w3_orderby", (s, dir) =>
      t(s, dir, "supplier").orderBy(col("s_name")).limit(20)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey")),
      """SELECT s_suppkey, s_name, s_nationkey FROM supplier
        |ORDER BY s_name LIMIT 20""".stripMargin),

    // §1.2 geometry: WKB ST_POINT carrier round-trip via native
    // expressions (build → coordinate extract; 21-byte little-endian WKB).
    Gate("q_f_geometry", (s, dir) => {
      val su = t(s, dir, "supplier")
      val pt = GraftExpressions.st_point(
        col("s_suppkey").cast(DoubleType),
        col("s_nationkey").cast(DoubleType))
      su.select(col("s_suppkey"),
        GraftExpressions.st_x(pt).alias("x"),
        GraftExpressions.st_y(pt).alias("y"),
        length(pt).alias("wkb_len"))
    },
      """SELECT s_suppkey, CAST(s_suppkey AS DOUBLE) AS x,
        |  CAST(s_nationkey AS DOUBLE) AS y, 21 AS wkb_len
        |FROM supplier""".stripMargin),

    // §1.2 ST_GEOMETRY beyond points: a WKB LineString BUILT per order from
    // its lineitem sequence, then introspected (type / vertex count /
    // envelope) — the oracle recomputes every value arithmetically, so the
    // whole binary construct-and-parse path is hash-gated.
    Gate("q_f_geometry_lines", (s, dir) => {
      val pts = t(s, dir, "lineitem")
        .where(col("l_orderkey") % 100 === 0)
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_list(struct(
          col("l_linenumber").cast(DoubleType).alias("x"),
          col("l_quantity").cast(DoubleType).alias("y")))).alias("pts"))
      val geom = GraftExpressions.st_linestring(
        expr("transform(pts, p -> p.x)"), expr("transform(pts, p -> p.y)"))
      pts.select(col("l_orderkey"),
        GraftExpressions.st_geomtype(geom).alias("geom_type"),
        GraftExpressions.st_npoints(geom).alias("n_points"),
        GraftExpressions.st_xmin(geom).alias("xmin"),
        GraftExpressions.st_xmax(geom).alias("xmax"),
        GraftExpressions.st_ymin(geom).alias("ymin"),
        GraftExpressions.st_ymax(geom).alias("ymax"))
    },
      """SELECT l_orderkey, 'LINESTRING' AS geom_type,
        |  CAST(count(*) AS INT) AS n_points,
        |  CAST(min(l_linenumber) AS DOUBLE) AS xmin,
        |  CAST(max(l_linenumber) AS DOUBLE) AS xmax,
        |  CAST(min(l_quantity) AS DOUBLE) AS ymin,
        |  CAST(max(l_quantity) AS DOUBLE) AS ymax
        |FROM lineitem WHERE l_orderkey % 100 = 0
        |GROUP BY l_orderkey""".stripMargin),

    // §1.2 Multi-geometry + SRID: per-order LineStrings st_collect'ed into
    // MULTILINESTRING values, stamped with an EWKB SRID, then introspected
    // — type, summed vertex count, SRID, merged envelope (completes the
    // ST_GEOMETRY surface the reference ferries opaquely,
    // S4HanaTableMapping.java:670). All outputs are order-invariant
    // aggregates, so the collect_list member order cannot flake the hash.
    Gate("q_f_geometry_multi", (s, dir) => {
      val pts = t(s, dir, "lineitem")
        .where(col("l_orderkey") % 100 === 0)
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_list(struct(
          col("l_linenumber").cast(DoubleType).alias("x"),
          col("l_quantity").cast(DoubleType).alias("y")))).alias("pts"))
      val line = GraftExpressions.st_linestring(
        expr("transform(pts, p -> p.x)"), expr("transform(pts, p -> p.y)"))
      val multi = pts
        .select((col("l_orderkey") % 1000).alias("grp"), line.alias("geom"))
        .groupBy(col("grp"))
        .agg(GraftExpressions.st_collect(collect_list(col("geom"))).alias("m"))
      val g = GraftExpressions.st_set_srid(col("m"), lit(4326))
      multi.select(col("grp"),
        GraftExpressions.st_geomtype(g).alias("geom_type"),
        GraftExpressions.st_npoints(g).alias("n_points"),
        GraftExpressions.st_srid(g).alias("srid"),
        GraftExpressions.st_xmin(g).alias("xmin"),
        GraftExpressions.st_xmax(g).alias("xmax"),
        GraftExpressions.st_ymin(g).alias("ymin"),
        GraftExpressions.st_ymax(g).alias("ymax"))
    },
      """WITH lines AS (
        |  SELECT l_orderkey, count(*) AS np,
        |    min(l_linenumber) AS xmn, max(l_linenumber) AS xmx,
        |    min(l_quantity) AS ymn, max(l_quantity) AS ymx
        |  FROM lineitem WHERE l_orderkey % 100 = 0
        |  GROUP BY l_orderkey)
        |SELECT l_orderkey % 1000 AS grp, 'MULTILINESTRING' AS geom_type,
        |  CAST(sum(np) AS INT) AS n_points, 4326 AS srid,
        |  CAST(min(xmn) AS DOUBLE) AS xmin, CAST(max(xmx) AS DOUBLE) AS xmax,
        |  CAST(min(ymn) AS DOUBLE) AS ymin, CAST(max(ymx) AS DOUBLE) AS ymax
        |FROM lines GROUP BY l_orderkey % 1000""".stripMargin),

    // §1.2 ST_Distance: planar point distance through the WKB kernels
    // (construct → measure), arithmetic oracle.
    Gate("q_f_geometry_distance", (s, dir) => {
      val o = t(s, dir, "orders").where(col("o_orderkey") % 50 === 0)
      val a = GraftExpressions.st_point(
        (col("o_orderkey") % 100).cast(DoubleType),
        (col("o_custkey") % 100).cast(DoubleType))
      val b = GraftExpressions.st_point(lit(50.0), lit(50.0))
      o.select(col("o_orderkey"),
        round(GraftExpressions.st_distance(a, b), 6).alias("dist_r"))
    },
      """SELECT o_orderkey,
        |  round(sqrt((o_orderkey % 100 - 50) * (o_orderkey % 100 - 50)
        |           + (o_custkey % 100 - 50) * (o_custkey % 100 - 50)), 6) AS dist_r
        |FROM orders WHERE o_orderkey % 50 = 0""".stripMargin),

    // J5: left-semi "impacted tables" lookup (S4HanaProducer.java:400-420).
    Gate("q_j5_semi_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin),

    // A2: scalar watermark aggregate — least(ifnull(max…)) shape
    // (S4HanaProducer.java:326-331).
    Gate("q_a2_watermark_agg", (s, dir) => {
      t(s, dir, "events").agg(
        least(coalesce(max(col("event_id")), lit(0L)), lit(999999999L))
          .alias("watermark"),
        min(col("event_id")).alias("min_txid"),
        count(lit(1)).alias("n_changes"))
    },
      """SELECT least(ifnull(max(event_id), 0), 999999999) AS watermark,
        |       min(event_id) AS min_txid, count(*) AS n_changes
        |FROM events""".stripMargin),

    // A3: DISTINCT (S4HanaProducer.java:400).
    Gate("q_a3_distinct", (s, dir) =>
      t(s, dir, "events").select(col("event_type")).distinct(),
      "SELECT DISTINCT event_type FROM events"),

    // W1: rank()=1 over (order by key desc), i.e. all rows carrying the
    // global max key (src/test/resources/VBAK_change.sql:1). rank()===1 on
    // an UNPARTITIONED window is tie-exact but funnels the whole table
    // through one task's sort — the textbook scale-killer — so the plan is
    // max-aggregate (map-side partial) broadcast back as an equality filter:
    // identical rows incl. ties, no single-partition exchange anywhere.
    // WindowGuardSpec pins the executed plan.
    Gate("q_w1_rank_top1", (s, dir) => {
      val o = t(s, dir, "orders")
      val mx = o.agg(max(col("o_orderkey")).alias("max_key"))
      o.join(broadcast(mx), col("o_orderkey") === col("max_key"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    },
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM (
        |  SELECT *, rank() OVER (ORDER BY o_orderkey DESC) AS rnk FROM orders)
        |WHERE rnk = 1""".stripMargin),

    // W2: TOP 1 … ORDER BY … DESC (S4HanaProducer.java:123).
    Gate("q_w2_top1_orderby", (s, dir) => {
      t(s, dir, "events")
        .orderBy(col("event_id").desc)
        .limit(1)
        .select(col("event_id"), col("user_id"), col("event_type"))
    },
      """SELECT event_id, user_id, event_type FROM events
        |ORDER BY event_id DESC LIMIT 1""".stripMargin),

    // W4 (beyond reference): the analytic-window toolkit — lag, running
    // sum, row_number over a keyed, ordered partition.
    Gate("q_w4_window_funcs", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, dir, "orders")
        .where(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).alias("rn"),
          lag(col("o_orderkey"), 1).over(w).alias("prev_key"),
          sum(dec(col("o_totalprice"))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType).alias("running_total"))
    },
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  lag(o_orderkey, 1) OVER w AS prev_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""".stripMargin),

    // §2.7 scalar functions: least / ifnull / concat(||) / right / like.
    Gate("q_f_scalar_funcs", (s, dir) => {
      val n = t(s, dir, "nation")
      n.select(
        col("n_nationkey"),
        least(col("n_nationkey"), col("n_regionkey")).alias("least_key"),
        coalesce(lit(null).cast(StringType), col("n_name")).alias("ifnull_name"),
        concat(col("n_name"), lit("_"), col("n_regionkey").cast(StringType))
          .alias("concat_name"),
        expr("right(n_name, 3)").alias("right3"),
        col("n_name").like("A%").alias("like_a"))
    },
      """SELECT n_nationkey,
        |  least(n_nationkey, n_regionkey) AS least_key,
        |  ifnull(NULL, n_name) AS ifnull_name,
        |  n_name || '_' || CAST(n_regionkey AS VARCHAR) AS concat_name,
        |  right(n_name, 3) AS right3,
        |  (n_name LIKE 'A%') AS like_a
        |FROM nation""".stripMargin),

    // Z-order (Morton) key over two join/filter dimensions — the sort key
    // for clustered compaction (ManifestUpsertStore.compact(clusterBy));
    // pure bit arithmetic, so the oracle recomputes every key as an
    // unrolled sum of shifted bit extractions. Codegen'd kernel,
    // map-side, zero shuffle.
    // The inputs are BUCKETIZED into [0, 2^31) first (mod; zorder2 raises
    // on wider domains rather than interleave garbage bits): TPC-H
    // o_orderkey's sparse keyspace crosses 2^31 around SF 90, and layout
    // keys must keep working at every SF (ADVICE r9). The mod wraps once
    // per 2^31 — locality within each wrap is untouched, which is all a
    // row-group clustering key needs.
    Gate("q_zorder_key", (s, dir) => {
      import graft.functions.GraftExpressions.zorder2
      t(s, dir, "orders").select(
        col("o_orderkey"),
        zorder2(pmod(col("o_custkey"), lit(1L << 31)),
          pmod(col("o_orderkey"), lit(1L << 31))).alias("zkey"))
    },
      // Morton interleave as a generated unrolled sum: bit i of a at output
      // position 2i, bit i of b at 2i+1 — every term and the total fit
      // BIGINT (< 2^62)
      {
      // the mod-2^31 bucketize the Spark query applies is replayed here;
      // for non-negative keys % == pmod
      val terms = (0 until 31).flatMap(i => Seq(
        s"(((o_custkey % 2147483648) >> $i) & 1) * ${1L << (2 * i)}",
        s"(((o_orderkey % 2147483648) >> $i) & 1) * ${1L << (2 * i + 1)}"))
      s"""SELECT o_orderkey,
        |  (${terms.mkString(" + ")}) AS zkey
        |FROM orders""".stripMargin
    }),

    // to_alphanum zero-padded increment (VBAK_change.sql:1 semantics).
    Gate("q_f_alphanum_increment", (s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        lpad((col("o_orderkey") + 1).cast(StringType), 10, "0")
          .alias("next_key_alphanum"))
    },
      """SELECT o_orderkey,
        |  lpad(CAST(o_orderkey + 1 AS VARCHAR), 10, '0') AS next_key_alphanum
        |FROM orders""".stripMargin),

    // §2.7 date/time arithmetic: add_days / add_seconds analogs
    // (S4HanaProducer.java:331, :475) on a fixed base column.
    Gate("q_f_datetime", (s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        // interval add, not date_add+cast: the latter truncates any
        // time-of-day to midnight, diverging from add_days semantics
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).alias("plus7d"),
        (col("o_orderdate") + expr("INTERVAL 2 HOURS")).alias("plus2h"),
        year(col("o_orderdate")).alias("o_year"),
        date_trunc("month", col("o_orderdate")).alias("o_month"))
    },
      """SELECT o_orderkey,
        |  o_orderdate + INTERVAL 7 DAY AS plus7d,
        |  o_orderdate + INTERVAL 2 HOUR AS plus2h,
        |  CAST(year(o_orderdate) AS INT) AS o_year,
        |  date_trunc('month', o_orderdate) AS o_month
        |FROM orders""".stripMargin),

    // Semi-structured payloads: JSON property extraction from the events
    // stream (the props column every pipeline has).
    Gate("q_json_props", (s, dir) => {
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).alias("k_val"))
    },
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        |FROM events""".stripMargin),

    // J6: FULL OUTER join of two partially-overlapping key sets (rich
    // customers vs high-volume order counts) — completes the outer-join
    // family beyond the reference's left-outer-only surface.
    Gate("q_j6_full_outer", (s, dir) => {
      val rich = t(s, dir, "customer").where(col("c_acctbal") > 9000)
        .select(col("c_custkey"), col("c_acctbal"))
      val busy = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).alias("n_orders"))
        .where(col("n_orders") >= 20)
      rich.join(busy, rich("c_custkey") === busy("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).alias("custkey"),
          col("c_acctbal"), col("n_orders"))
    },
      """SELECT coalesce(c.c_custkey, b.o_custkey) AS custkey,
        |       c.c_acctbal, b.n_orders
        |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000) c
        |FULL OUTER JOIN (
        |  SELECT o_custkey, count(*) AS n_orders FROM orders
        |  GROUP BY o_custkey HAVING count(*) >= 20) b
        |ON c.c_custkey = b.o_custkey""".stripMargin),

    // J7: LEFT ANTI join — customers with no finished ('F') order (the
    // NOT EXISTS dual of the J5 semi-join; completes the join family).
    Gate("q_j7_anti_join", (s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").where(col("o_orderstatus") === "F")
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    },
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin),

    // ── Headline join aggregates (Q3/Q5 shapes; bench workload) ──────────
    // Q3: shipping-priority revenue — two shuffle joins + agg + top-k.
    Gate("q3_order_revenue", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .where(c("c_mktsegment") === "BUILDING" &&
          o("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")) &&
          l("l_shipdate") > to_timestamp(lit("1996-01-01 00:00:00")))
        .groupBy(o("o_orderkey"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast(DoubleType).alias("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
      """SELECT o_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin),

    // Q5: local-supplier volume — broadcast the dim chain, shuffle only
    // the two fact tables.
    Gate("q5_nation_revenue", (s, dir) => {
      val r = t(s, dir, "region").where(col("r_name") === "ASIA")
      val n = t(s, dir, "nation")
      val su = t(s, dir, "supplier")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(n("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast(DoubleType).alias("revenue"))
    },
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin),

    // Skew-salted join: hot keys spread across salt buckets; results must
    // equal the plain join (the oracle IS the plain join).
    Gate("q_skew_salted_join", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      graft.operators.Skew.saltedJoin(
        ev, c.withColumnRenamed("c_custkey", "user_id"), Seq("user_id"),
        saltFactor = 4)
    },
      """SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin),

    // Hierarchical totals: ROLLUP over (year, status) with decimal-exact
    // sums — subtotal/grand-total rows carry SQL-standard nulls.
    Gate("q_a6_rollup", (s, dir) => {
      t(s, dir, "orders")
        .rollup(year(col("o_orderdate")).alias("o_year"),
          col("o_orderstatus"))
        .agg(count(lit(1)).alias("n_orders"),
          sum(dec(col("o_totalprice"))).cast(DoubleType).alias("sum_total"))
    },
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderstatus,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders
        |GROUP BY ROLLUP (1, 2)""".stripMargin),

    // Multi-column distinct aggregation (cardinality accounting).
    Gate("q_a7_count_distinct", (s, dir) => {
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_returnflag")).alias("n_flags"),
        countDistinct(col("l_partkey")).alias("n_parts"),
        countDistinct(col("l_suppkey"), col("l_partkey")).alias("n_supp_part"))
    },
      """SELECT count(DISTINCT l_returnflag) AS n_flags,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT (l_suppkey, l_partkey)) AS n_supp_part
        |FROM lineitem""".stripMargin),

    // A9: max_by/min_by — the argmax aggregation behind the CDC
    // last-write-wins apply (CdcApply), exposed directly.
    Gate("q_a9_max_by", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max_by(col("event_type"), col("event_id")).alias("last_type"),
          min_by(col("event_type"), col("event_id")).alias("first_type"),
          max(col("event_id")).alias("last_txid"))
    },
      """SELECT user_id,
        |  arg_max(event_type, event_id) AS last_type,
        |  arg_min(event_type, event_id) AS first_type,
        |  max(event_id) AS last_txid
        |FROM events GROUP BY user_id""".stripMargin),

    // §2.7 extended string functions over supplier names.
    Gate("q_f_string_funcs", (s, dir) => {
      t(s, dir, "supplier").select(
        col("s_suppkey"),
        upper(col("s_name")).alias("up"),
        lower(col("s_name")).alias("lo"),
        regexp_replace(col("s_name"), "#", "-").alias("dashed"),
        substring(col("s_name"), 1, 8).alias("first8"),
        length(trim(col("s_name"))).alias("trim_len"),
        reverse(col("s_name")).alias("rev"))
    },
      """SELECT s_suppkey,
        |  upper(s_name) AS up, lower(s_name) AS lo,
        |  regexp_replace(s_name, '#', '-', 'g') AS dashed,
        |  substring(s_name, 1, 8) AS first8,
        |  CAST(length(trim(s_name)) AS INT) AS trim_len,
        |  reverse(s_name) AS rev
        |FROM supplier""".stripMargin),

    // Pivot: per-user event counts spread across event-type columns (an
    // explicit value list keeps the schema static and plannable).
    Gate("q_a8_pivot", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("view", "cart", "purchase"))
        .agg(count(lit(1)))
        .select(col("user_id"),
          coalesce(col("view"), lit(0L)).alias("n_view"),
          coalesce(col("cart"), lit(0L)).alias("n_cart"),
          coalesce(col("purchase"), lit(0L)).alias("n_purchase"))
    },
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'view') AS n_view,
        |  count(*) FILTER (event_type = 'cart') AS n_cart,
        |  count(*) FILTER (event_type = 'purchase') AS n_purchase
        |FROM events GROUP BY user_id""".stripMargin),

    // Set operations: INTERSECT / EXCEPT of key sets (beyond the
    // reference's in-memory Set.addAll).
    Gate("q_set_ops", (s, dir) => {
      val withOrders = t(s, dir, "orders").select(col("o_custkey").alias("c_custkey"))
      val richCustomers = t(s, dir, "customer")
        .where(col("c_acctbal") > 5000).select(col("c_custkey"))
      val both = richCustomers.intersect(withOrders)
        .withColumn("set_kind", lit("rich_with_orders"))
      val richOnly = richCustomers.except(withOrders)
        .withColumn("set_kind", lit("rich_no_orders"))
      both.unionByName(richOnly)
    },
      """SELECT c_custkey, 'rich_with_orders' AS set_kind FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |  INTERSECT
        |  SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT c_custkey, 'rich_no_orders' AS set_kind FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |  EXCEPT
        |  SELECT o_custkey FROM orders)""".stripMargin),

    // Exact interpolated percentiles (Spark `percentile` = DuckDB
    // quantile_cont) over the fact table.
    Gate("q_a5_percentile", (s, dir) => {
      t(s, dir, "lineitem").agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90_price"),
        round(expr("percentile(l_discount, 0.25)"), 6).alias("p25_disc"))
    },
      """SELECT round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
        |  round(quantile_cont(l_discount, 0.25), 6) AS p25_disc
        |FROM lineitem""".stripMargin),

    // ── Round-3 operator extensions ───────────────────────────────────────
    // As-of join: every event enriched with the same user's most recent
    // purchase at-or-before it — ONE window shuffle, no range-pair blowup
    // (AsofJoin union-window form; oracle = DuckDB's native ASOF JOIN).
    Gate("q_asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
        // µs since epoch as a sortable long; any monotone transform of ts
        // works (the as-of compare is the only consumer, ts is not output)
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").alias("p_ts_us"),
          col("event_id").alias("purchase_event_id"),
          col("value").alias("purchase_value"))
      AsofJoin.backward(
          ev.select(col("event_id"), col("user_id"), col("ts_us")),
          purchases, Seq("user_id"), "ts_us", "p_ts_us",
          payload = Seq("purchase_event_id", "purchase_value"), outPrefix = "")
        .select(col("event_id"), col("user_id"),
          col("purchase_event_id"), col("purchase_value"))
    },
      // ── Round-3 operator extensions ───────────────────────────────────────
      """SELECT l.event_id, l.user_id,
        |  r.event_id AS purchase_event_id, r.value AS purchase_value
        |FROM events l ASOF LEFT JOIN
        |  (SELECT user_id, ts, event_id, value FROM events
        |   WHERE event_type = 'purchase') r
        |ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin),

    // Range join via binning: events scored against OVERLAPPING value
    // bands — an equi-join on bin id instead of the cartesian a BETWEEN
    // predicate would plan. Bands are a derived 26-row table, broadcast.
    Gate("q_range_binned", (s, dir) => {
      val bands = s.range(26).select(
        col("id").alias("band_id"),
        (col("id") * 20.0).alias("lo"),
        (col("id") * 20.0 + 30.0).alias("hi"))
      RangeJoin.binned(
          t(s, dir, "events").select(col("event_id"), col("value")),
          "value", bands, "lo", "hi", binWidth = 25.0,
          broadcastRanges = true)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).alias("n_events"),
          sum(dec(col("value"))).cast(DoubleType).alias("sum_value"))
    },
      """WITH bands AS (
        |  SELECT i AS band_id, i * 20.0 AS lo, i * 20.0 + 30.0 AS hi
        |  FROM range(26) t(i))
        |SELECT band_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN bands ON value >= lo AND value <= hi
        |GROUP BY band_id""".stripMargin),

    // CUBE: all grouping-set combinations over (year, priority) — the
    // companion to q_a6_rollup completing the grouping-sets family.
    Gate("q_a10_cube", (s, dir) => {
      t(s, dir, "orders")
        .cube(year(col("o_orderdate")).alias("o_year"), col("o_orderpriority"))
        .agg(count(lit(1)).alias("n_orders"),
          sum(dec(col("o_totalprice"))).cast(DoubleType).alias("sum_total"))
    },
      """SELECT year(o_orderdate) AS o_year, o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders
        |GROUP BY CUBE (year(o_orderdate), o_orderpriority)""".stripMargin),

    // Mergeable fixed-bin quantile sketch: the percentile primitive that
    // survives 100 TB (bounded (group, bin) counts + deterministic CDF
    // inversion instead of a per-group value sort). Every output is exact
    // integer/IEEE arithmetic → fully oracle-gated, unlike t-digest/KLL.
    Gate("q_quantile_sketch", (s, dir) => {
      val sk = graft.operators.QuantileSketch.build(
        t(s, dir, "events"), "event_type", "value", width = 10.0)
      graft.operators.QuantileSketch.quantiles(sk, "event_type",
          width = 10.0, qs = Seq(0.5, 0.9, 0.99))
        .select(col("event_type"), col("q"), col("est"))
    },
      // The crossing compare runs CAST(q AS DOUBLE) * total on both engines:
      // a DECIMAL q would make q*total exact where Spark's double 0.2*total
      // is not, and a cum landing exactly on the product would pick
      // different bins (latent r9 finding — never fired, fixed
      // defensively here and in q_quality_gate/q_corpus_card)
      """WITH h AS (
        |  SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bin,
        |         count(*) AS n
        |  FROM events GROUP BY event_type, bin),
        |c AS (
        |  SELECT event_type, bin,
        |    sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |    sum(n) OVER (PARTITION BY event_type) AS total
        |  FROM h),
        |qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
        |SELECT event_type, q, (min(bin) + 1) * 10.0 AS est
        |FROM c JOIN qs ON cum >= CAST(q AS DOUBLE) * total
        |GROUP BY event_type, q""".stripMargin),

    // Exact per-group interpolated quantiles (Spark `percentile` ≡ DuckDB
    // quantile_cont), the grouped companion to q_a5_percentile.
    Gate("q_a11_group_quantiles", (s, dir) => {
      t(s, dir, "events").groupBy(col("event_type")).agg(
        round(expr("percentile(value, 0.25)"), 6).alias("p25"),
        round(expr("percentile(value, 0.5)"), 6).alias("p50"),
        round(expr("percentile(value, 0.75)"), 6).alias("p75"))
    },
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25), 6) AS p25,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.75), 6) AS p75
        |FROM events GROUP BY event_type""".stripMargin),

    // Correlation/covariance per group with DETERMINISTIC floating-point:
    // the five moment sums run in exact DECIMAL (order-independent), and
    // only the final closed-form expressions touch doubles — so the
    // distributed partial aggregation hashes identically to any serial
    // engine, unlike a naive corr() whose double sums vary by plan.
    Gate("q_a12_corr_stats", (s, dir) => {
      val x = dec(col("l_quantity"))
      val y = dec(col("l_extendedprice"))
      val moments = t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        count(lit(1)).alias("n"),
        sum(x).alias("sx"), sum(y).alias("sy"),
        sum(x * y).alias("sxy"),
        sum(x * x).alias("sxx"), sum(y * y).alias("syy"))
      val nD = col("n").cast(DoubleType)
      val (sx, sy, sxy, sxx, syy) =
        (col("sx").cast(DoubleType), col("sy").cast(DoubleType),
          col("sxy").cast(DoubleType), col("sxx").cast(DoubleType),
          col("syy").cast(DoubleType))
      moments.select(col("l_returnflag"), col("n"),
        round((nD * sxy - sx * sy) /
          sqrt((nD * sxx - sx * sx) * (nD * syy - sy * sy)), 6).alias("corr_qty_price"),
        round((sxy - sx * sy / nD) / (nD - 1.0), 6).alias("covar_samp_qty_price"))
    },
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |    AS corr_qty_price,
        |  round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (CAST(n AS DOUBLE) - 1.0), 6) AS covar_samp_qty_price
        |FROM m""".stripMargin),

    // W5: top-k per group — deterministic row_number (price desc, key asc)
    // capped at 3 per order priority.
    Gate("q_w5_topk_per_group", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
          col("o_totalprice"))
    },
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin)
  )
}
