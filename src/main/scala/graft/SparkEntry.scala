package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates._

/** The gate registry. Each gate implements one operator from SURVEY.md §2
  * and is declared, with its DuckDB oracle SQL, in one family object under
  * [[graft.gates]]. `queries` and `oracleSql` are two views of the same
  * gate list, so every query has exactly one oracle by construction.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: the CDC delta
    * fold (SURVEY.md §3.1 / §7.1) on the events change feed vs. the customer
    * master table.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_cdc_delta_fold")(spark, "/root/testdata/sf0.001")

  /** A Map silently collapses duplicate keys (last wins) — a colliding
    * gate name would quietly shadow an existing gate and its oracle. The
    * registry is built through this guard so a collision fails the first
    * thing that touches it (caught live in r12: a new chunking gate landed
    * on an existing name and dead-lettered itself).
    */
  private[graft] def byName(families: Seq[GateFamily]): Map[String, Gate] = {
    val all = families.flatMap(_.gates)
    val dups = all.groupBy(_.name).filter(_._2.sizeIs > 1).keys
    require(dups.isEmpty,
      s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    all.map(g => g.name -> g).toMap
  }

  private lazy val registry: Map[String, Gate] = byName(Seq(CdcGates,
    RelationalGates, StoreGates, ManifestGates, AnnGates, TokenizerGates,
    DedupGates, TextGates, CurationGates, MediaGates, StreamGates))

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, g) => name -> g.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  lazy val oracleSql: Map[String, String] =
    registry.map { case (name, g) => name -> g.oracleSql }
}
