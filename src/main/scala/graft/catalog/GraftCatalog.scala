package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.types.HanaTypes

/** The control-plane glue of §3.3: turn a directory of JSON table mappings
  * into queryable views. Each mapping's projection (arbitrary SQL
  * expression per column, aliased) is applied to its master table and
  * registered under the mapping's sanitized name — the Spark analog of the
  * reference's `createSchema`/schema-directory step
  * (`S4HanaProducer.java:201-214`).
  */
object GraftCatalog {

  /** Register every mapping as a temp view. `masters` resolves a mapping's
    * master-table name to its DataFrame (e.g. a parquet load or an
    * [[graft.streaming.ManifestUpsertStore]] snapshot).
    */
  def register(spark: SparkSession, mappings: Seq[TableMapping],
      masters: String => DataFrame): Seq[String] =
    mappings.map { m =>
      val viewName = HanaTypes.sanitizeName(m.name)
      m.project(masters(m.mastertable)).createOrReplaceTempView(viewName)
      viewName
    }

  /** Load all mappings from a directory store and register them. */
  def registerFromDir(spark: SparkSession, dir: java.io.File,
      masters: String => DataFrame): Seq[String] =
    register(spark,
      TableMapping.listMappings(dir).map(TableMapping.read(dir, _)), masters)
}
