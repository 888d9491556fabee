package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-gated query: `run` builds the Spark result over a scale-
  * factor directory, and `oracleSql` is DuckDB-dialect SQL over the same
  * parquet tables that must produce identical column names and values.
  * Declaring the two together is what keeps them paired: a gate cannot
  * exist without its oracle.
  */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** One family of gates, declared in one object. */
trait GateFamily {
  def gates: Seq[Gate]
}
