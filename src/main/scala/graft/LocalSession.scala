package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession the `Bench` and `Verify` mains run in. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`: unset means `default`; anything but an integer
    * >= 1 is rejected, naming the variable and the value.
    */
  private[graft] def parseCpus(raw: Option[String], default: Int): Int =
    raw.map { v =>
      v.trim.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$v'"))
    }.getOrElse(default)

  /** A session on `SPARK_GRAFT_CPUS` local cores (`defaultCpus` when
    * unset) with one shuffle partition per core, UTC session time, no UI
    * and WARN logging.
    */
  def start(defaultCpus: Int): SparkSession = {
    val cpus = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // kept for pre-r9 testdata where events.ts was TIMESTAMP(NANOS)
      // (Spark 4 rejects nanos by default); inert on the current µs data
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
