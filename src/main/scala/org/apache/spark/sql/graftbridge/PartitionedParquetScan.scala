package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileScanRDD, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A parquet scan whose input partitions are caller-chosen file lists and
  * whose rows are DECLARED hash-partitioned by `clusteredBy` over
  * `partitions.size` partitions — the layout of a bucketed table, built
  * without a catalog or a session conf. The declaration is the caller's
  * promise: every row of partition `i` has
  * `pmod(hash(clusteredBy...), partitions.size) == i`, which is Spark's own
  * `HashPartitioning.partitionIdExpression`. Given it, an aggregate or
  * join keyed by those columns plans no exchange. A one-partition scan
  * declares `SinglePartition`, which every clustering accepts.
  *
  * Each file is read whole in its partition; its partition-column values
  * are per-file constants appended to every row it yields. Columns of
  * `dataSchema` a file lacks read as null (additive schema evolution).
  * The plan reports `sizeInBytes` as the files' byte total — what a
  * parquet relation over the same files reports — so join planning
  * (broadcast or not) sees the size it would see for a plain read.
  *
  * Lives under `org.apache.spark.sql` solely for access to the
  * `private[sql]` `Dataset.ofRows`; no Spark internals are modified.
  */
object PartitionedParquetScan {
  /** One file of a partition: its path, byte length, and the values of the
    * partition columns (in `partitionSchema` order) for its rows.
    */
  final case class ScanFile(path: String, length: Long, partitionValues: Seq[Any])

  def apply(spark: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, partitions: IndexedSeq[Seq[ScanFile]],
      clusteredBy: Seq[String]): DataFrame = {
    require(partitions.nonEmpty, "a scan needs at least one partition")
    val session = spark.asInstanceOf[classic.SparkSession]
    val readFile = new ParquetFileFormat().buildReaderWithPartitionValues(
      session, dataSchema, partitionSchema, dataSchema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      session.sessionState.newHadoopConf())
    val filePartitions = partitions.zipWithIndex.map { case (files, i) =>
      FilePartition(i, files.map { f =>
        PartitionedFile(
          InternalRow.fromSeq(
            f.partitionValues.map(CatalystTypeConverters.convertToCatalyst)),
          SparkPath.fromPath(new Path(f.path)), 0L, f.length,
          Array.empty[String], 0L, f.length, Map.empty[String, Any])
      }.toArray)
    }
    val readSchema = StructType(dataSchema.fields ++ partitionSchema.fields)
    val rdd = new FileScanRDD(session, readFile, filePartitions, readSchema,
      Nil, Map.empty, new FileSourceOptions(Map.empty[String, String]))
    val output = DataTypeUtils.toAttributes(readSchema)
    val resolver = session.sessionState.conf.resolver
    val partitioning =
      if (partitions.size == 1) SinglePartition
      else HashPartitioning(clusteredBy.map(c => output.find(a =>
        resolver(a.name, c)).getOrElse(throw new IllegalArgumentException(
          s"clustering column $c is not in the scan schema"))), partitions.size)
    val stats = Statistics(sizeInBytes = BigInt(partitions.flatten.map(_.length).sum))
    classic.Dataset.ofRows(session, LogicalRDD(output, rdd, partitioning,
      Nil, isStreaming = false)(session, Some(stats)))
  }
}
