package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.operators.Dedup

/** Measures the shuffle-byte claim behind the r16 exact-dedup change
  * (`Test/runMain graft.tools.DedupShuffleProbe`): grouping by the raw
  * document text ships every distinct document's bytes through the
  * shuffle as the KEY; grouping by a map-side md5 ships 16 hash bytes
  * (+id) per row. This runs both shapes over the sf0.1 documents corpus
  * and prints actual shuffle-bytes-written per job from a stage listener
  * — the number SCALING §26 records.
  */
object DedupShuffleProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // isolate the map→reduce byte volume: AQE would coalesce partitions
      // but not change bytes; left on, matching the engine defaults
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val shuffleBytes = new LongAdder
    val shuffleRecords = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        shuffleBytes.add(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        shuffleRecords.add(s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
    })

    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text"))

    def measure(label: String)(df: => DataFrame): Unit = {
      shuffleBytes.reset(); shuffleRecords.reset()
      val t0 = System.nanoTime()
      val n = df.count()
      // listener events are async: drain the bus before reading the adders
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      println(f"$label: rows=$n shuffle_bytes=${shuffleBytes.sum()}%,d " +
        f"shuffle_records=${shuffleRecords.sum()}%,d " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    // the pre-r16 shape: raw text as the grouping key
    measure("groupBy(text) [pre-r16]") {
      docs.groupBy(col("text"))
        .agg(min(col("doc_id")).alias("keep_id"),
          count(lit(1)).alias("n_copies"))
        .select(md5(col("text").cast(BinaryType)).alias("content_hash"),
          col("keep_id"), col("n_copies"))
    }

    // the shipped operator: md5 computed map-side, 16-byte shuffle key
    measure("Dedup.exact (md5 key) [r16]") {
      Dedup.exact(docs, "doc_id", "text")
    }

    spark.stop()
  }
}
