package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import HiveBatchSink.{hourFiles, hours}

/** Partition sealing: the reference's "batch load into Hive" step.
  *
  * A closed staging partition (`staging/dt=…/hr=…`, one subdir per
  * micro-batch) is rewritten as `targetFiles` plain parquet files in the
  * final table (`table/dt=…/hr=…`), the hour's done marker is stamped,
  * and the staging partition is deleted. Dynamic partition overwrite
  * keeps the rewrite atomic-per-partition and idempotent; partitions
  * seal independently, so the step parallelizes trivially across a
  * cluster.
  */
object Compaction {

  /** File count for a partition: size-based (like the reference's rolled
    * file sizing), at least 1. */
  def targetFileCount(partitionBytes: Long, targetFileBytes: Long = 128L << 20): Int =
    math.max(1, math.ceil(partitionBytes.toDouble / targetFileBytes).toInt)

  def sealPartition(spark: SparkSession, sink: HiveBatchSink, dt: String, hr: String, targetFiles: Int = 1): Unit =
    sealPartitions(spark, sink, Seq((dt, hr)), targetFiles)

  /** Seal many closed partitions in ONE Spark job: read exactly the
    * staging partition dirs (no full-table listing), shuffle once on
    * (dt, hr) so each partition lands as ~targetFiles files,
    * dynamic-overwrite into the final table, then stamp the sink's
    * markers and drop the staging dirs. O(1) jobs per micro-batch
    * regardless of how many partitions close — the
    * difference between O(partitions) job launches and a single shuffle
    * at cluster scale. The sealed format follows `sink.sealFormat`:
    * parquet/ORC columnar, or the reference's delimited text lines. */
  def sealPartitions(spark: SparkSession, sink: HiveBatchSink, parts: Seq[(String, String)], targetFiles: Int = 1): Unit = {
    if (parts.isEmpty) return
    val staged = sink.readHours(sink.stagingPath, parts)
    val toSeal =
      if (sink.sealFormat == "text")
        // the reference's Hive load shape: delimited event lines
        staged.select(EventParser.lineColumn().as("value"), col("dt"), col("hr"))
      else staged
    toSeal
      .repartition(col("dt"), col("hr"))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("dt", "hr")
      .format(sink.sealFormat)
      .save(sink.tablePath)
    sink.markSealed(parts)
    sink.dropHours(sink.stagingPath, parts)
    spark.catalog.refreshByPath(sink.stagingPath)
    spark.catalog.refreshByPath(sink.tablePath)
  }

  /** Which sealed partitions are worth rewriting — planned from file
    * STATS (a driver-side listing, no data read): a partition whose
    * data-file count exceeds what size-based rolling would produce by
    * `slack`× is fragmented (many small files → many scan tasks + footer
    * overhead downstream) and gets picked. Late data trickling into a
    * re-opened hour is the usual cause. Run periodically; feed the
    * result straight back into [[sealPartitions]]. */
  def planCompaction(
      spark: SparkSession,
      tablePath: String,
      targetFileBytes: Long = 128L << 20,
      slack: Double = 2.0): Seq[(String, String)] = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    hours(fs, tablePath).filter { part =>
      val (nFiles, bytes) = hourFiles(fs, tablePath, part)
      nFiles > math.max(1, slack * targetFileCount(bytes, targetFileBytes))
    }
  }
}
