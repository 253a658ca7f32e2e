package graft.streaming

import org.apache.spark.sql.SparkSession
import HiveBatchSink.{dayPath, hourFiles, hours}

/** Partition retention / TTL — the lifecycle rule every time-partitioned
  * Hive warehouse runs: drop sealed `dt` partitions older than the
  * retention horizon, atomically per day-directory.
  *
  * Discovery is a DRIVER LISTING only (O(partitions), no data read, no
  * job) because the partition key
  * IS the age: `dt=yyyyMMdd` compares lexicographically. The audit
  * reports file counts/bytes from the same listing. With `changeLog`,
  * the expiring rows are captured to the CDC feed (op=`expire`, in the
  * same columns as [[TableMaintenance]]'s delete and insert rows) BEFORE
  * deletion — one pruned scan of exactly the expiring slices — so
  * downstream mirrors retire the same rows instead of re-diffing.
  * Re-running with the same cutoff is a no-op (the dirs are gone), and
  * a re-run of the same changeId overwrites its own feed slice, so the
  * whole operation is idempotent like every other sink write.
  */
object Retention {

  final case class ExpiredPartition(dt: String, hr: String, files: Int, bytes: Long)

  /** Expire every sealed partition with `dt < cutoffDt` (exclusive —
    * the cutoff day itself is kept). Returns the per-hour audit of what
    * was removed, empty when nothing is old enough. */
  def expirePartitions(
      spark: SparkSession,
      sink: HiveBatchSink,
      cutoffDt: String,
      changeLog: Option[(String, Long)] = None): Seq[ExpiredPartition] = {
    val fs = sink.fs
    val expired = hours(fs, sink.tablePath).filter(_._1 < cutoffDt)
    if (expired.isEmpty) return Seq.empty
    val audit = expired.map { case part @ (dt, hr) =>
      val (files, bytes) = hourFiles(fs, sink.tablePath, part)
      ExpiredPartition(dt, hr, files, bytes)
    }
    changeLog.foreach { case (path, changeId) =>
      TableMaintenance.recordChanges(path, changeId, sink.readHours(sink.tablePath, expired), "expire")
    }
    expired.map(_._1).distinct.foreach(dt => fs.delete(dayPath(sink.tablePath, dt), true))
    spark.catalog.refreshByPath(sink.tablePath)
    audit
  }
}
