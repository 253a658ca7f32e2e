package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten erasure — one predicate swept across EVERY
  * surface the sink persists rows to: the sealed table (via
  * [[TableMaintenance.deleteWhere]], partition-scoped + CDC-capturing),
  * the staging area (not yet sealed — a crash-replay would otherwise
  * resurrect the rows into a future seal), and the quarantine (rejected
  * rows are still personal data). A GDPR request that only rewrites the
  * sealed table is not an erasure.
  *
  * Scale shape: each surface pays only for its AFFECTED partitions —
  * matched-partition discovery is one pruned aggregate, survivors
  * rewrite with dynamic partition overwrite, emptied directories are
  * removed (dynamic overwrite cannot express "now empty"). The offset
  * LOG is a WAL and is deliberately NOT rewritten: erasure there is
  * completed when its segments are removed from the log, which happens
  * outside the library — the log is transient transport, the table is
  * the system of record. Idempotent: a second sweep matches nothing. */
object Erasure {

  final case class SurfaceReport(removed: Long, partitionsRewritten: Int, partitionsDropped: Int)
  final case class ErasureReport(
      sealedTable: TableMaintenance.MaintenanceStats,
      staging: SurfaceReport,
      quarantine: SurfaceReport)

  def forgetWhere(
      spark: SparkSession,
      sink: HiveBatchSink,
      predicate: Column,
      changeLog: Option[(String, Long)] = None): ErasureReport = {
    // a sink that has never sealed has no table directory — the sweep
    // must still cover staging/quarantine, not throw on the read
    val sealedStats =
      if (sink.fs.exists(new Path(sink.tablePath)))
        TableMaintenance.deleteWhere(spark, sink, predicate, changeLog)
      else TableMaintenance.MaintenanceStats(Seq.empty, 0L, 0L)
    val staging = sweepDir(spark, sink, sink.stagingPath, Seq("dt", "hr", "ingest_batch"), predicate)
    val quarantine = sweepDir(spark, sink, sink.quarantinePath, Seq("ingest_batch"), predicate)
    ErasureReport(sealedStats, staging, quarantine)
  }

  /** Partition-scoped predicate delete on one parquet directory laid
    * out by `partCols` ([[TableMaintenance.deletePartitions]]): affected
    * partitions with survivors rewrite via dynamic overwrite, emptied
    * ones lose their directories. Rows where the predicate is NULL are
    * kept (DELETE semantics, same as the sealed path). */
  private def sweepDir(
      spark: SparkSession,
      sink: HiveBatchSink,
      path: String,
      partCols: Seq[String],
      predicate: Column): SurfaceReport = {
    if (!sink.fs.exists(new Path(path))) return SurfaceReport(0L, 0, 0)
    // staging's hour keys as written: partition inference reads `hr=09` as 9
    val raw = spark.read.parquet(path)
    val df = if (partCols.contains("hr")) HiveBatchSink.withDirKeys(raw) else raw
    val hit = coalesce(predicate, lit(false))
    val sep = "\u0001" // never appears in dt/hr/ingest_batch values
    val pkey = concat_ws(sep, partCols.map(c => col(c).cast("string")): _*)
    TableMaintenance.deletePartitions(sink.fs, path, df, partCols, hit) { m =>
      if (m.kept.nonEmpty)
        df.filter(pkey.isInCollection(m.kept.map(_.mkString(sep))))
          .filter(!hit)
          .write
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .partitionBy(partCols: _*)
          .parquet(path)
    }.fold(SurfaceReport(0L, 0, 0)) { case (m, _) =>
      SurfaceReport(removed = m.rows, partitionsRewritten = m.kept.size, partitionsDropped = m.emptied.size)
    }
  }
}
