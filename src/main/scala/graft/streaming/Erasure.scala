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
  * completed by retention ([[Retention]] ages segments out), which is
  * the standard posture — the log is transient transport, the table is
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
    val tableFs = new Path(sink.tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sealedStats =
      if (tableFs.exists(new Path(sink.tablePath)))
        TableMaintenance.deleteWhere(spark, sink, predicate, changeLog)
      else TableMaintenance.MaintenanceStats(Seq.empty, 0L, 0L)
    val staging = sweepDir(spark, sink.stagingPath, Seq("dt", "hr", "ingest_batch"), predicate)
    val quarantine = sweepDir(spark, sink.quarantinePath, Seq("ingest_batch"), predicate)
    ErasureReport(sealedStats, staging, quarantine)
  }

  /** Partition-scoped predicate delete on one parquet directory laid
    * out by `partCols`. Affected partitions with survivors rewrite via
    * dynamic overwrite; fully-matched partitions have their directories
    * removed. Rows where the predicate is NULL are kept (DELETE
    * semantics, same as the sealed path). */
  private def sweepDir(
      spark: SparkSession,
      path: String,
      partCols: Seq[String],
      predicate: Column): SurfaceReport = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) return SurfaceReport(0L, 0, 0)
    // staging's hour keys as written: partition inference reads `hr=09` as 9
    val raw = spark.read.parquet(path)
    val df = if (partCols.contains("hr")) HiveBatchSink.withDirKeys(raw) else raw
    val hit = coalesce(predicate, lit(false))
    val sep = "\u0001" // never appears in dt/hr/ingest_batch values
    val pkey = concat_ws(sep, partCols.map(c => col(c).cast("string")): _*)
    val counts: Map[Seq[String], (Long, Long)] = df
      .groupBy(partCols.map(col): _*)
      .agg(count(when(hit, lit(1))).as("matched"), count(lit(1)).as("total"))
      .filter(col("matched") > 0)
      .collect()
      .map(r => partCols.map(c => String.valueOf(r.getAs[Any](c)))
        -> (r.getAs[Long]("matched"), r.getAs[Long]("total")))
      .toMap
    if (counts.isEmpty) return SurfaceReport(0L, 0, 0)
    val emptied = counts.filter { case (_, (m, t)) => m == t }.keySet
    val toRewrite = counts.keySet -- emptied
    if (toRewrite.nonEmpty) {
      df.filter(pkey.isInCollection(toRewrite.toSeq.map(_.mkString(sep))))
        .filter(!hit)
        .write
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy(partCols: _*)
        .parquet(path)
    }
    emptied.foreach { values =>
      val dir = new Path(path, partCols.zip(values).map { case (c, v) => s"$c=$v" }.mkString("/"))
      fs.delete(dir, true)
      // an hour (and a day) left with no batch goes too: a seal would
      // otherwise find the empty hour and publish it
      Iterator.iterate(dir.getParent)(_.getParent).take(partCols.size - 1)
        .takeWhile(fs.listStatus(_).isEmpty).foreach(fs.delete(_, false))
    }
    SurfaceReport(
      removed = counts.values.map(_._1).sum,
      partitionsRewritten = toRewrite.size,
      partitionsDropped = emptied.size)
  }
}
