package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of a downstream aggregate table — the
  * consumer side of the reference's done-flag contract.
  *
  * The whole point of partition-done marking is that downstream batch
  * jobs can recompute ONLY what just closed. This operator maintains an
  * hourly rollup table beside the sealed event table: when hours seal,
  * it re-aggregates exactly those (dt, hr) slices and dynamic-overwrites
  * the matching partitions of the rollup table. Cost is proportional to
  * the newly sealed data, never the table's history — the difference
  * between an O(day) and an O(lifetime) daily pipeline at 100 TB.
  *
  * The aggregation must be partition-local (grouped within one (dt, hr))
  * for per-partition overwrite to equal a full recompute — the natural
  * shape for hourly rollups. `update` is idempotent: re-running for the
  * same partitions overwrites the same rollup slices.
  */
final class IncrementalRollup(
    spark: SparkSession,
    sink: HiveBatchSink,
    val rollupPath: String,
    aggregate: DataFrame => DataFrame) {

  /** Recompute the rollup slices for `newlySealed` only. Returns rollup
    * rows written. The input slice keeps its dt/hr STRING keys; the
    * aggregate sees exactly one sealed hour's rows per (dt, hr) group. */
  def update(newlySealed: Seq[(String, String)]): Long = {
    if (newlySealed.isEmpty) return 0L
    val obs = org.apache.spark.sql.Observation()
    aggregate(sink.readHours(sink.tablePath, newlySealed))
      .observe(obs, count(lit(1)).as("rows"))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("dt", "hr")
      .parquet(rollupPath)
    spark.catalog.refreshByPath(rollupPath)
    obs.get("rows").asInstanceOf[Long]
  }

  /** The full consumer loop: discover newly sealed hours from the
    * done markers ([[DoneScanner]]) and fold them in. Persist the
    * returned cursor (one long) and the rollup stays exactly-once across
    * restarts, with re-sealed hours (backfill/compaction) re-delivered
    * and overwritten idempotently. */
  def syncFromMarkers(sinceCursor: Long = 0L): DoneScanner.Scan = {
    val scan = DoneScanner.newlySealed(spark, sink, sinceCursor)
    update(scan.newParts)
    scan
  }

  /** Full recompute over every sealed partition, i.e. every hour with
    * a done marker (the equivalence oracle for the marker-driven
    * path, and the bootstrap for a new rollup). An hour being rewritten
    * by a backfill is unmarked and left out. */
  def fullRecompute(): Long = update(sink.markers().map(_._1))

  def read(): DataFrame = spark.read.parquet(rollupPath)
}
