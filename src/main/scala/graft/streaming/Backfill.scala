package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import HiveBatchSink.{dayPath, hours, withHourKeys}

/** Backfill coordinator: reprocess sealed days through the SAME sink
  * path the live stream uses.
  *
  * The reference's operational reality — a bad parser release, a
  * late-arriving upstream dump — means "replay day X" has to be a
  * first-class operation, not a hand-run script against internals. The
  * coordinator replays corrected source events for whole days:
  *
  *   1. UNSEAL: drop the done markers of the target days. Consumers
  *      that honor the marker (the reference's done-flag contract) stop
  *      reading those hours for the duration of the rewrite instead of
  *      seeing a torn mix of old and new files.
  *   2. CLEAR STAGING for the target days: a stale half-staged batch
  *      from the original run must not merge into the corrected data.
  *   3. RE-STAGE through [[HiveBatchSink.writeBatch]] itself — identical
  *      partitioning, rolling, observe() counters, and (dt, hr,
  *      ingest_batch) idempotency as live ingest; a retried backfill
  *      run dynamically overwrites exactly its own files.
  *   4. RE-SEAL every staged hour of the target days in one
  *      [[Compaction.sealPartitions]] call — a rename or a dynamic
  *      partition overwrite replaces each sealed hour whole and
  *      re-stamps its done marker. The watermark is ignored: the day is
  *      historical, every hour of it is closed by definition.
  *   5. PRUNE hours the corrected data no longer contains (every event
  *      of that hour was corrupt or upstream retracted it) — dynamic
  *      overwrite only touches partitions present in the new data, so
  *      stale hours must be deleted explicitly or ghost rows survive.
  *
  * Days NOT in `dts` are never touched — corrected input is filtered to
  * the requested days, so a fat replay dump can't clobber a neighbouring
  * sealed day. At 100 TB the whole replay is at most two jobs (stage +
  * seal) regardless of how many hours the days span.
  */
object Backfill {

  /** Replay `corrected` into the sink for days `dts` (yyyyMMdd strings).
    * Idempotent for a fixed `runId`. Returns the re-sealed (dt, hr)
    * partitions. */
  def reprocess(
      sink: HiveBatchSink,
      corrected: DataFrame,
      dts: Seq[String],
      runId: Long): Seq[(String, String)] = {
    require(dts.nonEmpty, "backfill needs at least one day")
    val spark = corrected.sparkSession

    // 1. unseal: readers honoring the done marker stop consuming mid-rewrite
    val priorHours = hours(sink.fs, sink.tablePath, dts)
    sink.unseal(priorHours)

    // 2. stale staging for the target days must not merge into the seal
    dts.foreach(dt => sink.fs.delete(dayPath(sink.stagingPath, dt), true))

    // 3. re-stage through the live-ingest path (same layout/counters/
    //    idempotency); restrict to the requested days
    val scoped = withHourKeys(corrected).filter(col("dt").isin(dts: _*)).drop("dt", "hr")
    sink.writeBatch(scoped, batchId = runId)

    // 4. one seal for every hour the corrected data produced
    val restaged = hours(sink.fs, sink.stagingPath, dts)
    Compaction.sealPartitions(spark, sink, restaged)

    // 5. hours that existed before but got no corrected rows: remove,
    //    or their old files would silently survive the replay
    sink.dropHours(sink.tablePath, priorHours.diff(restaged))
    spark.catalog.refreshByPath(sink.tablePath)
    restaged
  }
}
