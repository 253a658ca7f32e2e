package graft.streaming

import org.apache.hadoop.fs.Path

/** Consumer-side discovery of newly sealed partitions — the other half
  * of the reference's done-flag contract.
  *
  * A downstream job (e.g. [[IncrementalRollup]]) shouldn't need the
  * sealing process to hand it seal lists: the sink's done markers ARE the
  * publication. `newlySealed` takes the markers stamped at or after a
  * cursor from one glob of the sink's markers and returns the next
  * cursor, so a consumer polls with O(partitions) driver-side listing
  * and never re-processes an hour it has seen — across restarts, if it
  * persists the cursor (a single long).
  *
  * Re-seals count as new: sealing stamps a fresh done marker (its mtime
  * advances), so a backfilled or compacted hour is re-delivered to
  * consumers — exactly what a rollup needs to stay consistent.
  */
object DoneScanner {

  /** @param cursor the first marker mtime (ms) the next scan delivers:
    *               every marker older than it has been delivered */
  final case class Scan(newParts: Seq[(String, String)], cursor: Long)

  /** How far a marker's mtime may trail the moment it was stamped: file
    * systems stamp from a clock that advances once per kernel tick
    * (1-10 ms), so a marker created just after a listing can carry an
    * mtime from before it. Assumes the markers' file system stamps from
    * this host's clock (or one synchronised to within this margin). */
  private val stampSlackMs = 20L

  /** Sealed (dt, hr) whose done marker's mtime is at or after
    * `sinceCursor`, with the next cursor.
    *
    * Marker mtimes have millisecond resolution and trail real time by
    * up to a tick, so a listing cannot tell whether its newest
    * millisecond is complete. The scan sets its horizon one
    * millisecond past the clock at the call, waits `stampSlackMs`, then
    * lists: every marker stamped before the call has an mtime below the
    * horizon and is delivered, and every marker created after the
    * listing began has an mtime at or above it. The next cursor never
    * passes the horizon, so those later markers are delivered by the
    * next scan instead of skipped, and an idle poll returns the same
    * cursor and no hours. */
  def newlySealed(spark: org.apache.spark.sql.SparkSession, sink: HiveBatchSink, sinceCursor: Long = 0L): Scan = {
    // a sink that has never sealed has no table: answer without the wait
    if (!sink.fs.exists(new Path(sink.tablePath))) return Scan(Seq.empty, sinceCursor)
    val horizon = System.currentTimeMillis() + 1
    Thread.sleep(stampSlackMs)
    val marks = sink.markers().filter(_._2 >= sinceCursor)
    if (marks.isEmpty) return Scan(Seq.empty, sinceCursor)
    val next = math.max(sinceCursor, math.min(horizon, marks.map(_._2).max + 1))
    Scan(marks.collect { case (p, m) if m < next => p }.sorted, next)
  }
}
