package graft

import graft.sources.{OffsetLog, OffsetLogSourceProvider, Tables}
import graft.streaming.SinkMonitor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** offset_log_lag_report: a running engine-owned stream reports how far
  * it is behind the bus through [[SinkMonitor]] — the offset-log source
  * puts `lagRows` (head − batch end, summed over partitions) in every
  * progress event, and the monitor sums it over the query's sources. */
class SinkMonitorLagSpec extends SparkSpec {
  private val P = 4
  private val fmt = classOf[OffsetLogSourceProvider].getName

  private def capped(root: String, cap: Long): DataFrame =
    spark.readStream.format(fmt)
      .option("path", root)
      .option("numPartitions", P.toString)
      .option("maxRowsPerTrigger", cap.toString)
      .load()

  /** Drains `stream` with AvailableNow and returns the monitor's records
    * of the query's data batches, in batch order. Listener events arrive
    * asynchronously, so it waits until the monitor holds every batch the
    * query reported. */
  private def drainMonitored(name: String, stream: DataFrame): Seq[SinkMonitor#BatchProgress] = {
    val mon = new SinkMonitor().attach(spark)
    try {
      val q = stream.writeStream
        .queryName(name)
        .option("checkpointLocation", Files.createTempDirectory(s"graft-$name-ck").toString)
        .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(180000)
      val reported = q.recentProgress.length
      var waited = 0
      while (mon.progress.count(_.queryName == name) < reported && waited < 100) {
        Thread.sleep(100); waited += 1
      }
      mon.progress.filter(b => b.queryName == name && b.numInputRows > 0).sortBy(_.batchId)
    } finally mon.detach(spark)
  }

  /** Every batch's lag is exactly the rows not yet consumed: the head
    * (`total`, nothing appended during the drain) minus the rows of this
    * batch and every earlier one. */
  private def assertExactLag(batches: Seq[SinkMonitor#BatchProgress], total: Long): Unit = {
    val consumed = batches.scanLeft(0L)(_ + _.numInputRows).tail
    assert(consumed.last == total, s"the drain must read every appended row: ${consumed.last} != $total")
    batches.zip(consumed).foreach { case (b, c) =>
      assert(b.lagRows.contains(total - c), s"batch ${b.batchId}: lag ${b.lagRows}, expected ${total - c}")
    }
  }

  test("a backlogged admission-controlled stream exposes shrinking lag through the monitor") {
    val logRoot = Files.createTempDirectory("graft-lagmon-log").toString
    val events = Tables(spark, sfDir).events
    val n = events.count()
    OffsetLog.append(spark, logRoot, events, "user_id", P)
    val cap = math.max(1L, n / 5)

    val batches = drainMonitored("lag_one_log", capped(logRoot, cap))
    assert(batches.length >= 3, s"a $n-row backlog at cap=$cap must drain in several batches: $batches")
    val lags = batches.map(_.lagRows.getOrElse(-1L))
    assert(lags.exists(_ > 0), s"a capped drain must be observed mid-backlog: $lags")
    assert(lags.sliding(2).forall { case Seq(a, b) => b <= a; case _ => true },
      s"lag must never rise from batch to batch: $lags")
    assert(lags.last == 0L, s"the final batch of the drain must report lag 0: $lags")
    assertExactLag(batches, n)
  }

  test("a union of two logs reports the sum of both logs' lag") {
    val events = Tables(spark, sfDir).events
    val (a, b) = (Files.createTempDirectory("graft-lagmon-a").toString,
      Files.createTempDirectory("graft-lagmon-b").toString)
    OffsetLog.append(spark, a, events.filter(col("event_id") % 2 === 0), "user_id", P)
    OffsetLog.append(spark, b, events.filter(col("event_id") % 2 =!= 0), "user_id", P)
    val n = events.count()
    val cap = math.max(1L, n / 8)
    val union = capped(a, cap).unionByName(capped(b, cap))

    val batches = drainMonitored("lag_two_logs", union)
    assert(batches.length >= 3, s"a capped union must drain in several batches: $batches")
    // after the first batch each log still owes rows, so the sum exceeds either log's share
    assert(batches.head.lagRows.exists(_ > n / 2), s"first batch lag ${batches.head.lagRows} of $n")
    assert(batches.last.lagRows.contains(0L))
    assertExactLag(batches, n)
  }
}
