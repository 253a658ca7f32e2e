package graft

import graft.streaming.{Backfill, DoneScanner, HiveBatchSink, IncrementalRollup, Retention, TableMaintenance}
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.net.URI
import java.nio.file.Files

/** A local file system on which a `_DONE` marker vanishes right after
  * `exists` reports it: the window in which a concurrent backfill unseal
  * or maintenance rewrite removes a marker that a scan has just seen. */
class VanishingMarkerFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("vanishing:///")
  override def exists(p: Path): Boolean = {
    val found = super.exists(p)
    if (found && p.getName == "_DONE") super.delete(p, false)
    found
  }
}

/** The sealed layout's readers and its done markers: what the rollup
  * oracle, the change feed and the marker scan see of it. */
class SealLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-layout").toString
  private val far = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")

  private def events(rows: (Long, String, Long)*): DataFrame =
    rows.toDF("event_id", "ts_s", "user_id")
      .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"), col("user_id"))

  private def fs(root: String) = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hourlyCounts(sink: HiveBatchSink, root: String) =
    new IncrementalRollup(spark, sink, s"$root/rollup", _.groupBy("dt", "hr").agg(count(lit(1)).as("n")))

  test("rollup full recompute on a sink that never sealed is empty, not an error") {
    val root = tmp()
    val sink = new HiveBatchSink(spark, root)
    assert(hourlyCounts(sink, root).fullRecompute() == 0L)
    assert(sink.closedPartitions(far).isEmpty)
    assert(DoneScanner.newlySealed(spark, sink).newParts.isEmpty)
  }

  test("rollup full recompute covers exactly the marked hours") {
    val root = tmp()
    val sink = new HiveBatchSink(spark, root)
    sink.writeBatch(events(
      (1L, "2026-01-01T00:10:00Z", 7L), (2L, "2026-01-01T00:20:00Z", 8L),
      (3L, "2026-01-01T01:10:00Z", 9L)), batchId = 0)
    sink.sealClosed(far)
    // hour 01 is mid-rewrite (a backfill unsealed it): not sealed, so
    // the oracle must not count it
    fs(root).delete(new Path(sink.tablePath, "dt=20260101/hr=01/_DONE"), false)
    val rollup = hourlyCounts(sink, root)
    assert(rollup.fullRecompute() == 1L)
    val got = rollup.read().select(col("hr").cast("int"), col("n")).as[(Int, Long)].collect().toSeq
    assert(got == Seq((0, 2L)), s"got $got")
  }

  test("change feed: expire rows carry the same string dt/hr as delete rows") {
    val root = tmp(); val cl = tmp() + "/changes"
    val sink = new HiveBatchSink(spark, root)
    sink.writeBatch(events(
      (1L, "2026-01-01T00:10:00Z", 7L), (2L, "2026-01-01T09:20:00Z", 8L),
      (3L, "2026-01-02T05:10:00Z", 9L), (4L, "2026-01-02T05:40:00Z", 5L)), batchId = 0)
    sink.sealClosed(far)
    TableMaintenance.deleteWhere(spark, sink, col("user_id") === 9L, changeLog = Some((cl, 1L)))
    Retention.expirePartitions(spark, sink, "20260102", changeLog = Some((cl, 2L)))
    val feed = spark.read.option("mergeSchema", "true").parquet(cl)
      .select(col("event_id"), col("dt"), col("hr"), col("op"))
      .as[(Long, String, String, String)].collect().toSet
    assert(feed == Set(
      (3L, "20260102", "05", "delete"),
      (1L, "20260101", "00", "expire"), (2L, "20260101", "09", "expire")), s"got $feed")
  }

  test("done-scanner: a marker removed between listing and stat does not fail the poll") {
    val root = tmp()
    val sink = new HiveBatchSink(spark, root)
    sink.writeBatch(events((1L, "2026-01-01T00:10:00Z", 7L), (2L, "2026-01-01T01:10:00Z", 8L)), batchId = 0)
    sink.sealClosed(far)
    spark.sparkContext.hadoopConfiguration.set("fs.vanishing.impl", classOf[VanishingMarkerFs].getName)
    val racy = new HiveBatchSink(spark, s"vanishing://$root")
    val scan = DoneScanner.newlySealed(spark, racy)
    assert(scan.newParts.toSet.subsetOf(Set(("20260101", "00"), ("20260101", "01"))), s"got $scan")
  }

  test("backfill over two days reseals exactly those days' hours") {
    val root = tmp()
    val sink = new HiveBatchSink(spark, root)
    sink.writeBatch(events(
      (1L, "2026-01-01T00:10:00Z", 7L), (2L, "2026-01-02T03:10:00Z", 8L),
      (3L, "2026-01-03T04:10:00Z", 9L)), batchId = 0)
    sink.sealClosed(far)
    val corrected = events(
      (1L, "2026-01-01T02:10:00Z", 7L), (2L, "2026-01-02T03:10:00Z", 80L),
      (3L, "2026-01-03T04:10:00Z", 90L))
    val resealed = Backfill.reprocess(sink, corrected, Seq("20260102", "20260101"), runId = 5)
    assert(resealed == Seq(("20260101", "02"), ("20260102", "03")), s"got $resealed")
    assert(!fs(root).exists(new Path(sink.tablePath, "dt=20260101/hr=00")), "retracted hour survived")
    val users = sink.readTable().select("event_id", "user_id").as[(Long, Long)].collect().toMap
    assert(users == Map(1L -> 7L, 2L -> 80L, 3L -> 9L), s"got $users")
    assert(Seq(("20260101", "02"), ("20260102", "03"), ("20260103", "04")).forall { case (d, h) => sink.isSealed(d, h) })
  }
}
