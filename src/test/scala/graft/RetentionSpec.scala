package graft

import graft.sources.Tables
import graft.streaming.{HiveBatchSink, Retention}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Partition TTL expiry and snapshot diff — the lifecycle tail of the
  * sealed warehouse: old days age out atomically (with an optional CDC
  * capture), and any two retained snapshots diff into a row-level
  * change feed. */
class RetentionSpec extends SparkSpec {
  lazy val t = Tables(spark, sfDir)

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def sealedSink(): (HiveBatchSink, String) = {
    val root = tmp("graft-ttl")
    val sink = new HiveBatchSink(spark, root, allowedLatenessMinutes = 60)
    sink.writeBatch(t.events, batchId = 0)
    val maxTs = t.events.agg(max("ts")).first().getTimestamp(0)
    sink.sealClosed(maxTs)
    (sink, root)
  }

  test("expiry drops exactly the pre-cutoff days, is idempotent, and audits what it removed") {
    val (sink, _) = sealedSink()
    val dts = sink.readTable().select(date_format(col("ts"), "yyyyMMdd").as("dt"))
      .distinct().collect().map(_.getString(0)).sorted
    assert(dts.length >= 3, s"fixture needs several days, got ${dts.toSeq}")
    val cutoff = dts(dts.length / 2)
    val keepRows = sink.readTable().filter(date_format(col("ts"), "yyyyMMdd") >= cutoff).count()

    val audit = Retention.expirePartitions(spark, sink, cutoff)
    assert(audit.nonEmpty && audit.forall(e => e.dt < cutoff && e.files > 0 && e.bytes > 0))
    val left = sink.readTable()
    assert(left.count() == keepRows)
    assert(left.filter(date_format(col("ts"), "yyyyMMdd") < cutoff).count() == 0)
    // kept days still carry their seal markers
    val fs = new org.apache.hadoop.fs.Path(sink.tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(sink.tablePath, "dt=*/hr=*/_DONE")).nonEmpty)
    // second pass: nothing old enough remains
    assert(Retention.expirePartitions(spark, sink, cutoff).isEmpty)
  }

  test("expiry with a change log captures exactly the retired rows before deletion") {
    val (sink, _) = sealedSink()
    val dts = sink.readTable().select(date_format(col("ts"), "yyyyMMdd").as("dt"))
      .distinct().collect().map(_.getString(0)).sorted
    val cutoff = dts(1) // expire only the oldest day
    val doomedIds = sink.readTable().filter(date_format(col("ts"), "yyyyMMdd") < cutoff)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(doomedIds.nonEmpty)

    val feed = tmp("graft-ttl-feed")
    Retention.expirePartitions(spark, sink, cutoff, changeLog = Some((feed, 41L)))
    val captured = spark.read.parquet(feed)
    assert(captured.select("op").distinct().collect().map(_.getString(0)).toSeq == Seq("expire"))
    // partition-dir inference reads change_id=41 back as int
    assert(captured.selectExpr("cast(change_id as long)").distinct().first().getLong(0) == 41L)
    assert(captured.select("event_id").collect().map(_.getLong(0)).toSet == doomedIds)
  }
}
