package graft

import graft.streaming.{Erasure, HiveBatchSink}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** Right-to-be-forgotten: one predicate erases a user from the sealed
  * table, the staging area, AND the quarantine — idempotently, leaving
  * every other row bit-for-bit intact. */
class ErasureSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, minute: Long, uid: java.lang.Long, typ: String) =
    (id, if (minute < 0) null else new Timestamp(1700000000000L + minute * 60000L),
      uid, typ, 1.0, "{}")

  private def freshSink(): HiveBatchSink = {
    val root = Files.createTempDirectory("graft-erasure").toString
    new HiveBatchSink(spark, root, allowedLatenessMinutes = 0)
  }

  test("forgetWhere sweeps sealed + staging + quarantine; second sweep is a no-op") {
    val sink = freshSink()
    val target = 7L
    // batch 1: old events (will seal) — two from the target user
    val batch1 = Seq(
      ev(1, 0, target, "view"), ev(2, 1, target, "click"),
      ev(3, 2, 8L, "view"), ev(4, 3, 9L, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    sink.writeBatch(batch1, 1L)
    // seal everything before a far-future watermark → batch 1 is sealed
    sink.sealClosed(new Timestamp(1700000000000L + 10L * 86400000L))
    // batch 2: recent events (stay staged) + a corrupt row (null ts) from
    // the target → quarantine
    val batch2 = Seq(
      ev(5, 20000000L, target, "view"), ev(6, 20000001L, 8L, "view"),
      ev(7, -1, target, "corrupt"), ev(8, -1, 9L, "corrupt")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    sink.writeBatch(batch2, 2L)

    def allIds(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id").collect().map(_.getLong(0)).toSet
    assert(allIds(sink.readTable()) === Set(1L, 2L, 3L, 4L))
    assert(allIds(spark.read.parquet(sink.stagingPath)) === Set(5L, 6L))
    assert(allIds(sink.readQuarantine()) === Set(7L, 8L))

    val r = Erasure.forgetWhere(spark, sink, col("user_id") === target)
    assert(r.sealedTable.rowsRemoved === 2L)
    assert(r.staging.removed === 1L)
    assert(r.quarantine.removed === 1L)
    // the target is gone from every surface; everyone else intact
    assert(allIds(sink.readTable()) === Set(3L, 4L))
    assert(allIds(spark.read.parquet(sink.stagingPath)) === Set(6L))
    assert(allIds(sink.readQuarantine()) === Set(8L))
    assert(sink.readTable().filter(col("user_id") === target).isEmpty)
    assert(spark.read.parquet(sink.stagingPath).filter(col("user_id") === target).isEmpty)
    assert(sink.readQuarantine().filter(col("user_id") === target).isEmpty)

    // idempotent
    val r2 = Erasure.forgetWhere(spark, sink, col("user_id") === target)
    assert(r2.sealedTable.rowsRemoved === 0L && r2.staging.removed === 0L
      && r2.quarantine.removed === 0L)
    assert(allIds(sink.readTable()) === Set(3L, 4L))
  }

  test("a fully-matched staging partition's directory is dropped, not left empty") {
    val sink = freshSink()
    // one staged hour containing ONLY the target user
    val solo = Seq(ev(1, 0, 7L, "view"), ev(2, 1, 7L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    sink.writeBatch(solo, 1L)
    val r = Erasure.forgetWhere(spark, sink, col("user_id") === 7L)
    assert(r.staging.removed === 2L && r.staging.partitionsDropped === 1L.toInt)
    val fs = new org.apache.hadoop.fs.Path(sink.stagingPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.globStatus(new org.apache.hadoop.fs.Path(sink.stagingPath, "dt=*/hr=*/ingest_batch=*"))
    assert(dirs == null || dirs.isEmpty, "emptied partition dir must be removed")
  }

  test("erasing from staged hours before 10:00 rewrites them under their zero-padded directories") {
    val sink = freshSink()
    def at(id: Long, iso: String, uid: Long) =
      (id, Timestamp.from(java.time.Instant.parse(iso)), uid, "view", 1.0, "{}")
    sink.writeBatch(Seq(
      at(1, "2026-01-01T09:10:00Z", 7L), at(2, "2026-01-01T09:20:00Z", 8L), at(3, "2026-01-01T08:20:00Z", 7L)
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"), 1L)
    val r = Erasure.forgetWhere(spark, sink, col("user_id") === 7L)
    assert(r.staging == Erasure.SurfaceReport(removed = 2L, partitionsRewritten = 1, partitionsDropped = 1), s"$r")
    val ids = spark.read.parquet(sink.stagingPath).select("event_id").as[Long].collect().toSeq
    assert(ids == Seq(2L), s"staging holds $ids")
    val fs = new org.apache.hadoop.fs.Path(sink.stagingPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hours = fs.globStatus(new org.apache.hadoop.fs.Path(sink.stagingPath, "dt=*/hr=*")).map(_.getPath.getName).toSeq
    assert(hours == Seq("hr=09"), s"staged hour dirs: $hours")
  }
}
