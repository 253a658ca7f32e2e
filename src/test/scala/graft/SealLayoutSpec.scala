package graft

import graft.streaming.{Backfill, DoneScanner, HiveBatchSink, IncrementalRollup, Retention, TableMaintenance}
import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.io.IOException
import java.net.URI
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

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

/** A local file system whose next `_DONE` create fails once
  * [[CrashOnDoneFs.armed]] is set: a seal that stops after its data is
  * in the table and before the hour is marked. */
class CrashOnDoneFs extends FilterFileSystem(new RawLocalFileSystem {
      override def getUri: URI = URI.create("crashdone:///")
    }) {
  override def create(
      f: Path,
      permission: FsPermission,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (f.getName == "_DONE" && CrashOnDoneFs.armed.getAndSet(false))
      throw new IOException(s"injected crash before $f")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CrashOnDoneFs {
  val armed = new AtomicBoolean(false)
}

/** The sealed layout's readers and its done markers: what the rollup
  * oracle, the change feed and the marker scan see of it; and the seal
  * itself: a one-file staged hour moves into the table with no Spark
  * job, other hours are rewritten, and a seal that stopped between the
  * move and the marker rolls forward. */
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

  private def dataFiles(root: String, pattern: String): Seq[Path] =
    Option(fs(root).globStatus(new Path(root, pattern))).toSeq.flatten.map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))

  private def tableRows(sink: HiveBatchSink): Set[(Long, Long, String, String)] =
    sink.readTable()
      .select(col("event_id"), col("user_id"), col("dt").cast("string"), lpad(col("hr").cast("string"), 2, "0"))
      .as[(Long, Long, String, String)].collect().toSet

  /** For each Spark job `body` launches from this thread, the SQL
    * execution it runs under (None for a job outside any query, such as
    * a schema-inference job). Job starts reach a listener
    * asynchronously, so a marker job in a second group flushes the queue
    * before the list is read. */
  private def jobsOf(body: => Unit): Seq[Option[String]] = {
    val sc = spark.sparkContext
    val group = s"seal-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[Option[String]]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(Option(e.properties.getProperty("spark.sql.execution.id")))
          case Some(g) if g == s"$group-flush" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "seal under test")
      body
      sc.setJobGroup(s"$group-flush", "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener never saw the flush job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq
  }

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

  test("one-file hours seal by rename: no Spark job, each hour holds exactly its staged rows") {
    val root = tmp()
    val sink = new HiveBatchSink(spark, root)
    val rows = Seq(
      (1L, "2026-01-01T00:10:00Z", 7L), (2L, "2026-01-01T00:20:00Z", 8L),
      (3L, "2026-01-01T09:10:00Z", 9L), (4L, "2026-01-02T23:59:00Z", 5L))
    sink.writeBatch(events(rows: _*), batchId = 0)
    val staged = dataFiles(sink.stagingPath, "dt=*/hr=*/ingest_batch=*/*").map(_.getName).toSet
    assert(staged.size == 3)
    val jobs = jobsOf(sink.sealClosed(far))
    assert(jobs.isEmpty, s"the rename seal launched jobs: $jobs")
    assert(tableRows(sink) == Set(
      (1L, 7L, "20260101", "00"), (2L, 8L, "20260101", "00"),
      (3L, 9L, "20260101", "09"), (4L, 5L, "20260102", "23")))
    // the staged files themselves are the sealed ones, one per hour
    assert(dataFiles(sink.tablePath, "dt=*/hr=*/*").map(_.getName).toSet == staged)
    assert(Seq(("20260101", "00"), ("20260101", "09"), ("20260102", "23")).forall { case (d, h) => sink.isSealed(d, h) })
    assert(dataFiles(sink.stagingPath, "dt=*/hr=*/ingest_batch=*/*").isEmpty)
    assert(sink.closedPartitions(far).isEmpty)
  }

  test("a two-file hour is rewritten alongside renamed hours, with no schema-inference job") {
    val root = tmp()
    val sink = new HiveBatchSink(spark, root)
    sink.writeBatch(events((1L, "2026-01-01T00:10:00Z", 7L), (2L, "2026-01-01T01:10:00Z", 8L),
      (3L, "2026-01-01T02:10:00Z", 9L)), batchId = 0)
    sink.writeBatch(events((4L, "2026-01-01T01:40:00Z", 6L)), batchId = 1)
    val jobs = jobsOf(sink.sealClosed(far))
    assert(jobs.nonEmpty, "the two-file hour was not rewritten")
    // every job is part of the one rewrite query
    assert(jobs.forall(_.isDefined) && jobs.distinct.size == 1, s"a job other than the rewrite ran: $jobs")
    assert(tableRows(sink) == Set(
      (1L, 7L, "20260101", "00"), (2L, 8L, "20260101", "01"),
      (4L, 6L, "20260101", "01"), (3L, 9L, "20260101", "02")))
    Seq("00", "01", "02").foreach { h =>
      assert(dataFiles(sink.tablePath, s"dt=20260101/hr=$h/*").size == 1, s"hour $h")
      assert(sink.isSealed("20260101", h), s"hour $h")
    }
  }

  test("staged hours with different schemas seal through the rewrite and read back widest") {
    val root = tmp()
    val sink = new HiveBatchSink(spark, root)
    sink.writeBatch(events((1L, "2026-01-01T00:10:00Z", 7L)), batchId = 0)
    sink.writeBatch(events((2L, "2026-01-01T01:10:00Z", 8L)).withColumn("region", lit("eu")), batchId = 1)
    val staged = dataFiles(sink.stagingPath, "dt=*/hr=*/ingest_batch=*/*").map(_.getName).toSet
    val jobs = jobsOf(sink.sealClosed(far))
    assert(jobs.nonEmpty, "mixed schemas must be rewritten")
    assert(dataFiles(sink.tablePath, "dt=*/hr=*/*").map(_.getName).toSet.intersect(staged).isEmpty)
    val table = sink.readTable()
    assert(table.columns.contains("region"))
    val got = table.select("event_id", "region").as[(Long, Option[String])].collect().toSet
    assert(got == Set((1L, None), (2L, Some("eu"))), s"got $got")
  }

  test("a seal stopped between the rename and the marker rolls forward on the next seal") {
    val root = tmp()
    spark.sparkContext.hadoopConfiguration.set("fs.crashdone.impl", classOf[CrashOnDoneFs].getName)
    val sink = new HiveBatchSink(spark, s"crashdone://$root")
    sink.writeBatch(events((1L, "2026-01-01T05:10:00Z", 7L), (2L, "2026-01-01T05:20:00Z", 8L)), batchId = 0)
    CrashOnDoneFs.armed.set(true)
    intercept[Exception](sink.sealClosed(far))
    assert(!CrashOnDoneFs.armed.get, "the seal never reached the marker")
    // the crash point under test: the hour's file is in the table, its
    // staging directory is empty, and it is not marked
    assert(!sink.isSealed("20260101", "05"))
    assert(dataFiles(root, "staging/dt=*/hr=*/ingest_batch=*/*").isEmpty)
    assert(dataFiles(root, "table/dt=20260101/hr=05/*").size == 1)
    assert(sink.closedPartitions(far) == Seq(("20260101", "05")))

    assert(sink.sealClosed(far) == Seq(("20260101", "05")))
    assert(sink.isSealed("20260101", "05"))
    assert(tableRows(sink) == Set((1L, 7L, "20260101", "05"), (2L, 8L, "20260101", "05")))
    assert(sink.closedPartitions(far).isEmpty)
    assert(!fs(root).exists(new Path(root, "staging/dt=20260101/hr=05")), "staging hour left behind")
  }
}
