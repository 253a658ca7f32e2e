package graft

import graft.sources.Tables
import graft.streaming.{EventParser, HiveBatchSink}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  lazy val t = Tables(spark, sfDir)

  def tmp(): String = Files.createTempDirectory("graft-stream").toString

  test("parser round-trips every event line (serialize -> parse == source)") {
    val events = t.events
    val parsed = EventParser.wellFormed(EventParser.parseLines(EventParser.formatLines(events)))
    assert(parsed.count() == events.count())
    assert(EventParser.corrupt(EventParser.parseLines(EventParser.formatLines(events))).count() == 0)
    // value + ts survive exactly (µs precision)
    val srcSum = events.agg(round(sum("value"), 4)).first().getDouble(0)
    val rtSum  = parsed.agg(round(sum("value"), 4)).first().getDouble(0)
    assert(srcSum == rtSum)
    val srcMax = events.agg(max("ts")).first().getTimestamp(0)
    val rtMax  = parsed.agg(max("ts")).first().getTimestamp(0)
    assert(srcMax == rtMax)
  }

  test("parser routes malformed lines to _corrupt, not to failure") {
    val lines  = Seq("1\t2024-01-01 00:00:00.000000\t7\tclick\t1.5\t{}", "garbage line with no tabs at all  ").toDF("value")
    val parsed = EventParser.parseLines(lines)
    assert(EventParser.wellFormed(parsed).count() == 1)
    assert(EventParser.corrupt(parsed).count() == 1)
  }

  test("sink lifecycle over a real stream: stage, close, seal, counters") {
    val in  = tmp(); val root = tmp(); val ckpt = tmp()
    val events = t.events
    events.write.mode("overwrite").parquet(in)
    val sink   = new HiveBatchSink(spark, root, allowedLatenessMinutes = 60)
    val stream = spark.readStream.schema(events.schema).parquet(in)
    val q      = sink.streamWriter(stream, ckpt).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    // everything behind the watermark got sealed into the final table
    val tableRows   = sink.readTable()
    val maxTs       = events.agg(max("ts")).first().getTimestamp(0)
    val cutoff      = new java.sql.Timestamp(maxTs.getTime - 60 * 60000L)
    assert(tableRows.columns.toSet.contains("dt") && tableRows.columns.toSet.contains("hr"))
    assert(tableRows.count() > 0)
    assert(sink.received.value == events.count())
    assert(sink.written.value == events.count())
    assert(sink.corrupt.value == 0)
    // sealed partitions carry _DONE and exactly one parquet file
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val somePart = fs.globStatus(new org.apache.hadoop.fs.Path(sink.tablePath, "dt=*/hr=*")).head.getPath
    val entries  = fs.listStatus(somePart).map(_.getPath.getName)
    assert(entries.contains("_DONE"))
    assert(entries.count(_.endsWith(".parquet")) == 1)
    // nothing sealed remains in staging, and staged+sealed == all events
    val staged = spark.read.parquet(sink.stagingPath)
    assert(staged.count() + tableRows.count() == events.count())
  }

  test("sink: replaying the same batch is idempotent (no duplicates)") {
    val root   = tmp()
    val sink   = new HiveBatchSink(spark, root)
    val events = t.events
    sink.writeBatch(events, batchId = 7)
    val n1 = spark.read.parquet(sink.stagingPath).count()
    sink.writeBatch(events, batchId = 7) // simulated retry of the same micro-batch
    val n2 = spark.read.parquet(sink.stagingPath).count()
    assert(n1 == events.count() && n2 == n1)
  }

  test("sink: corrupt rows (null ts) are counted and excluded") {
    val root = tmp()
    val sink = new HiveBatchSink(spark, root)
    val bad  = t.events.withColumn("ts", when(col("event_id") % 10 === 0, lit(null)).otherwise(col("ts")))
    sink.writeBatch(bad, batchId = 0)
    assert(sink.corrupt.value == t.events.filter(col("event_id") % 10 === 0).count())
    assert(spark.read.parquet(sink.stagingPath).count() == sink.written.value)
  }

  test("sealing is idempotent and closes only watermark-passed partitions") {
    val root   = tmp()
    val sink   = new HiveBatchSink(spark, root, allowedLatenessMinutes = 60)
    val events = t.events
    sink.writeBatch(events, batchId = 0)
    val maxTs  = events.agg(max("ts")).first().getTimestamp(0)
    val closed = sink.closedPartitions(maxTs)
    assert(closed.nonEmpty)
    val sealed1 = sink.sealClosed(maxTs)
    assert(sealed1 == closed)
    assert(sink.sealClosed(maxTs).isEmpty) // second pass: nothing left to seal
    // row conservation across staging + table
    val total = spark.read.parquet(sink.stagingPath).count() + sink.readTable().count()
    assert(total == events.count())
  }

  test("sink: staging files roll at maxRecordsPerFile (reference's size-based rolling)") {
    // all events into ONE (dt, hr) partition so rolling is the only
    // thing that splits files
    val oneHour = t.events.limit(1000)
      .withColumn("ts", lit("2024-03-01 10:00:00").cast("timestamp"))
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stagedFiles(root: String): Int =
      fs.globStatus(new org.apache.hadoop.fs.Path(root, "staging/dt=*/hr=*/ingest_batch=*/*.parquet")).length

    val rolled = tmp()
    new HiveBatchSink(spark, rolled, maxRecordsPerFile = 100L)
      .writeBatch(oneHour, batchId = 0)
    assert(stagedFiles(rolled) >= 10, s"expected >=10 rolled files, got ${stagedFiles(rolled)}")

    val unrolled = tmp()
    new HiveBatchSink(spark, unrolled).writeBatch(oneHour, batchId = 0)
    assert(stagedFiles(unrolled) == 1, s"expected 1 file without rolling, got ${stagedFiles(unrolled)}")
  }

  test("sink in a stream: every (hour, batch) stages exactly one file although foreachBatch runs with AQE off") {
    val in = tmp(); val root = tmp(); val ckpt = tmp()
    // three hours, each spread over every input file and, after the
    // ingest pipeline's dedup, over every state partition: a write
    // without its own shuffle on (dt, hr) stages one file per hour per
    // upstream task
    val threeHours = t.events
      .withColumn("ts", (lit(1709287200L) + col("event_id") % 3 * 3600L + col("event_id") % 600L)
        .cast("timestamp"))
    threeHours.repartition(8).write.mode("overwrite").parquet(in)
    // lateness past the data's span: nothing seals, every staged dir stays
    val sink = new HiveBatchSink(spark, root, allowedLatenessMinutes = 10 * 365 * 24 * 60)
    val stream = graft.streaming.StreamingDedup.dedup(
      spark.readStream.schema(threeHours.schema).option("maxFilesPerTrigger", "4").parquet(in),
      watermark = "1 day")
    sink.streamWriter(stream, ckpt).trigger(Trigger.AvailableNow()).start().awaitTermination()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.globStatus(new org.apache.hadoop.fs.Path(sink.stagingPath, "dt=*/hr=*/ingest_batch=*"))
      .map(_.getPath)
    assert(dirs.length == 6, s"expected 3 hours x 2 batches, got ${dirs.map(_.toString).toSeq}")
    val perDir = dirs.map(d => d.toString -> fs.listStatus(d).count(_.getPath.getName.startsWith("part-")))
    assert(perDir.forall(_._2 == 1), s"staged files per dir: ${perDir.toSeq}")
    assert(spark.read.parquet(sink.stagingPath).count() == threeHours.count())
  }

  test("sink in a stateless stream: the staging write runs with AQE coalescing off") {
    val in = tmp(); val root = tmp(); val ckpt = tmp()
    t.events.repartition(4).write.mode("overwrite").parquet(in)
    // lateness past the data's span: nothing seals, so every job the
    // batch runs after onBatch is the staging write
    val sink = new HiveBatchSink(spark, root, allowedLatenessMinutes = 10 * 365 * 24 * 60)
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val tag = s"coalesce-probe-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    // SQL confs reach a job's local properties; job starts reach a
    // listener asynchronously, so a tagged marker job flushes the queue
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.test.probe")) match {
          case Some(`tag`) => seen.add(String.valueOf(e.properties.getProperty(key)))
          case Some(f) if f == s"$tag-flush" => flushed.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sink.streamWriter(spark.readStream.schema(t.events.schema).parquet(in), ckpt,
          onBatch = (b, _) => b.sparkSession.sparkContext.setLocalProperty("graft.test.probe", tag))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      sc.setLocalProperty("graft.test.probe", s"$tag-flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener never saw the flush job")
    } finally {
      sc.setLocalProperty("graft.test.probe", null)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val flags = seen.asScala.toSeq
    assert(flags.nonEmpty, "no staging write job was seen")
    assert(flags.forall(_ == "false"), s"$key per staging job: $flags")
  }

  test("sink: hot hour skew-splits across writer tasks, cold hours stay one file each") {
    // a hot hour arriving through many upstream tasks (AQE's skew split
    // works at map-output granularity — as it does on a real cluster)
    val oneHour = t.events.limit(1000)
      .withColumn("ts", lit("2024-03-01 10:00:00").cast("timestamp"))
      .repartition(8)
    val root = tmp()
    // shrink the advisory size so this toy hour counts as "hot"; at real
    // sizes the same split happens past 64MB per hour
    val key  = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "4KB")
    try new HiveBatchSink(spark, root).writeBatch(oneHour, batchId = 0)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(root, "staging/dt=*/hr=*/ingest_batch=*/*.parquet")).length
    assert(files > 1, s"hot hour wrote through one task (found $files file)")
  }

  test("sink: text seal emits the reference's delimited lines, parse round-trips") {
    val root   = tmp()
    val sink   = new HiveBatchSink(spark, root, sealFormat = "text")
    val events = t.events
    sink.writeBatch(events, batchId = 0)
    val maxTs = events.agg(max("ts")).first().getTimestamp(0)
    assert(sink.sealClosed(maxTs).nonEmpty)
    val raw = sink.readTable() // (value, dt, hr) text lines
    assert(raw.columns.contains("value"))
    val parsed = EventParser.wellFormed(EventParser.parseLines(raw))
    val stagedLeft = spark.read.parquet(sink.stagingPath).count()
    assert(parsed.count() + stagedLeft == events.count())
    assert(EventParser.corrupt(EventParser.parseLines(raw)).count() == 0)
    // values survive the text round-trip exactly (4-decimal agg)
    val sealedIds = parsed.select("event_id")
    val srcSum = events.join(sealedIds, "event_id").agg(round(sum("value"), 4)).first().getDouble(0)
    val rtSum  = parsed.agg(round(sum("value"), 4)).first().getDouble(0)
    assert(srcSum == rtSum)
  }

  test("sink: orc seal writes a readable ORC table") {
    val root   = tmp()
    val sink   = new HiveBatchSink(spark, root, sealFormat = "orc")
    val events = t.events
    sink.writeBatch(events, batchId = 0)
    val maxTs = events.agg(max("ts")).first().getTimestamp(0)
    assert(sink.sealClosed(maxTs).nonEmpty)
    val sealedTable = sink.readTable()
    assert(sealedTable.columns.contains("event_id"))
    assert(sealedTable.count() + spark.read.parquet(sink.stagingPath).count() == events.count())
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(sink.tablePath, "dt=*/hr=*/*.orc")).nonEmpty)
  }

  test("sink: loadIntoTable saveAsTable/insertInto path is idempotent") {
    val root   = tmp()
    val sink   = new HiveBatchSink(spark, root)
    val events = t.events
    sink.writeBatch(events, batchId = 0)
    sink.sealClosed(events.agg(max("ts")).first().getTimestamp(0))
    // clear any stale managed table dir from a previous JVM
    spark.sql("DROP TABLE IF EXISTS graft_load_tbl")
    val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir") + "/graft_load_tbl")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)

    sink.loadIntoTable("graft_load_tbl") // create via saveAsTable
    val c1 = spark.table("graft_load_tbl").count()
    assert(c1 == sink.readTable().count() && c1 > 0)
    sink.loadIntoTable("graft_load_tbl") // re-load via insertInto dynamic overwrite
    val c2 = spark.table("graft_load_tbl").count()
    assert(c2 == c1, s"insertInto re-load duplicated rows: $c2 vs $c1")
  }

  test("backfill: replaying a corrected day reseals it, drops retracted hours, leaves other days alone") {
    import graft.streaming.Backfill
    val root = tmp()
    val sink = new HiveBatchSink(spark, root)
    def ev(id: Long, day: String, hr: Int, value: Double) =
      (id, s"2026-01-0${day.last}T%02d:30:00Z".format(hr), value)
    def toDf(rows: Seq[(Long, String, Double)]) =
      rows.toDF("event_id", "ts_s", "value")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"), col("value"))
    // day 1: hours 00/01/02; day 2: hour 00
    val original = toDf(Seq(
      ev(1, "1", 0, 1.0), ev(2, "1", 1, 2.0), ev(3, "1", 2, 3.0), ev(4, "2", 0, 4.0)))
    sink.writeBatch(original, batchId = 0)
    val farFuture = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")
    sink.sealClosed(farFuture)
    assert(sink.readTable().count() == 4 && sink.isSealed("20260101", "02"))

    // corrected day 1: values revised, hour 02 retracted, hour 03 new;
    // plus a revised day-2 row that must be IGNORED (out of scope)
    val corrected = toDf(Seq(
      ev(1, "1", 0, 10.0), ev(2, "1", 1, 20.0), ev(5, "1", 3, 30.0), ev(4, "2", 0, 999.0)))
    val resealed = Backfill.reprocess(sink, corrected, Seq("20260101"), runId = 99)
    assert(resealed == Seq(("20260101", "00"), ("20260101", "01"), ("20260101", "03")))

    // partition-dir inference reads dt/hr back as ints — compare numerically
    def tableRows() = sink.readTable()
      .select(col("event_id"), col("value"), col("dt").cast("int"), col("hr").cast("int"))
      .as[(Long, Double, Int, Int)].collect().toSet
    val expected = Set(
      (1L, 10.0, 20260101, 0), (2L, 20.0, 20260101, 1),
      (5L, 30.0, 20260101, 3), (4L, 4.0, 20260102, 0))
    assert(tableRows() == expected)
    // retracted hour's directory is gone, resealed hours carry fresh _DONE
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(sink.tablePath, "dt=20260101/hr=02")))
    resealed.foreach { case (dt, hr) => assert(sink.isSealed(dt, hr), s"$dt/$hr not resealed") }
    assert(sink.isSealed("20260102", "00"), "untouched day lost its marker")
    // a retried backfill run converges to the same state
    assert(Backfill.reprocess(sink, corrected, Seq("20260101"), runId = 99) == resealed)
    assert(tableRows() == expected)
  }

  // one registration per columnar seal format: both seal and maintenance
  // write hours through the sink's one overwrite
  for ((format, suffix) <- Seq("parquet" -> "", "orc" -> " (orc seal)"))
  test(s"table maintenance: delete and upsert rewrite only the affected partitions$suffix") {
    import graft.streaming.TableMaintenance
    val root = tmp()
    val sink = new HiveBatchSink(spark, root, sealFormat = format)
    def toDf(rows: Seq[(Long, String, Long, Double)]) =
      rows.toDF("event_id", "ts_s", "user_id", "value")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"), col("user_id"), col("value"))
    // hr 00: events 1 (user 7) + 2 (user 8); hr 01: event 3 (user 7); hr 02: event 4 (user 9)
    sink.writeBatch(toDf(Seq(
      (1L, "2026-01-01T00:10:00Z", 7L, 1.0), (2L, "2026-01-01T00:20:00Z", 8L, 2.0),
      (3L, "2026-01-01T01:10:00Z", 7L, 3.0), (4L, "2026-01-01T02:10:00Z", 9L, 4.0))), batchId = 0)
    sink.sealClosed(java.sql.Timestamp.valueOf("2026-02-01 00:00:00"))
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def untouchedFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(sink.tablePath, "dt=20260101/hr=02"))
      .filter(_.isFile).map(s => (s.getPath.getName, s.getModificationTime, s.getLen)).toSet
    val before = untouchedFiles()
    // a rewritten hour holds exactly one data file and its marker
    def assertOneFile(dt: String, hr: String) = {
      val names = fs.listStatus(new org.apache.hadoop.fs.Path(sink.tablePath, s"dt=$dt/hr=$hr"))
        .map(_.getPath.getName).filterNot(_.startsWith(".")).toSeq
      val (markers, data) = names.partition(_ == "_DONE")
      assert(markers.size == 1 && data.size == 1 && data.head.endsWith(s".$format"), s"$dt/$hr holds $names")
    }

    // GDPR-style erasure of user 7: hr 00 rewritten, hr 01 emptied out
    val del = TableMaintenance.deleteWhere(spark, sink, col("user_id") === 7L)
    assert(del.affected == Seq(("20260101", "00"), ("20260101", "01")) && del.rowsRemoved == 2 && del.rowsWritten == 1, s"$del")
    def ids() = sink.readTable().select("event_id").as[Long].collect().toSet
    assert(ids() == Set(2L, 4L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(sink.tablePath, "dt=20260101/hr=01")), "emptied hour survived")
    assert(sink.isSealed("20260101", "00"), "rewritten hour lost its _DONE")
    assert(untouchedFiles() == before, "untouched partition was rewritten")
    assertOneFile("20260101", "00")

    // upsert: revise event 2 in place, insert event 5 into a fresh hour
    val up = TableMaintenance.upsert(spark, sink, toDf(Seq(
      (2L, "2026-01-01T00:20:00Z", 8L, 20.0), (5L, "2026-01-01T03:30:00Z", 3L, 50.0))), Seq("event_id"))
    assert(up.affected == Seq(("20260101", "00"), ("20260101", "03")) && up.rowsRemoved == 1 && up.rowsWritten == 2, s"$up")
    val rows = sink.readTable().select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(rows == Map(2L -> 20.0, 4L -> 4.0, 5L -> 50.0))
    assert(sink.isSealed("20260101", "00") && sink.isSealed("20260101", "03"))
    assert(untouchedFiles() == before, "untouched partition was rewritten by upsert")
    assertOneFile("20260101", "00")
    assertOneFile("20260101", "03")

    // erase-everything path: every affected hour empties out (no rewrite job)
    val wipe = TableMaintenance.deleteWhere(spark, sink, lit(true))
    assert(wipe.rowsRemoved == 3 && wipe.rowsWritten == 0, s"$wipe")
    wipe.affected.foreach { case (dt, hr) =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(sink.tablePath, s"dt=$dt/hr=$hr")),
        s"emptied $dt/$hr survived full erasure")
    }
  }

  test("quarantine: corrupt events are kept for retry, replay re-ingests the repaired ones") {
    val root = tmp()
    val sink = new HiveBatchSink(spark, root)
    val batch = Seq(
      (1L, Some("2026-01-01T00:10:00Z"), 1.0),
      (2L, None, 2.0), // corrupt: no timestamp
      (3L, None, 3.0)
    ).toDF("event_id", "ts_s", "value")
      .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"), col("value"))
    val stats = sink.writeBatch(batch, batchId = 0)
    assert(stats.received == 3 && stats.corrupt == 2)
    assert(sink.readQuarantine().count() == 2, "corrupt rows not quarantined")

    // repair recovers event 2's timestamp; event 3 stays broken
    val n = sink.replayQuarantine(
      df => df.withColumn("ts",
        when(col("event_id") === 2L, to_timestamp(lit("2026-01-01T00:50:00Z"))).otherwise(col("ts"))),
      replayBatchId = 1000)
    assert(n == 1, s"restored $n")
    sink.sealClosed(java.sql.Timestamp.valueOf("2026-02-01 00:00:00"))
    assert(sink.readTable().select("event_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(sink.readQuarantine().select("event_id").as[Long].collect().toSet == Set(3L),
      "unrepairable row lost from quarantine")
  }

  test("incremental rollup: updating only newly sealed hours equals a full recompute") {
    import graft.streaming.IncrementalRollup
    val root = tmp()
    val sink = new HiveBatchSink(spark, root)
    def batch(rows: Seq[(Long, String, Double)]) =
      rows.toDF("event_id", "ts_s", "value")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"), col("value"))
    val rollup = new IncrementalRollup(spark, sink, s"$root/rollup",
      df => df.groupBy("dt", "hr").agg(count(lit(1)).as("n"), sum("value").as("sum_v")))

    sink.writeBatch(batch(Seq(
      (1L, "2026-01-01T00:10:00Z", 1.0), (2L, "2026-01-01T00:20:00Z", 2.0),
      (3L, "2026-01-01T01:10:00Z", 3.0))), batchId = 0)
    val far = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")
    rollup.update(sink.sealClosed(far))
    // two more hours arrive and seal; only they get recomputed
    sink.writeBatch(batch(Seq(
      (4L, "2026-01-01T02:10:00Z", 4.0), (5L, "2026-01-01T03:10:00Z", 5.0))), batchId = 1)
    val sealed2 = sink.sealClosed(far)
    assert(sealed2.map(_._2).toSet == Set("02", "03"), s"unexpected seal set $sealed2")
    rollup.update(sealed2)

    def snapshot() = rollup.read()
      .select(col("dt").cast("string"), col("hr").cast("string"), col("n"), col("sum_v"))
      .as[(String, String, Long, Double)].collect().toSet
    val incremental = snapshot()
    assert(incremental.map(r => (r._2.toInt, r._3, r._4)) ==
      Set((0, 2L, 3.0), (1, 1L, 3.0), (2, 1L, 4.0), (3, 1L, 5.0)), s"got $incremental")
    rollup.fullRecompute()
    assert(snapshot() == incremental, "incremental rollup diverged from full recompute")
  }

  test("schema evolution: a column added mid-stream reads back as null for older batches") {
    val root = tmp()
    val sink = new HiveBatchSink(spark, root)
    val v1 = Seq((1L, "2026-01-01T00:10:00Z"))
      .toDF("event_id", "ts_s")
      .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"))
    val v2 = Seq((2L, "2026-01-01T00:20:00Z", "mobile"))
      .toDF("event_id", "ts_s", "device")
      .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"), col("device"))
    sink.writeBatch(v1, batchId = 0)
    sink.writeBatch(v2, batchId = 1) // same hour, wider schema
    sink.sealClosed(java.sql.Timestamp.valueOf("2026-02-01 00:00:00"))
    val rows = sink.readTable().select("event_id", "device")
      .as[(Long, Option[String])].collect().toMap
    assert(rows == Map(1L -> None, 2L -> Some("mobile")), s"got $rows")
  }

  test("streaming dedup: re-delivered events collapse to one per id") {
    val in = tmp(); val events = t.events.limit(200)
    // simulate at-least-once delivery: every event delivered twice
    events.unionAll(events).write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(events.schema).parquet(in)
    val q = graft.streaming.StreamingDedup.dedup(stream)
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("dedup_test")
    assert(out.count() == events.count(), s"${out.count()} vs ${events.count()}")
    assert(out.select("event_id").distinct().count() == events.count())
    // the same call on batch input (a one-shot load or backfill) keeps
    // the same ids
    val batch = graft.streaming.StreamingDedup.dedup(spark.read.parquet(in))
    val ids = (df: org.apache.spark.sql.DataFrame) => df.select("event_id").as[Long].collect().sorted.toSeq
    assert(ids(batch) == ids(out), "batch and stream dedup keep different ids")
  }

  test("streaming content dedup: re-submitted payloads with fresh ids collapse at ingest") {
    val in = tmp(); val events = t.events.limit(200)
    // a re-submission: same payload + event time, NEW transport ids —
    // id-dedup would keep both, content-dedup must not
    val resubmitted = events.withColumn("event_id", col("event_id") + 1000000L)
    events.unionAll(resubmitted).write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(events.schema).parquet(in)
    val q = graft.streaming.StreamingDedup.dedupByContent(stream)
      .writeStream.format("memory").queryName("content_dedup_test")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("content_dedup_test")
    assert(out.count() == events.count(), s"${out.count()} vs ${events.count()}")
    assert(out.select("content_fp").distinct().count() == events.count())
  }

  test("streaming near-dup dedup: re-ingested identical docs collapse on simhash") {
    val in = tmp()
    val docs = Tables(spark, sfDir).documents.limit(100)
      .withColumn("ingest_ts", lit("2024-03-01 10:00:00").cast("timestamp"))
    // re-ingestion: same text, new doc ids
    val reingested = docs.withColumn("doc_id", col("doc_id") + 500000L)
    docs.unionAll(reingested).write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(spark.read.parquet(in).schema).parquet(in)
    val q = graft.streaming.StreamingDedup.dedupNearDocs(stream)
      .writeStream.format("memory").queryName("neardup_ingest_test")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("neardup_ingest_test")
    val distinctHashes = graft.operators.Dedup.simhash(docs)
      .select("simhash").distinct().count()
    assert(out.count() == distinctHashes,
      s"${out.count()} kept vs $distinctHashes distinct simhashes")
    assert(out.count() <= docs.count())
  }

  test("sink monitor captures per-batch progress matching the data actually ingested") {
    val in = tmp(); val events = t.events
    events.write.mode("overwrite").parquet(in)
    val mon = new graft.streaming.SinkMonitor().attach(spark)
    try {
      val q = spark.readStream.schema(events.schema).parquet(in)
        .writeStream.format("noop")
        .queryName("monitored_ingest")
        .option("checkpointLocation", tmp())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // listener events are delivered asynchronously after termination
      var waited = 0
      while (mon.totalInputRows < events.count() && waited < 100) { Thread.sleep(100); waited += 1 }
      assert(mon.totalInputRows == events.count(),
        s"monitor saw ${mon.totalInputRows} rows, ingested ${events.count()}")
      val batches = mon.progress.filter(_.queryName == "monitored_ingest")
      assert(batches.nonEmpty)
      assert(batches.map(_.batchId) == batches.map(_.batchId).sorted, "batch ids not monotone")
      assert(batches.forall(b => b.numInputRows == 0 || b.processedRowsPerSecond > 0))
    } finally mon.detach(spark)
  }

  test("dedup against history: a re-crawl collapses against the fingerprint store across runs") {
    val in1 = tmp(); val in2 = tmp(); val store = tmp() + "/store"; val out = tmp() + "/out"
    val docs = Tables(spark, sfDir).documents.limit(100).cache()
    val first50 = docs.filter(col("doc_id") < 50)
    first50.write.mode("overwrite").parquet(in1)
    // run 1: fresh corpus, everything is novel
    val s1 = spark.readStream.schema(docs.schema).parquet(in1)
    val q1 = s1.writeStream
      .foreachBatch(graft.streaming.StreamingDedup.dedupAgainstHistory(store, out))
      .option("checkpointLocation", tmp())
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    val distinct50 = first50.select(md5(col("text"))).distinct().count()
    assert(spark.read.parquet(out).count() == distinct50)
    // replay a batch with the SAME writer instance (at-least-once retry
    // after the fp append already committed): the novel set recomputes
    // identically and dynamic overwrite replaces exactly its own output
    val store2 = tmp() + "/store2"; val out2 = tmp() + "/out2"
    val writer2 = graft.streaming.StreamingDedup.dedupAgainstHistory(store2, out2)
    writer2(first50, 0L)
    writer2(first50, 0L) // replay: own batch-0 fps must not mask the rows
    spark.catalog.refreshByPath(out2)
    assert(spark.read.parquet(out2).count() == distinct50,
      s"replay broke idempotency: ${spark.read.parquet(out2).count()} vs $distinct50")
    // run 2: a re-crawl — all 100 docs arrive with NEW ids; only the 50 unseen texts pass
    docs.withColumn("doc_id", col("doc_id") + 100000L).write.mode("overwrite").parquet(in2)
    val s2 = spark.readStream.schema(docs.schema).parquet(in2)
    val q2 = s2.writeStream
      .foreachBatch(graft.streaming.StreamingDedup.dedupAgainstHistory(store, out))
      .option("checkpointLocation", tmp())
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    spark.catalog.refreshByPath(out)
    val distinctAll = docs.select(md5(col("text"))).distinct().count()
    assert(spark.read.parquet(out).count() == distinctAll,
      s"out has ${spark.read.parquet(out).count()} rows, want $distinctAll")
    // out never contains two rows with the same text
    val dupTexts = spark.read.parquet(out).groupBy(md5(col("text"))).count().filter(col("count") > 1).count()
    assert(dupTexts == 0)
    docs.unpersist()
  }

  test("change feed: maintenance ops emit a CDC log that replays to the post-state") {
    import graft.streaming.TableMaintenance
    val root = tmp(); val cl = tmp() + "/changes"
    val sink = new HiveBatchSink(spark, root)
    def toDf(rows: Seq[(Long, String, Long, Double)]) =
      rows.toDF("event_id", "ts_s", "user_id", "value")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"), col("user_id"), col("value"))
    sink.writeBatch(toDf(Seq(
      (1L, "2026-01-01T00:10:00Z", 7L, 1.0), (2L, "2026-01-01T00:20:00Z", 8L, 2.0),
      (3L, "2026-01-01T01:10:00Z", 9L, 3.0))), batchId = 0)
    sink.sealClosed(java.sql.Timestamp.valueOf("2026-02-01 00:00:00"))
    def state() = sink.readTable().select("event_id", "value").as[(Long, Double)].collect().toMap
    val pre = state()

    TableMaintenance.deleteWhere(spark, sink, col("user_id") === 7L, changeLog = Some((cl, 1L)))
    TableMaintenance.upsert(spark, sink, toDf(Seq(
      (2L, "2026-01-01T00:20:00Z", 8L, 20.0), (4L, "2026-01-01T02:10:00Z", 5L, 40.0))),
      Seq("event_id"), changeLog = Some((cl, 2L)))
    val post = state()

    // replay the feed in change order onto the pre-state
    val feed = spark.read.parquet(cl)
      .select(col("change_id").cast("long"), col("op").cast("string"), col("event_id"), col("value"))
      .as[(Long, String, Long, Double)].collect()
    val replayed = feed.groupBy(_._1).toSeq.sortBy(_._1).foldLeft(pre) { case (st, (_, changes)) =>
      val deletes = changes.filter(_._2 == "delete").map(_._3).toSet
      val inserts = changes.filter(_._2 == "insert").map(c => c._3 -> c._4).toMap
      (st -- deletes) ++ inserts
    }
    assert(replayed == post, s"replayed $replayed vs post $post")
  }

  test("incremental rollup syncs itself from _DONE markers, exactly once per cursor") {
    import graft.streaming.IncrementalRollup
    val root = tmp()
    val sink = new HiveBatchSink(spark, root)
    val rollup = new IncrementalRollup(spark, sink, s"$root/rollup",
      df => df.groupBy("dt", "hr").agg(count(lit(1)).as("n")))
    sink.writeBatch(
      Seq((1L, "2026-01-01T00:10:00Z"), (2L, "2026-01-01T01:10:00Z"))
        .toDF("event_id", "ts_s").select(col("event_id"), to_timestamp(col("ts_s")).as("ts")),
      batchId = 0)
    sink.sealClosed(java.sql.Timestamp.valueOf("2026-02-01 00:00:00"))
    val s1 = rollup.syncFromMarkers()
    assert(s1.newParts.size == 2 && rollup.read().count() == 2)
    // second sync: nothing new, rollup untouched
    val s2 = rollup.syncFromMarkers(s1.cursor)
    assert(s2.newParts.isEmpty && s2.cursor == s1.cursor && rollup.read().count() == 2)
  }

  test("done-scanner cursor delivers each sealed hour once, re-delivers on re-seal") {
    import graft.streaming.DoneScanner
    val root = tmp()
    val sink = new HiveBatchSink(spark, root)
    def batch(rows: Seq[(Long, String)]) =
      rows.toDF("event_id", "ts_s").select(col("event_id"), to_timestamp(col("ts_s")).as("ts"))
    val far = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")
    sink.writeBatch(batch(Seq((1L, "2026-01-01T00:10:00Z"), (2L, "2026-01-01T01:10:00Z"))), 0)
    sink.sealClosed(far)
    val s1 = DoneScanner.newlySealed(spark, sink)
    assert(s1.newParts == Seq(("20260101", "00"), ("20260101", "01")))
    // nothing new: cursor suppresses re-delivery
    assert(DoneScanner.newlySealed(spark, sink, s1.cursor).newParts.isEmpty)
    // a later hour seals; only it is delivered
    Thread.sleep(5) // marker mtime must advance past the cursor (ms resolution)
    sink.writeBatch(batch(Seq((3L, "2026-01-01T02:10:00Z"))), 1)
    sink.sealClosed(far)
    val s2 = DoneScanner.newlySealed(spark, sink, s1.cursor)
    assert(s2.newParts == Seq(("20260101", "02")), s"got ${s2.newParts}")
    // re-sealing (compaction/backfill) stamps a fresh marker → re-delivered
    Thread.sleep(5)
    sink.writeBatch(batch(Seq((1L, "2026-01-01T00:10:00Z"))), 2) // re-stage the hour
    graft.streaming.Compaction.sealPartitions(spark, sink, Seq(("20260101", "00")))
    val s3 = DoneScanner.newlySealed(spark, sink, s2.cursor)
    assert(s3.newParts == Seq(("20260101", "00")), s"got ${s3.newParts}")
  }

  test("done-scanner: a marker stamped in the returned cursor's millisecond is delivered, once") {
    import graft.streaming.DoneScanner
    val root = tmp()
    val sink = new HiveBatchSink(spark, root)
    def batch(rows: Seq[(Long, String)]) =
      rows.toDF("event_id", "ts_s").select(col("event_id"), to_timestamp(col("ts_s")).as("ts"))
    val far = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")
    sink.writeBatch(batch(Seq((1L, "2026-01-01T00:10:00Z"))), 0)
    sink.sealClosed(far)
    val s1 = DoneScanner.newlySealed(spark, sink)
    assert(s1.newParts == Seq(("20260101", "00")))
    // the next hour seals after the poll, its marker stamped in the very
    // millisecond the cursor names
    sink.writeBatch(batch(Seq((2L, "2026-01-01T01:10:00Z"))), 1)
    sink.sealClosed(far)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setTimes(new org.apache.hadoop.fs.Path(sink.tablePath, "dt=20260101/hr=01/_DONE"), s1.cursor, -1L)
    val s2 = DoneScanner.newlySealed(spark, sink, s1.cursor)
    assert(s2.newParts == Seq(("20260101", "01")), s"got ${s2.newParts}")
    // idle poll: nothing re-delivered, cursor unchanged
    val s3 = DoneScanner.newlySealed(spark, sink, s2.cursor)
    assert(s3.newParts.isEmpty && s3.cursor == s2.cursor, s"got $s3 after $s2")
  }
}
