package graft

import graft.sources.{OffsetLog, OffsetLogSourceProvider, Tables}
import graft.streaming.HiveBatchSink
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import java.nio.file.Files

/** source_offset_log as a DSv2 MicroBatchStream: `readStream` drains the
  * immutable segments with the ENGINE owning offsets/checkpointing —
  * proven by `HiveBatchSink.streamWriter` landing every logged row
  * exactly once through a crash between land and commit, for one log and
  * for a union of two, and by a checkpointed restart resuming past
  * already-processed segments. */
class OffsetLogSourceSpec extends SparkSpec {
  private val P = 4
  private val fmt = classOf[OffsetLogSourceProvider].getName

  private def readLog(root: String): DataFrame =
    spark.readStream
      .format(fmt)
      .option("path", root)
      .option("numPartitions", P.toString)
      .load()

  private def ids(df: DataFrame): Seq[Long] = df.select("event_id").collect().map(_.getLong(0)).toSeq

  private def logIds(logs: Seq[String]): Seq[Long] =
    logs.flatMap(l => ids(OffsetLog.readBatch(spark, l, P, Map.empty, OffsetLog.endOffsets(spark, l, P)))).sorted

  /** Sealed ∪ staged `event_id`s, sorted: every row the sink holds. */
  private def landedIds(sink: HiveBatchSink): Seq[Long] =
    (ids(sink.readTable()) ++ ids(spark.read.parquet(sink.stagingPath))).sorted

  /** The exactly-once contract over `logs`: sealed ∪ staged `event_id`s
    * are the logs' own ids, each once; every sealed hour carries `_DONE`
    * and none still has staged rows. */
  private def assertLandedOnce(sink: HiveBatchSink, logs: Seq[String]): Unit = {
    assert(landedIds(sink) == logIds(logs), "sealed ∪ staged must hold every logged row exactly once")
    val fs = new Path(sink.tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hourDirs(root: String): Set[String] =
      Option(fs.globStatus(new Path(root, "dt=*/hr=*"))).toSeq.flatten
        .map(s => s"${s.getPath.getParent.getName}/${s.getPath.getName}").toSet
    val sealedHours = hourDirs(sink.tablePath)
    assert(sealedHours.nonEmpty, "the fixture must seal hours")
    val unmarked = sealedHours.filterNot(h => fs.exists(new Path(s"${sink.tablePath}/$h/_DONE")))
    assert(unmarked.isEmpty, s"sealed hours without _DONE: $unmarked")
    val stranded = sealedHours.intersect(hourDirs(sink.stagingPath))
    assert(stranded.isEmpty, s"sealed hours with staged rows left: $stranded")
  }

  /** `streamWriter` over the union of `logs`, through a land-without-
    * commit crash with head movement. The events go in three tranches,
    * in time order (a later tranche holds no row of an hour an earlier
    * one sealed), each split across the logs:
    *   1. tranche 1 lands and commits;
    *   2. tranche 2's batch lands through `writeBatch` and throws before
    *      the engine commits it;
    *   3. tranche 3 is appended to every log while the query is down;
    *   4. the restart on the same checkpoint re-runs the crashed batch
    *      under its own id, so its staging replaces the crashed files. */
  private def assertCrashReplayLandsOnce(logs: Seq[String]): Unit = {
    val events = Tables(spark, sfDir).events
    val byTime = ids(events.orderBy("ts", "event_id"))
    val slices = 3 * logs.size
    def append(tranche: Int): Unit = logs.indices.foreach { i =>
      val j = tranche * logs.size + i
      val slice = byTime.slice(j * byTime.size / slices, (j + 1) * byTime.size / slices)
      OffsetLog.append(spark, logs(i), events.filter(col("event_id").isin(slice: _*)), "user_id", P)
    }
    val sink = new HiveBatchSink(spark, Files.createTempDirectory("graft-dsv2-crash-sink").toString)
    val ck = Files.createTempDirectory("graft-dsv2-crash-ck").toString
    append(0)
    // the source takes its schema from the segments, so attach after the first append
    val stream = logs.map(readLog(_).drop("partition", "offset")).reduce(_.unionByName(_))
    val crashedBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    def run(crash: Boolean): Unit =
      sink.streamWriter(stream, ck, onBatch = (b, id) =>
        if (crash) {
          sink.writeBatch(b, id)
          crashedBatch.set(id)
          throw new IllegalStateException(s"crash after landing batch $id")
        })
        .trigger(Trigger.AvailableNow()).start().awaitTermination(120000)

    run(crash = false)
    append(1)
    val err = intercept[StreamingQueryException](run(crash = true))
    assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("crash after landing"))))
    // landed, NOT committed: the engine logged the batch's offsets but no commit
    val id = crashedBatch.get()
    assert(id >= 0 && new java.io.File(s"$ck/offsets/$id").exists && !new java.io.File(s"$ck/commits/$id").exists)
    assert(landedIds(sink) == logIds(logs), "the crashed batch's rows are staged once")
    append(2) // the heads move while the query is down
    run(crash = false)
    assertLandedOnce(sink, logs)
  }

  test("one log via streamWriter: exactly once through a crash") {
    assertCrashReplayLandsOnce(Seq(Files.createTempDirectory("graft-dsv2-log").toString))
  }

  test("schema is directory partition + payload + offset; batch rows carry real offsets") {
    val logRoot = Files.createTempDirectory("graft-dsv2-log2").toString
    val events = Tables(spark, sfDir).events
    OffsetLog.append(spark, logRoot, events.limit(100), "user_id", P)
    val got = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    val q = readLog(logRoot).writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-dsv2-ck2").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.set(b.persist()); ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val b = got.get()
    assert(b.columns.take(2).toSeq == Seq("partition", "offset") ||
      b.columns.contains("partition") && b.columns.contains("offset"))
    assert(b.count() == 100)
    // offsets are contiguous from 0 within each partition — the same
    // rows the batch read path returns
    val perPart = b.groupBy("partition")
      .agg(count(lit(1)).as("n"), min("offset").as("lo"), max("offset").as("hi"))
      .collect()
    perPart.foreach { r =>
      assert(r.getAs[Long]("lo") == 0L &&
        r.getAs[Long]("hi") == r.getAs[Long]("n") - 1)
    }
    val viaBatch = OffsetLog.readBatch(spark, logRoot, P, Map.empty,
      OffsetLog.endOffsets(spark, logRoot, P))
    assert(b.select("event_id").exceptAll(viaBatch.select("event_id")).isEmpty)
    b.unpersist()
  }

  test("checkpointed restart resumes from the engine WAL, not from zero") {
    val logRoot = Files.createTempDirectory("graft-dsv2-log3").toString
    val ck = Files.createTempDirectory("graft-dsv2-ck3").toString
    val events = Tables(spark, sfDir).events
    val seen = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    def runAvailable(): Unit = {
      val q = readLog(logRoot).writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("event_id").collect().foreach(r => seen.add(r.getLong(0)))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    OffsetLog.append(spark, logRoot, events.limit(50), "user_id", P)
    runAvailable()
    assert(seen.size == 50)
    // second tranche appended AFTER the first run committed to the WAL:
    // the restart must read exactly the 30 new rows, no replay
    OffsetLog.append(spark, logRoot,
      events.exceptAll(events.limit(50)).limit(30), "user_id", P)
    runAvailable()
    assert(seen.size == 80, s"restart replayed or skipped rows: ${seen.size}")
    assert(seen.size == new java.util.HashSet[Long](seen).size, "no duplicates")
  }

  test("fan-in via streamWriter: two logs, exactly once through a crash") {
    // the engine logs and commits every source's offsets of a batch
    // together, so a crash can't advance one log without the other
    assertCrashReplayLandsOnce(Seq(
      Files.createTempDirectory("graft-dsv2-fanA").toString,
      Files.createTempDirectory("graft-dsv2-fanB").toString))
  }

  test("numPartitions discovers from the directory layout when not specified") {
    val logRoot = Files.createTempDirectory("graft-dsv2-log5").toString
    val events = Tables(spark, sfDir).events
    OffsetLog.append(spark, logRoot, events.limit(60), "user_id", P)
    var rows = -1L
    val q = spark.readStream.format(fmt).option("path", logRoot).load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-dsv2-ck5").toString)
      .foreachBatch { (b: DataFrame, _: Long) => rows = b.count(); () }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(rows == 60, s"discovery must cover all $P partitions, read $rows rows")
  }

  test("an empty log without numPartitions is refused at load(), naming the option") {
    val logRoot = Files.createTempDirectory("graft-dsv2-nopart").toString
    val e = intercept[IllegalArgumentException](
      spark.readStream.format(fmt).option("path", logRoot).load())
    assert(e.getMessage.contains("numPartitions"), e.getMessage)
  }

  test("admission control: a backlog drains in >=3 bounded micro-batches and lands exactly the log's rows") {
    val logRoot = Files.createTempDirectory("graft-dsv2-ac1").toString
    val events = Tables(spark, sfDir).events
    // preload the WHOLE backlog before the consumer ever attaches — the
    // post-downtime catch-up scenario the cap exists for
    val n = events.count()
    OffsetLog.append(spark, logRoot, events.limit(300), "user_id", P)
    OffsetLog.append(spark, logRoot, events.exceptAll(events.limit(300)), "user_id", P)

    // engine-owned drain, capped at cap rows per trigger
    val cap = math.max(1L, n / 5)
    val batchSizes = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    val sink = new HiveBatchSink(spark,
      Files.createTempDirectory("graft-dsv2-ac1-sink").toString)
    val capped = spark.readStream.format(fmt)
      .option("path", logRoot)
      .option("numPartitions", P.toString)
      .option("maxRowsPerTrigger", cap.toString)
      .load()
    val ck = Files.createTempDirectory("graft-dsv2-ac1-ck").toString
    val q = sink
      .streamWriter(capped.drop("partition", "offset"), ck,
        onBatch = (b, _) => batchSizes.add(b.count()))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)

    import scala.jdk.CollectionConverters._
    val sizes = batchSizes.asScala.toSeq
    assert(sizes.count(_ > 0) >= 3,
      s"a ${n}-row backlog at cap=$cap must drain in >=3 bounded batches, got $sizes")
    assert(sizes.forall(_ <= cap), s"a batch exceeded maxRowsPerTrigger=$cap: $sizes")
    assert(sizes.sum == n, s"capped drain lost/duplicated rows: ${sizes.sum} != $n")
    assert(landedIds(sink) == logIds(Seq(logRoot)), "bounded catch-up must land exactly the log's rows")
  }

  test("retention hole in the unconsumed range: fails loud by default, skips cleanly when opted out") {
    val logRoot = Files.createTempDirectory("graft-dsv2-ret").toString
    val ck = Files.createTempDirectory("graft-dsv2-ret-ck").toString
    val events = Tables(spark, sfDir).events
    val seen = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    def run(failOnDataLoss: Option[Boolean]): Unit = {
      var r = spark.readStream.format(fmt)
        .option("path", logRoot).option("numPartitions", P.toString)
      failOnDataLoss.foreach(v => r = r.option("failOnDataLoss", v.toString))
      val q = r.load().writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("event_id").collect().foreach(x => seen.add(x.getLong(0))); ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(180000)
    }
    // tranche 1 consumed; tranches 2+3 appended after, then tranche 2's
    // segments expire BEFORE the consumer returns — the seam under test
    OffsetLog.append(spark, logRoot, events.limit(40), "user_id", P)
    run(None)
    val consumed = seen.size
    assert(consumed == 40)
    val rest = events.exceptAll(events.limit(40))
    val ends1 = OffsetLog.endOffsets(spark, logRoot, P)
    OffsetLog.append(spark, logRoot, rest.limit(40), "user_id", P)
    val ends2 = OffsetLog.endOffsets(spark, logRoot, P)
    OffsetLog.append(spark, logRoot, rest.exceptAll(rest.limit(40)).limit(40), "user_id", P)
    // expire tranche 2: delete exactly the segments whose [start,end)
    // lies in (ends1, ends2] — simulating Retention passing the cursor
    val f = new org.apache.hadoop.fs.Path(logRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val SegRe = "segment-(\\d+)-(\\d+)\\.parquet".r
    var deleted = 0
    (0 until P).foreach { p =>
      val d = new org.apache.hadoop.fs.Path(s"$logRoot/partition=$p")
      if (f.exists(d)) f.listStatus(d).foreach { st =>
        st.getPath.getName match {
          case SegRe(s0, n0) =>
            val s = s0.toLong
            if (s >= ends1(p) && s + n0.toLong <= ends2(p)) {
              f.delete(st.getPath, false); deleted += 1
            }
          case _ =>
        }
      }
    }
    assert(deleted > 0, "fixture must actually expire a segment")
    // default posture: loud failure naming the hole
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { run(None) }
    val messages = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).toSeq
    assert(messages.exists(_.contains("data loss")),
      s"failure must name the retention hole, got: $messages")
    assert(seen.size == consumed, "the failing run must not emit partial rows past the hole")
    // opt-out posture: resume cleanly, reading only what remains
    run(Some(false))
    assert(seen.size == consumed + 40,
      s"failOnDataLoss=false must skip the hole and read tranche 3's 40 rows, got ${seen.size - consumed}")
  }

  test("the reader factory shipped in every task carries no Hadoop conf") {
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val logRoot = Files.createTempDirectory("graft-dsv2-ser").toString
    OffsetLog.append(spark, logRoot, Tables(spark, sfDir).events.limit(20), "user_id", P)
    val provider = new OffsetLogSourceProvider
    val opts = new CaseInsensitiveStringMap(java.util.Map.of("path", logRoot, "numPartitions", P.toString))
    val stream = provider.getTable(provider.inferSchema(opts), Array.empty, opts)
      .asInstanceOf[SupportsRead].newScanBuilder(opts).build()
      .toMicroBatchStream(Files.createTempDirectory("graft-dsv2-ser-ck").toString)
    def javaSerializedBytes(o: AnyRef): Int = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      try out.writeObject(o) finally out.close()
      bytes.size()
    }
    val factoryBytes = javaSerializedBytes(stream.createReaderFactory())
    assert(factoryBytes < 4096, s"reader factory serializes to $factoryBytes bytes")
    // the bound discriminates: the conf alone does not fit under it
    val confBytes = javaSerializedBytes(
      new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    assert(confBytes > 4096, s"Hadoop conf serializes to only $confBytes bytes")
    stream.stop()
  }

  test("micro-batches clamped mid-segment over several partitions return exactly readBatch's rows") {
    val logRoot = Files.createTempDirectory("graft-dsv2-clamp").toString
    val events = Tables(spark, sfDir).events
    // two append waves: every partition holds two segments
    OffsetLog.append(spark, logRoot, events.limit(150), "user_id", P)
    OffsetLog.append(spark, logRoot, events.exceptAll(events.limit(150)).limit(150), "user_id", P)
    val head = OffsetLog.endOffsets(spark, logRoot, P)
    val cols = ("partition" +: events.columns.toSeq :+ "offset").map(col)
    val batches = new java.util.concurrent.ConcurrentHashMap[Long, Array[org.apache.spark.sql.Row]]()
    val q = spark.readStream.format(fmt)
      .option("path", logRoot)
      .option("numPartitions", P.toString)
      .option("maxRowsPerTrigger", "70") // not a multiple of any segment size
      .load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-dsv2-clamp-ck").toString)
      .foreachBatch { (b: DataFrame, id: Long) => batches.put(id, b.select(cols: _*).collect()); () }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)

    def offsets(json: String): Map[Int, Long] =
      "\"(\\d+)\":(\\d+)".r.findAllMatchIn(json).map(m => m.group(1).toInt -> m.group(2).toLong).toMap
    val ranges = q.recentProgress.filter(_.numInputRows > 0).map { pr =>
      (pr.batchId, Option(pr.sources.head.startOffset).fold(Map.empty[Int, Long])(offsets),
        offsets(pr.sources.head.endOffset))
    }
    assert(ranges.length >= 4, s"300 rows at 70 per trigger must take >=4 batches, got ${ranges.length}")
    import scala.jdk.CollectionConverters._
    assert(batches.asScala.collect { case (id, rows) if rows.nonEmpty => id.toLong }.toSet ==
      ranges.map(_._1).toSet)
    val f = new org.apache.hadoop.fs.Path(logRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val SegRe = "segment-(\\d+)-(\\d+)\\.parquet".r
    val boundaries = (0 until P).map { p =>
      p -> f.listStatus(new org.apache.hadoop.fs.Path(s"$logRoot/partition=$p")).map(_.getPath.getName)
        .collect { case SegRe(s0, n0) => Set(s0.toLong, s0.toLong + n0.toLong) }.flatten.toSet
    }.toMap
    assert(ranges.exists { case (_, _, end) => end.exists { case (p, e) => !boundaries(p).contains(e) } },
      "no batch ended mid-segment; the fixture does not exercise clamping")
    assert(ranges.last._3 == head, s"the stream stopped at ${ranges.last._3}, not the head $head")
    ranges.foreach { case (id, from, until) =>
      val expected = OffsetLog.readBatch(spark, logRoot, P, from, until)
        .withColumn("partition", col("partition").cast("int")).select(cols: _*)
      val got = spark.createDataFrame(java.util.Arrays.asList(batches.get(id): _*), expected.schema)
      assert(got.count() == expected.count() &&
        got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
        s"batch $id over [$from, $until) differs from readBatch")
    }
  }

  test("empty log: attaching a consumer before the first append is caught-up, not an error") {
    val logRoot = Files.createTempDirectory("graft-dsv2-log4").toString
    new java.io.File(logRoot).mkdirs()
    var rows = -1L
    val q = readLog(logRoot).writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-dsv2-ck4").toString)
      .foreachBatch { (b: DataFrame, _: Long) => rows = b.count(); () }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(rows <= 0, s"an empty log must not produce rows, got $rows")
  }

  test("empty log: streamWriter with no schema fails at attach, naming ts") {
    val logRoot = Files.createTempDirectory("graft-dsv2-log5").toString
    new java.io.File(logRoot).mkdirs()
    val sink = new HiveBatchSink(spark, Files.createTempDirectory("graft-dsv2-sink5").toString)
    val e = intercept[IllegalArgumentException](
      sink.streamWriter(readLog(logRoot), Files.createTempDirectory("graft-dsv2-ck5").toString))
    assert(e.getMessage.contains("`ts`") && e.getMessage.contains(".schema("), e.getMessage)
  }

  test("the log is read-only: writeStream to it fails at start() and appends no segment") {
    val source = Files.createTempDirectory("graft-dsv2-ro-src").toString
    val target = Files.createTempDirectory("graft-dsv2-ro-dst").toString
    OffsetLog.append(spark, source, Tables(spark, sfDir).events.limit(20), "user_id", P)
    val writer = readLog(source).drop("partition", "offset").writeStream.format(fmt)
      .option("path", target)
      .option("numPartitions", P.toString)
      .option("keyColumn", "user_id")
      .option("checkpointLocation", Files.createTempDirectory("graft-dsv2-ro-ck").toString)
      .trigger(Trigger.AvailableNow())
    val started = scala.util.Try(writer.start())
    started.foreach(_.awaitTermination(120000))
    assert(started.isFailure, "writeStream into an offset log must be refused at start()")
    assert(OffsetLog.endOffsets(spark, target, P).values.sum == 0, "no segment may land in the target log")
    // a consumer that reads the log writes nothing into it either
    readLog(source).writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-dsv2-ro-ck2").toString)
      .foreachBatch { (_: DataFrame, _: Long) => () }
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination(120000)
    val entries = new java.io.File(source).list().toSeq
    assert(entries.nonEmpty && entries.forall(_.startsWith("partition=")),
      s"the log root must hold only partition= directories after a read: $entries")
  }
}
