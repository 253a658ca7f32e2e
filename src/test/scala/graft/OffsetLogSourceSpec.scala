package graft

import graft.sources.{OffsetLog, OffsetLogSourceProvider, Tables}
import graft.streaming.{HiveBatchSink, OffsetLogRelay}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** source_offset_log as a DSv2 MicroBatchStream: `readStream` drains the
  * same immutable segments the hand-rolled relay does, with the ENGINE
  * owning offsets/checkpointing — proven by landing the identical sealed
  * table through both paths, and by a checkpointed restart resuming past
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

  test("readStream over the log lands the same sealed table as the relay") {
    val logRoot = Files.createTempDirectory("graft-dsv2-log").toString
    val events = Tables(spark, sfDir).events
    OffsetLog.append(spark, logRoot, events.limit(400), "user_id", P)
    OffsetLog.append(spark, logRoot, events.exceptAll(events.limit(400)), "user_id", P)

    // path A: the hand-rolled exactly-once relay
    val sinkA = new HiveBatchSink(spark,
      Files.createTempDirectory("graft-dsv2-sinkA").toString)
    OffsetLogRelay.drainLoop(spark, logRoot, "agent", P, sinkA)

    // path B: standard Structured Streaming over the DSv2 source
    val sinkB = new HiveBatchSink(spark,
      Files.createTempDirectory("graft-dsv2-sinkB").toString)
    val ck = Files.createTempDirectory("graft-dsv2-ck").toString
    val q = sinkB
      .streamWriter(readLog(logRoot).drop("partition", "offset"), ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    def surface(s: HiveBatchSink) =
      s.readTable().select("event_id").unionByName(
        spark.read.parquet(s.stagingPath).select("event_id"))
    val a = surface(sinkA)
    val b = surface(sinkB)
    assert(a.count() == events.count() && b.count() == a.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "both paths land exactly the log's rows")
    // sealed partition layout agrees too (same watermark rule)
    val sealedA = sinkA.readTable().select("dt", "hr").distinct().collect().toSet
    val sealedB = sinkB.readTable().select("dt", "hr").distinct().collect().toSet
    assert(sealedA == sealedB, s"sealed partitions diverge: $sealedA vs $sealedB")
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

  test("fan-in through the standard API: a union of two DSv2 log streams lands the FanInRelay's table") {
    val logA = Files.createTempDirectory("graft-dsv2-fanA").toString
    val logB = Files.createTempDirectory("graft-dsv2-fanB").toString
    val events = Tables(spark, sfDir).events
    OffsetLog.append(spark, logA, events.limit(120), "user_id", P)
    OffsetLog.append(spark, logB, events.exceptAll(events.limit(120)).limit(80), "user_id", P)

    // path A: the combined-commit fan-in relay
    val sinkA = new HiveBatchSink(spark,
      Files.createTempDirectory("graft-dsv2-fansinkA").toString)
    graft.streaming.FanInRelay.drainLoop(spark, Seq(logA, logB), "agents", P, sinkA,
      commitRoot = Files.createTempDirectory("graft-dsv2-fanck").toString)

    // path B: engine-checkpointed union — Structured Streaming tracks
    // each source's offsets in ONE commit, which is exactly the
    // combined-commit atomicity FanInRelay hand-builds
    val sinkB = new HiveBatchSink(spark,
      Files.createTempDirectory("graft-dsv2-fansinkB").toString)
    val unioned = readLog(logA).drop("partition", "offset")
      .unionByName(readLog(logB).drop("partition", "offset"))
    val q = sinkB
      .streamWriter(unioned, Files.createTempDirectory("graft-dsv2-fanck2").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    def surface(s: HiveBatchSink) =
      s.readTable().select("event_id").unionByName(
        spark.read.parquet(s.stagingPath).select("event_id"))
    val a = surface(sinkA); val b = surface(sinkB)
    assert(a.count() == 200 && b.count() == 200)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "fan-in through readStream lands exactly the relay's rows")
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

  test("admission control: a backlog drains in >=3 bounded micro-batches and lands the relay's exact table") {
    val logRoot = Files.createTempDirectory("graft-dsv2-ac1").toString
    val events = Tables(spark, sfDir).events
    // preload the WHOLE backlog before the consumer ever attaches — the
    // post-downtime catch-up scenario the cap exists for
    val n = events.count()
    OffsetLog.append(spark, logRoot, events.limit(300), "user_id", P)
    OffsetLog.append(spark, logRoot, events.exceptAll(events.limit(300)), "user_id", P)

    // path A: the hand-rolled exactly-once relay (unbounded, the oracle)
    val sinkA = new HiveBatchSink(spark,
      Files.createTempDirectory("graft-dsv2-ac1-sinkA").toString)
    OffsetLogRelay.drainLoop(spark, logRoot, "agent", P, sinkA)

    // path B: engine-owned drain, capped at cap rows per trigger
    val cap = math.max(1L, n / 5)
    val batchSizes = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    val sinkB = new HiveBatchSink(spark,
      Files.createTempDirectory("graft-dsv2-ac1-sinkB").toString)
    val capped = spark.readStream.format(fmt)
      .option("path", logRoot)
      .option("numPartitions", P.toString)
      .option("maxRowsPerTrigger", cap.toString)
      .load()
    val ck = Files.createTempDirectory("graft-dsv2-ac1-ck").toString
    val q = sinkB
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

    def surface(s: HiveBatchSink) =
      s.readTable().select("event_id").unionByName(
        spark.read.parquet(s.stagingPath).select("event_id"))
    val a = surface(sinkA); val b = surface(sinkB)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "bounded catch-up must land exactly the relay's rows")
  }

  test("admission control: maxSegmentsPerTrigger bounds each batch to N segment files, round-robin fair") {
    val logRoot = Files.createTempDirectory("graft-dsv2-ac2").toString
    val events = Tables(spark, sfDir).events
    // 3 appends x P partitions = up to 3P segments in the backlog
    val e1 = events.limit(90)
    val rest = events.exceptAll(e1)
    OffsetLog.append(spark, logRoot, e1, "user_id", P)
    OffsetLog.append(spark, logRoot, rest.limit(90), "user_id", P)
    OffsetLog.append(spark, logRoot, rest.exceptAll(rest.limit(90)).limit(90), "user_id", P)

    val batches = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    val q = spark.readStream.format(fmt)
      .option("path", logRoot)
      .option("numPartitions", P.toString)
      .option("maxSegmentsPerTrigger", P.toString) // one append-wave per trigger
      .load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-dsv2-ac2-ck").toString)
      .foreachBatch { (b: DataFrame, _: Long) => batches.add(b.count()); () }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    import scala.jdk.CollectionConverters._
    val sizes = batches.asScala.toSeq.filter(_ > 0)
    assert(sizes.length >= 3,
      s"3 append-waves at maxSegmentsPerTrigger=$P must take >=3 triggers, got $sizes")
    assert(sizes.sum == 270, s"segment-capped drain lost/duplicated rows: $sizes")
    // round-robin fairness: each capped batch spans at most one
    // append-wave per partition, so no batch exceeds one wave's 90 rows
    assert(sizes.forall(_ <= 90), s"a batch crossed wave boundaries unfairly: $sizes")
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
}
