package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.sources.OffsetLog
import graft.streaming.{Compaction, DoneScanner, EventParser, HiveBatchSink, StreamingDedup}

/** The ingest pipeline under test, built only from public library calls:
  *
  * {{{
  *   OffsetLogSourceProvider readStream
  *     -> EventParser.parseLines / wellFormed
  *     -> StreamingDedup.dedup
  *     -> HiveBatchSink(rules = eventIngestRules).streamWriter
  * }}}
  *
  * Untraced runs hand the stream to `streamWriter` as a user would. A
  * traced run composes the same calls `streamWriter` does (writeBatch,
  * then closedPartitions + Compaction.sealPartitions, which is
  * `sealClosed`) inside its own foreachBatch, with a span around each. */
final class Pipeline(spark: SparkSession, tracer: Tracer, partitions: Int) {

  private val BusSchema = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("value", StringType),
    StructField("offset", LongType)))

  def events(busRoot: String, maxRowsPerTrigger: Option[Long]): DataFrame = {
    val r = spark.readStream
      .format("graft.sources.OffsetLogSourceProvider")
      .schema(BusSchema)
      .option("path", busRoot)
      .option("numPartitions", partitions.toString)
    val raw = maxRowsPerTrigger.fold(r)(n => r.option("maxRowsPerTrigger", n.toString)).load()
    StreamingDedup.dedup(EventParser.wellFormed(EventParser.parseLines(raw.select("value"))))
  }

  def sink(root: String): HiveBatchSink =
    new HiveBatchSink(spark, root, rules = HiveBatchSink.eventIngestRules)

  /** Files and (dt, hr) directories one writeBatch call staged. */
  private def stagedBy(sink: HiveBatchSink, batchId: Long): (Long, Long) = {
    val root = new java.io.File(sink.stagingPath)
    val dirs = Option(root.listFiles()).toSeq.flatten.filter(_.getName.startsWith("dt="))
      .flatMap(d => Option(d.listFiles()).toSeq.flatten.filter(_.getName.startsWith("hr=")))
      .map(h => new java.io.File(h, s"ingest_batch=$batchId")).filter(_.isDirectory)
    (dirs.map(d => Option(d.listFiles()).toSeq.flatten.count(_.getName.startsWith("part-")).toLong).sum, dirs.size.toLong)
  }

  private def sealedFiles(sink: HiveBatchSink, parts: Seq[(String, String)]): Long =
    parts.map { case (dt, hr) =>
      Option(new java.io.File(sink.tablePath, s"dt=$dt/hr=$hr").listFiles()).toSeq.flatten
        .count(f => f.getName.startsWith("part-")).toLong
    }.sum

  def start(stream: DataFrame, sink: HiveBatchSink, checkpoint: String, availableNow: Boolean): StreamingQuery = {
    val w =
      if (!tracer.enabled) sink.streamWriter(stream, checkpoint)
      else
        stream.writeStream
          .option("checkpointLocation", checkpoint)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            tracer.span("stream.foreachBatch") {
              val st = tracer.spanWith("sink.writeBatch") { s =>
                val r = sink.writeBatch(batch, batchId)
                s.foreach { sp =>
                  val (files, dirs) = stagedBy(sink, batchId)
                  sp.files = files
                  sp.dirs = dirs
                }
                r
              }
              st.maxEventTime.foreach { ts =>
                val closed = tracer.span("seal.closedPartitions")(sink.closedPartitions(ts))
                if (closed.nonEmpty)
                  tracer.spanWith("seal.sealPartitions") { s =>
                    Compaction.sealPartitions(spark, sink, closed)
                    s.foreach { sp => sp.files = sealedFiles(sink, closed); sp.dirs = closed.size.toLong }
                  }
              }
            }
            ()
          }
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** The stream's per-batch work as one batch job over the whole bus:
    * the public calls `events` and `streamWriter` compose, with
    * writeBatch and the seal traced like a micro-batch. The dedup is the
    * batch form (`dropDuplicates` on the id): `StreamingDedup.dedup`'s
    * `dropDuplicatesWithinWatermark` refuses batch input. */
  def load(busRoot: String, sink: HiveBatchSink): Unit = {
    val end = OffsetLog.endOffsets(spark, busRoot, partitions)
    val lines = OffsetLog.readBatch(spark, busRoot, partitions, Map.empty, end).select("value")
    val events = EventParser.wellFormed(EventParser.parseLines(lines)).dropDuplicates("event_id")
    val st = tracer.spanWith("sink.writeBatch") { s =>
      val r = sink.writeBatch(events, 0L)
      s.foreach { sp => val (files, dirs) = stagedBy(sink, 0L); sp.files = files; sp.dirs = dirs }
      r
    }
    st.maxEventTime.foreach { ts =>
      val closed = tracer.span("seal.closedPartitions")(sink.closedPartitions(ts))
      tracer.spanWith("seal.sealPartitions") { s =>
        Compaction.sealPartitions(spark, sink, closed)
        s.foreach { sp => sp.files = sealedFiles(sink, closed); sp.dirs = closed.size.toLong }
      }
    }
  }

  /** Seal every staged hour regardless of the watermark — the
    * end-of-stream flush a one-shot load ends with. */
  def sealAll(sink: HiveBatchSink): Seq[(String, String)] = {
    val all = sink.closedPartitions(new java.sql.Timestamp(Long.MaxValue / 4))
    tracer.spanWith("seal.sealPartitions") { s =>
      Compaction.sealPartitions(spark, sink, all)
      s.foreach { sp => sp.files = sealedFiles(sink, all); sp.dirs = all.size.toLong }
    }
    all
  }
}

/** The downstream consumer: polls `DoneScanner.newlySealed` and records
  * when each hour's `_DONE` first became visible. It also samples the
  * bus lag (head offsets minus the stream's processed offsets). */
final class DoneWatcher(
    spark: SparkSession,
    tracer: Tracer,
    sink: HiveBatchSink,
    progress: StreamProgress,
    busRoot: String,
    partitions: Int,
    pollMs: Long = 50L) {

  val seenNs = new ConcurrentHashMap[(String, String), java.lang.Long]()
  /** (sample time ns, lag rows) */
  val lag: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  @volatile var runId: String = ""
  @volatile private var running = true
  @volatile var error: Option[Throwable] = None

  private val thread = new Thread("perfbench-done-watcher") {
    override def run(): Unit = {
      // The lookback re-lists markers stamped in the same clock tick as
      // the cursor: `newlySealed` filters on mtime > cursor, so a marker
      // written in the cursor's millisecond after the poll would be
      // skipped for good. Seen hours are de-duplicated here.
      var cursor = 0L
      try while (running) {
        val scan = tracer.span("done.newlySealed")(DoneScanner.newlySealed(spark, sink, math.max(0L, cursor - 2000L)))
        val now = System.nanoTime()
        scan.newParts.foreach(p => seenNs.putIfAbsent(p, now))
        cursor = math.max(cursor, scan.cursor)
        if (runId.nonEmpty) {
          val head = OffsetLog.endOffsets(spark, busRoot, partitions).values.sum
          lag.synchronized(lag += ((now, head - progress.processedRows(runId))))
        }
        Thread.sleep(pollMs)
      } catch { case e: Throwable => error = Some(e) }
    }
  }
  thread.setDaemon(true)
  thread.start()

  def seen: Map[(String, String), Long] = seenNs.asScala.map { case (k, v) => k -> v.longValue }.toMap

  /** Wait until every hour in `hours` is seen sealed; false on timeout. */
  def awaitSealed(hours: Iterable[(String, String)], timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!hours.forall(seenNs.containsKey) && System.currentTimeMillis() < deadline && error.isEmpty)
      Thread.sleep(10)
    hours.forall(seenNs.containsKey)
  }

  def stop(): Unit = { running = false; thread.join() }
}

object Pipeline {
  def dirOf(p: Path): String = { Files.createDirectories(p); p.toAbsolutePath.toString }
  def exists(spark: SparkSession, p: String): Boolean =
    new HPath(p).getFileSystem(spark.sparkContext.hadoopConfiguration).exists(new HPath(p))
}
