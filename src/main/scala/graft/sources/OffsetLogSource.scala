package graft.sources

import java.util
import java.util.Optional
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** [[OffsetLog]] as a genuine Data Source V2 `MicroBatchStream` — the
  * standard `readStream.format(...)` surface over the immutable segment
  * layout, so Structured Streaming OWNS offset tracking and
  * checkpointing: the engine's offset WAL is the only cursor, and the
  * log holds no consumer state. [[graft.streaming.HiveBatchSink.streamWriter]]
  * over this source (or over a `unionByName` of several, committed
  * together) is the bus → sealed-hour path. The provider is read-only: rows enter the
  * log through [[OffsetLog.append]].
  *
  * {{{
  *   spark.readStream
  *     .format("graft.sources.OffsetLogSourceProvider")
  *     .option("path", logRoot)
  *     .option("numPartitions", "4")
  *     .option("maxRowsPerTrigger", "100000")   // admission control
  *     .option("failOnDataLoss", "true")        // retention-hole posture
  *     .load()
  * }}}
  *
  * Bus anatomy preserved end-to-end:
  *   - `latestOffset` parses segment NAMES — metadata-only head lookup,
  *     no data file opened, exactly like a broker;
  *   - `planInputPartitions` prunes to segments overlapping
  *     [start, end) BY NAME, then each overlapping segment becomes ONE
  *     InputPartition (a broker's per-segment fetch) — parallelism
  *     scales with data in range, a tail read touches tail segments;
  *   - the reader clamps the offset range row-by-row inside the
  *     segment (segments are offset-sorted by construction, so the
  *     reader short-circuits past the range end);
  *   - the `partition` column is directory-derived (the file itself
  *     holds only payload + offset), injected as a constant per split;
  *   - offsets checkpoint through the engine: a restart resumes from
  *     the streaming WAL — `commit` is a no-op because segments are
  *     immutable (nothing to release), which is also why replay is
  *     exact;
  *   - each progress event's source `metrics` carry `lagRows`, the rows
  *     between the batch's end and the head that trigger listed.
  *
  * Segment payloads are read with parquet-hadoop's example Group API
  * (flat primitive schemas: long/int/double/float/boolean/string/
  * binary/timestamp — the offset-log contract; nested payloads belong
  * in a serialized column, the bus posture). Timestamp physical units
  * (MILLIS/MICROS/NANOS) normalize to Spark's micros.
  */
class OffsetLogSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OffsetLogSource.logSchema(
      SparkSession.active,
      options.get("path"),
      OffsetLogSource.resolvePartitions(
        Option(options.get("numPartitions")), options.get("path")))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OffsetLogTable(
      schema,
      properties.get("path"),
      OffsetLogSource.resolvePartitions(
        Option(properties.get("numPartitions")), properties.get("path")))

  override def supportsExternalMetadata(): Boolean = true
}

private[sources] object OffsetLogSource {
  /** Partition count: the explicit option wins; otherwise DISCOVER it
    * from the `partition=P` directory layout (max P + 1). A log with no
    * partition directory yet shows no count, and a guessed one would
    * leave a later producer's higher partitions unread: attaching there
    * needs the option. */
  private[sources] def resolvePartitions(explicit: Option[String], root: String): Int =
    explicit.map(_.toInt).getOrElse(
      OffsetLog.discoverPartitions(SparkSession.active, root).getOrElse(throw new IllegalArgumentException(
        s"offsetlog at $root has no partition=P directory yet: set option 'numPartitions' " +
          "to the producer's partition count to attach before the first append")))

  /** Spark schema of the log: one segment footer (via Spark's own
    * parquet conversion) + the directory-derived partition column. An
    * empty log (consumer attached before the first append) exposes the
    * two columns the log itself guarantees. */
  def logSchema(spark: SparkSession, root: String, numPartitions: Int): StructType = {
    require(root != null, "offsetlog source requires option 'path'")
    val f = OffsetLog.fs(spark, root)
    val seg = (0 until numPartitions).iterator.flatMap(OffsetLog.segments(f, root, _)).take(1).toSeq
    val payload = seg.headOption match {
      case Some(s) => spark.read.parquet(s.path.toString).schema
      case None => StructType(Seq(StructField("offset", LongType)))
    }
    StructType(StructField("partition", IntegerType, nullable = false) +: payload.fields.toSeq)
  }
}

private[sources] class OffsetLogTable(tableSchema: StructType, root: String, numPartitions: Int)
    extends Table with SupportsRead {
  override def name(): String = s"offsetlog(`$root`)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val maxRows = Option(options.get("maxRowsPerTrigger")).map(_.toLong)
    val failOnLoss = Option(options.get("failOnDataLoss")).forall(_.toBoolean)
    maxRows.foreach(n => require(n > 0, s"maxRowsPerTrigger must be positive, got $n"))
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new OffsetLogMicroBatchStream(
            tableSchema, root, numPartitions, maxRows, failOnLoss)
      }
    }
  }
}

/** Engine-facing offset: the per-log-partition next-offset map. MUST
  * serialize to ONE line — the engine's offset WAL is line-oriented
  * (one line per source), so a multi-line json() would deserialize as
  * several sources and refuse the checkpoint on restart. */
private[sources] case class LogOffsets(ends: Map[Int, Long]) extends Offset {
  override def json(): String =
    ends.toSeq.sorted.map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
}

private[sources] object LogOffsets {
  def parse(s: String): LogOffsets =
    LogOffsets(
      s.trim.stripPrefix("{").stripSuffix("}").split(",").iterator
        .map(_.trim).filter(_.nonEmpty).map { kv =>
          val Array(a, b) = kv.split(":")
          a.trim.stripPrefix("\"").stripSuffix("\"").toInt -> b.trim.toLong
        }.toMap)
}

private[sources] case class SegmentSplit(
    file: String,
    logPartition: Int,
    from: Long,
    until: Long) extends InputPartition

private[sources] class OffsetLogMicroBatchStream(
    schema: StructType,
    root: String,
    numPartitions: Int,
    maxRowsPerTrigger: Option[Long] = None,
    failOnDataLoss: Boolean = true)
  extends MicroBatchStream with SupportsTriggerAvailableNow with ReportsSourceMetrics {
  private def spark = SparkSession.active

  /** Captured head at AvailableNow start: the run drains TO here in
    * bounded batches and then stops, even if a producer keeps
    * appending — the engine's available-now contract. */
  @volatile private var availableNowCap: Option[Map[Int, Long]] = None

  override def initialOffset(): Offset =
    LogOffsets((0 until numPartitions).map(_ -> 0L).toMap)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method " +
        "(the stream implements SupportsAdmissionControl)")

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(OffsetLog.endOffsets(spark, root, numPartitions))

  /** ADMISSION CONTROL — the broker-consumer pattern
    * (`maxOffsetsPerTrigger` / `maxFilesPerTrigger` in the built-in
    * sources): a post-downtime catch-up drains as a SEQUENCE of bounded
    * micro-batches instead of one unbounded batch, so state stores,
    * shuffle sizes and commit units stay trigger-sized no matter how
    * far behind the consumer fell. `maxRowsPerTrigger` maps to
    * `ReadLimit.maxRows`. */
  override def getDefaultReadLimit: ReadLimit =
    maxRowsPerTrigger.fold(ReadLimit.allAvailable())(ReadLimit.maxRows)

  /** The head the latest trigger's [[latestOffset]] listed, reported
    * and measured against without listing the log again. */
  @volatile private var lastHead: Option[Map[Int, Long]] = None

  override def reportLatestOffset(): Offset =
    LogOffsets(lastHead.getOrElse(OffsetLog.endOffsets(spark, root, numPartitions)))

  /** `lagRows`: rows between the batch's end and the head, summed over
    * partitions — the progress event's "how far behind the bus". The
    * offset goes through its JSON form, so one restored from the
    * checkpoint reads the same as one this stream built. */
  override def metrics(latestConsumedOffset: Optional[Offset]): util.Map[String, String] =
    lastHead match {
      case Some(head) if latestConsumedOffset.isPresent =>
        val consumed = LogOffsets.parse(latestConsumedOffset.get.json()).ends
        val lag = head.map { case (p, e) => math.max(0L, e - consumed.getOrElse(p, 0L)) }.sum
        util.Map.of("lagRows", lag.toString)
      case _ => util.Map.of()
    }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[LogOffsets].ends
    val head = OffsetLog.endOffsets(spark, root, numPartitions)
    lastHead = Some(head)
    // AvailableNow: never admit past the head captured at run start
    val end = availableNowCap match {
      case Some(cap) => head.map { case (p, e) => p -> math.min(e, cap.getOrElse(p, 0L)) }
      case None => head
    }
    LogOffsets(limit match {
      case r: ReadMaxRows => capRows(from, end, r.maxRows())
      case _ => end // all available: no upper bound implied
    })
  }

  /** Proportional row admission: each partition advances by
    * floor(budget · lag_p / totalLag), remainder distributed one row at
    * a time to the laggiest partitions — total admitted ==
    * min(budget, totalLag), and strictly > 0 whenever lag exists, so a
    * capped catch-up always makes progress and the per-trigger row
    * count never exceeds the budget. */
  private def capRows(from: Map[Int, Long], end: Map[Int, Long], budget: Long): Map[Int, Long] = {
    val lag = end.map { case (p, e) => p -> math.max(0L, e - from.getOrElse(p, 0L)) }
    val total = lag.values.sum
    if (total <= budget) end
    else {
      // BigInt product: budget · lag both near 2^40 would overflow a
      // Long multiply and hand partitions NEGATIVE admits (a regressing
      // end offset); the division result itself always fits (≤ budget)
      val base = lag.map { case (p, l) => p -> (BigInt(budget) * l / total).toLong }
      var rem = budget - base.values.sum
      val order = lag.toSeq.sortBy { case (p, l) => (-l, p) }.iterator
      val bumped = scala.collection.mutable.Map(base.toSeq: _*)
      while (rem > 0 && order.hasNext) {
        val (p, l) = order.next()
        val extra = math.min(rem, l - bumped(p))
        bumped(p) += extra; rem -= extra
      }
      end.map { case (p, _) => p -> (from.getOrElse(p, 0L) + bumped.getOrElse(p, 0L)) }
    }
  }

  override def deserializeOffset(json: String): Offset = LogOffsets.parse(json)

  /** Segments are immutable, and removing old ones is done outside the
    * library, not by a consumer: nothing to release on commit; the
    * engine's WAL is the durable cursor. */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[LogOffsets].ends
    val until = end.asInstanceOf[LogOffsets].ends
    val f = OffsetLog.fs(spark, root)
    (0 until numPartitions).flatMap { p =>
      val lo = from.getOrElse(p, 0L)
      val hi = until.getOrElse(p, 0L)
      if (hi <= lo) Nil
      else {
        // overlap prune by NAME, clamp the range per segment
        val splits = OffsetLog.segments(f, root, p).collect {
          case s if s.start < hi && s.end > lo =>
            SegmentSplit(s.path.toString, p, math.max(lo, s.start), math.min(hi, s.end))
        }
        // removed segments × WAL seam: segments are contiguous by
        // construction, so any hole in [lo, hi) means segments this
        // cursor never consumed were removed from the log outside the
        // library. Fail LOUD by default (the Kafka failOnDataLoss
        // posture) — silent skipping turns a lifecycle misconfiguration
        // into quiet row loss; opt out with failOnDataLoss=false to
        // resume from what remains.
        val sorted = splits.sortBy(_.from)
        var cursor = lo
        val gaps = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        sorted.foreach { sp =>
          if (sp.from > cursor) gaps += ((cursor, sp.from))
          cursor = math.max(cursor, sp.until)
        }
        if (cursor < hi) gaps += ((cursor, hi))
        if (gaps.nonEmpty && failOnDataLoss)
          throw new IllegalStateException(
            s"offsetlog data loss: partition=$p offsets ${gaps.map { case (a, b) => s"[$a,$b)" }.mkString(", ")} " +
              s"were removed from the log before this consumer read them (root=$root). " +
              "Keep segments until every consumer has read them, or restart with failOnDataLoss=false to skip the hole.")
        splits
      }
    }.toArray
  }

  /** The Hadoop conf, broadcast once per stream: a full conf serializes
    * to about 100 KB, and shipping it inside every task's reader factory
    * made each task deserialize it again. Executors fetch the broadcast
    * once and every later task reads their cached copy. */
  private lazy val hadoopConf: Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))

  override def createReaderFactory(): PartitionReaderFactory =
    new SegmentReaderFactory(schema, hadoopConf)
}

private[sources] class SegmentReaderFactory(
    schema: StructType,
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val split = partition.asInstanceOf[SegmentSplit]
    new SegmentReader(schema, split, conf.value.value)
  }
}

/** Row-by-row Group → InternalRow reader over one immutable segment.
  * Supports the offset-log payload contract: flat primitive columns.
  * Rows are offset-sorted within a segment (append numbers them with
  * one ordered window), so the reader stops at the range end instead of
  * scanning the tail. */
private[sources] class SegmentReader(
    schema: StructType,
    split: SegmentSplit,
    conf: Configuration) extends PartitionReader[InternalRow] {
  import org.apache.parquet.conf.HadoopParquetConfiguration
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.api.ReadSupport
  import org.apache.parquet.hadoop.example.GroupReadSupport
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.parquet.schema.LogicalTypeAnnotation
  import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation

  // the (InputFile, ParquetConfiguration) builder: `ParquetReader.builder`
  // constructs a fresh `Configuration` (a full XML defaults parse) per
  // segment before `withConf` replaces it
  private val reader = new ParquetReader.Builder[Group](
      HadoopInputFile.fromPath(new Path(split.file), conf), new HadoopParquetConfiguration(conf)) {
    override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
  }.build()

  private var row: InternalRow = _
  private var done = false

  override def next(): Boolean = {
    if (done) return false
    var g = reader.read()
    while (g != null) {
      val fileSchema = g.getType
      val offIdx = fileSchema.getFieldIndex("offset")
      val off = g.getLong(offIdx, 0)
      if (off >= split.until) { done = true; return false } // sorted: past range
      if (off >= split.from) {
        row = convert(g)
        return true
      }
      g = reader.read()
    }
    done = true
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()

  private def timestampToMicros(g: Group, idx: Int): Long = {
    val prim = g.getType.getType(idx).asPrimitiveType()
    if (prim.getPrimitiveTypeName ==
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96) {
      // Spark's default on-write timestamp: 8 LE bytes nanos-of-day +
      // 4 LE bytes Julian day
      val b = g.getInt96(idx, 0).getBytes
      val buf = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val nanosOfDay = buf.getLong
      val julianDay = buf.getInt
      (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
    } else {
      val raw = g.getLong(idx, 0)
      prim.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
          case LogicalTypeAnnotation.TimeUnit.MICROS => raw
          case LogicalTypeAnnotation.TimeUnit.NANOS  => raw / 1000L
        }
        case _ => raw // bare INT64: assume micros
      }
    }
  }

  private def convert(g: Group): InternalRow = {
    val fileSchema = g.getType
    val out = new GenericInternalRow(schema.length)
    var i = 0
    while (i < schema.length) {
      val f = schema(i)
      if (f.name == "partition") out.setInt(i, split.logPartition)
      else {
        val idx = fileSchema.getFieldIndex(f.name)
        if (g.getFieldRepetitionCount(idx) == 0) out.setNullAt(i)
        else f.dataType match {
          case LongType                        => out.setLong(i, g.getLong(idx, 0))
          case IntegerType                     => out.setInt(i, g.getInteger(idx, 0))
          case DoubleType                      => out.setDouble(i, g.getDouble(idx, 0))
          case FloatType                       => out.setFloat(i, g.getFloat(idx, 0))
          case BooleanType                     => out.setBoolean(i, g.getBoolean(idx, 0))
          case StringType                      => out.update(i, UTF8String.fromString(g.getString(idx, 0)))
          case BinaryType                      => out.update(i, g.getBinary(idx, 0).getBytes)
          case TimestampType | TimestampNTZType => out.setLong(i, timestampToMicros(g, idx))
          case DateType                        => out.setInt(i, g.getInteger(idx, 0))
          case other => throw new UnsupportedOperationException(
            s"offsetlog payload column ${f.name}: unsupported type $other " +
              "(the log contract is flat primitive columns)")
        }
      }
      i += 1
    }
    out
  }
}
