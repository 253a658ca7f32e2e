package graft.sources

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** [[OffsetLog]] as a genuine Data Source V2 `MicroBatchStream` — the
  * standard `readStream.format(...)` surface over the same immutable
  * segment layout the hand-rolled relay drains, so Structured Streaming
  * OWNS offset tracking and checkpointing (the engine's WAL replaces the
  * relay's consumer-group files; the relay stays as the exactly-once
  * comparison harness and for callers without a streaming runtime).
  *
  * {{{
  *   spark.readStream
  *     .format("graft.sources.OffsetLogSourceProvider")
  *     .option("path", logRoot)
  *     .option("numPartitions", "4")
  *     .option("maxRowsPerTrigger", "100000")   // admission control (rows)
  *     .option("maxSegmentsPerTrigger", "64")   // admission control (files)
  *     .option("failOnDataLoss", "true")        // retention-hole posture
  *     .option("commitGroup", "ops")            // mirror cursor for lagReport
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
  *     exact.
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
  private[sources] val SegRe = "segment-(\\d+)-(\\d+)\\.parquet".r

  /** Partition count: the explicit option wins; otherwise DISCOVER it
    * from the `partition=P` directory layout (max P + 1). An
    * understated explicit value would silently truncate the partition
    * set — discovery can't make that mistake, and a log that doesn't
    * exist yet falls back to 4 (matching [[OffsetLog]] callers). */
  private[sources] def resolvePartitions(explicit: Option[String], root: String): Int =
    explicit.map(_.toInt).getOrElse {
      val spark = SparkSession.active
      val p = new Path(root)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(p)) 4
      else {
        val parts = f.listStatus(p).map(_.getPath.getName)
          .collect { case n if n.startsWith("partition=") =>
            n.stripPrefix("partition=").toInt }
        if (parts.isEmpty) 4 else parts.max + 1
      }
    }

  /** Spark schema of the log: one segment footer (via Spark's own
    * parquet conversion) + the directory-derived partition column. An
    * empty log (consumer attached before the first append) exposes the
    * two columns the log itself guarantees. */
  def logSchema(spark: SparkSession, root: String, numPartitions: Int): StructType = {
    require(root != null, "offsetlog source requires option 'path'")
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seg = (0 until numPartitions).iterator.flatMap { p =>
      val d = new Path(s"$root/partition=$p")
      if (!f.exists(d)) Iterator.empty
      else f.listStatus(d).iterator.map(_.getPath).filter(x => SegRe.matches(x.getName))
    }.take(1).toSeq
    val payload = seg.headOption match {
      case Some(path) => spark.read.parquet(path.toString).schema
      case None => StructType(Seq(StructField("offset", LongType)))
    }
    StructType(StructField("partition", IntegerType, nullable = false) +: payload.fields.toSeq)
  }
}

private[sources] class OffsetLogTable(tableSchema: StructType, root: String, numPartitions: Int)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"offsetlog(`$root`)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new OffsetLogWriteBuilder(root, numPartitions, info)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val maxRows = Option(options.get("maxRowsPerTrigger")).map(_.toLong)
    val maxSegs = Option(options.get("maxSegmentsPerTrigger")).map(_.toInt)
    val failOnLoss = Option(options.get("failOnDataLoss")).forall(_.toBoolean)
    val commitGroup = Option(options.get("commitGroup")).filter(_.nonEmpty)
    maxRows.foreach(n => require(n > 0, s"maxRowsPerTrigger must be positive, got $n"))
    maxSegs.foreach(n => require(n > 0, s"maxSegmentsPerTrigger must be positive, got $n"))
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new OffsetLogMicroBatchStream(
            tableSchema, root, numPartitions, maxRows, maxSegs, failOnLoss, commitGroup)
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
    maxSegmentsPerTrigger: Option[Int] = None,
    failOnDataLoss: Boolean = true,
    commitGroup: Option[String] = None)
  extends MicroBatchStream with SupportsTriggerAvailableNow {
  import OffsetLogSource.SegRe

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
    * `ReadLimit.maxRows`, `maxSegmentsPerTrigger` to
    * `ReadLimit.maxFiles` (a segment IS one file); both compose. */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxRowsPerTrigger.map(ReadLimit.maxRows).toSeq ++
      maxSegmentsPerTrigger.map(ReadLimit.maxFiles).toSeq
    limits match {
      case Nil      => ReadLimit.allAvailable()
      case Seq(one) => one
      case many     => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def reportLatestOffset(): Offset =
    LogOffsets(OffsetLog.endOffsets(spark, root, numPartitions))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[LogOffsets].ends
    mirrorCursor(from) // `start` is WAL-durable AND processed: safe to expose
    val head = OffsetLog.endOffsets(spark, root, numPartitions)
    // AvailableNow: never admit past the head captured at run start
    val end = availableNowCap match {
      case Some(cap) => head.map { case (p, e) => p -> math.min(e, cap.getOrElse(p, 0L)) }
      case None => head
    }
    def flatten(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flatten)
      case o => Seq(o)
    }
    val bounded = flatten(limit).foldLeft(end) {
      case (acc, r: ReadMaxRows)  => capRows(from, acc, r.maxRows())
      case (acc, s: ReadMaxFiles) => capSegments(from, acc, s.maxFiles())
      case (acc, _: ReadAllAvailable) => acc
      case (acc, _) => acc // minRows etc.: no upper bound implied
    }
    LogOffsets(bounded)
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

  /** Segment admission: round-robin across partitions (fairness — the
    * first partition cannot hog the budget), each grant advancing that
    * partition's end to its next segment boundary past the cursor.
    * Segment boundaries come from NAMES — metadata-only, like the row
    * cap. */
  private def capSegments(from: Map[Int, Long], end: Map[Int, Long], budget: Int): Map[Int, Long] = {
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // per partition: sorted end-boundaries of segments overlapping (from, end]
    val boundaries: Map[Int, Seq[Long]] = (0 until numPartitions).map { p =>
      val lo = from.getOrElse(p, 0L); val hi = end.getOrElse(p, 0L)
      val d = new Path(s"$root/partition=$p")
      val bs =
        if (hi <= lo || !f.exists(d)) Nil
        else f.listStatus(d).toSeq.flatMap { st =>
          st.getPath.getName match {
            case SegRe(s0, n0) =>
              val s = s0.toLong; val e = s + n0.toLong
              if (s < hi && e > lo) Some(math.min(e, hi)) else None
            case _ => None
          }
        }.sorted
      p -> bs
    }.toMap
    val granted = scala.collection.mutable.Map((0 until numPartitions).map(_ -> 0): _*)
    var left = budget
    var progressed = true
    while (left > 0 && progressed) {
      progressed = false
      (0 until numPartitions).foreach { p =>
        if (left > 0 && granted(p) < boundaries(p).length) {
          granted(p) += 1; left -= 1; progressed = true
        }
      }
    }
    end.map { case (p, _) =>
      val bs = boundaries(p); val g = granted(p)
      p -> (if (g == 0) from.getOrElse(p, 0L) else bs(g - 1))
    }
  }

  override def deserializeOffset(json: String): Offset = LogOffsets.parse(json)

  /** Segments are immutable and retention is a log policy
    * ([[graft.streaming.Retention]]), not a consumer's — nothing to
    * release on commit; the engine's WAL is the durable cursor.
    *
    * With `commitGroup` set, the committed range is ALSO mirrored into
    * the log's consumer-group cursor file — purely observational (a
    * restart still resumes from the WAL, never this file), but it puts
    * an engine-owned stream on the same [[OffsetLog.lagReport]] ops
    * surface as the relay: lag / behind_retention become visible to a
    * monitor without touching the checkpoint. The engine invokes this
    * while cleaning up batch N before constructing N+1, so the mirror
    * TRAILS the true committed position by at most one batch (and a
    * terminated run leaves its final batch unmirrored until the next
    * attach) — async group commit, the same staleness a broker's
    * `--describe` shows. Best-effort: a cursor mirror failure must
    * never fail the batch it observes. */
  override def commit(end: Offset): Unit =
    mirrorCursor(end.asInstanceOf[LogOffsets].ends)

  /** Last cursor mirrored, to skip redundant file writes on idle
    * ProcessingTime ticks (latestOffset fires per trigger). */
  @volatile private var mirrored: Option[Map[Int, Long]] = None

  private def mirrorCursor(ends: Map[Int, Long]): Unit =
    commitGroup.foreach { g =>
      if (!mirrored.contains(ends)) {
        try {
          OffsetLog.commit(spark, root, g, ends)
          mirrored = Some(ends)
        } catch { case _: Throwable => () }
      }
    }
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[LogOffsets].ends
    val until = end.asInstanceOf[LogOffsets].ends
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 until numPartitions).flatMap { p =>
      val lo = from.getOrElse(p, 0L)
      val hi = until.getOrElse(p, 0L)
      if (hi <= lo) Nil
      else {
        val d = new Path(s"$root/partition=$p")
        val splits =
          if (!f.exists(d)) Nil
          else f.listStatus(d).toSeq.flatMap { st =>
            st.getPath.getName match {
              case SegRe(s0, n0) =>
                val s = s0.toLong; val n = n0.toLong
                // overlap prune by NAME, clamp the range per segment
                if (s < hi && s + n > lo)
                  Some(SegmentSplit(st.getPath.toString, p, math.max(lo, s), math.min(hi, s + n)))
                else None
              case _ => None
            }
          }
        // RETENTION × WAL seam: segments are contiguous by
        // construction, so any hole in [lo, hi) means Retention expired
        // data this cursor never consumed. Fail LOUD by default (the
        // Kafka failOnDataLoss posture) — silent skipping turns a
        // lifecycle misconfiguration into quiet row loss; opt out with
        // failOnDataLoss=false to resume from what remains.
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
              s"were expired by retention before this consumer read them (root=$root). " +
              "Raise the retention window or restart with failOnDataLoss=false to skip the hole.")
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
