package graft.sources

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** A message-bus-shaped source (topic / partition / offset semantics)
  * backed by plain files — the CHANNEL the reference sink drains,
  * re-expressed without a broker dependency (this container is
  * zero-egress and ships no bus connector jar; the shape, not the wire
  * protocol, is what the pipeline depends on).
  *
  * Layout:
  * {{{
  *   <root>/partition=P/segment-<start>-<count>.parquet  immutable, offset-contiguous
  * }}}
  *
  * Bus invariants held:
  *   - offsets are per-partition, contiguous, monotone; a record's
  *     (partition, offset) never changes (segments are immutable);
  *   - `endOffsets` is METADATA-ONLY (parsed from segment names) — no
  *     data read to answer "where is the head", exactly like a broker;
  *   - range reads prune to the overlapping segments BY NAME before any
  *     file is opened, then push the offset predicate into the parquet
  *     scan (offset is a stats-bearing column) — a tail read of a
  *     100 TB log touches only tail segments, and a range re-read
  *     returns the identical rows (replay).
  *
  * The library writes the log through [[append]] alone, one writer per
  * log; readers ([[readBatch]] and [[OffsetLogSourceProvider]]) write
  * nothing into it, so the root holds only `partition=` directories.
  * `segments` is the one parser of the layout above.
  *
  * Exactly-once end-to-end with the sink is the engine's handshake:
  * [[OffsetLogSourceProvider]] streams the log, the engine writes each
  * batch's range to its offset WAL before the batch runs, and
  * [[graft.streaming.HiveBatchSink.streamWriter]] lands the batch under
  * its batch id (idempotent per `ingest_batch` dynamic overwrite) before
  * the engine commits it. A crash between land and commit re-runs the
  * same range under the same id, which overwrites itself. At-least-once
  * delivery + idempotent sink = exactly-once table state, the
  * reference's transaction model. The engine's checkpoint is the only
  * cursor: the log keeps no consumer state, and the stream reports its
  * lag behind the head as a progress metric (`lagRows`, read by
  * [[graft.streaming.SinkMonitor]]). */
object OffsetLog {

  private val PartitionKey = "partition="
  private val SegRe = "segment-(\\d+)-(\\d+)\\.parquet".r

  /** One segment file and the offsets it holds, [start, start + count). */
  private[sources] final case class Segment(path: Path, start: Long, count: Long) {
    def end: Long = start + count
  }

  private[sources] def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def partitionDir(root: String, p: Int) = new Path(s"$root/$PartitionKey$p")

  /** Partition `p`'s segments, parsed from their NAMES: one directory
    * listing, no file opened. A partition with no directory yet holds
    * none. Every reader of the segment layout goes through here. */
  private[sources] def segments(f: FileSystem, root: String, p: Int): Seq[Segment] =
    try
      f.listStatus(partitionDir(root, p)).toSeq.flatMap { st =>
        st.getPath.getName match {
          case SegRe(start, count) => Some(Segment(st.getPath, start.toLong, count.toLong))
          case _                   => None
        }
      }
    catch { case _: FileNotFoundException => Nil }

  /** The partition count the layout shows (max P + 1 over the
    * `partition=P` directories), or None for a log that has none. */
  private[sources] def discoverPartitions(spark: SparkSession, root: String): Option[Int] = {
    val parts =
      try fs(spark, root).listStatus(new Path(root)).map(_.getPath.getName)
        .collect { case n if n.startsWith(PartitionKey) => n.stripPrefix(PartitionKey).toInt }
      catch { case _: FileNotFoundException => Array.empty[Int] }
    if (parts.isEmpty) None else Some(parts.max + 1)
  }

  /** Per-partition next-offset (head) — parsed from segment NAMES only. */
  def endOffsets(spark: SparkSession, root: String, numPartitions: Int): Map[Int, Long] = {
    val f = fs(spark, root)
    (0 until numPartitions).map(p => p -> segments(f, root, p).map(_.end).foldLeft(0L)(math.max)).toMap
  }

  /** Append a batch. Rows are routed to partitions by key hash (same
    * key → same partition → per-key total order, the bus contract) and
    * offsets continue each partition's sequence, in a deterministic
    * order (key hash, then whole-row hash). One Spark job; one immutable
    * segment file per non-empty partition. Returns the new end offsets.
    * Single-writer per log (a bus has one leader per partition): an
    * append that finds a segment already at its base fails instead of
    * writing a second, overlapping one. */
  def append(
      spark: SparkSession,
      root: String,
      batch: DataFrame,
      keyCol: String,
      numPartitions: Int): Map[Int, Long] = {
    val ends = endOffsets(spark, root, numPartitions)
    val endsDf = spark.createDataFrame(ends.toSeq.map { case (p, e) => (p, e) })
      .toDF("partition", "__base")
    val cols = batch.columns.map(col)
    val w = Window.partitionBy("partition").orderBy(col("__o1"), col("__o2"))
    val numbered = batch
      .withColumn("partition", pmod(xxhash64(col(keyCol)), lit(numPartitions)).cast("int"))
      .withColumn("__o1", xxhash64(col(keyCol)))
      .withColumn("__o2", xxhash64(cols: _*))
      .withColumn("__rn", row_number().over(w))
      .join(broadcast(endsDf), "partition")
      .withColumn("offset", col("__base") + col("__rn") - 1)
      .drop("__o1", "__o2", "__rn", "__base")
    val tmp = s"$root/_append_tmp_${java.util.UUID.randomUUID().toString.take(8)}"
    numbered
      .repartition(col("partition"))
      .write.partitionBy("partition").parquet(tmp)
    // promote: each tmp partition dir holds exactly one data file (the
    // partition value lives in exactly one task); rename it to its
    // offset-carrying segment name — metadata-only, atomic per file
    val f = fs(spark, root)
    val counts = numbered.groupBy("partition").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    counts.foreach { case (p, n) =>
      val dest = partitionDir(root, p)
      f.mkdirs(dest)
      val files = f.listStatus(partitionDir(tmp, p))
        .map(_.getPath).filter(_.getName.startsWith("part-"))
      require(files.length == 1, s"expected 1 segment file for partition $p, got ${files.length}")
      val seg = new Path(dest, f"segment-${ends(p)}%d-$n%d.parquet")
      // Any segment already at this base means a second writer raced this
      // append: fail loud. The same name would make rename return false
      // (not throw) on HDFS, and deleting the tmp dir below would then
      // silently lose this partition's rows; a different count would sit
      // next to it with overlapping offsets (duplicate rows on read,
      // inflated endOffsets).
      val atBase = segments(f, root, p).filter(_.start == ends(p))
      require(!atBase.exists(_.count == n),
        s"segment $seg already exists — concurrent append detected (OffsetLog is single-writer)")
      require(atBase.isEmpty,
        s"partition $p already holds ${atBase.map(_.path.getName).mkString(",")} at base ${ends(p)} " +
          s"but this append produced $n rows — overlapping offset ranges (concurrent append or " +
          "corrupt log); refusing to write a second segment at the same base")
      require(f.rename(files.head, seg),
        s"rename ${files.head} -> $seg failed; aborting before tmp cleanup so no rows are lost")
    }
    f.delete(new Path(tmp), true)
    ends.map { case (p, e) => p -> (e + counts.getOrElse(p, 0L)) }
  }

  /** Read [from, until) per partition. Segments are pruned BY NAME to
    * the overlapping set, then the offset range rides the parquet scan
    * as a pushed filter. Missing map entries default to 0 / head.
    *
    * A log with NO segments yet (consumer started before the first
    * producer append) is a caught-up read, not an error: returns an
    * empty frame with `schema` if the caller supplied one, else with
    * the two columns the log itself guarantees (partition, offset) —
    * either way `count() == 0` and the reader sees caught-up. */
  def readBatch(
      spark: SparkSession,
      root: String,
      numPartitions: Int,
      from: Map[Int, Long],
      until: Map[Int, Long],
      schema: Option[StructType] = None): DataFrame = {
    val f = fs(spark, root)
    val listed = (0 until numPartitions).map(p => p -> segments(f, root, p))
    if (listed.forall(_._2.isEmpty)) {
      val s = schema.getOrElse(StructType(Seq(StructField("partition", IntegerType), StructField("offset", LongType))))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
    }
    val paths = listed.flatMap { case (p, segs) =>
      val lo = from.getOrElse(p, 0L)
      val hi = until.getOrElse(p, Long.MaxValue)
      segs.collect { case s if s.start < hi && s.end > lo => s.path }
    }
    if (paths.isEmpty) {
      // caught up: empty frame with the log's schema (one footer read)
      val schema = spark.read.option("basePath", root)
        .parquet(listed.flatMap(_._2).head.path.toString).schema
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else {
      val fromExpr = from.foldLeft(lit(0L)) { case (acc, (p, o)) =>
        when(col("partition") === p, o).otherwise(acc)
      }
      val untilExpr = until.foldLeft(lit(Long.MaxValue)) { case (acc, (p, o)) =>
        when(col("partition") === p, o).otherwise(acc)
      }
      spark.read.option("basePath", root).parquet(paths.map(_.toString): _*)
        .filter(col("offset") >= fromExpr && col("offset") < untilExpr)
    }
  }
}
