package graft.sources

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A message-bus-shaped source (topic / partition / offset semantics)
  * backed by plain files — the CHANNEL the reference sink drains,
  * re-expressed without a broker dependency (this container is
  * zero-egress and ships no bus connector jar; the shape, not the wire
  * protocol, is what the pipeline depends on).
  *
  * Layout:
  * {{{
  *   <root>/partition=P/segment-<start>-<count>.parquet  immutable, offset-contiguous
  *   <root>/_offsets/<group>.json                        committed per consumer group
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
  *     100 TB log touches only tail segments;
  *   - consumer-group offsets commit atomically (temp + rename), and a
  *     committed range re-read returns the identical rows (replay).
  *
  * The library writes the log through [[append]] alone, one writer per
  * log; the streaming surface ([[OffsetLogSourceProvider]]) only reads
  * it. `segments` is the one parser of the layout above.
  *
  * Exactly-once end-to-end with the sink is the engine's handshake:
  * [[OffsetLogSourceProvider]] streams the log, the engine writes each
  * batch's range to its offset WAL before the batch runs, and
  * [[graft.streaming.HiveBatchSink.streamWriter]] lands the batch under
  * its batch id (idempotent per `ingest_batch` dynamic overwrite) before
  * the engine commits it. A crash between land and commit re-runs the
  * same range under the same id, which overwrites itself. At-least-once
  * delivery + idempotent sink = exactly-once table state, the
  * reference's transaction model. `drain` is the batch read of a
  * group's un-consumed range; `committed`/`commit` hold the group
  * cursor that the source's `commitGroup` mirror and
  * [[graft.streaming.SinkMonitor]]'s lag probe read. */
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

  private def head(segs: Seq[Segment]): Long = segs.map(_.end).foldLeft(0L)(math.max)

  /** Per-partition next-offset (head) — parsed from segment NAMES only. */
  def endOffsets(spark: SparkSession, root: String, numPartitions: Int): Map[Int, Long] = {
    val f = fs(spark, root)
    (0 until numPartitions).map(p => p -> head(segments(f, root, p))).toMap
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
    * either way `count() == 0` and the drain loop sees caught-up. */
  def readBatch(
      spark: SparkSession,
      root: String,
      numPartitions: Int,
      from: Map[Int, Long],
      until: Map[Int, Long],
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val f = fs(spark, root)
    val listed = (0 until numPartitions).map(p => p -> segments(f, root, p))
    if (listed.forall(_._2.isEmpty)) {
      val s = schema.getOrElse(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("partition", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("offset", org.apache.spark.sql.types.LongType))))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
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
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
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

  /** Committed offsets of a consumer group (empty map if none). */
  def committed(spark: SparkSession, root: String, group: String): Map[Int, Long] = {
    val f = fs(spark, root)
    val p = new Path(s"$root/_offsets/$group.json")
    if (!f.exists(p)) Map.empty
    else {
      val in = f.open(p)
      val txt =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      // one line per partition: "<p>:<offset>" — no JSON lib needed
      txt.linesIterator.filter(_.nonEmpty).map { l =>
        val Array(a, b) = l.split(":"); a.toInt -> b.toLong
      }.toMap
    }
  }

  /** Atomically commit a consumer group's offsets (temp + rename). */
  def commit(spark: SparkSession, root: String, group: String, offsets: Map[Int, Long]): Unit = {
    val f = fs(spark, root)
    f.mkdirs(new Path(s"$root/_offsets"))
    val tmp = new Path(s"$root/_offsets/$group.json.tmp")
    val out = f.create(tmp, true)
    try out.write(offsets.toSeq.sorted.map { case (p, o) => s"$p:$o" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new Path(root).toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, new Path(s"$root/_offsets/$group.json"),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The batch read of a group: everything the group hasn't committed,
    * plus the end offsets to commit once the rows are consumed (a
    * stream uses the engine's handshake instead, see the object doc).
    * Safe to call before the first producer append — returns an empty
    * caught-up batch (with `schema` if supplied), never throws on a
    * segment-less log. */
  def drain(
      spark: SparkSession,
      root: String,
      group: String,
      numPartitions: Int,
      schema: Option[org.apache.spark.sql.types.StructType] = None): (DataFrame, Map[Int, Long]) = {
    val from = committed(spark, root, group)
    val until = endOffsets(spark, root, numPartitions)
    (readBatch(spark, root, numPartitions, from, until, schema), until)
  }

  /** CONSUMER-LAG report — the `--describe` every bus operator runs
    * before paging anyone: per (group, partition), the committed
    * cursor, the head, the row lag, and whether the committed cursor
    * has fallen BEHIND the retained tail (the q-retention seam the
    * DSv2 source fails loudly on — here it is the ops readout that
    * catches it BEFORE a restart trips it). Metadata-only: heads and
    * tails parse from segment NAMES, cursors from the group files —
    * no data file opens at any log size, exactly like a broker's
    * describe. A group with no committed file reads cursor 0 (the
    * initial position). */
  def lagReport(
      spark: SparkSession,
      root: String,
      numPartitions: Int,
      groups: Seq[String]): DataFrame = {
    import spark.implicits._
    lagRows(spark, root, numPartitions, groups)
      .toDF("group", "partition", "committed", "head", "lag_rows", "behind_retention")
      .orderBy("group", "partition")
  }

  /** Driver-side rows of [[lagReport]] — the form a
    * [[graft.streaming.SinkMonitor]] lag probe can afford on the
    * listener event loop (pure name/cursor-file metadata, no Spark
    * job). Tuple: (group, partition, committed, head, lag_rows,
    * behind_retention). */
  def lagRows(
      spark: SparkSession,
      root: String,
      numPartitions: Int,
      groups: Seq[String]): Seq[(String, Int, Long, Long, Long, Boolean)] = {
    // per partition: the retained tail (lowest segment start) and the
    // head, 0 for a partition with no segment
    val f = fs(spark, root)
    val bounds = (0 until numPartitions).map { p =>
      val segs = segments(f, root, p)
      (if (segs.isEmpty) 0L else segs.map(_.start).min, head(segs))
    }
    groups.flatMap { g =>
      val cur = committed(spark, root, g)
      bounds.zipWithIndex.map { case ((t, h), p) =>
        val c = cur.getOrElse(p, 0L)
        (g, p, c, h, math.max(0L, h - c), c < t)
      }
    }
  }
}
