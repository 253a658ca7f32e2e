package graft.sources

import org.apache.hadoop.fs.Path
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

  private val SegRe = "segment-(\\d+)-(\\d+)\\.parquet".r

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def partDir(root: String, p: Int) = s"$root/partition=$p"

  /** Per-partition next-offset (head) — parsed from segment NAMES only. */
  def endOffsets(spark: SparkSession, root: String, numPartitions: Int): Map[Int, Long] = {
    val f = fs(spark, root)
    (0 until numPartitions).map { p =>
      val d = new Path(partDir(root, p))
      val end =
        if (!f.exists(d)) 0L
        else
          f.listStatus(d).map(_.getPath.getName).collect {
            case SegRe(start, count) => start.toLong + count.toLong
          }.foldLeft(0L)(math.max)
      p -> end
    }.toMap
  }

  /** Append a batch. Rows are routed to partitions by key hash (same
    * key → same partition → per-key total order, the bus contract) and
    * offsets continue each partition's sequence. One Spark job; one
    * immutable segment file per non-empty partition. Returns the new
    * end offsets. Single-writer per log (a bus has one leader per
    * partition); concurrent appends need external coordination. */
  def append(
      spark: SparkSession,
      root: String,
      batch: DataFrame,
      keyCol: String,
      numPartitions: Int): Map[Int, Long] =
    appendAt(spark, root, batch, keyCol, numPartitions,
      endOffsets(spark, root, numPartitions), skipExisting = false)

  /** [[append]] with EXPLICIT base offsets and optional idempotence —
    * the primitive the DSv2 streaming sink's epoch commit needs: a
    * replayed epoch re-runs with the bases recorded in its intent file
    * (NOT the current head, which a partial first attempt may have
    * advanced), and `skipExisting = true` turns an already-present
    * target segment into a no-op instead of a concurrent-append error.
    * Safe because segment content is DETERMINISTIC given (rows, base):
    * rows order by (key hash, whole-row hash), so a replay regenerates
    * byte-compatible segments and skipping is exactly-once, not
    * lossy. */
  private[graft] def appendAt(
      spark: SparkSession,
      root: String,
      batch: DataFrame,
      keyCol: String,
      numPartitions: Int,
      bases: Map[Int, Long],
      skipExisting: Boolean): Map[Int, Long] = {
    val ends = bases
    val endsDf = spark.createDataFrame(ends.toSeq.map { case (p, e) => (p, e) })
      .toDF("partition", "__base")
    // deterministic intra-batch order: key hash, then whole-row hash
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
      val dest = new Path(partDir(root, p))
      f.mkdirs(dest)
      val files = f.listStatus(new Path(s"$tmp/partition=$p"))
        .map(_.getPath).filter(_.getName.startsWith("part-"))
      require(files.length == 1, s"expected 1 segment file for partition $p, got ${files.length}")
      val seg = new Path(dest, f"segment-${ends(p)}%d-$n%d.parquet")
      // rename returns false (not an exception) on HDFS when the dest
      // already exists or the source vanished — swallowing it would
      // delete the tmp dir below and silently lose this partition's
      // rows. A pre-existing destination means a second writer raced
      // this append (the log is single-writer per partition): fail loud
      // — UNLESS this is an idempotent epoch replay (skipExisting), in
      // which case the identical segment is already committed.
      if (f.exists(seg))
        require(skipExisting,
          s"segment $seg already exists — concurrent append detected (OffsetLog is single-writer)")
      else {
        // Same-base guard: skipExisting's idempotence keys on the exact
        // name (base + count). A replayed epoch that regenerated a
        // DIFFERENT row count for this partition (non-deterministic
        // upstream, non-replayable source) would land segment-<base>-<n'>
        // NEXT TO segment-<base>-<n> — two segments with overlapping
        // offset ranges, silently corrupting the log (duplicate offsets
        // on read, inflated endOffsets). Any existing segment sharing
        // this base with a different count is corruption: fail loud.
        val sameBase = f.listStatus(dest).map(_.getPath.getName).collect {
          case nm @ SegRe(start, cnt) if start.toLong == ends(p) && cnt.toLong != n => nm
        }
        require(sameBase.isEmpty,
          s"partition $p already holds ${sameBase.mkString(",")} at base ${ends(p)} but this " +
            s"append produced $n rows — overlapping offset ranges (non-deterministic replay " +
            "or corrupt log); refusing to write a second segment at the same base")
        require(f.rename(files.head, seg),
          s"rename ${files.head} -> $seg failed; aborting before tmp cleanup so no rows are lost")
      }
    }
    f.delete(new Path(tmp), true)
    endOffsets(spark, root, numPartitions)
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
    def segments(p: Int): Seq[(Path, Long, Long)] = {
      val d = new Path(partDir(root, p))
      if (!f.exists(d)) Seq.empty
      else
        f.listStatus(d).map(_.getPath).toSeq.flatMap { path =>
          path.getName match {
            case SegRe(start, count) => Some((path, start.toLong, count.toLong))
            case _                   => None
          }
        }
    }
    val all = (0 until numPartitions).flatMap(segments)
    if (all.isEmpty) {
      val s = schema.getOrElse(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("partition", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("offset", org.apache.spark.sql.types.LongType))))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    }
    val paths = (0 until numPartitions).flatMap { p =>
      val lo = from.getOrElse(p, 0L)
      val hi = until.getOrElse(p, Long.MaxValue)
      segments(p).collect { case (path, s, n) if s < hi && s + n > lo => path }
    }
    if (paths.isEmpty) {
      // caught up: empty frame with the log's schema (one footer read)
      val schema = spark.read.option("basePath", root)
        .parquet(all.head._1.toString).schema
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
    val heads = endOffsets(spark, root, numPartitions)
    // retained tail: the lowest segment start per partition (0 if none)
    val f = fs(spark, root)
    val tails = (0 until numPartitions).map { p =>
      val d = new Path(partDir(root, p))
      val t =
        if (!f.exists(d)) 0L
        else {
          val starts = f.listStatus(d).map(_.getPath.getName).collect {
            case SegRe(start, _) => start.toLong
          }
          if (starts.isEmpty) 0L else starts.min
        }
      p -> t
    }.toMap
    val rows = groups.flatMap { g =>
      val cur = committed(spark, root, g)
      (0 until numPartitions).map { p =>
        val c = cur.getOrElse(p, 0L)
        val h = heads.getOrElse(p, 0L)
        val t = tails.getOrElse(p, 0L)
        (g, p, c, h, math.max(0L, h - c), c < t)
      }
    }
    rows
  }
}
