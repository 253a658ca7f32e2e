package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.util.LongAccumulator
import java.io.IOException
import java.sql.Timestamp
import java.util.concurrent.{Callable, Executors}

object HiveBatchSink {

  /** A row-level ingest constraint: rows for which `valid` is not
    * provably true (false OR null — a null predicate means the
    * constraint can't be shown to hold, which quarantines, the same
    * null discipline as the q96 audit's violation counts) are
    * quarantined under `id` instead of staged. This is q96's audit
    * family enforced AT ingest: a violation never reaches the
    * warehouse table, instead of being counted after it already has. */
  final case class IngestRule(id: String, valid: Column)

  /** The event-stream row rules of the q96 audit as ingest predicates.
    * Null `ts` is the sink's built-in corrupt rule and id-uniqueness is
    * cross-row (it stays post-load in `Audit.constraintAudit`); the
    * per-row domain rules enforce here. */
  def eventIngestRules: Seq[IngestRule] = Seq(
    IngestRule("notnull_user_id", col("user_id").isNotNull),
    IngestRule("range_event_value", col("value") >= 0),
    IngestRule("known_event_type",
      col("event_type").isin("click", "view", "purchase", "signup", "error")))

  /** The per-hour done flag: a sealed hour is published to consumers
    * once `<table>/dt=…/hr=…/_DONE` exists. */
  private val DoneMarker = "_DONE"

  private[streaming] def dayPath(root: String, dt: String): Path = new Path(root, s"dt=$dt")

  /** `<root>/dt=…/hr=…`: the hour directory of the staging and the
    * sealed layout alike. */
  private[streaming] def hourPath(root: String, part: (String, String)): Path =
    new Path(dayPath(root, part._1), s"hr=${part._2}")

  private def partOf(hourDir: Path): (String, String) =
    (hourDir.getParent.getName.stripPrefix("dt="), hourDir.getName.stripPrefix("hr="))

  /** A path that is absent, or removed while the glob runs, is no match. */
  private def glob(fs: FileSystem, pattern: Path): Seq[FileStatus] =
    Option(fs.globStatus(pattern)).toSeq.flatten

  /** The (dt, hr) hour directories under `root`, of every day or only
    * of `days`, sorted: one glob, which lists no other day's hours. */
  private[streaming] def hours(fs: FileSystem, root: String, days: Seq[String] = Seq("*")): Seq[(String, String)] =
    glob(fs, hourPath(root, (days.mkString("{", ",", "}"), "*")))
      .filter(_.isDirectory).map(s => partOf(s.getPath)).sorted

  /** Data file count and bytes of one hour directory: everything but the
    * `_`-prefixed marker and commit files. */
  private[streaming] def hourFiles(fs: FileSystem, root: String, part: (String, String)): (Int, Long) = {
    val files = fs.listStatus(hourPath(root, part)).filterNot(_.getPath.getName.startsWith("_"))
    (files.length, files.map(_.getLen).sum)
  }

  /** Zero-padded STRING (dt, hr) keys from each row's `ts`: the hour a
    * row stages and seals under. */
  private[streaming] def withHourKeys(df: DataFrame): DataFrame =
    df.withColumn("dt", date_format(col("ts"), "yyyyMMdd"))
      .withColumn("hr", date_format(col("ts"), "HH"))

  /** Zero-padded STRING (dt, hr) keys from the hour directories a read
    * inferred them from: partition inference reads `hr=09` back as 9. */
  private[streaming] def withDirKeys(df: DataFrame): DataFrame =
    df.withColumn("dt", col("dt").cast("string"))
      .withColumn("hr", lpad(col("hr").cast("string"), 2, "0"))

  /** Run `op` for every hour on a bounded pool, results in `parts`
    * order. Per-hour metadata calls are independent; run serially, a
    * wide seal (hundreds of hours) is driver-bound on fs round trips
    * (~1.5 s of the q70 line at 720 dirs). Hadoop FileSystem clients are
    * thread-safe for ops on distinct paths. */
  private[streaming] def eachHour[A](parts: Seq[(String, String)])(op: ((String, String)) => A): Seq[A] =
    if (parts.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(math.min(16, parts.size))
      try parts.map(p => pool.submit(new Callable[A] { def call(): A = op(p) })).map(_.get())
      finally pool.shutdown()
    }
}

/** Spark-first re-expression of the reference's Hive batch sink.
  *
  * The reference buffers Flume events into staging files laid out like
  * Hive time partitions, batch-loads each completed partition into the
  * warehouse table, and marks it consumable once its hour has passed.
  * Same lifecycle here, each step Spark-native:
  *
  *   - micro-batch staging writes under `<root>/staging/dt=…/hr=…/
  *     ingest_batch=N`: `ingest_batch` is a partition column, so a
  *     replayed batch dynamically overwrites exactly its own files —
  *     exactly-once under retries, append-safe across batches (the
  *     reference's commit/rollback, without any rollback bookkeeping);
  *   - watermark-driven partition close: (dt, hr) fully behind
  *     `maxEventTime - allowedLateness` are eligible for sealing;
  *   - [[Compaction.sealPartitions]] commits closed staging partitions
  *     into `<root>/table/dt=…/hr=…`, one file per hour, and drops a
  *     `_DONE` marker (the reference's Hive load + done flag) — in
  *     parquet, ORC, or the reference's delimited text. An hour that
  *     staged one parquet file is renamed into the table; the others
  *     are rewritten by one Spark job. An hour whose staged file is
  *     already in the table (a seal stopped between the rename and the
  *     marker) rolls forward: it is marked and dropped, not read;
  *   - received/written/corrupt counters as LongAccumulators.
  *
  * The sink is the one owner of that layout and of the marker: the
  * sealing, backfill, maintenance, retention and rollup modules and the
  * [[DoneScanner]] consumer list, read, mark and unmark hours only
  * through the helpers here and in the companion, so a change of the
  * seal record is a change to this file alone.
  *
  * At 100 TB/day: batch statistics ride the single write pass as
  * `observe()` metrics (no second scan of the input), the staging
  * shuffle hashes rows on (dt, hr), so each hour of a batch stages one
  * file (no small-file explosion). In a batch write with AQE on it is a
  * REBALANCE, which also skew-splits a hot hour across tasks by size
  * (`optimizeSkewsInRebalancePartitions`). A stateful stream's
  * `foreachBatch` runs with AQE off, where Spark drops the rebalance
  * hint, so there it is a plain hash repartition. Staged files roll at
  * `maxRecordsPerFile` (the reference's size-based rolling), sealing is
  * a rename per one-file hour and at most one job for all the other
  * closed partitions, markers are O(partitions), and the only driver
  * state is the streaming checkpoint.
  *
  * @param maxRecordsPerFile staging file roll threshold (0 = no limit)
  * @param sealFormat        sealed-table format: parquet | orc | text
  *                          (text = the reference's delimited event lines)
  * @param rules             row-level ingest constraints; violating rows
  *                          are quarantined with their rule ids instead
  *                          of staged (empty = today's ts-only check)
  */
final class HiveBatchSink(
    spark: SparkSession,
    rootPath: String,
    allowedLatenessMinutes: Int = 60,
    maxRecordsPerFile: Long = 0L,
    val sealFormat: String = "parquet",
    rules: Seq[HiveBatchSink.IngestRule] = Nil) {
  require(Seq("parquet", "orc", "text").contains(sealFormat), s"unsupported seal format $sealFormat")
  import HiveBatchSink._

  val stagingPath: String    = s"$rootPath/staging"
  val tablePath: String      = s"$rootPath/table"
  val quarantinePath: String = s"$rootPath/quarantine"

  val received: LongAccumulator = spark.sparkContext.longAccumulator("graft.sink.received")
  val written: LongAccumulator  = spark.sparkContext.longAccumulator("graft.sink.written")
  val corrupt: LongAccumulator  = spark.sparkContext.longAccumulator("graft.sink.corrupt")

  private[streaming] lazy val fs: FileSystem = new Path(rootPath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  final case class BatchStats(
      received: Long,
      corrupt: Long,
      maxEventTime: Option[Timestamp],
      violations: Map[String, Long] = Map.empty)

  /** A row stages iff its ts is present AND every ingest rule holds. */
  private def cleanRow: Column =
    rules.map(r => coalesce(r.valid, lit(false))).foldLeft(col("ts").isNotNull)(_ && _)

  private def violates(r: HiveBatchSink.IngestRule): Column =
    col("ts").isNotNull && !coalesce(r.valid, lit(false))

  /** Rejected rows annotated with every rule they broke (plus the
    * built-in `corrupt_ts`); no column added on a rule-less sink, so
    * its quarantine schema is exactly the historical one. */
  private def withViolations(df: DataFrame): DataFrame =
    if (rules.isEmpty) df
    else df.withColumn("violated_rules",
      concat_ws(",", array_compact(array(
        (when(col("ts").isNull, lit("corrupt_ts")) +:
          rules.map(r => when(violates(r), lit(r.id)))): _*))))

  /** One micro-batch: partition, count, stage idempotently. Rows with a
    * null `ts` are counted corrupt and dropped (the reference's failed
    * counter). Batch statistics (received/corrupt/max event time) ride
    * the write pass as `observe()` metrics — ONE scan of the input, not
    * a stats job plus a write job. */
  def writeBatch(events: DataFrame, batchId: Long): BatchStats = {
    val obs = Observation()
    // rows hash on (dt, hr) so every hour lands in one writer task (one
    // file per dir, no small-file explosion). With AQE on (a batch
    // write) this is a REBALANCE: OptimizeSkewInRebalancePartitions
    // splits a hot hour across tasks once it exceeds the advisory size —
    // write parallelism proportional to each hour's actual bytes. A
    // stateful stream's foreachBatch session runs with AQE off, where
    // Spark drops the rebalance hint and each hour would stage one file
    // per input task, so there the shuffle is a plain hash repartition.
    // With AQE on, partition COALESCING is scoped off for this write
    // only: a writer task pays a serial parquet open/close per partition
    // directory it covers, so merging cold hours into few tasks makes
    // wide layouts (hundreds of open hours) commit-bound — and
    // coalescing can't reduce the file count anyway, since the hash
    // layout already guarantees one file per dir. Skew-splitting is
    // unaffected. The flag is set on the session that runs the write:
    // inside foreachBatch that is the stream's own session, not the
    // sink's, so only a batch write (the caller's session) lets a
    // concurrent query in that session see it. Restore distinguishes
    // explicitly-set from default.
    val conf         = events.sparkSession.conf
    val adaptive     = conf.get("spark.sql.adaptive.enabled").toBoolean
    val coalesceKey  = "spark.sql.adaptive.coalescePartitions.enabled"
    val coalescePrev = conf.getOption(coalesceKey)
    if (adaptive) conf.set(coalesceKey, "false")
    // per-rule violation counts and the distinct rejected-row count
    // ride the same single observe pass as the base stats
    val metrics = Seq(
      count(lit(1)).as("received"),
      count(when(col("ts").isNull, lit(1))).as("corrupt"),
      max(col("ts")).as("max_ts")) ++
      rules.map(r => count(when(violates(r), lit(1))).as(s"viol_${r.id}")) ++
      (if (rules.isEmpty) Nil else Seq(count(when(!cleanRow, lit(1))).as("rejected")))
    try {
      val staged = withHourKeys(events
        .observe(obs, metrics.head, metrics.tail: _*)
        .filter(cleanRow))
        .withColumn("ingest_batch", lit(batchId))
      (if (adaptive) staged.hint("rebalance", col("dt"), col("hr"))
       else staged.repartition(col("dt"), col("hr")))
        .write
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .mode("overwrite")
        .partitionBy("dt", "hr", "ingest_batch")
        .parquet(stagingPath)
    } finally if (adaptive) coalescePrev.fold(conf.unset(coalesceKey))(conf.set(coalesceKey, _))
    // a dynamic-overwrite write that stages ZERO rows (every row
    // rejected) skips the observed execution entirely and the
    // Observation resolves to an empty map — recompute the stats with
    // one aggregate; only a fully-rejected batch pays this second scan
    val m: Map[String, Any] = {
      val observed = obs.get
      if (observed.nonEmpty) observed
      else {
        val row = events.agg(metrics.head, metrics.tail: _*).head()
        metrics.indices.map(i => row.schema(i).name -> row.get(i)).toMap
      }
    }
    val n        = m("received").asInstanceOf[Long]
    val bad      = m("corrupt").asInstanceOf[Long]
    val violMap  = rules.map(r => r.id -> m(s"viol_${r.id}").asInstanceOf[Long]).toMap
    val rejected = if (rules.isEmpty) bad else m("rejected").asInstanceOf[Long]
    received.add(n)
    corrupt.add(bad)
    written.add(n - rejected)
    // the reference keeps failed events for retry instead of losing them:
    // corrupt rows (null ts) and rule violations land in a per-batch
    // quarantine partition, each row tagged with the rules it broke.
    // This second, rejected-only scan runs ONLY when the observe metrics
    // say the batch actually had rejected rows — the clean-batch hot
    // path stays single-pass.
    if (rejected > 0) {
      withViolations(events.filter(!cleanRow))
        .withColumn("ingest_batch", lit(batchId))
        .write
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(quarantinePath)
    }
    BatchStats(n, bad, Option(m("max_ts")).map(_.asInstanceOf[Timestamp]), violMap)
  }

  /** Quarantined (corrupt) events, with their ingest batch. */
  def readQuarantine(): DataFrame =
    if (fs.exists(new Path(quarantinePath))) spark.read.parquet(quarantinePath)
    else spark.emptyDataFrame

  /** Re-ingest quarantined events after `repair` fixes them (the
    * reference's failed-event retry, as an explicit operator): repaired
    * rows with a valid `ts` that now pass every ingest rule go back
    * through [[writeBatch]] under `replayBatchId` (idempotent — a
    * re-run overwrites its own files); rows the repair still can't fix
    * stay quarantined, re-tagged with the rules they still break.
    * Returns the number of rows restored. */
  def replayQuarantine(repair: DataFrame => DataFrame, replayBatchId: Long): Long = {
    if (!fs.exists(new Path(quarantinePath))) return 0L
    val repaired = repair(readQuarantine().drop("ingest_batch", "violated_rules")).cache()
    try {
      val fixed = repaired.filter(cleanRow)
      val nFixed = fixed.count()
      if (nFixed > 0) {
        writeBatch(fixed, replayBatchId)
        // quarantine now holds only what's still broken; materialize the
        // remainder BEFORE deleting the files it was computed from
        val still = withViolations(repaired.filter(!cleanRow)).localCheckpoint(true)
        fs.delete(new Path(quarantinePath), true)
        if (!still.isEmpty) {
          still
            .withColumn("ingest_batch", lit(replayBatchId))
            .write.mode("overwrite").partitionBy("ingest_batch").parquet(quarantinePath)
        }
        spark.catalog.refreshByPath(quarantinePath)
      }
      nFixed
    } finally repaired.unpersist()
  }

  /** Staged (dt, hr) partitions fully behind the watermark and not yet
    * sealed into the final table: one glob of the staged hours and one
    * marker check per closed staged hour, never a listing of the sealed
    * table. */
  def closedPartitions(maxEventTime: Timestamp): Seq[(String, String)] = {
    val cutoff = maxEventTime.getTime - allowedLatenessMinutes * 60000L
    val fmt = new java.text.SimpleDateFormat("yyyyMMdd'T'HH")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    hours(fs, stagingPath).filter { case (dt, hr) =>
      fmt.parse(s"${dt}T$hr").getTime + 3600000L <= cutoff && !isSealed(dt, hr)
    }
  }

  private def donePath(part: (String, String)): Path =
    new Path(hourPath(tablePath, part), DoneMarker)

  def isSealed(dt: String, hr: String): Boolean = fs.exists(donePath((dt, hr)))

  /** Publish sealed hours: stamp a fresh `_DONE` on each (its mtime is
    * what [[DoneScanner]] follows, so a re-seal is re-delivered). */
  private[streaming] def markSealed(parts: Seq[(String, String)]): Unit =
    eachHour(parts)(p => fs.create(donePath(p), true).close())

  /** Withdraw hours from consumers before they are rewritten. */
  private[streaming] def unseal(parts: Seq[(String, String)]): Unit =
    eachHour(parts)(p => fs.delete(donePath(p), false))

  /** Remove whole hour directories of `root`, markers included. */
  private[streaming] def dropHours(root: String, parts: Seq[(String, String)]): Unit =
    eachHour(parts)(p => fs.delete(hourPath(root, p), true))

  /** Every marked hour of the table with its marker's mtime, from one
    * glob. A marker removed while the glob runs (a backfill unseal, a
    * maintenance rewrite) is simply not listed. */
  private[streaming] def markers(): Seq[((String, String), Long)] =
    glob(fs, new Path(hourPath(tablePath, ("*", "*")), DoneMarker))
      .map(s => (partOf(s.getPath.getParent), s.getModificationTime))

  /** Exactly the hours `parts` of `root` (the staging or the sealed
    * layout), read with no listing beyond them. Unless the caller knows
    * the files' `schema`, file schemas are merged (one inference job),
    * so hours written before a schema change read back with the widest
    * one (missing values as null). dt/hr are the zero-padded STRING keys
    * of each row's directory: partition inference reads `hr=09` as 9. */
  private[streaming] def readHours(
      root: String,
      parts: Seq[(String, String)],
      schema: Option[StructType] = None): DataFrame = {
    val reader = spark.read.option("basePath", root).format(if (root == stagingPath) "parquet" else sealFormat)
    withDirKeys(schema.fold(reader.option("mergeSchema", "true"))(reader.schema)
      .load(parts.map(hourPath(root, _).toString): _*)
      .drop("ingest_batch"))
  }

  /** The staged data files of each hour in `parts` (Nil for an hour that
    * holds none), from one glob over those hours' days. */
  private[streaming] def stagedFiles(parts: Seq[(String, String)]): Map[(String, String), Seq[FileStatus]] = {
    val days = parts.map(_._1).distinct.mkString("{", ",", "}")
    val byHour = glob(fs, new Path(hourPath(stagingPath, (days, "*")), "ingest_batch=*/*"))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .groupBy(s => partOf(s.getPath.getParent.getParent))
    parts.map(p => p -> byHour.getOrElse(p, Nil).toSeq).toMap
  }

  /** Seal hours by rename: each table hour is cleared, as a dynamic
    * overwrite clears it, and its one staged data file moves in. A
    * metadata operation on local FS and HDFS; a copy on an object store. */
  private[streaming] def moveIntoTable(files: Map[(String, String), Path]): Unit =
    eachHour(files.keys.toSeq) { p =>
      val dir = hourPath(tablePath, p)
      fs.delete(dir, true)
      fs.mkdirs(dir)
      if (!fs.rename(files(p), new Path(dir, files(p).getName)))
        throw new IOException(s"could not move ${files(p)} into $dir")
    }

  /** Replace whole table hours with `content`, rows keyed by their
    * zero-padded string dt/hr: one shuffle on (dt, hr), so each hour is
    * written as one file, then a dynamic overwrite in `sealFormat` that
    * leaves every other hour as it was. The overwrite clears each hour
    * it writes, its marker included. The one Spark write into the
    * table: the seal's rewrite and row-level maintenance both use it. */
  private[streaming] def overwriteHours(content: DataFrame): Unit =
    content
      .repartition(col("dt"), col("hr"))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("dt", "hr")
      .format(sealFormat)
      .save(tablePath)

  /** Seal every closed partition (idempotent). Returns sealed (dt, hr). */
  def sealClosed(maxEventTime: Timestamp): Seq[(String, String)] = {
    val closed = closedPartitions(maxEventTime)
    Compaction.sealPartitions(spark, this, closed)
    closed
  }

  /** The final warehouse table (sealed partitions only). For `text` seals
    * this is the raw (value, dt, hr) lines — parse with
    * [[EventParser.parseLines]]. */
  def readTable(): DataFrame =
    // hours sealed before a schema change lack the newer columns —
    // merge file schemas so the table exposes the widest one
    spark.read.option("mergeSchema", "true").format(sealFormat).load(tablePath)

  /** Register the final table in the session catalog so downstream SQL
    * reads it by name (the reference's Hive-table surface). With
    * `enableHiveSupport` the identical statement lands in the Hive
    * metastore; locally it registers in the in-memory catalog. */
  def registerTable(tableName: String): Unit = {
    // partitioned CREATE TABLE needs an explicit column list; derive the
    // data columns from the sealed files and declare dt/hr as strings
    val dataCols = readTable().schema.fields
      .filterNot(f => f.name == "dt" || f.name == "hr")
      .map(f => s"`${f.name}` ${f.dataType.sql}")
      .mkString(", ")
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $tableName ($dataCols, dt STRING, hr STRING)
         |USING $sealFormat
         |PARTITIONED BY (dt, hr)
         |LOCATION '$tablePath'""".stripMargin)
    // discover the sealed dt/hr dirs (MSCK REPAIR); idempotent, so call
    // again after sealing new partitions
    spark.catalog.recoverPartitions(tableName)
  }

  /** Load the sealed table into a catalog-managed table through the
    * `saveAsTable`/`insertInto` writer path (SURVEY §1's "Hive table
    * load" surface): `saveAsTable` creates the partitioned table on
    * first load; later loads `insertInto` with dynamic partition
    * overwrite, so re-loading a partition replaces exactly that
    * partition — idempotent like the path-based seal. */
  def loadIntoTable(tableName: String): Unit = {
    val df = readTable()
    if (!spark.catalog.tableExists(tableName)) {
      df.write
        .format(sealFormat)
        .partitionBy("dt", "hr")
        .saveAsTable(tableName)
    } else {
      // insertInto resolves by position: order data columns first,
      // partition columns (dt, hr) last, matching the created table
      val cols = df.columns.filterNot(c => c == "dt" || c == "hr") ++ Seq("dt", "hr")
      df.select(cols.map(col): _*)
        .write
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .insertInto(tableName)
    }
  }

  /** Wire the full lifecycle (stage → close → seal) into a stream: the
    * library's one composition from a source to sealed hours. The engine
    * owns the offsets: a batch is re-run under its own id after a crash
    * between the staging write and the commit, so its dynamic-overwrite
    * staging replaces the crashed attempt's files. A stream without a
    * `ts` column is refused here, not at its first non-empty batch. */
  def streamWriter(
      stream: DataFrame,
      checkpoint: String,
      onBatch: (DataFrame, Long) => Unit = (_, _) => ()): DataStreamWriter[org.apache.spark.sql.Row] = {
    require(stream.columns.contains("ts"),
      s"streamWriter needs a `ts` column, got [${stream.columns.mkString(", ")}]; " +
        "a source attached before its first row may infer a schema without the payload: " +
        "pass the payload schema with .schema(...)")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(batch, batchId)
        writeBatch(batch, batchId).maxEventTime.foreach(ts => sealClosed(ts))
        ()
      }
  }
}
