package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.util.LongAccumulator
import java.sql.Timestamp

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
  *   - [[Compaction.sealPartitions]] batch-loads closed staging
  *     partitions into `<root>/table/dt=…/hr=…` at a target file count
  *     and drops a `_DONE` marker (the reference's Hive load + done
  *     flag) — in parquet, ORC, or the reference's delimited text;
  *   - received/written/corrupt counters as LongAccumulators.
  *
  * At 100 TB/day: batch statistics ride the single write pass as
  * `observe()` metrics (no second scan of the input), the staging
  * shuffle hashes rows on (dt, hr), so each hour of a batch stages one
  * file (no small-file explosion). In a batch write with AQE on it is a
  * REBALANCE, which also skew-splits a hot hour across tasks by size
  * (`optimizeSkewsInRebalancePartitions`). A stream's `foreachBatch`
  * runs with AQE off, where Spark drops the rebalance hint, so there it
  * is a plain hash repartition. Staged files roll at
  * `maxRecordsPerFile` (the reference's size-based rolling), sealing is
  * one job for all closed partitions, markers are O(partitions), and
  * the only driver state is the streaming checkpoint.
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

  val stagingPath: String    = s"$rootPath/staging"
  val tablePath: String      = s"$rootPath/table"
  val quarantinePath: String = s"$rootPath/quarantine"

  val received: LongAccumulator = spark.sparkContext.longAccumulator("graft.sink.received")
  val written: LongAccumulator  = spark.sparkContext.longAccumulator("graft.sink.written")
  val corrupt: LongAccumulator  = spark.sparkContext.longAccumulator("graft.sink.corrupt")

  private def fs = new Path(rootPath).getFileSystem(spark.sparkContext.hadoopConfiguration)

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
    // stream's foreachBatch session runs with AQE off, where Spark drops
    // the rebalance hint and each hour would stage one file per input
    // task, so there the shuffle is a plain hash repartition. AQE
    // partition COALESCING is scoped off for this write only: a writer
    // task pays a serial parquet open/close per partition directory it
    // covers, so merging cold hours into few tasks makes wide layouts
    // (hundreds of open hours) commit-bound — and coalescing can't
    // reduce the file count anyway, since the hash layout already
    // guarantees one file per dir. Skew-splitting is unaffected.
    // note: SQLConf is session-scoped, so a concurrent query planned in
    // THIS session during the write also sees the flag — acceptable for
    // a dedicated ingest session (the deployment shape for a sink);
    // restore distinguishes explicitly-set from default
    val coalesceKey  = "spark.sql.adaptive.coalescePartitions.enabled"
    val coalescePrev = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    // per-rule violation counts and the distinct rejected-row count
    // ride the same single observe pass as the base stats
    val metrics = Seq(
      count(lit(1)).as("received"),
      count(when(col("ts").isNull, lit(1))).as("corrupt"),
      max(col("ts")).as("max_ts")) ++
      rules.map(r => count(when(violates(r), lit(1))).as(s"viol_${r.id}")) ++
      (if (rules.isEmpty) Nil else Seq(count(when(!cleanRow, lit(1))).as("rejected")))
    val adaptive = events.sparkSession.conf.get("spark.sql.adaptive.enabled").toBoolean
    try {
      val staged = events
        .observe(obs, metrics.head, metrics.tail: _*)
        .filter(cleanRow)
        .withColumn("dt", date_format(col("ts"), "yyyyMMdd"))
        .withColumn("hr", date_format(col("ts"), "HH"))
        .withColumn("ingest_batch", lit(batchId))
      (if (adaptive) staged.hint("rebalance", col("dt"), col("hr"))
       else staged.repartition(col("dt"), col("hr")))
        .write
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .mode("overwrite")
        .partitionBy("dt", "hr", "ingest_batch")
        .parquet(stagingPath)
    } finally coalescePrev.fold(spark.conf.unset(coalesceKey))(v => spark.conf.set(coalesceKey, v))
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
    * sealed into the final table. */
  def closedPartitions(maxEventTime: Timestamp): Seq[(String, String)] = {
    val cutoff = maxEventTime.getTime - allowedLatenessMinutes * 60000L
    val root   = new Path(stagingPath)
    if (!fs.exists(root)) return Seq.empty
    val fmt = new java.text.SimpleDateFormat("yyyyMMdd'T'HH")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    for {
      dtDir <- fs.listStatus(root).toSeq if dtDir.isDirectory && dtDir.getPath.getName.startsWith("dt=")
      hrDir <- fs.listStatus(dtDir.getPath).toSeq if hrDir.isDirectory && hrDir.getPath.getName.startsWith("hr=")
      dt = dtDir.getPath.getName.stripPrefix("dt=")
      hr = hrDir.getPath.getName.stripPrefix("hr=")
      if fmt.parse(s"${dt}T$hr").getTime + 3600000L <= cutoff
      if !isSealed(dt, hr)
    } yield (dt, hr)
  }

  def isSealed(dt: String, hr: String): Boolean =
    fs.exists(new Path(tablePath, s"dt=$dt/hr=$hr/_DONE"))

  /** Seal every closed partition (idempotent). Returns sealed (dt, hr). */
  def sealClosed(maxEventTime: Timestamp, targetFiles: Int = 1): Seq[(String, String)] = {
    val closed = closedPartitions(maxEventTime)
    Compaction.sealPartitions(spark, this, closed, targetFiles)
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

  /** Wire the full lifecycle (stage → close → seal) into a stream. */
  def start(stream: DataFrame, checkpoint: String): StreamingQuery =
    streamWriter(stream, checkpoint).start()

  def streamWriter(
      stream: DataFrame,
      checkpoint: String,
      onBatch: (DataFrame, Long) => Unit = (_, _) => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(batch, batchId)
        writeBatch(batch, batchId).maxEventTime.foreach(ts => sealClosed(ts))
        ()
      }
}
