package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** At-least-once delivery dedup — upstream transports (Flume channels,
  * Kafka, retried producers) re-deliver events; the reference absorbs
  * duplicates at the sink. Spark-first: `dropDuplicatesWithinWatermark`
  * keyed on the event id keeps ONE state entry per key only until the
  * watermark passes it, so state is bounded by (throughput × watermark),
  * not stream length — safe on an unbounded 100 TB/day stream. */
object StreamingDedup {

  /** Field-safe content fingerprint: columns are \u0001-delimited and
    * nulls mapped to a distinct \u0000 sentinel BEFORE hashing —
    * `concat_ws("")` alone would let ("12","x") collide with ("1","2x")
    * and fold a null field into an empty one, silently dropping
    * distinct events. */
  private[streaming] def contentFingerprint(contentCols: Seq[String]) =
    md5(concat_ws("\u0001", contentCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))

  /** Id dedup. On batch input (a one-shot load or backfill) there is no
    * watermark horizon — the whole input is one window — so it is a
    * plain `dropDuplicates` on the id, and batch and stream callers share
    * this one call. */
  def dedup(stream: DataFrame, idCol: String = "event_id", watermark: String = "1 hour"): DataFrame =
    if (!stream.isStreaming) stream.dropDuplicates(idCol)
    else
      stream
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(idCol)

  /** Content dedup AT INGEST — the streaming half of the exact-dedup
    * pass (q33): key the dedup state on a payload fingerprint instead of
    * the transport id, so re-submitted identical payloads (new event_id,
    * same content) collapse before they ever reach staging. The
    * fingerprint is one map-side md5 per row; state stays bounded by
    * (throughput × watermark) exactly like id-dedup. Curating at ingest
    * beats re-scanning the warehouse for duplicates later — at
    * 100 TB/day, every duplicate dropped here is a row every downstream
    * job never pays for. */
  def dedupByContent(
      stream: DataFrame,
      // ts is part of the content: a re-submitted payload carries its
      // original event time, while two genuinely distinct events that
      // happen to share payload fields differ on it
      contentCols: Seq[String] = Seq("ts", "user_id", "event_type", "value", "props"),
      watermark: String = "1 hour"): DataFrame =
    stream
      .withColumn("content_fp", contentFingerprint(contentCols))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_fp")

  /** Dedup against ALL history, not just the watermark horizon: each
    * micro-batch anti-joins a persistent fingerprint store (parquet
    * directory of (content_fp, ingest_batch)) and only novel rows reach
    * `outPath`; their fingerprints append to the store so later batches
    * — and later RUNS — see them. This is how a corpus re-crawl
    * collapses against months of already-ingested data: the store is
    * O(distinct docs) × ~40 bytes, the anti-join shuffles on fp
    * (data-proportional, no broadcast of the 100 TB side), and
    * within-batch dups fold first via `dropDuplicates`.
    *
    * Idempotent under at-least-once replay: store rows carry the
    * writer's (run, batch) provenance, and the anti-join excludes only
    * fps THIS run wrote at-or-after the current batch — so a replayed
    * batch recomputes the same novel set even if its earlier attempt
    * already appended fps before dying. Output lands under
    * `ingest_run=<run>/ingest_batch=<id>` via dynamic partition
    * overwrite, replacing exactly its own files on replay and never a
    * previous run's; duplicate fp rows in the store are harmless
    * (membership semantics). */
  def dedupAgainstHistory(
      storePath: String,
      outPath: String,
      contentCols: Seq[String] = Seq("text")): (DataFrame, Long) => Unit = {
    val runId = java.util.UUID.randomUUID().toString
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val fp = batch
        .withColumn("content_fp", contentFingerprint(contentCols))
        .dropDuplicates("content_fp")
      val fs = new org.apache.hadoop.fs.Path(storePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // fresh listing each batch — the shared file-status cache would
      // otherwise serve a stale store between micro-batches
      spark.catalog.refreshByPath(storePath)
      val novel =
        if (fs.exists(new org.apache.hadoop.fs.Path(storePath))) {
          val store = spark.read.parquet(storePath)
            .filter(col("ingest_run") =!= runId || col("ingest_batch") < batchId)
            .select("content_fp")
          fp.join(store, Seq("content_fp"), "left_anti")
        } else fp
      novel.cache()
      try {
        novel.drop("content_fp")
          .withColumn("ingest_run", lit(runId))
          .withColumn("ingest_batch", lit(batchId))
          .write
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .partitionBy("ingest_run", "ingest_batch")
          .parquet(outPath)
        novel.select(
            col("content_fp"),
            lit(runId).as("ingest_run"),
            lit(batchId).as("ingest_batch"))
          .write.mode("append").parquet(storePath)
      } finally novel.unpersist()
  }

  /** NEAR-dup dedup at ingest for document streams: state keys on the
    * 64-bit SimHash of the text, so re-ingested identical (and
    * boilerplate-identical) docs collapse in-stream at 8 bytes of state
    * per kept doc. SimHash equality is the aggressive-but-cheap ingest
    * filter (hamming-0 collisions only); hamming>0 near-dups remain for
    * the batch pass (q47) over sealed data. `tsCol` is the ingest/event
    * time that bounds the dedup state. */
  def dedupNearDocs(
      stream: DataFrame,
      textCol: String = "text",
      tsCol: String = "ingest_ts",
      watermark: String = "1 hour"): DataFrame =
    stream
      .withColumn("simhash", graft.operators.Dedup.simhashColumn(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("simhash")
}
