package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming sink monitoring — the Spark-native form of the reference's
  * per-sink counter reporting (events received/drained, batch rates).
  * Attaches a [[StreamingQueryListener]] and keeps one record per
  * completed micro-batch: batch id, input rows, processing rate,
  * duration and the sources' lag behind the bus. The listener runs on
  * the driver's event loop — capture is O(1) per batch and never touches
  * the data path or the file system, so monitoring cost is independent
  * of data scale. Accumulator counters ([[HiveBatchSink.received]] etc.)
  * stay the source of truth for totals; this is the progress/rate
  * surface an operator dashboard polls. */
final class SinkMonitor extends StreamingQueryListener {

  /** `queryName` falls back to the run id: batch ids collide across
    * queries, so per-batch analyses group by (queryName, batchId).
    * `lagRows` sums the `lagRows` metric over the query's sources (an
    * offset log reports the rows between the batch's end and the head);
    * None when no source reports it. */
  final case class BatchProgress(
      queryName: String,
      batchId: Long,
      numInputRows: Long,
      processedRowsPerSecond: Double,
      durationMs: Long,
      lagRows: Option[Long])

  private val buf = scala.collection.mutable.ArrayBuffer.empty[BatchProgress]

  override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = event.progress
    val lags = p.sources.toSeq.flatMap(s => Option(s.metrics.get("lagRows")).map(_.toLong))
    buf.synchronized {
      buf += BatchProgress(
        Option(p.name).getOrElse(p.id.toString),
        p.batchId,
        p.numInputRows,
        p.processedRowsPerSecond,
        p.batchDuration,
        if (lags.isEmpty) None else Some(lags.sum))
    }
  }

  /** Completed-batch records captured so far (driver-side snapshot). */
  def progress: Seq[BatchProgress] = buf.synchronized(buf.toVector)

  def totalInputRows: Long = progress.map(_.numInputRows).sum

  def attach(spark: SparkSession): this.type = { spark.streams.addListener(this); this }
  def detach(spark: SparkSession): Unit = spark.streams.removeListener(this)
}
