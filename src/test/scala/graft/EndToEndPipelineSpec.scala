package graft

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.{OffsetLog, OffsetLogSourceProvider, Tables}
import graft.streaming.{EventParser, HiveBatchSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The brief's product story wired END TO END through the standard
  * streaming API, one test, every stage real:
  *
  *   offset-log bus (DSv2 `readStream`, admission-controlled)
  *     → EventParser (delimited wire lines → typed rows)
  *     → HiveBatchSink (exactly-once dynamic overwrite, `_DONE` sealing)
  *     → dedup cascade → curation → sequence packing → data card
  *
  * The final artifacts are ORACLE-CHECKED against the reference path:
  * the identical stage composition run directly on the original typed
  * events with no bus, no parser and no sink in between. Byte-equal
  * outputs prove the streaming leg is semantically invisible — exactly
  * the exactly-once + lossless-serialization contract the reference
  * sink promises its downstream batch consumers. */
class EndToEndPipelineSpec extends SparkSpec {
  private val P = 4

  /** documents corpus derived from a landed events table — the
    * downstream "training data" view of the ingested stream. */
  private def docsOf(events: DataFrame): DataFrame =
    events.select(
      col("event_id").as("doc_id"),
      concat(col("event_type"), lit(" "), col("props")).as("text"),
      lit("en").as("lang"),
      col("event_type").as("source"),
      length(concat(col("event_type"), lit(" "), col("props"))).cast("long").as("n_chars"))

  test("bus -> parse -> exactly-once sink -> dedup -> curation -> packing -> datacard equals the no-bus reference") {
    val events = Tables(spark, sfDir).events
    // plant 50 guaranteed exact-duplicate docs (re-keyed event copies
    // with identical type+props) so the cascade provably drops rows
    val maxId = events.agg(max("event_id")).head().getLong(0)
    val planted = events.orderBy("event_id").limit(50)
      .withColumn("event_id", col("event_id") + lit(maxId + 1L))
    val input = events.unionByName(planted)
    val n = input.count()

    // ---- leg 1: serialize to the wire format and publish to the bus
    val logRoot = Files.createTempDirectory("graft-e2e-log").toString
    val lines = input.select(col("user_id").as("k"), EventParser.lineColumn().as("value"))
    OffsetLog.append(spark, logRoot, lines, "k", P)

    // ---- leg 2: standard streaming drain, admission-controlled, into
    // the exactly-once sink (engine owns offsets + checkpointing)
    val sink = new HiveBatchSink(spark,
      Files.createTempDirectory("graft-e2e-sink").toString)
    val batches = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    val stream = spark.readStream
      .format(classOf[OffsetLogSourceProvider].getName)
      .option("path", logRoot)
      .option("numPartitions", P.toString)
      .option("maxRowsPerTrigger", math.max(1L, n / 4).toString)
      .load()
    val typed = EventParser.wellFormed(
      EventParser.parseLines(stream.select("value")))
    val q = sink
      .streamWriter(typed, Files.createTempDirectory("graft-e2e-ck").toString,
        onBatch = (b, _) => batches.add(b.count()))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(240000)

    import scala.jdk.CollectionConverters._
    val sizes = batches.asScala.toSeq.filter(_ > 0)
    assert(sizes.length >= 3, s"admission control must bound the catch-up: $sizes")
    assert(sizes.sum == n, s"the drain lost/duplicated rows: ${sizes.sum} != $n")

    // ---- leg 3: the landed, partition-laid-out table (+ still-open
    // staging rows) is the downstream batch surface
    val landed = sink.readTable()
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .unionByName(spark.read.parquet(sink.stagingPath)
        .select("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(landed.count() == n, "exactly-once landing")
    // done-marking really happened: sealed partitions carry _DONE
    val fs = new org.apache.hadoop.fs.Path(sink.tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sealedDirs = sink.readTable().select("dt", "hr").distinct().collect()
      .count { r =>
        fs.exists(new org.apache.hadoop.fs.Path(
          s"${sink.tablePath}/dt=${r.get(0)}/hr=${r.get(1)}/_DONE"))
      }
    assert(sealedDirs > 0, "watermark-driven sealing must have marked closed partitions")

    // ---- leg 4: training-data stages over the landed corpus
    val streamedDocs = docsOf(landed)
    val referenceDocs = docsOf(input)

    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    val cascadeS = Dedup.dedupCascadeReport(streamedDocs)
    val cascadeR = Dedup.dedupCascadeReport(referenceDocs)
    assert(canon(cascadeS) == canon(cascadeR), "dedup cascade diverges from the no-bus reference")
    val c = cascadeS.collect().map(r => r.getAs[String]("stage") -> r).toMap
    assert(c("1_exact").getAs[Long]("docs_kept") < c("0_input").getAs[Long]("docs_in"),
      "the planted duplicates must be dropped at the exact stage")

    assert(canon(TextAnalysis.curateCorpus(streamedDocs))
      == canon(TextAnalysis.curateCorpus(referenceDocs)), "curation diverges")
    assert(canon(TextAnalysis.trainingPipeline(streamedDocs))
      == canon(TextAnalysis.trainingPipeline(referenceDocs)), "sequence packing diverges")
    assert(canon(TextAnalysis.sourceDataCard(streamedDocs))
      == canon(TextAnalysis.sourceDataCard(referenceDocs)), "data card diverges")
  }
}
