package graft

import graft.operators.Skew
import graft.sources.{Tables, TextEvents}
import graft.streaming.{EventParser, HiveBatchSink}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SourcesSkewSpec extends SparkSpec {
  import spark.implicits._
  lazy val t = Tables(spark, sfDir)

  def tmp(): String = Files.createTempDirectory("graft-src").toString

  test("text source: log-line dir round-trips to the same typed events") {
    val dir = tmp()
    EventParser.formatLines(t.events).write.mode("overwrite").text(dir)
    val back = TextEvents.read(spark, dir)
    assert(back.count() == t.events.count())
    assert(TextEvents.readCorrupt(spark, dir).count() == 0)
    val a = back.agg(round(sum("value"), 4)).first().getDouble(0)
    val b = t.events.agg(round(sum("value"), 4)).first().getDouble(0)
    assert(a == b)
  }

  test("sealed table scans prune partitions on dt filters") {
    val root   = tmp()
    val sink   = new HiveBatchSink(spark, root)
    val events = t.events
    sink.writeBatch(events, batchId = 0)
    sink.sealClosed(events.agg(max("ts")).first().getTimestamp(0))
    val pruned = sink.readTable().filter(col("dt") === 20240105)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(dt"), s"no partition filter in:\n$scan")
    assert(pruned.count() > 0)
  }

  test("operators tolerate empty inputs (no rows, full schema)") {
    val emptyEvents = t.events.filter(lit(false))
    val emptyDocs   = t.documents.filter(lit(false))
    assert(graft.operators.Relational.percentiles(emptyEvents).collect().isEmpty)
    assert(graft.operators.EventAnalytics.sessionize(emptyEvents).collect().isEmpty)
    assert(graft.operators.TextAnalysis.textStats(emptyDocs).collect().isEmpty)
    assert(graft.operators.Dedup.minhashLshPairs(emptyDocs).collect().isEmpty)
    // global agg on empty input: one row, null sum (matches the SQL oracle)
    val r = graft.operators.Relational.selectiveAgg(t.lineitem.filter(lit(false))).collect()
    assert(r.length == 1 && r.head.isNullAt(0))
  }

  test("salted join produces exactly the rows of the plain join under skew") {
    // skewed fact: 90% of rows share key 1
    val fact = (1L to 2000L).map(i => (if (i % 10 == 0) i % 7 else 1L, i)).toDF("k", "row_id")
    val dim  = (0L to 6L).map(k => (k, s"dim_$k")).toDF("k", "label")
    val plain  = fact.join(dim, Seq("k")).select("k", "row_id", "label")
    val salted = Skew.saltedJoin(fact, dim, key = "k", uniqueCol = "row_id").select("k", "row_id", "label")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("sink table registration: catalog name reads the sealed table") {
    val root   = tmp()
    val sink   = new HiveBatchSink(spark, root)
    val events = t.events
    sink.writeBatch(events, batchId = 0)
    sink.sealClosed(events.agg(max("ts")).first().getTimestamp(0))
    sink.registerTable("graft_events_test")
    assert(spark.table("graft_events_test").count() == sink.readTable().count())
    assert(spark.table("graft_events_test").count() > 0)
  }
}
