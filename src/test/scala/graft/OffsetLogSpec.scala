package graft

import graft.sources.OffsetLog
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Bus-shape source contract: per-partition contiguous offsets,
  * metadata-only head, name-pruned range reads, replayable ranges. The
  * log keeps no consumer cursor: a reader names its range. */
class OffsetLogSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-offsetlog").toString
  private val P = 4

  private def batch(ids: Range) =
    ids.map(i => (s"k${i % 7}", i.toLong, s"payload-$i")).toDF("k", "n", "payload")

  test("append assigns per-partition contiguous offsets; endOffsets is metadata-only") {
    val root = tmp()
    val e1 = OffsetLog.append(spark, root, batch(0 until 50), "k", P)
    val e2 = OffsetLog.append(spark, root, batch(50 until 80), "k", P)
    assert(e1.values.sum == 50 && e2.values.sum == 80)
    val all = OffsetLog.readBatch(spark, root, P, Map.empty, Map.empty)
    // offsets contiguous 0..n-1 within each partition
    val perPart = all.groupBy("partition")
      .agg(count(lit(1)).as("n"), min("offset").as("lo"), max("offset").as("hi"))
      .collect()
    perPart.foreach { r =>
      assert(r.getAs[Long]("lo") == 0L)
      assert(r.getAs[Long]("hi") == r.getAs[Long]("n") - 1)
    }
    // the metadata head equals the data head
    val dataEnds = perPart.map(r => r.getAs[Int]("partition") -> (r.getAs[Long]("hi") + 1)).toMap
    assert(e2.filter(_._2 > 0) == dataEnds)
    // same key always lands in the same partition (per-key total order)
    val kparts = all.groupBy("k").agg(countDistinct("partition").as("np")).collect()
    kparts.foreach(r => assert(r.getAs[Long]("np") == 1L))
  }

  test("a consumer started before the first producer append sees an empty caught-up batch, not a crash") {
    val root = tmp()
    // no segments at all: the full range reads as an empty frame (schema
    // from the caller when supplied), never a throw
    val ends0 = OffsetLog.endOffsets(spark, root, P)
    assert(ends0.values.forall(_ == 0L))
    val d0 = OffsetLog.readBatch(spark, root, P, Map.empty, Map.empty)
    assert(d0.count() == 0 && d0.columns.toSeq == Seq("partition", "offset"))
    val s = batch(0 until 1).schema
    val d1 = OffsetLog.readBatch(spark, root, P, Map.empty, Map.empty, Some(s))
    assert(d1.count() == 0 && d1.schema == s)
    // the producer shows up later; the same reader then sees its rows,
    // and a read from the new head is caught up
    OffsetLog.append(spark, root, batch(0 until 10), "k", P)
    val ends1 = OffsetLog.endOffsets(spark, root, P)
    assert(OffsetLog.readBatch(spark, root, P, ends0, ends1).count() == 10)
    assert(OffsetLog.readBatch(spark, root, P, ends1, Map.empty).count() == 0)
  }

  test("range re-reads replay identically; the next range holds only the new rows") {
    val root = tmp()
    OffsetLog.append(spark, root, batch(0 until 40), "k", P)
    val ends1 = OffsetLog.endOffsets(spark, root, P)
    val d1 = OffsetLog.readBatch(spark, root, P, Map.empty, ends1)
    assert(d1.count() == 40)
    // a crash before the reader's cursor moves: the same range replays identically
    val d1again = OffsetLog.readBatch(spark, root, P, Map.empty, ends1)
    assert(d1again.orderBy("partition", "offset").collect().toSeq ==
      d1.orderBy("partition", "offset").collect().toSeq)
    // caught up: empty frame, schema intact
    val empty = OffsetLog.readBatch(spark, root, P, ends1, Map.empty)
    assert(empty.count() == 0)
    assert(empty.columns.contains("offset") && empty.columns.contains("partition"))
    // new appends: only the new records arrive
    OffsetLog.append(spark, root, batch(40 until 55), "k", P)
    val d2 = OffsetLog.readBatch(spark, root, P, ends1, OffsetLog.endOffsets(spark, root, P))
    assert(d2.count() == 15)
    assert(d2.agg(min("n")).head().getLong(0) == 40L)
  }

  test("range reads prune segments by name before opening files") {
    val root = tmp()
    val e1 = OffsetLog.append(spark, root, batch(0 until 60), "k", P)
    val e2 = OffsetLog.append(spark, root, batch(60 until 120), "k", P)
    val e3 = OffsetLog.append(spark, root, batch(120 until 180), "k", P)
    assert(e3.values.sum == 180)
    // tail read: only the third append's segments are opened
    val tail = OffsetLog.readBatch(spark, root, P, e2, e3)
    assert(tail.count() == 60)
    val opened = tail.inputFiles.toSeq
    assert(opened.nonEmpty && opened.forall { f =>
      val name = f.split('/').last
      val start = name.stripPrefix("segment-").split("-")(0).toLong
      val p = f.split('/').init.last.stripPrefix("partition=").toInt
      start >= e2(p)
    }, s"tail read opened non-tail segments: $opened")
    // historical replay of the middle range is exact and repeatable
    val mid1 = OffsetLog.readBatch(spark, root, P, e1, e2).orderBy("partition", "offset").collect()
    val mid2 = OffsetLog.readBatch(spark, root, P, e1, e2).orderBy("partition", "offset").collect()
    assert(mid1.toSeq == mid2.toSeq && mid1.length == 60)
  }
}
