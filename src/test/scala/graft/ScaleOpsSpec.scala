package graft

import graft.operators.{Similarity, TopK}
import graft.sources.Tables
import org.apache.spark.sql.functions._

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._
  lazy val t = Tables(spark, sfDir)

  test("topKPerKey: partial-selection result identical to window-only plan") {
    val orders = t.orders
    val got = TopK.topKPerKey(orders, "o_custkey", "o_totalprice", "o_orderkey", 3)
      .select("o_custkey", "o_orderkey", "rn")
      .as[(Long, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    val ref = orders.withColumn("rn", row_number().over(w).cast("long")).filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "rn")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == ref)
  }

  test("q44 as-of join: carries the newest right value at or before each left ts") {
    def ts(m: Long) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val left = Seq((1L, ts(0), 10L), (2L, ts(5), 10L), (3L, ts(10), 10L), (4L, ts(1), 99L))
      .toDF("event_id", "ts", "user_id")
    val right = Seq((10L, ts(1), 100.0), (10L, ts(7), 200.0), (55L, ts(0), 9.0))
      .toDF("user_id", "ts", "value")
    val out = graft.operators.AsOfJoin.asofJoin(left, right, "user_id", "ts", "value", "v")
      .select("event_id", "v").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L).isEmpty)            // before any right row
    assert(out(2L).contains(100.0))    // newest right at m1
    assert(out(3L).contains(200.0))    // newest right at m7
    assert(out(4L).isEmpty)            // user 99 has no right rows
  }

  test("q44 equal timestamps match (>= semantics)") {
    def ts(m: Long) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val left  = Seq((1L, ts(5), 10L)).toDF("event_id", "ts", "user_id")
    val right = Seq((10L, ts(5), 42.0)).toDF("user_id", "ts", "value")
    val out = graft.operators.AsOfJoin.asofJoin(left, right, "user_id", "ts", "value", "v").collect()
    assert(out.head.getAs[Double]("v") == 42.0)
  }

  test("q52 recall vs brute force is monotone in the band count (OR-construction)") {
    val emb = t.embeddings
    val truth = Similarity.annBruteForce(emb)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    def recall(bands: Int): Double = {
      val got = Similarity.annLsh(emb, numBands = bands, planesPerBand = 5)
        .select("qid", "cid").as[(Long, Long)].collect().toSet
      truth.count(got.contains).toDouble / truth.size
    }
    val r1 = recall(1); val r6 = recall(6)
    assert(r6 >= r1, s"6-band recall $r6 < 1-band recall $r1")
  }

  test("dynamic partition pruning: a dim-side filter prunes the partitioned fact scan") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val t = graft.sources.Tables(spark, sfDir)
    // dt-partitioned fact (the sink's layout) — a dim filter on dt must
    // reach the fact scan as a runtime partition filter, not a full scan
    t.events
      .withColumn("dt", date_format(col("ts"), "yyyyMMdd"))
      .write.partitionBy("dt").mode("overwrite").parquet(root)
    val fact = spark.read.parquet(root)
    val nDts = fact.select("dt").distinct().count()
    val dim = fact.select("dt").distinct()
      .withColumn("is_probe", col("dt") <= lit(20240103)) // dt inferred as int
    val joined = fact
      .join(dim.filter(col("is_probe")), Seq("dt"))
      .groupBy("dt").agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$plan")
    // and the answer matches the statically-pruned form
    val got = joined.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = fact.filter(col("dt") <= 20240103)
      .groupBy("dt").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === want && got.size < nDts)
  }

  test("shared scan: N rollups from one scan, each view identical to its standalone groupBy") {
    import org.apache.spark.sql.functions._
    import graft.operators.SharedScan
    import graft.operators.SharedScan.GroupSpec
    val aggs = Seq(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
    // duplicate key-set (by_flag twice, reordered by_both) must not double rows
    val specs = Seq(
      GroupSpec("by_flag", Seq("l_returnflag")),
      GroupSpec("by_flag2", Seq("l_returnflag")),
      GroupSpec("by_both", Seq("l_linestatus", "l_returnflag")),
      GroupSpec("grand", Seq.empty))
    // one scan of lineitem feeds an Expand: that IS the sharing
    // (plan-assert on an uncached build — the cache's stored plan string
    // would repeat the scan line in initial+final AQE sections)
    val uncached = SharedScan.multiGroupBy(t.lineitem, specs, aggs, cache = false).combined
    uncached.collect()
    val fullPlan = uncached.queryExecution.executedPlan.toString
    val plan = fullPlan.split("== Initial Plan ==")(0)
    assert(plan.contains("Expand"), s"no Expand (grouping sets) in:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly 1 scan, got $scans:\n$plan")
    val shared = SharedScan.multiGroupBy(t.lineitem, specs, aggs)
    try {
      // every view ≡ the query it replaces
      specs.foreach { s =>
        val naive =
          (if (s.keys.isEmpty) t.lineitem.groupBy() else t.lineitem.groupBy(s.keys.map(col): _*))
            .agg(aggs.head, aggs.tail: _*)
        val got = shared.views(s.name).collect().map(_.toSeq).toSet
        val want = naive.collect().map(_.toSeq).toSet
        assert(got == want, s"view ${s.name} diverged from standalone groupBy")
      }
    } finally shared.release()
  }
}
