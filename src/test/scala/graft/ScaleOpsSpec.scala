package graft

import graft.operators.{Similarity, TopK}
import graft.sources.Tables
import org.apache.spark.sql.functions._

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._
  lazy val t = Tables(spark, sfDir)

  /** Rows actually produced by the parquet scans of `df` (post
    * row-group pruning), read from executed-plan metrics. */
  private def scannedRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(leaves)
      }
    leaves(df.queryExecution.executedPlan).map(_.metrics("numOutputRows").value).sum
  }

  test("sorted writes: range layout prunes row groups a random layout cannot") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sorted").toString
    val ev = t.events.select("event_id", "user_id", "value")
    ev.repartition(16).write.mode("overwrite").parquet(s"$dir/random")
    graft.sources.SortedWrites.writeSorted(ev, s"$dir/sorted", 16, col("user_id"))
    val probe = ev.select("user_id").first().getLong(0)
    val randomScan = scannedRows(spark.read.parquet(s"$dir/random").filter(col("user_id") === probe))
    val sortedScan = scannedRows(spark.read.parquet(s"$dir/sorted").filter(col("user_id") === probe))
    assert(sortedScan < randomScan / 4,
      s"sorted layout scanned $sortedScan rows vs $randomScan random — no pruning win")
    // same result set either way
    assert(
      spark.read.parquet(s"$dir/sorted").filter(col("user_id") === probe).count() ==
        spark.read.parquet(s"$dir/random").filter(col("user_id") === probe).count())
  }

  test("z-order key interleaves bits and preserves 2-D locality in file stats") {
    import graft.sources.SortedWrites.zorderKey
    // bit-interleave ground truth: a=0b101 (bits at 0,4), b=0b11 (bits at 1,3)
    val z = Seq((5, 3)).toDF("a", "b")
      .select(zorderKey(col("a"), col("b")).as("z")).first().getLong(0)
    assert(z == ((1L << 0) | (1L << 4) | (1L << 1) | (1L << 3)), s"got $z")
    // z-ordered layout skips on BOTH dimensions; a single-column sort only
    // on the leading one. Uniform 256x256 grid: 64 files ~ 32x32 tiles.
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val grid = spark.range(256L * 256L)
      .select(col("id"), pmod(col("id"), lit(256)).cast("int").as("ka"),
        (col("id") / 256).cast("int").as("kb"))
    graft.sources.SortedWrites.writeZOrdered(grid, s"$dir/z", 64, col("ka"), col("kb"))
    graft.sources.SortedWrites.writeSorted(grid, s"$dir/a_only", 64, col("ka"))
    val total = 256L * 256L
    def scanned(path: String, c: String): Long =
      scannedRows(spark.read.parquet(path).filter(col(c).between(10, 40)))
    // narrow range on ka: z layout reads only the tile columns it overlaps
    val za = scanned(s"$dir/z", "ka")
    assert(za < total / 2, s"z layout: ka scan $za of $total — no pruning")
    // narrow range on kb: only the z layout can skip; ka-sorted reads ~everything
    val zb = scanned(s"$dir/z", "kb"); val ab = scanned(s"$dir/a_only", "kb")
    assert(zb < ab / 2, s"z-order kb scan $zb not better than single-sort $ab")
  }

  test("zone map prunes partitions on a value predicate, result identical to full scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zonemap").toString
    // time-ordered ingest: value ranges are disjoint per dt partition
    val tab = spark.range(10000)
      .select((col("id") / 1000).cast("long").as("dt"), col("id").as("uid"),
        (col("id") % 97).as("v"))
    tab.write.mode("overwrite").partitionBy("dt").parquet(dir)
    val table = spark.read.parquet(dir)
    val zm = graft.sources.ZoneMap.build(table, Seq("dt"), Seq("uid"))
    assert(zm.count() == 10)
    // predicate uid in [1500, 1600] -> only dt=1 can contain it
    val cands = graft.sources.ZoneMap
      .candidatePartitions(zm, Seq("dt"), "uid", lit(1500L), lit(1600L)).collect()
    // partition-dir inference reads dt back as int — compare numerically
    assert(cands.map(_.get(0).toString).toSeq == Seq("1"))
    val pruned = graft.sources.ZoneMap
      .prunedRead(spark, dir, zm, Seq("dt"), "uid", lit(1500L), lit(1600L))
    val expected = table.filter(col("uid").between(1500, 1600))
    assert(pruned.collect().map(_.getAs[Long]("uid")).sorted.toSeq ==
      expected.collect().map(_.getAs[Long]("uid")).sorted.toSeq)
    // the scan itself is partition-pruned: only dt=1's rows are read
    assert(scannedRows(pruned.select("uid")) <= 1000,
      "zone-map read scanned partitions the side-table ruled out")
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && !p.contains("PartitionFilters: []"),
      s"no partition filters in pruned read:\n$p")
  }

  test("bloom zone map prunes point lookups that min/max alone cannot") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloomzone").toString
    // adversarial layout for min/max: every partition's uid range spans
    // the whole domain (uid ≡ dt mod 10, so dt=3 holds 3, 13, 23, …) —
    // range stats admit EVERY partition for any probe; only membership
    // can prune
    val tab = spark.range(10000)
      .select((col("id") % 10).as("dt"), col("id").as("uid"), (col("id") % 97).as("v"))
    tab.write.mode("overwrite").partitionBy("dt").parquet(dir)
    val table = spark.read.parquet(dir)
    val zm = graft.sources.ZoneMap
      .buildWithBloom(table, Seq("dt"), Seq("uid"), expectedKeysPerPartition = 2000L, fpp = 0.01)
      .cache()
    assert(zm.count() == 10)
    val probe = 4567L // lives only in dt=7
    // min/max admits all 10 partitions; bloom vetoes the 9 that can't hold it
    val rangeOnly = graft.sources.ZoneMap
      .candidatePartitions(zm, Seq("dt"), "uid", lit(probe), lit(probe)).count()
    assert(rangeOnly == 10, s"expected min/max to admit all partitions, got $rangeOnly")
    val bloomCands = graft.sources.ZoneMap
      .candidatePartitionsPoint(zm, Seq("dt"), "uid", probe)
    assert(bloomCands.map(_.get(0).toString).contains("7"), "bloom dropped the true partition")
    assert(bloomCands.size <= 2, s"bloom admitted ${bloomCands.size} partitions at fpp=0.01")
    // pruned read: identical result, scan bounded by the admitted partitions
    val pruned = graft.sources.ZoneMap
      .prunedReadPoint(spark, dir, zm, Seq("dt"), "uid", probe)
    assert(pruned.collect().map(_.getAs[Long]("uid")).toSeq == Seq(probe))
    assert(scannedRows(pruned.select("uid")) <= bloomCands.size * 1000L,
      "bloom-pruned read scanned partitions the side-table ruled out")
    // absent key: bloom usually rules out every partition -> empty scan, no false negatives
    assert(graft.sources.ZoneMap
      .prunedReadPoint(spark, dir, zm, Seq("dt"), "uid", 999999L).count() == 0)
    zm.unpersist()
  }

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
