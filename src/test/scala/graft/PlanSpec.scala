package graft

/** Physical-plan regression guards: the scale properties SURVEY §5
  * promises must be visible in the executed plan, not just intended. */
class PlanSpec extends SparkSpec {
  def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  def formatted(name: String): String = {
    val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
    qe.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  test("round-3 family: broadcast/TakeOrdered shapes as designed") {
    // q115: the d-row stats table joins broadcast (never reshuffles n×d rows)
    val p115 = plan("q115_feature_scale")
    assert(p115.contains("BroadcastHashJoin") && !p115.contains("SortMergeJoin"),
      s"q115 stats join not broadcast:\n$p115")
    // q116: top-V vocab is a TakeOrdered, and the coverage join broadcasts it
    val p116 = plan("q116_vocab_oov")
    assert(p116.contains("TakeOrderedAndProject"), "q116 vocab not TakeOrdered")
    assert(p116.contains("BroadcastHashJoin"), "q116 vocab join not broadcast")
    // q123: percentile bounds broadcast back — the fact side never reshuffles
    val p123 = plan("q123_winsorize")
    assert(p123.contains("BroadcastHashJoin") && !p123.contains("SortMergeJoin"),
      s"q123 bounds join not broadcast:\n$p123")
    // q134: supplier dim attaches by broadcast; no per-part sort anywhere
    val p134 = plan("q134_min_cost_supplier")
    assert(p134.contains("BroadcastHashJoin"), "q134 supplier join not broadcast")
  }

  test("round-6 family: TPC-H shapes plan broadcast dims / TakeOrdered / semi join") {
    // q175/q179: the global top-k after aggregation is a TakeOrdered,
    // never a full sort of the survivor set
    assert(plan("q175_returned_customers").contains("TakeOrderedAndProject"),
      "q175 top-20 not TakeOrdered")
    assert(plan("q179_big_orders").contains("TakeOrderedAndProject"),
      "q179 top-k not TakeOrdered")
    // q177: the OR-of-ANDs brackets must NOT force a nested-loop — the
    // partkey equi-join stays a broadcast hash join
    val p177 = plan("q177_disjunctive_brackets")
    assert(p177.contains("BroadcastHashJoin"), "q177 part join not broadcast hash")
    assert(!p177.contains("BroadcastNestedLoop"), "q177 fell back to BNL")
    // q195: EXISTS plans as a semi join (orders never duplicate per line)
    assert(plan("q195_priority_exists").contains("LeftSemi"), "q195 not a semi join")
    // q173: both nation-pair legs broadcast; only lineitem⋈orders is data-sized
    val p173 = plan("q173_nation_trade")
    assert(p173.contains("BroadcastHashJoin"), "q173 dim legs not broadcast")
  }

  test("q02: filters and column pruning reach the parquet scan") {
    val p = formatted("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), "filter pushdown missing")
    assert(p.contains("GreaterThanOrEqual(l_quantity,45.0)"), "predicate not pushed")
    // pruned read schema: no price/discount/tax columns materialized
    assert(!p.contains("l_extendedprice"), "column pruning failed")
  }

  test("q03: global top-k plans as TakeOrderedAndProject, not a full sort") {
    assert(plan("q03_topk_orders").contains("TakeOrderedAndProject"))
  }

  test("q01: aggregation is two-phase (map-side partial before shuffle)") {
    assert(plan("q01_pricing_summary").contains("partial_sum"))
  }

  test("q05: every dimension join is a broadcast join (no fact shuffle)") {
    val p = plan("q05_multi_join_agg")
    assert(!p.contains("SortMergeJoin"), "dimension join degraded to SMJ")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q04: explicit broadcast hint survives into the physical plan") {
    assert(plan("q04_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q07: rank-filter idiom plans Partial+Final WindowGroupLimit (bounded pre-shuffle top-k)") {
    val p = plan("q07_window_rank")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial") && p.contains("Final"),
      s"expected partial window group limit in:\n$p")
  }

  test("runtime bloom filter prunes the fact side of a selective fact-fact join") {
    // lineitem ⋈ orders where the orders side is highly selective: at
    // 100 TB the win is a bloom filter built from the selective side and
    // pushed into the fact scan, dropping non-joining rows before the
    // shuffle. Thresholds are tuned down so the toy-scale plan shows the
    // same injection the full-scale plan would.
    val overrides = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force the shuffle-join shape of fact⋈fact
    val prev = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val t = graft.sources.Tables(spark, sfDir)
      val selective = t.orders.filter(org.apache.spark.sql.functions.col("o_totalprice") > 500000.0)
      val joined = t.lineitem
        .join(selective, org.apache.spark.sql.functions.col("l_orderkey") === org.apache.spark.sql.functions.col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("might_contain"),
        s"no runtime bloom filter injected:\n$p")
    } finally prev.foreach { case (k, vOpt) => vOpt.fold(spark.conf.unset(k))(v => spark.conf.set(k, v)) }
  }

  test("q45: attribution is a user-partitioned RANGE window, never a cartesian") {
    val p = plan("q45_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join planned as a product:\n$p")
    assert(p.contains("hashpartitioning(user_id"), s"expected a user_id-partitioned window shuffle in:\n$p")
  }

  test("q45, q76 and q121 read the events table once") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicLong
    // every hour file holds every event type, so no pushed type filter can
    // skip a file's row group and a single scan reads each row exactly once
    val types = Seq("view", "click", "purchase", "error")
    val events = (for { h <- 0 until 48; i <- 0 until 12 } yield {
      val ms = (java.time.LocalDate.of(2026, 1, 1).toEpochDay * 24L + h) * 3600000L + i * 300000L
      ((h * 12 + i).toLong, new java.sql.Timestamp(ms), ((h + i) % 7).toLong, types(i % 4), 1.0, "{}")
    }).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("dt", date_format(col("ts"), "yyyyMMdd"))
      .withColumn("hr", date_format(col("ts"), "HH"))
    val dir = java.nio.file.Files.createTempDirectory("graft-one-scan").toString
    events.repartition(col("dt"), col("hr")).write.mode("overwrite").partitionBy("dt", "hr").parquet(dir)
    val table = spark.read.parquet(dir)
    val rows = table.count()

    val sc = spark.sparkContext
    def recordsRead(run: => Unit): Long = {
      val read = new AtomicLong()
      val flushGroup = s"one-scan-flush-${System.nanoTime()}"
      val flushed = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == flushGroup)) flushed.countDown()
      }
      sc.addSparkListener(listener)
      try {
        run
        // task ends reach the listener before the next job's start
        sc.setJobGroup(flushGroup, "listener flush")
        sc.parallelize(Seq(1), 1).count()
        assert(flushed.await(60, TimeUnit.SECONDS), "listener never saw the flush job")
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
      read.get()
    }

    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "q45_range_join" -> (df => graft.operators.EventAnalytics.attributionRangeJoin(df)),
      "q76_funnel" -> (df => graft.operators.EventAnalytics.funnel(df)),
      "q121_dau_wau" -> (df => graft.operators.EventAnalytics.dauWau(df)))
    val reads = ops.map { case (name, op) => name -> recordsRead(op(table).collect()) }
    assert(reads.forall(_._2 == rows), s"records read from a $rows-row table: ${reads.mkString(", ")}")
  }

  test("q25: scale-safe ntile — no single-partition window in the plan") {
    val p = plan("q25_ntile_buckets")
    assert(!p.contains("SinglePartition"), s"global-window ntile leaked back in:\n$p")
    assert(p.contains("hashpartitioning(pid"), s"expected pid-partitioned window in:\n$p")
  }

  test("CBO column stats shrink a filtered dim's estimate and flip the join to broadcast") {
    // Without column stats a filtered table's size estimate stays at
    // file size, so a selective dim filter can't earn a broadcast. With
    // ANALYZE ... FOR ALL COLUMNS + CBO, filter selectivity shrinks the
    // estimate below the threshold — at 100 TB this is the difference
    // between shuffling the fact table and not.
    val t = graft.sources.Tables(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS cbo_orders")
    t.orders.write.saveAsTable("cbo_orders")
    val fileBytes = spark.table("cbo_orders").queryExecution.optimizedPlan.stats.sizeInBytes
    val keys = Seq(
      "spark.sql.cbo.enabled",
      "spark.sql.cbo.planStats.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    def shape(): String = {
      val c = org.apache.spark.sql.functions.col _
      val dim = spark.table("cbo_orders").filter(c("o_totalprice") > 550000.0) // ~handful of rows
      t.lineitem.join(dim, c("l_orderkey") === c("o_orderkey"))
        .groupBy("o_orderpriority").count()
        .queryExecution.executedPlan.toString
    }
    // size-only estimation still scales by the pruned-column ratio
    // (~1/3 here); the threshold must sit below that but above the
    // stats-informed post-filter estimate (~1% of rows)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (fileBytes / 20).toString)
    try {
      // size-only estimation: the filter does not shrink the estimate
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val before = shape()
      assert(!before.contains("BroadcastHashJoin"),
        s"already broadcast before stats — threshold not binding:\n$before")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
      spark.sql("ANALYZE TABLE cbo_orders COMPUTE STATISTICS FOR ALL COLUMNS")
      val after = shape()
      assert(after.contains("BroadcastHashJoin"),
        s"column stats did not earn the broadcast:\n$after")
    } finally {
      prev.foreach { case (k, vOpt) => vOpt.fold(spark.conf.unset(k))(v => spark.conf.set(k, v)) }
      spark.sql("DROP TABLE IF EXISTS cbo_orders")
    }
  }

  test("q66: benchmark gram set broadcasts — the corpus side never shuffles before the hit count") {
    val p = plan("q66_decontamination")
    assert(p.contains("BroadcastHashJoin"), s"benchmark gram match not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join leaked in:\n$p")
  }

  test("q54: HLL sketch aggregation is two-phase (partial sketches before the exchange)") {
    val p = plan("q54_hll_rollup")
    assert(p.contains("partial_hll_sketch_agg") || p.contains("partial_hll_union_agg"),
      s"no map-side partial sketch aggregation in:\n$p")
  }

  test("q56: boilerplate set joins broadcast, reassembly shuffles only on doc_id") {
    val p = plan("q56_line_dedup")
    assert(p.contains("BroadcastHashJoin"), s"boilerplate anti-match not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"line dedup degraded to a heavy join:\n$p")
  }

  test("q58: packing windows are per-source (no single-partition window)") {
    val p = plan("q58_seq_packing")
    assert(p.contains("hashpartitioning(source"), s"expected per-source window shuffle in:\n$p")
    val windowSection = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!windowSection.contains("SinglePartition"), s"global window in packing:\n$p")
  }

  test("q75: chunking is pure map-side — no hash shuffle anywhere in the plan") {
    val p = plan("q75_chunking")
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking should only range-partition for the final ordering:\n$p")
  }

  test("q74: the document-frequency table joins broadcast (corpus side never reshuffles for it)") {
    val p = plan("q74_tfidf")
    assert(p.contains("BroadcastHashJoin"), s"DF join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"vocabulary join degraded to SMJ:\n$p")
  }

  test("q78: cohort map joins broadcast against collapsed activity") {
    val p = plan("q78_cohort")
    assert(p.contains("BroadcastHashJoin"), s"cohort join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"cohort join degraded to SMJ:\n$p")
  }

  test("q73: shared scan plans one Expand over one parquet scan") {
    val p = plan("q73_shared_scan")
    assert(p.contains("Expand"), s"no Expand in shared scan:\n$p")
    val scans = "Scan parquet".r.findAllIn(p.split("== Initial Plan ==")(0)).length
    assert(scans <= 1, s"shared scan reads the input $scans times:\n$p")
  }

  test("q88: centroid assignment is one map pass — no join, no explode, single agg shuffle") {
    val p = plan("q88_centroid_assign")
    assert(!p.contains("Join"), s"centroid assignment should close over broadcast centroids, not join:\n$p")
    assert(!p.contains("Generate"), s"no explode expected:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected only the final-agg exchange(s), got $exchanges:\n$p")
  }

  test("q92: basket pair expansion is a shuffled equi-join, never a cartesian") {
    val p = plan("q92_copurchase")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair join degraded to a cartesian shape:\n$p")
  }

  test("q93: profiling N columns scans the table once") {
    val p = plan("q93_profile")
    val scans = "Scan parquet".r.findAllIn(p.split("== Initial Plan ==")(0)).length
    assert(scans <= 1, s"profile reads the input $scans times:\n$p")
  }

  test("q201/q412: containment WORK plan (pre-checkpoint) stays equi-join-only") {
    // the registered q201/q412 plans are checkpoint scans (the operator
    // executes eagerly to release shared caches), which would blind the
    // lint to a scale-killer inside the join — gate the lazy builder
    // (r12, the dfBudgetFrame discipline applied to the whole operator)
    val p = operators.Dedup.containmentJoinWorkPlan(
      sources.Tables(spark, sfDir).documents).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment pair expansion degraded to a cartesian shape:\n$p")
    assert(p.contains("LeftSemi"), s"rare-shingle prefilter lost its semi join:\n$p")
  }

  test("q91: the split is a map-side expression — no shuffle before the audit aggregate") {
    val p = plan("q91_leakage_split")
    // exactly the two-phase agg exchange + the final orderBy range exchange
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"split assignment should not shuffle the fact table:\n$p")
    assert(!p.contains("Join"), s"no join expected in hash split:\n$p")
  }

  test("q97: per-source cap plans Partial+Final WindowGroupLimit (no full per-source sort feeds the shuffle)") {
    val p = plan("q97_source_caps")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      s"row_number<=k idiom did not plan bounded pre-shuffle selection:\n$p")
  }

  test("q96: audit scans each table once per role — no cartesian, no repeated passes") {
    val p = plan("q96_constraint_audit").split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"audit joins must be equi-joins:\n$p")
    // lineitem appears exactly twice: its row-check aggregate and the fk child pass
    val lineitemScans = "Scan parquet [^\\n]*lineitem".r.findAllIn(p).length
    assert(lineitemScans == 2, s"lineitem scanned $lineitemScans times (want 2):\n$p")
  }

  test("every query plan lints clean of scale-killer shapes (documented idioms excepted)") {
    // deliberate idioms, each justified at its definition site:
    //  - broadcast-nested-loop-join on a 1-row aggregate (scalar-combine:
    //    q14/q56/q74/q84/q101) or a bounded broadcast query side
    //    (exact-ANN baseline / re-rank / handoff: q51/q59/q63)
    //  - unpartitioned window over an input bounded by CONSTRUCTION:
    //    q72 solves over ≤ #sources rows, q89 lags a calendar-bounded
    //    month table — the window input can never grow with the corpus
    val bnl = Set("broadcast-nested-loop-join")
    val deliberate: Map[String, Set[String]] = Map(
      "q14_scalar_subquery" -> bnl,
      "q51_ann_bruteforce"  -> bnl,
      "q56_line_dedup"      -> bnl,
      "q59_ann_quantized"   -> bnl,
      "q63_feature_similarity" -> bnl,
      "q65_semantic_dedup"  -> bnl, // 1-row broadcast n_total/n_members scalars (q14 idiom)
      "q74_tfidf"           -> bnl,
      "q84_gapfill"         -> bnl,
      "q101_join_estimate"  -> bnl,
      "q114_revenue_share"  -> bnl,
      "q122_hard_negatives" -> bnl, // label-guard non-equi over the BOUNDED broadcast query side (q51 idiom)
      "q125_ann_rp"         -> bnl, // broadcast query side (q51/q59 idiom)
      "q146_ann_pca"        -> bnl, // broadcast query side (q51/q59/q125 idiom)
      "q126_chisq"          -> bnl, // 1-row broadcast grand-total (q14/q114 idiom)
      "q133_rich_inactive"  -> bnl, // 1-row broadcast average-balance scalar (q14 idiom)
      "q154_skew_audit"     -> bnl, // 1-row broadcast global-totals scalar (q14/q114 idiom)
      "q158_null_aware_anti" -> bnl, // 1-row broadcast has-null scalar (q14 idiom)
      "q161_length_drift"   -> bnl, // sources × bins grid densification (q126 idiom, bounded)
      "q163_rrf_fusion"     -> bnl, // bounded broadcast query side (q51/q59 idiom)
      "q264_ann_graph_recall" -> bnl, // exact-side probe sample: bounded broadcast query side (q51/q228 idiom)
      "q267_ann_filtered"   -> bnl, // bounded broadcast query side over the pre-filtered candidates (q51 idiom)
      "q268_ann_filtered_recall" -> bnl, // exact leg = q267's bounded broadcast query side (q51/q228 idiom)
      "q270_hybrid_search"  -> bnl, // bounded broadcast query docs ×2 legs + 1-row corpus scalars (q51/q203 idiom)
      "q278_excess_stock"   -> bnl, // 1-row broadcast global year-share scalar (q14 idiom)
      "q283_tier_migration" -> Set("unpartitioned-window"), // GlobalOrder offset frame ×2 periods (q150/q153 idiom)
      "q426_woe_iv"         -> bnl, // 1-row broadcast tot_pos/tot_neg scalar (q14 idiom)
      "q434_fk_coverage"    -> bnl, // 1-row per-edge orphan/childless scalars (q14 idiom, ×6 edges)
      "q438_equi_depth_hist" -> bnl, // 1-row broadcast decile-bounds array (q14 idiom)
      "q439_join_estimate_audit" -> bnl, // 1-row per-edge count/ndv/actual scalars (q14 idiom, ×3 edges)
      "q440_design_effect"  -> bnl, // 1-row grand-mean + SS scalars (q14 idiom)
      "q443_mixture_shift"  -> bnl, // 1-row before/after totals scalar (q14 idiom)
      "q444_engle_granger"  -> bnl, // 1-row OLS/DF scalars (q14 idiom)
      "q445_abc_xyz"        -> (bnl + "unpartitioned-window"), // 1-row total scalar + Pareto prefix sum over the ≤#brands frame (q89/q183 idiom)
      "q435_fairness_slices" -> bnl, // 1-row broadcast overall-accuracy scalar (q14 idiom)
      "q436_bass_diffusion" -> Set("unpartitioned-window"), // prefix sum over the ≤#days adoption frame (q89/q183 idiom)
      "q428_uplift_deciles" -> Set("unpartitioned-window"), // GlobalOrder offset frame (q150/q153 idiom)
      "q430_periodogram"    -> (bnl + "unpartitioned-window"), // 1-row mean scalar + rank over the ≤13-period frame (q89/q182 idiom)
      "q431_ar2_forecast"   -> bnl, // 1-row mu/r1/r2/last2 scalars (q14 idiom)
      "q284_seq_support"    -> bnl, // 1-row broadcast user-base total (q14 idiom)
      "q285_cumulative_reach" -> (bnl + "unpartitioned-window"), // 1-row total scalar + prefix sum over the calendar-month frame (q89/q183 idiom)
      "q166_neyman_sample"  -> bnl, // 1-row broadcast Σ(N_h·σ_h) scalar (q14 idiom)
      "q170_quantile_normalize" -> (bnl + "unpartitioned-window"), // 1-row total scalar + GlobalOrder offset frame
      "q169_contribution"   -> bnl, // 1-row broadcast global-total scalar (q14/q114 idiom)
      "q72_mixture_solver"  -> Set("unpartitioned-window"),
      "q89_mom_change"      -> Set("unpartitioned-window"),
      "q136_moving_avg"     -> Set("unpartitioned-window"), // window over the #days aggregate (q89 idiom)
      // GlobalOrder offsets: prefix sum over the bucket-count frame,
      // ≤ numBuckets rows by construction — the data-sized ranking
      // window is partitioned by bucket (asserted in GlobalOrderSpec)
      "q150_global_rownum"  -> Set("unpartitioned-window"),
      "q153_rfm"            -> Set("unpartitioned-window"),
      "q160_pct_rank_ref"   -> Set("unpartitioned-window"),
      "q183_gini"           -> Set("unpartitioned-window"), // GlobalOrder offset frame (q150 idiom)
      "q184_ks_test"        -> Set("unpartitioned-window"), // GlobalOrder offset frame ×3 rankings
      "q185_mann_whitney"   -> Set("unpartitioned-window"), // GlobalOrder offset frame
      "q182_benford"        -> Set("unpartitioned-window"), // 9-digit frame total (bounded)
      "q186_dow_seasonality" -> Set("unpartitioned-window"), // 7-weekday frame (bounded)
      "q187_ewma"           -> Set("unpartitioned-window"), // calendar-days frame (q89/q136 idiom)
      "q194_stl_decompose"  -> Set("unpartitioned-window"), // trend MA over the calendar-days frame
      "q196_bootstrap_ci"   -> bnl, // two 1-row moment frames crossed (q14 idiom)
      "q202_pmi_bigrams"    -> bnl, // 1-row N1/N2 corpus totals (q14 idiom)
      "q203_bm25"           -> bnl, // 1-row N/avgdl scalar (q14 idiom)
      "q204_stl_anomaly"    -> Set("unpartitioned-window"), // q194 trend + residual moments (calendar frame)
      "q208_growth_accounting" -> Set("unpartitioned-window"), // cumulative sum over the calendar-days frame
      "q190_ann_pq"         -> bnl, // bounded broadcast query side (q51/q59 idiom)
      "q192_triangles"      -> bnl, // 1-row census scalars crossed (q14 idiom)
      "q212_leave_one_out"  -> bnl, // 1-row broadcast total/count scalar (q14/q114 idiom)
      "q220_overlap_sketch" -> bnl, // #types-row KB-sketch frames crossed (q101 scalar-combine idiom)
      "q221_survival"       -> (bnl + "unpartitioned-window"), // 1-row scalars + ≤#months cumulative frame (q183 idiom)
      "q222_cusum"          -> (bnl + "unpartitioned-window"), // 1-row μ/σ scalar + calendar-day running frames (q89 idiom)
      "q223_cuped"          -> bnl, // 1-row d0 + co-moment scalars (q14 idiom)
      "q226_weekday_anova"  -> bnl, // 1-row grand-mean scalar over 7 group rows (q14 idiom)
      "q228_ann_recall"     -> bnl, // bounded broadcast query side ×4 methods (q51/q59 idiom)
      "q231_proportion_test" -> bnl, // 1-row broadcast median threshold (q14 idiom)
      "q232_rolling_corr"   -> Set("unpartitioned-window"), // trailing frame over the calendar-day table (q89 idiom)
      "q236_key_gaps"       -> Set("unpartitioned-window"), // lag over the #buckets min/max frame (bounded; data-sized lag is bucket-partitioned)
      "q238_cohort_ltv"     -> bnl, // 1-row corpus-start scalar (q14/q223 idiom)
      "q239_lang_confusion" -> bnl, // #langs² grid + 1-row accuracy scalar (q126 idiom)
      "q241_t_closeness"    -> (bnl + "unpartitioned-window"), // #classes × #values grid densification (q126/q161 idiom) + total over the #values frame
      "q246_theil_sen"      -> bnl, // days² pair expansion of the calendar-bounded daily frame + 1-row stat frames crossed (q14 idiom)
      "q248_changepoint"    -> Set("unpartitioned-window"), // prefix sums over the calendar-day frame (q89/q136 idiom)
      "q250_basket_lift"    -> bnl, // 1-row broadcast corpus order count (q14 idiom)
      "q252_abc_analysis"   -> Set("unpartitioned-window"), // GlobalOrder offset frame: ≤numBuckets bucket totals (q150/q183 idiom)
      "q255_doc_surprisal"  -> bnl, // 1-row broadcast corpus token total (q14 idiom)
      "q258_lorenz_curve"   -> Set("unpartitioned-window"), // 10-row decile frame + GlobalOrder offsets (q150/q183 idiom)
      "q259_spc_chart"      -> (bnl + "unpartitioned-window"), // 1-row limits broadcast (q14 idiom) + lag over the calendar-day frame (q89 idiom)
      "q256_seasonality_strength" -> Set("unpartitioned-window"), // q194's trend MA over the calendar-days frame
      "q290_cramers_v"      -> Set("unpartitioned-window"), // grand-total over ≤types×7 contingency cells (q182 bounded-frame idiom)
      "q291_info_gain"      -> bnl, // 1-row H(target) scalar crossed (q14 idiom)
      "q292_hits"           -> bnl, // 1-row |E|/normalizer scalars ×3 (q14 idiom)
      "q293_target_encode"  -> Set("unpartitioned-window"), // grand-total over segments×folds cells (q182/q290 idiom)
      "q294_source_overlap" -> (bnl + "cartesian-product"), // #sources² pair frame densification (q126/q161 grid idiom)
      "q295_js_divergence"  -> bnl, // 1-row corpus-total scalar (q14 idiom)
      "q299_textrank"       -> bnl, // 1-row node-count scalar ×2 iterations (q14 idiom)
      "q300_kendall_tau"    -> (bnl + "cartesian-product" + "unpartitioned-window"), // bounded N²/2 pair expansion + row_number over the POST-LIMIT ≤N-row sample (q246 idiom)
      "q304_transition_audit" -> bnl, // 1-row transition-total scalar (q14 idiom)
      "q309_dup_cluster_dist" -> bnl, // 1-row corpus-total scalar (q14 idiom)
      "q310_ppr"            -> bnl, // 1-row seed scalar joins (q14 idiom)
      "q311_image_neardup"  -> bnl, // 1-row image-count scalar (q14 idiom)
      "q315_conformal"      -> (bnl + "unpartitioned-window"), // 1-row split/q̂ scalars + windows over the calendar-day frame (q89 idiom)
      "q316_blocklist"      -> (bnl + "cartesian-product"), // #sources × K literal-term grid densification (q294 idiom)
      "q318_metric_corr"    -> (bnl + "cartesian-product"), // calendar-days × #types zero-fill grid (q294/q316 idiom)
      "q322_dupkey_audit"   -> bnl, // 1-row table-total scalar (q14/q114 idiom)
      "q325_lift_table"     -> Set("unpartitioned-window"), // GlobalOrder exact-ntile offset frame: ≤numBuckets rows (q150/q252 idiom)
      "q327_trending"       -> bnl, // 1-row max-week scalar (q14 idiom); ranking windows are per-week
      "q328_hbos"           -> bnl, // 1-row min/max + n_total scalars (q14 idiom); density joins are bounded broadcasts
      "q331_fdr_bh"         -> Set("unpartitioned-window"), // BH suffix-min over the #event-types frame (q182 bounded-frame idiom)
      "q332_diff_in_diff"   -> bnl, // 1-row midpoint scalar (q14 idiom)
      "q334_temperature_mix" -> bnl, // 1-row corpus-total scalar (q14 idiom)
      "q336_gap_expfit"     -> (bnl + "unpartitioned-window"), // 1-row mean scalar + GlobalOrder offset frame (q184 idiom)
      "q337_burn_rate"      -> Set("unpartitioned-window"), // trailing range frame over the calendar-day table (q89/q232 idiom)
      "q338_granger"        -> Set("unpartitioned-window"), // lag over the calendar-day frame (q89 idiom)
      "q339_dispersion"     -> bnl, // 1-row user/day-count scalar (q14 idiom)
      "q341_series_knn"     -> (bnl + "cartesian-product"), // #nations × #days zero-fill grid (q294/q318 idiom)
      "q342_rolling_median" -> Set("unpartitioned-window"), // RANGE frame over the calendar-day table (q337 idiom)
      "q343_rec_coverage"   -> (bnl + "unpartitioned-window"), // 1-row scalars + slot ranking over the catalog-bounded part frame
      "q344_dup_matrix"     -> (bnl + "cartesian-product"), // #sources² zero-fill pair grid (q294/q316 idiom)
      "q345_funnel_by_arm"  -> bnl, // 1-row per-arm scalar cross (q231 idiom)
      "q346_peaks"          -> Set("unpartitioned-window"), // lag/lead + RANGE median over the calendar-day table (q342 idiom)
      "q348_empirical_bayes" -> bnl, // 1-row method-of-moments prior scalar (q14/q319 idiom)
      "q352_seasonal_index" -> (bnl + "unpartitioned-window"), // 1-row normalizer scalar + centered MA over the #months frame (q89 idiom)
      "q354_runs_test"      -> (bnl + "unpartitioned-window"), // 1-row median scalar + lag over the calendar-day frame (q89 idiom)
      "q357_kruskal_wallis" -> (bnl + "unpartitioned-window"), // 1-row tie-correction scalar (q14 idiom) + GlobalOrder offset frame ≤numBuckets rows (q150/q252 idiom)
      "q358_brown_forsythe" -> bnl, // 1-row grand-mean scalar (q14/q226 idiom); group medians broadcast on an equi-key
      "q359_token_drift"    -> bnl, // 1-row corpus token-mass scalar (q14/q255 idiom)
      "q360_price_index"    -> bnl, // 1-row max-year scalar (q14/q353 idiom)
      "q362_dedup_coverage" -> bnl, // 1-row nA/nB/overlap scalars crossed (q14 idiom)
      "q363_ljung_box"      -> bnl, // 1-row mean/denominator scalars + ≤maxLag lag frame broadcast (q14/q181 idiom)
      "q367_wasserstein"    -> (bnl + "unpartitioned-window"), // GlobalOrder offset frames ×3 rankings (q184 idiom) + 1-row n_a/n_b scalar (q14 idiom)
      "q368_cliffs_delta"   -> Set("unpartitioned-window"), // GlobalOrder offset frame (q185 idiom)
      "q369_mood_median"    -> (bnl + "unpartitioned-window"), // GlobalOrder offset frame + 1-row median scalar (q14 idiom) + χ² fold over the ≤5-group frame (q182 idiom)
      "q372_good_turing"    -> bnl, // 1-row corpus-total scalar (q14 idiom); the r→r+1 lookup is an equi-join
      "q376_friedman"       -> Set("unpartitioned-window"), // Q fold over the ≤#priorities rank-sum frame (q182 bounded-frame idiom)
      "q379_cramer_von_mises" -> (bnl + "unpartitioned-window"), // GlobalOrder offset frames ×3 + 1-row n_a/n_b scalar (q367 idiom)
      "q382_logrank"        -> bnl, // 1-row corpus-end scalar (q221 idiom); at-risk windows are side-partitioned over the ≤#months grid
      "q383_quantile_shift" -> Set("unpartitioned-window"), // GlobalOrder offset frames ×2 (q184 idiom); boundary lookup is a broadcast equi-join
      "q385_yuen_trimmed"   -> (bnl + "unpartitioned-window"), // GlobalOrder offset frames ×2 + 1-row trim-boundary rank picks crossed (q14 idiom)
      "q387_two_way_anova"  -> bnl, // 1-row grand/per-factor moment frames crossed (q14/q226 idiom)
      "q389_nelson_aalen"   -> (bnl + "unpartitioned-window"), // 1-row corpus-end/total scalars + ≤#months cumulative frame (q221 idiom)
      "q390_event_study"    -> bnl, // 1-row marker + baseline scalars crossed (q14 idiom)
      "q393_overlap_depth"  -> (bnl + "unpartitioned-window"), // sweep over the 2·#files METADATA frame (zone-map idiom) + 1-row totals scalar
      "q396_sort_advisor"   -> (bnl + "unpartitioned-window"), // q393's metadata sweep × #candidate columns (bounded list)
      "q397_mann_kendall"   -> (bnl + "cartesian-product"), // days² pair expansion of the calendar-bounded daily frame + 1-row tie scalar (q246 idiom)
      "q398_decayed_clv"    -> bnl, // 1-row corpus-end scalar (q221/q389 idiom)
      "q400_benford2"       -> Set("unpartitioned-window"), // 10-digit frame totals (q182 bounded idiom)
      "q403_grubbs"         -> (bnl + "unpartitioned-window"), // 1-row moment scalar + argmax over the calendar-day frame (q89 idiom)
      "q404_page_hinkley"   -> (bnl + "unpartitioned-window"), // 1-row μ/σ scalar + running frames over the calendar-day table (q222 idiom)
      "q405_knn_classify"   -> bnl, // bounded broadcast query side (q51/q59 idiom); vote window is per-query
      "q406_novelty_curve"  -> (bnl + "unpartitioned-window"), // 1-row span scalar + cumulative over the ≤nBins frame (q182 bounded idiom)
      "q408_hurst"          -> Set("unpartitioned-window"), // day index over the calendar frame + slope fold over the ≤4-size frame (q89/q182 idioms)
      "q409_hill_tail"      -> Set("unpartitioned-window"), // rank/scalar windows over the POST-LIMIT ≤(k+1)-row frame (q300 idiom)
      "q410_burrows_delta"  -> (bnl + "cartesian-product"), // bounded sources×V grid densification (q294/q316 idiom)
      "q411_pair_budget"    -> bnl, // 1-row incidence-total scalar (q14 idiom)
      "q414_ndcg"           -> bnl, // candidates × broadcast ≤3-query slice (q163/q63 idiom)
      "q424_duplication_profile" -> bnl, // 1-row corpus-totals scalar (q14 idiom)
      "q415_anderson_darling" -> (bnl + "unpartitioned-window"), // GlobalOrder offset frames ×3 (q184 idiom) + 1-row n_a/n_b scalar (q14 idiom)
      "q416_hodges_lehmann" -> (bnl + "cartesian-product"), // calendar-bounded days×days pair frame (q397 idiom) + daily grids
      "q419_ks_uniform"     -> (bnl + "unpartitioned-window"), // GlobalOrder offset frame (q184 idiom) + 1-row span scalar (q14 idiom)
      "q420_expected_shortfall" -> bnl) // 1-row VaR scalar crossed (q14 idiom)
    // q70 starts a streaming query; q94 returns an eager checkpoint —
    // their plans are guarded by their own specs
    val skip = Set("q70_sink_ingest", "q94_mv_rollup", "q98_pagerank")
    val bad = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => skip.contains(n) }
      .flatMap { case (name, fn) =>
        val rules = graft.plans.PlanLint.lint(fn(spark, sfDir)).map(_.rule).toSet
        val unexpected = rules -- deliberate.getOrElse(name, Set.empty)
        if (unexpected.nonEmpty) Some(s"$name: ${unexpected.mkString(",")}") else None
      }
    assert(bad.isEmpty, s"scale-killer shapes planned:\n${bad.mkString("\n")}")
  }

  test("no registered query sums a raw-double money column (PortableRound.moneySum lint)") {
    // The sf1 wrong-answer class (round 10): summing 2dp money as double
    // makes the total depend on summation ORDER once |total|·n·ε nears
    // the display grain — and a raw total fed into ranking flipped a
    // quantile boundary (q153). The fix is PortableRound.money/moneySum
    // (cast → exact decimal sum → double display); this lint keeps the
    // rule from eroding by enumeration: any NEW plain sum over a money
    // column fails CI. Product/moment/conditional sums are out of scope
    // by regex construction (they carry their own per-query analysis);
    // the one deliberate raw sum (q200's drift-demo column) is marked.
    val moneySumPattern =
      """sum\(\s*(?:col\("(?:o_totalprice|l_extendedprice|p_retailprice)"\)|"(?:o_totalprice|l_extendedprice|p_retailprice)")\s*\)""".r
    val root = new java.io.File("src/main/scala/graft")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    val offenders = scalaFiles(root).flatMap { f =>
      // explicit UTF-8 (sources carry ≤/µ/× glyphs; the default charset
      // threw MalformedInputException on some JVMs)
      val text = new String(
        java.nio.file.Files.readAllBytes(f.toPath), java.nio.charset.StandardCharsets.UTF_8)
      text.linesIterator.zipWithIndex.collect {
        case (line, i)
            if moneySumPattern.findFirstIn(line).isDefined &&
              !line.contains("lint:raw-money-sum-ok") &&
              !line.trim.startsWith("|") => // oracle SQL is mirrored separately
          s"${f.getPath}:${i + 1}: ${line.trim.take(90)}"
      }.toList
    }
    assert(offenders.isEmpty,
      s"raw-double money sums (use PortableRound.moneySum):\n${offenders.mkString("\n")}")
  }

  test("q98: a rank iteration never reshuffles the cached edge set") {
    import org.apache.spark.sql.functions._
    val edges = graft.operators.Graph.edgesWithDegree(
      graft.sources.Tables(spark, sfDir).lineitem).cache()
    try {
      val ranks = edges.select(col("src").as("node")).distinct().withColumn("pr", lit(1.0))
      val iter = edges.join(ranks, col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("pr") / col("d")).as("mass"))
      iter.collect() // let AQE finalize the join strategy
      val p = iter.queryExecution.executedPlan.toString
      // InMemoryRelation prints its (already-paid) build lineage inline;
      // only exchanges ABOVE the cache marker run per iteration. The
      // good plan has exactly the groupBy(dst) exchange there — an
      // edges-side reshuffle before the join would add a second
      val perIteration = p.split("InMemoryRelation")(0)
      val shuffles = "Exchange hashpartitioning".r.findAllIn(perIteration).length
      assert(shuffles <= 1, s"edge set reshuffled in a rank iteration ($shuffles exchanges):\n$p")
    } finally edges.unpersist(blocking = false)
  }

  test("q98: edge build is an order-keyed equi-join, never a cartesian") {
    val edges = graft.operators.Graph.edgesWithDegree(
      graft.sources.Tables(spark, sfDir).lineitem)
    val p = edges.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pagerank edge build planned a cartesian:\n$p")
  }
}
