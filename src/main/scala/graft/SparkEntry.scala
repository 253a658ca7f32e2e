package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every `queries` key maps to a SURVEY §2 operator; keys with a matching
  * `oracleSql` entry are hash-checked against DuckDB on the same parquet
  * tables (column names MUST match between the two — every computed column
  * is aliased identically on both sides, floats rounded to 4 decimals,
  * results deterministically ordered).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(Tables(spark, "/root/testdata/sf0.001").lineitem)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> ((s, d) => Relational.pricingSummary(Tables(s, d).lineitem)),
    "q02_filter_project" -> ((s, d) => Relational.filterProject(Tables(s, d).lineitem)),
    "q03_topk_orders" -> ((s, d) => Relational.topkOrders(Tables(s, d).orders)),
    "q04_join_broadcast" -> ((s, d) => { val t = Tables(s, d); Relational.joinBroadcast(t.lineitem, t.part) }),
    "q05_multi_join_agg" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.multiJoinAgg(t.region, t.nation, t.customer, t.orders, t.lineitem, t.supplier)
    }),
    "q06_selective_agg" -> ((s, d) => Relational.selectiveAgg(Tables(s, d).lineitem)),
    "q07_window_rank" -> ((s, d) => Relational.windowRank(Tables(s, d).orders)),
    "q08_distinct_count" -> ((s, d) => Relational.distinctCount(Tables(s, d).events)),
    "q09_rollup" -> ((s, d) => Relational.rollupAgg(Tables(s, d).lineitem)),
    "q10_semi_join" -> ((s, d) => { val t = Tables(s, d); Relational.semiJoin(t.customer, t.orders) }),
    "q11_anti_join" -> ((s, d) => { val t = Tables(s, d); Relational.antiJoin(t.customer, t.orders) }),
    "q12_case_agg" -> ((s, d) => Relational.caseAgg(Tables(s, d).events)),
    "q13_having" -> ((s, d) => Relational.havingAgg(Tables(s, d).lineitem)),
    "q14_scalar_subquery" -> ((s, d) => Relational.scalarSubquery(Tables(s, d).part)),
    "q15_union_slices" -> ((s, d) => Relational.unionSlices(Tables(s, d).events)),
    "q16_percentiles" -> ((s, d) => Relational.percentiles(Tables(s, d).events)),
    "q17_first_last" -> ((s, d) => Relational.firstLast(Tables(s, d).events)),
    "q18_events_json" -> ((s, d) => Relational.eventsJson(Tables(s, d).events)),
    "q19_approx_distinct" -> ((s, d) => Relational.approxDistinct(Tables(s, d).events)),
    "q20_events_hourly" -> ((s, d) => EventAnalytics.hourlyRollup(Tables(s, d).events)),
    "q21_partition_layout" -> ((s, d) => EventAnalytics.partitionLayout(Tables(s, d).events)),
    "q22_sessionize" -> ((s, d) => EventAnalytics.sessionize(Tables(s, d).events)),
    "q23_parser_roundtrip" -> ((s, d) => {
      // serialize → parse → aggregate must equal aggregating the source
      val parsed = graft.streaming.EventParser.wellFormed(
        graft.streaming.EventParser.parseLines(
          graft.streaming.EventParser.formatLines(Tables(s, d).events)))
      parsed.groupBy("event_type")
        .agg(
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_events"),
          graft.functions.PortableRound.round(org.apache.spark.sql.functions.sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
    }),
    "q24_running_total" -> ((s, d) => Relational.runningTotal(Tables(s, d).orders)),
    "q25_ntile_buckets" -> ((s, d) => Relational.ntileBuckets(Tables(s, d).orders)),
    "q26_left_join_agg" -> ((s, d) => { val t = Tables(s, d); Relational.leftJoinAgg(t.customer, t.orders) }),
    "q27_cube" -> ((s, d) => Relational.cubeAgg(Tables(s, d).lineitem)),
    "q28_pivot" -> ((s, d) => Relational.pivotCounts(Tables(s, d).events)),
    "q29_stats_agg" -> ((s, d) => Relational.statsAgg(Tables(s, d).events)),
    "q30_text_stats" -> ((s, d) => TextAnalysis.textStats(Tables(s, d).documents)),
    "q31_quality_score" -> ((s, d) => TextAnalysis.qualityScore(Tables(s, d).documents)),
    "q32_fingerprint" -> ((s, d) => TextAnalysis.fingerprintGroups(Tables(s, d).documents)),
    "q33_dedup_exact" -> ((s, d) => TextAnalysis.dedupExact(Tables(s, d).documents)),
    "q34_token_regex" -> ((s, d) => TextAnalysis.tokenRegexStats(Tables(s, d).documents)),
    "q35_lang_id" -> ((s, d) => TextAnalysis.langId(Tables(s, d).documents)),
    "q36_ngram_freq" -> ((s, d) => TextAnalysis.ngramFrequencies(Tables(s, d).documents)),
    "q37_approx_percentile" -> ((s, d) => Relational.approxPercentiles(Tables(s, d).events)),
    "q38_tdigest_percentile" -> ((s, d) => Relational.tdigestPercentiles(Tables(s, d).events)),
    "q39_sketch_rollup" -> ((s, d) => Relational.sketchTableRollup(Tables(s, d).events)),
    "q40_minhash_lsh" -> ((s, d) => Dedup.minhashLshPairs(Tables(s, d).documents)),
    "q41_simhash" -> ((s, d) => Dedup.simhash(Tables(s, d).documents)),
    "q46_lsh_fused" -> ((s, d) => Dedup.minhashLshPairsFused(Tables(s, d).documents)),
    "q47_neardup_clusters" -> ((s, d) => Dedup.nearDupClusters(Tables(s, d).documents)),
    "q48_corpus_curation" -> ((s, d) => TextAnalysis.curateCorpus(Tables(s, d).documents)),
    "q148_calibrated_curation" -> ((s, d) => TextAnalysis.calibratedCuration(Tables(s, d).documents)),
    "q149_token_budget" -> ((s, d) => TextAnalysis.tokenBudgetSelect(Tables(s, d).documents)),
    "q49_window_suite" -> ((s, d) => Relational.windowSuite(Tables(s, d).orders)),
    "q54_hll_rollup" -> ((s, d) => Relational.hllSketchRollup(Tables(s, d).events)),
    "q55_hash_sample" -> ((s, d) => TextAnalysis.deterministicSample(Tables(s, d).documents)),
    "q56_line_dedup" -> ((s, d) => TextAnalysis.lineDedup(Tables(s, d).documents, delimiter = " ")),
    "q57_repetition" -> ((s, d) => TextAnalysis.repetitionScore(Tables(s, d).documents)),
    "q58_seq_packing" -> ((s, d) => TextAnalysis.sequencePacking(Tables(s, d).documents)),
    "q59_ann_quantized" -> ((s, d) => Similarity.annQuantized(Tables(s, d).embeddings)),
    "q64_training_pipeline" -> ((s, d) => TextAnalysis.trainingPipeline(Tables(s, d).documents)),
    "q65_semantic_dedup" -> ((s, d) => Similarity.semanticDedupStats(Tables(s, d).embeddings)),
    "q67_winnowing" -> ((s, d) => Dedup.winnowingOverlap(Tables(s, d).documents)),
    "q68_full_outer" -> ((s, d) => { val t = Tables(s, d); Relational.fullOuterAgg(t.customer, t.supplier) }),
    "q69_set_ops" -> ((s, d) => Relational.setOps(Tables(s, d).orders)),
    "q71_lm_score" -> ((s, d) => TextAnalysis.lmScore(Tables(s, d).documents)),
    "q73_shared_scan" -> ((s, d) => SharedScan.lineitemRollups(Tables(s, d).lineitem)),
    "q74_tfidf" -> ((s, d) => TextAnalysis.tfidf(Tables(s, d).documents)),
    "q75_chunking" -> ((s, d) => TextAnalysis.chunkDocuments(Tables(s, d).documents)),
    "q76_funnel" -> ((s, d) => EventAnalytics.funnel(Tables(s, d).events)),
    "q77_rolling_window" -> ((s, d) => EventAnalytics.rollingWindow(Tables(s, d).events)),
    "q78_cohort" -> ((s, d) => EventAnalytics.cohortRetention(Tables(s, d).events)),
    "q79_histogram" -> ((s, d) => Relational.histogram(Tables(s, d).orders)),
    "q80_pii_redact" -> ((s, d) => TextAnalysis.redactAudit(Tables(s, d).events)),
    "q81_hopping" -> ((s, d) => EventAnalytics.hoppingWindow(Tables(s, d).events)),
    "q82_heavy_hitters" -> ((s, d) => Relational.cmsHeavyHitters(Tables(s, d).events)),
    "q83_unpivot" -> ((s, d) => Relational.unpivotMeasures(Tables(s, d).lineitem)),
    "q84_gapfill" -> ((s, d) => EventAnalytics.gapFill(Tables(s, d).events)),
    "q85_transitions" -> ((s, d) => EventAnalytics.transitionMatrix(Tables(s, d).events)),
    "q86_session_paths" -> ((s, d) => EventAnalytics.topPaths(Tables(s, d).events)),
    "q87_anomaly" -> ((s, d) => EventAnalytics.seasonalAnomaly(Tables(s, d).events)),
    "q88_centroid_assign" -> ((s, d) => Similarity.centroidAssign(Tables(s, d).embeddings)),
    "q89_mom_change" -> ((s, d) => Relational.monthOverMonth(Tables(s, d).orders)),
    "q90_robust_outliers" -> ((s, d) => Relational.robustOutliers(Tables(s, d).events)),
    "q91_leakage_split" -> ((s, d) => EventAnalytics.leakageSplit(Tables(s, d).events)),
    "q92_copurchase" -> ((s, d) => Relational.coPurchase(Tables(s, d).lineitem)),
    "q94_mv_rollup" -> ((s, d) => {
      // build a rollup MV, route a subset-key aggregate through it via
      // the Catalyst rewrite, and materialize WHILE routing is enabled —
      // the driver's oracle then proves MV answers ≡ raw-table answers.
      // The rule is session-global, so it is disabled again before
      // returning (localCheckpoint forces execution under the rule).
      import org.apache.spark.sql.functions._
      import graft.plans.MaterializedRollup
      val mvDir = java.nio.file.Files.createTempDirectory("graft-q94").toString + "/lineitem_mv"
      val v = MaterializedRollup.View(
        s"$d/lineitem.parquet", Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"), mvDir)
      MaterializedRollup.build(s, v)
      MaterializedRollup.enable(s, v)
      try {
        val agg = s.read.parquet(s"$d/lineitem.parquet")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n_rows"),
            sum("l_quantity").as("sq"),
            avg("l_quantity").as("aq"),
            max("l_quantity").as("mx"))
        val routed = agg.localCheckpoint(true)
        assert(
          agg.queryExecution.executedPlan.toString.contains("lineitem_mv"),
          "q94 must execute through the MV scan")
        routed.select(
            col("l_returnflag"), col("n_rows"),
            graft.functions.PortableRound.round(col("sq"), 4).as("sum_qty"),
            graft.functions.PortableRound.round(col("aq"), 4).as("avg_qty"),
            graft.functions.PortableRound.round(col("mx"), 4).as("max_qty"))
          .orderBy("l_returnflag")
      } finally MaterializedRollup.disable(s, Some(mvDir))
    }),
    "q93_profile" -> ((s, d) => Relational.profileColumns(
      Tables(s, d).orders, Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),
    "q95_session_window" -> ((s, d) => EventAnalytics.sessionWindowNative(Tables(s, d).events)),
    "q96_constraint_audit" -> ((s, d) => {
      val t = Tables(s, d)
      Audit.constraintAudit(t.orders, t.lineitem, t.customer, t.events)
    }),
    "q97_source_caps" -> ((s, d) => TextAnalysis.sourceCaps(Tables(s, d).documents)),
    "q98_pagerank" -> ((s, d) => Graph.coPurchasePageRank(Tables(s, d).lineitem)),
    "q99_substring_dedup" -> ((s, d) => TextAnalysis.substringDedup(Tables(s, d).documents)),
    "q100_cross_dedup" -> ((s, d) => {
      // fuzzy decontamination: odd-id docs checked for near-dups among even-id docs
      val docs = Tables(s, d).documents
      Dedup.crossCorpusNearDups(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1))
    }),
    "q101_join_estimate" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.hllJoinEstimate(t.orders, "o_custkey", t.customer, "c_custkey")
    }),
    "q102_skyline" -> ((s, d) => Skyline.skyline(Tables(s, d).part)),
    "q103_conversion_latency" -> ((s, d) => EventAnalytics.conversionLatency(Tables(s, d).events)),
    "q104_bfs_reach" -> ((s, d) => Graph.bfsReach(Tables(s, d).lineitem)),
    "q105_weighted_sample" -> ((s, d) => TextAnalysis.weightedSample(Tables(s, d).documents)),
    "q106_itemsets" -> ((s, d) => Relational.frequentTriples(Tables(s, d).lineitem)),
    "q107_fuzzy_join" -> ((s, d) => Dedup.fuzzyNameJoin(Tables(s, d).customer)),
    "q108_scd2_build" -> ((s, d) => EventAnalytics.scd2Build(Tables(s, d).events)),
    "q109_grouped_topk" -> ((s, d) => {
      // the explicit pre-shuffle-heap operator, oracle-checked against
      // the row_number form (TopK.topKPerKey is provably identical)
      import org.apache.spark.sql.functions._
      TopK.topKPerKey(
        Tables(s, d).orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        keyCol = "o_custkey", orderCol = "o_totalprice", tieCol = "o_orderkey", k = 3)
        .select(
          col("o_custkey"), col("o_orderkey"),
          graft.functions.PortableRound.round(col("o_totalprice"), 4).as("price"), col("rn"))
        .orderBy("o_custkey", "rn")
    }),
    "q110_null_semantics" -> ((s, d) => Relational.nullSemantics(Tables(s, d).events)),
    "q111_skyline_nd" -> ((s, d) => Skyline.skylineGeneral(
      Tables(s, d).lineitem,
      Seq(("l_quantity", true), ("l_discount", false), ("l_tax", false)))),
    "q112_pit_join" -> ((s, d) => EventAnalytics.pointInTimeJoin(Tables(s, d).events)),
    "q113_vector_pool" -> ((s, d) => Similarity.meanEmbedding(Tables(s, d).embeddings)),
    "q114_revenue_share" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.revenueShare(t.orders, t.customer, t.nation)
    }),
    "q115_feature_scale" -> ((s, d) => Similarity.featureScale(Tables(s, d).embeddings)),
    "q116_vocab_oov" -> ((s, d) => TextAnalysis.vocabOov(Tables(s, d).documents)),
    "q117_zipf_slope" -> ((s, d) => TextAnalysis.zipfSlope(Tables(s, d).documents)),
    "q118_peak_concurrency" -> ((s, d) => EventAnalytics.peakConcurrency(Tables(s, d).events)),
    "q119_kmeans" -> ((s, d) => Similarity.kmeans(Tables(s, d).embeddings)),
    "q120_prefix_join" -> ((s, d) => Dedup.prefixFilterJoin(Tables(s, d).documents)),
    "q121_dau_wau" -> ((s, d) => EventAnalytics.dauWau(Tables(s, d).events)),
    "q122_hard_negatives" -> ((s, d) => Similarity.hardNegatives(Tables(s, d).embeddings)),
    "q123_winsorize" -> ((s, d) => Relational.winsorize(Tables(s, d).events)),
    "q126_chisq" -> ((s, d) => Relational.chiSquare(Tables(s, d).documents)),
    "q127_token_entropy" -> ((s, d) => TextAnalysis.tokenEntropy(Tables(s, d).documents)),
    "q128_correlated_avg" -> ((s, d) => Relational.correlatedAvg(Tables(s, d).lineitem)),
    "q124_covariance" -> ((s, d) => Similarity.covarianceMatrix(Tables(s, d).embeddings)),
    "q125_ann_rp" -> ((s, d) => Similarity.annRpReduce(Tables(s, d).embeddings)),
    "q72_mixture_solver" -> ((s, d) => TextAnalysis.mixtureRates(
      Tables(s, d).documents,
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))),
    "q66_decontamination" -> ((s, d) => {
      val docs = Tables(s, d).documents
      // self-benchmark: every 20th doc is the held-out eval set
      TextAnalysis.decontaminate(docs, docs.filter(org.apache.spark.sql.functions.col("doc_id") % 20 === 0))
    }),
    "q42_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardAdjacent(Tables(s, d).documents)),
    "q43_embedding_neardup" -> ((s, d) => Similarity.embeddingNearDupPairs(Tables(s, d).embeddings)),
    "q44_asof_join" -> ((s, d) => {
      val ev = Tables(s, d).events
      val purchases = ev.filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      AsOfJoin.asofJoin(ev, purchases, "user_id", "ts", "value", "last_purchase_value")
        .select("event_id", "user_id", "last_purchase_value")
        .orderBy("event_id")
    }),
    "q45_range_join" -> ((s, d) => EventAnalytics.attributionRangeJoin(Tables(s, d).events)),
    "q129_wau_sketch" -> ((s, d) => EventAnalytics.wauSketch(Tables(s, d).events)),
    "q130_asof_forward" -> ((s, d) => {
      val ev = Tables(s, d).events
      val purchases = ev.filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      AsOfJoin.asofJoinForward(ev, purchases, "user_id", "ts", "value", "next_purchase_value")
        .select("event_id", "user_id", "next_purchase_value")
        .orderBy("event_id")
    }),
    "q131_dedup_keep_best" -> ((s, d) => TextAnalysis.dedupKeepBest(Tables(s, d).documents)),
    "q135_linear_attribution" -> ((s, d) => EventAnalytics.linearAttribution(Tables(s, d).events)),
    "q150_global_rownum" -> ((s, d) => GlobalOrder.orderSequence(Tables(s, d).orders)),
    "q151_bloom_join" -> ((s, d) => {
      val t = Tables(s, d)
      BloomJoin.urgentRevenue(t.lineitem, t.orders)
    }),
    "q152_decay_attribution" -> ((s, d) => EventAnalytics.timeDecayAttribution(Tables(s, d).events)),
    "q153_rfm" -> ((s, d) => GlobalOrder.rfmSegmentation(Tables(s, d).orders)),
    "q154_skew_audit" -> ((s, d) => Skew.skewAudit(Tables(s, d).events, "user_id")),
    "q155_revenue_trend" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.revenueTrend(t.orders, t.customer)
    }),
    "q156_top_supplier" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.topSupplier(t.lineitem, t.supplier)
    }),
    "q157_approx_groupby" -> ((s, d) => Relational.approxGroupBy(Tables(s, d).orders)),
    "q158_null_aware_anti" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.notInNullable(t.customer, t.supplier)
    }),
    "q159_listagg" -> ((s, d) => Relational.topCustomerListagg(Tables(s, d).customer)),
    "q161_length_drift" -> ((s, d) => TextAnalysis.lengthDrift(Tables(s, d).documents)),
    "q162_audience_overlap" -> ((s, d) => Relational.audienceOverlap(Tables(s, d).events)),
    "q164_reset_cumsum" -> ((s, d) => EventAnalytics.spendBetweenPurchases(Tables(s, d).events)),
    "q165_daily_churn" -> ((s, d) => EventAnalytics.dailyChurn(Tables(s, d).events)),
    "q166_neyman_sample" -> ((s, d) => TextAnalysis.neymanSample(Tables(s, d).documents)),
    "q167_interpolate" -> ((s, d) => EventAnalytics.interpolatePurchaseValue(Tables(s, d).events)),
    "q168_markov_matrix" -> ((s, d) => EventAnalytics.markovMatrix(Tables(s, d).events)),
    "q170_quantile_normalize" -> ((s, d) => TextAnalysis.quantileNormalize(Tables(s, d).documents)),
    "q171_ab_welch" -> ((s, d) => Relational.abTestWelch(Tables(s, d).events)),
    "q172_sla_compliance" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.slaCompliance(t.lineitem, t.orders)
    }),
    "q169_contribution" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.revenueContribution(t.orders, t.customer, t.nation, t.region)
    }),
    "q163_rrf_fusion" -> ((s, d) => Similarity.annRrfFusion(Tables(s, d).embeddings)),
    "q160_pct_rank_ref" -> ((s, d) => {
      val t = Tables(s, d)
      GlobalOrder.percentRankAgainst(t.customer, "c_acctbal", t.supplier, "s_suppkey", "s_acctbal")
    }),
    "q136_moving_avg" -> ((s, d) => EventAnalytics.movingAvgRevenue(Tables(s, d).events)),
    "q139_weighted_percentile" -> ((s, d) => Relational.weightedPercentiles(Tables(s, d).lineitem)),
    "q141_bpe_pairs" -> ((s, d) => TextAnalysis.bpePairStats(Tables(s, d).documents)),
    "q143_calendar_rollup" -> ((s, d) => EventAnalytics.calendarRollup(Tables(s, d).events)),
    "q144_pca_spectrum" -> ((s, d) => Similarity.pcaVariance(Tables(s, d).embeddings)),
    "q146_ann_pca" -> ((s, d) => Similarity.annPcaReduce(Tables(s, d).embeddings)),
    "q145_latency_sketch" -> ((s, d) => EventAnalytics.conversionLatencySketch(Tables(s, d).events)),
    "q142_concentration" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.marketConcentration(t.orders, t.customer)
    }),
    "q137_topk_ties" -> ((s, d) => Relational.topKWithTies(Tables(s, d).orders)),
    "q138_bounce_rate" -> ((s, d) => EventAnalytics.bounceRate(Tables(s, d).events)),
    "q132_order_count_dist" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.orderCountDistribution(t.customer, t.orders)
    }),
    "q133_rich_inactive" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.richInactive(t.customer, t.orders)
    }),
    "q134_min_cost_supplier" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.minCostSupplier(t.lineitem, t.supplier)
    }),
    "q147_waiting_supplier" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.waitingSupplier(t.lineitem, t.orders, t.supplier)
    }),
    "q50_embedding_stats" -> ((s, d) => Similarity.embeddingStats(Tables(s, d).embeddings)),
    "q53_ann_ivf" -> ((s, d) => Similarity.annIvf(Tables(s, d).embeddings)),
    "q51_ann_bruteforce" -> ((s, d) => Similarity.annBruteForce(Tables(s, d).embeddings)),
    "q52_ann_lsh" -> ((s, d) => Similarity.annLsh(Tables(s, d).embeddings)),
    "q267_ann_filtered" -> ((s, d) =>
      Similarity.annFiltered(Tables(s, d).embeddings, org.apache.spark.sql.functions.col("label") % 2 === 1)),
    "q268_ann_filtered_recall" -> ((s, d) =>
      Similarity.annFilteredRecall(Tables(s, d).embeddings, org.apache.spark.sql.functions.col("label") % 2 === 1)),
    "q60_multimodal_meta" -> ((s, d) => Multimodal.metaStats(Tables(s, d).documents)),
    // real multi-frame decode: animated-GIF payloads, ImageIO sequence
    // reader, per-frame pixel luma — the byte-window stub remains only
    // as the video-seam test double (Multimodal.frameExtract)
    "q61_frame_extract" -> ((s, d) => Multimodal.frameExtractGif(s, Tables(s, d).documents).toDF()),
    "q62_feature_extract" -> ((s, d) => {
      // oracle-sortable projection of the feature vectors: raw
      // array<float> columns crash the driver's pandas sort, so emit the
      // dims + the l1 mass (the REAL-codec luma histogram is
      // l1-normalized, a per-doc property DuckDB can assert without
      // decoding bytes)
      import org.apache.spark.sql.functions._
      Multimodal.featureExtract(s, Tables(s, d).documents).toDF()
        .select(
          col("doc_id"),
          col("width_px"),
          col("height_px"),
          size(col("feature")).as("dims"),
          graft.functions.PortableRound.round(
            aggregate(col("feature"), lit(0.0), (a, x) => a + x.cast("double")), 4).as("feature_l1"))
        .orderBy("doc_id")
    }),
    "q63_feature_similarity" -> ((s, d) => Multimodal.featureSimilarity(s, Tables(s, d).documents)),
    // registered graph-ANN entries run 3 descent rounds (the benchmark
    // point); library defaults stay at the converged 4-round setting
    "q263_ann_graph" -> ((s, d) => AnnGraph.nnDescentTopK(Tables(s, d).embeddings, iterations = 3)),
    "q264_ann_graph_recall" -> ((s, d) => AnnGraph.nnDescentRecall(Tables(s, d).embeddings, iterations = 3)),
    "q265_ann_graph_search" -> ((s, d) => AnnGraph.graphSearch(Tables(s, d).embeddings, iterations = 3)),
    "q266_ann_graph_insert" -> ((s, d) => AnnGraph.incrementalGraphTopK(Tables(s, d).embeddings)),
    "q262_image_decode" -> ((s, d) => {
      // REAL codec path: PNG-encoded payloads decoded by JDK ImageIO,
      // box-resized, histogram features. Rows-only (DuckDB can't decode
      // PNG); the known-pixel fixture assertions live in SimilaritySpec.
      import org.apache.spark.sql.functions._
      Multimodal.imageDecodeFeatures(s, Tables(s, d).documents).toDF()
        .select(
          col("doc_id"), col("orig_w"), col("orig_h"),
          col("width_px"), col("height_px"),
          graft.functions.PortableRound.round(col("mean_luma"), 4).as("mean_luma"),
          size(col("feature")).as("dims"),
          graft.functions.PortableRound.round(
            aggregate(col("feature"), lit(0.0), (a, x) => a + x.cast("double")), 4).as("feature_l1"))
        .orderBy("doc_id")
    }),
    "q70_sink_ingest" -> ((s, d) => {
      // full micro-batch ingest of the events table, then the written
      // partition layout read back — oracle-checks the sink's dt
      // bucketing AND times ingest throughput in Bench
      val root = java.nio.file.Files.createTempDirectory("graft-q70").toString
      val sink = new graft.streaming.HiveBatchSink(s, root)
      sink.writeBatch(Tables(s, d).events, batchId = 0)
      s.read.parquet(sink.stagingPath)
        .groupBy(org.apache.spark.sql.functions.col("dt").cast("string").as("dt"))
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_rows"))
        .orderBy("dt")
    }),
    "q173_nation_trade" -> ((s, d) => {
      val t = Tables(s, d)
      TpchShapes.nationTrade(t.lineitem, t.orders, t.customer, t.supplier, t.nation)
    }),
    "q174_market_share" -> ((s, d) => {
      val t = Tables(s, d)
      TpchShapes.marketShare(t.lineitem, t.orders, t.customer, t.supplier, t.part, t.nation, t.region)
    }),
    "q175_returned_customers" -> ((s, d) => {
      val t = Tables(s, d)
      TpchShapes.returnedCustomers(t.lineitem, t.orders, t.customer, t.nation)
    }),
    "q176_late_shipment_mix" -> ((s, d) => {
      val t = Tables(s, d)
      TpchShapes.lateShipmentMix(t.lineitem, t.orders)
    }),
    "q177_disjunctive_brackets" -> ((s, d) => {
      val t = Tables(s, d)
      TpchShapes.disjunctiveBrackets(t.lineitem, t.part)
    }),
    "q178_promo_share" -> ((s, d) => {
      val t = Tables(s, d)
      TpchShapes.promoShare(t.lineitem, t.part)
    }),
    "q179_big_orders" -> ((s, d) => {
      val t = Tables(s, d)
      TpchShapes.bigOrders(t.lineitem, t.orders, t.customer)
    }),
    "q180_part_concentration" -> ((s, d) => {
      val t = Tables(s, d)
      TpchShapes.nationPartConcentration(t.lineitem, t.supplier, t.nation)
    }),
    "q181_acf" -> ((s, d) => StatTests.autocorrelation(Tables(s, d).orders)),
    "q182_benford" -> ((s, d) => StatTests.benfordAudit(Tables(s, d).orders)),
    "q183_gini" -> ((s, d) => StatTests.giniRevenue(Tables(s, d).orders)),
    "q184_ks_test" -> ((s, d) => {
      val t = Tables(s, d)
      StatTests.ksTest(t.orders, t.customer)
    }),
    "q185_mann_whitney" -> ((s, d) => StatTests.mannWhitney(Tables(s, d).orders)),
    "q186_dow_seasonality" -> ((s, d) => StatTests.dowSeasonality(Tables(s, d).orders)),
    "q187_ewma" -> ((s, d) => StatTests.ewmaDaily(Tables(s, d).orders)),
    "q188_heaps_law" -> ((s, d) => TextAnalysis.heapsLaw(Tables(s, d).documents)),
    "q189_fertility" -> ((s, d) => TextAnalysis.tokenizerFertility(Tables(s, d).documents)),
    "q190_ann_pq" -> ((s, d) => Similarity.annPq(Tables(s, d).embeddings)),
    "q191_mmr" -> ((s, d) => Similarity.mmrDiversify(Tables(s, d).embeddings)),
    "q192_triangles" -> ((s, d) => Graph.triangleCensus(Tables(s, d).lineitem)),
    "q193_shingle_novelty" -> ((s, d) => TextAnalysis.shingleNovelty(Tables(s, d).documents)),
    "q194_stl_decompose" -> ((s, d) => StatTests.stlDecompose(Tables(s, d).orders)),
    "q195_priority_exists" -> ((s, d) => {
      val t = Tables(s, d)
      TpchShapes.priorityExists(t.lineitem, t.orders)
    }),
    "q196_bootstrap_ci" -> ((s, d) => StatTests.bootstrapCi(Tables(s, d).orders)),
    "q197_window_funnel" -> ((s, d) => EventAnalytics.windowFunnel(Tables(s, d).events)),
    "q198_user_ewma" -> ((s, d) => EventAnalytics.userEwma(Tables(s, d).events)),
    "q199_median_modes" -> ((s, d) => Relational.medianModes(Tables(s, d).lineitem)),
    "q200_exact_money" -> ((s, d) => Relational.exactMoney(Tables(s, d).orders)),
    "q201_containment" -> ((s, d) => Dedup.containmentJoin(Tables(s, d).documents)),
    "q202_pmi_bigrams" -> ((s, d) => TextAnalysis.pmiBigrams(Tables(s, d).documents)),
    "q203_bm25" -> ((s, d) => TextAnalysis.bm25(Tables(s, d).documents)),
    "q204_stl_anomaly" -> ((s, d) => StatTests.stlAnomalies(Tables(s, d).orders)),
    "q205_mg_heavy_hitters" -> ((s, d) => TextAnalysis.mgHeavyHitters(Tables(s, d).documents)),
    "q206_grouping_id" -> ((s, d) => Relational.rollupGroupingId(Tables(s, d).lineitem)),
    "q207_range_frame" -> ((s, d) => Relational.trailingRangeRevenue(Tables(s, d).orders)),
    "q208_growth_accounting" -> ((s, d) => EventAnalytics.growthAccounting(Tables(s, d).events)),
    "q209_purchase_gaps" -> ((s, d) => EventAnalytics.purchaseGaps(Tables(s, d).events)),
    "q210_drawdown" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.revenueDrawdown(t.customer, t.orders)
    }),
    "q211_pythagorean_means" -> ((s, d) => Relational.pythagoreanMeans(Tables(s, d).orders)),
    "q212_leave_one_out" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.leaveOneOut(t.customer, t.orders)
    }),
    "q213_streaks" -> ((s, d) => EventAnalytics.activityStreaks(Tables(s, d).events)),
    "q214_debounce" -> ((s, d) => EventAnalytics.debounce(Tables(s, d).events)),
    "q215_nearest_event" -> ((s, d) => AsOfJoin.nearestEvent(Tables(s, d).events)),
    "q216_twap" -> ((s, d) => EventAnalytics.timeWeightedAvg(Tables(s, d).events)),
    "q217_sequence_match" -> ((s, d) => EventAnalytics.sequenceMatch(Tables(s, d).events)),
    "q218_mv_advisor" -> ((s, d) => plans.MvAdvisor.adviseRegistered(s, d, queries - "q218_mv_advisor")),
    "q219_markov_attribution" -> ((s, d) => EventAnalytics.markovAttribution(Tables(s, d).events)),
    "q220_overlap_sketch" -> ((s, d) => Relational.sketchOverlap(Tables(s, d).events)),
    "q221_survival" -> ((s, d) => StatTests.kaplanMeier(Tables(s, d).orders)),
    "q222_cusum" -> ((s, d) => StatTests.cusumDrift(Tables(s, d).orders)),
    "q223_cuped" -> ((s, d) => Relational.cupedAb(Tables(s, d).events)),
    "q224_ab_power" -> ((s, d) => Relational.abPower(Tables(s, d).events)),
    "q225_interval_union" -> ((s, d) => EventAnalytics.intervalUnion(Tables(s, d).events)),
    "q226_weekday_anova" -> ((s, d) => StatTests.weekdayAnova(Tables(s, d).orders)),
    "q227_column_lineage" -> ((s, d) => plans.ColumnLineage.report(s, d, queries - "q227_column_lineage")),
    "q228_ann_recall" -> ((s, d) => Similarity.annRecallReport(Tables(s, d).embeddings)),
    "q229_loo_zscore" -> ((s, d) => Relational.looPeerZscore(Tables(s, d).orders)),
    "q230_universe_sample" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.universeJoinSample(t.orders, t.customer)
    }),
    "q231_proportion_test" -> ((s, d) => Relational.abProportionTest(Tables(s, d).events)),
    "q232_rolling_corr" -> ((s, d) => StatTests.rollingCorrelation(Tables(s, d).events)),
    "q233_k_anonymity" -> ((s, d) => Relational.kAnonymityAudit(Tables(s, d).customer)),
    "q234_dp_counts" -> ((s, d) => Relational.dpCounts(Tables(s, d).events)),
    "q235_compression_filter" -> ((s, d) => TextAnalysis.compressionFilter(Tables(s, d).documents)),
    "q236_key_gaps" -> ((s, d) => Relational.keyGapAudit(Tables(s, d).lineitem)),
    "q237_l_diversity" -> ((s, d) => Relational.lDiversityAudit(Tables(s, d).customer)),
    "q238_cohort_ltv" -> ((s, d) => EventAnalytics.cohortLtv(Tables(s, d).events)),
    "q239_lang_confusion" -> ((s, d) => TextAnalysis.langConfusion(Tables(s, d).documents)),
    "q240_psi_drift" -> ((s, d) => StatTests.psiDrift(Tables(s, d).orders)),
    "q241_t_closeness" -> ((s, d) => Relational.tClosenessAudit(Tables(s, d).customer)),
    "q242_xcorr_lag" -> ((s, d) => StatTests.xcorrLag(Tables(s, d).events)),
    "q243_seasonal_backtest" -> ((s, d) => StatTests.seasonalBacktest(Tables(s, d).orders)),
    "q244_bom_rollup" -> ((s, d) => Graph.bomRollup(Tables(s, d).part)),
    "q245_link_prediction" -> ((s, d) => Graph.linkPrediction(Tables(s, d).lineitem)),
    "q246_theil_sen" -> ((s, d) => StatTests.theilSenTrend(Tables(s, d).orders)),
    "q247_ols_multi" -> ((s, d) => StatTests.olsTwoFeature(Tables(s, d).lineitem)),
    "q248_changepoint" -> ((s, d) => StatTests.changepoint(Tables(s, d).orders)),
    "q249_assortativity" -> ((s, d) => Graph.degreeAssortativity(Tables(s, d).lineitem)),
    "q250_basket_lift" -> ((s, d) => Relational.basketLift(Tables(s, d).lineitem)),
    "q251_price_elasticity" -> ((s, d) => {
      val t = Tables(s, d)
      StatTests.priceElasticity(t.lineitem, t.part)
    }),
    "q252_abc_analysis" -> ((s, d) => Relational.abcAnalysis(Tables(s, d).lineitem)),
    "q253_simpson_diversity" -> ((s, d) => TextAnalysis.simpsonDiversity(Tables(s, d).documents)),
    "q254_burstiness" -> ((s, d) => EventAnalytics.burstiness(Tables(s, d).events)),
    "q255_doc_surprisal" -> ((s, d) => TextAnalysis.docSurprisal(Tables(s, d).documents)),
    "q256_seasonality_strength" -> ((s, d) => StatTests.seasonalityStrength(Tables(s, d).orders)),
    "q257_shapley_attribution" -> ((s, d) => EventAnalytics.shapleyAttribution(Tables(s, d).events)),
    "q258_lorenz_curve" -> ((s, d) => StatTests.lorenzCurve(Tables(s, d).orders)),
    "q259_spc_chart" -> ((s, d) => StatTests.spcChart(Tables(s, d).orders)),
    "q260_partition_completeness" -> ((s, d) => EventAnalytics.partitionCompleteness(Tables(s, d).events)),
    "q261_lsh_quality" -> ((s, d) => Dedup.lshQualityReport(Tables(s, d).documents)),
    "q269_mor_read" -> ((s, d) => ChangeLog.morCurrentOrders(Tables(s, d).orders)),
    "q270_hybrid_search" -> ((s, d) =>
      Similarity.hybridSearch(Tables(s, d).documents, Tables(s, d).embeddings)),
    "q271_er_report" -> ((s, d) => EntityResolution.linkageReport(Tables(s, d).part)),
    "q272_er_golden" -> ((s, d) => EntityResolution.goldenRecords(Tables(s, d).part)),
    "q273_bpe_train" -> ((s, d) => TextAnalysis.bpeTrain(Tables(s, d).documents)),
    "q274_local_volume" -> ((s, d) => {
      val t = Tables(s, d)
      TpchShapes.localSupplierVolume(
        t.lineitem, t.orders, t.customer, t.supplier, t.nation, t.region)
    }),
    "q275_product_profit" -> ((s, d) => {
      val t = Tables(s, d)
      TpchShapes.productTypeProfit(t.lineitem, t.orders, t.supplier, t.part, t.nation)
    }),
    "q276_supplier_parts" -> ((s, d) => {
      val t = Tables(s, d)
      TpchShapes.supplierPartBuckets(t.lineitem, t.part, t.supplier)
    }),
    "q277_small_qty_revenue" -> ((s, d) => {
      val t = Tables(s, d)
      TpchShapes.smallQuantityRevenue(t.lineitem, t.part)
    }),
    "q278_excess_stock" -> ((s, d) => {
      val t = Tables(s, d)
      TpchShapes.excessStockSuppliers(t.lineitem, t.part, t.supplier, t.nation)
    }),
    "q279_bpe_encode" -> ((s, d) => TextAnalysis.bpeEncode(Tables(s, d).documents)),
    "q280_neardup_keep_best" -> ((s, d) => Dedup.nearDupKeepBest(Tables(s, d).documents)),
    "q281_holt_forecast" -> ((s, d) => StatTests.holtForecast(Tables(s, d).orders)),
    "q282_shortest_path" -> ((s, d) => Graph.shortestPaths(Tables(s, d).lineitem)),
    "q283_tier_migration" -> ((s, d) => GlobalOrder.valueTierMigration(Tables(s, d).orders)),
    "q284_seq_support" -> ((s, d) => EventAnalytics.sequenceSupport(Tables(s, d).events)),
    "q285_cumulative_reach" -> ((s, d) => EventAnalytics.cumulativeReach(Tables(s, d).orders)),
    "q286_relational_division" -> ((s, d) => {
      val t = Tables(s, d)
      TpchShapes.universallyStocked(t.lineitem, t.supplier, t.nation, t.region)
    }),
    "q287_position_attribution" -> ((s, d) =>
      EventAnalytics.positionAttribution(Tables(s, d).events)),
    "q288_kcore" -> ((s, d) => Graph.kCore(Tables(s, d).lineitem)),
    "q289_spearman" -> ((s, d) => StatTests.spearmanCorr(Tables(s, d).lineitem)),
    "q290_cramers_v" -> ((s, d) => StatTests.cramersV(Tables(s, d).events)),
    "q291_info_gain" -> ((s, d) => StatTests.infoGain(Tables(s, d).events)),
    "q292_hits" -> ((s, d) => Graph.hits(Tables(s, d).lineitem)),
    "q293_target_encode" -> ((s, d) => {
      val t = Tables(s, d)
      FeatureEng.targetEncodeOof(t.orders, t.customer)
    }),
    "q294_source_overlap" -> ((s, d) => TextAnalysis.sourceOverlapMatrix(Tables(s, d).documents)),
    "q295_js_divergence" -> ((s, d) => TextAnalysis.jsDivergence(Tables(s, d).documents)),
    "q296_datacard" -> ((s, d) => TextAnalysis.sourceDataCard(Tables(s, d).documents)),
    "q297_next_entropy" -> ((s, d) => EventAnalytics.nextEventEntropy(Tables(s, d).events)),
    "q298_holt_winters" -> ((s, d) => StatTests.holtWinters(Tables(s, d).orders)),
    "q299_textrank" -> ((s, d) => TextAnalysis.textRank(Tables(s, d).documents)),
    "q300_kendall_tau" -> ((s, d) => StatTests.kendallTau(Tables(s, d).lineitem)),
    "q304_transition_audit" -> ((s, d) => EventAnalytics.transitionRuleAudit(Tables(s, d).events)),
    "q308_embedding_qa" -> ((s, d) => Similarity.embeddingQa(Tables(s, d).embeddings)),
    "q309_dup_cluster_dist" -> ((s, d) => TextAnalysis.dupClusterDist(Tables(s, d).documents)),
    "q310_ppr" -> ((s, d) => Graph.personalizedPageRank(Tables(s, d).lineitem)),
    "q311_image_neardup" -> ((s, d) => Multimodal.imageNearDupReport(s, Tables(s, d).documents)),
    "q312_partition_advisor" -> ((s, d) => plans.PartitionAdvisor.advise(Tables(s, d).events)),
    "q313_log_compaction" -> ((s, d) => ChangeLog.compactedOrderLog(Tables(s, d).orders)),
    "q314_feature_hashing" -> ((s, d) => TextAnalysis.featureHashing(Tables(s, d).documents)),
    "q315_conformal" -> ((s, d) => StatTests.conformalForecast(Tables(s, d).orders)),
    "q316_blocklist" -> ((s, d) => TextAnalysis.blocklistReport(Tables(s, d).documents)),
    "q317_schema_compat" -> ((s, d) => plans.SchemaCompat.eventsV2Report(s, Tables(s, d).events)),
    "q318_metric_corr" -> ((s, d) => StatTests.metricCorrMatrix(Tables(s, d).events)),
    "q319_wilson_returns" -> ((s, d) => {
      val t = Tables(s, d)
      StatTests.wilsonReturnRates(t.lineitem, t.part)
    }),
    "q320_naive_bayes" -> ((s, d) => Classify.naiveBayesLang(Tables(s, d).documents)),
    "q322_dupkey_audit" -> ((s, d) => Audit.duplicateKeyAudit(Tables(s, d).lineitem)),
    "q323_local_cc" -> ((s, d) => Graph.localClusteringCoefficient(Tables(s, d).lineitem)),
    "q324_croston" -> ((s, d) => StatTests.crostonDemand(Tables(s, d).lineitem)),
    "q326_rec_holdout" -> ((s, d) => {
      val t = Tables(s, d)
      Recommend.lastOrderHitRate(t.orders, t.lineitem)
    }),
    "q327_trending" -> ((s, d) => TopK.trendingParts(Tables(s, d).lineitem)),
    "q328_hbos" -> ((s, d) => EventAnalytics.hbosOutliers(Tables(s, d).events)),
    "q329_forecast_tournament" -> ((s, d) =>
      StatTests.forecastTournament(Tables(s, d).orders)),
    "q330_delta_ratio" -> ((s, d) => Relational.abDeltaMethodRatio(Tables(s, d).events)),
    "q331_fdr_bh" -> ((s, d) => Relational.abFdrBh(Tables(s, d).events)),
    "q332_diff_in_diff" -> ((s, d) => Relational.abDiffInDiff(Tables(s, d).events)),
    "q333_msprt" -> ((s, d) => Relational.abAlwaysValid(Tables(s, d).events)),
    "q334_temperature_mix" -> ((s, d) =>
      TextAnalysis.temperatureMixturePlan(Tables(s, d).documents)),
    "q335_isotonic" -> ((s, d) => {
      val t = Tables(s, d)
      Classify.isotonicCalibration(t.orders, t.lineitem)
    }),
    "q336_gap_expfit" -> ((s, d) => StatTests.interPurchaseExpFit(Tables(s, d).orders)),
    "q337_burn_rate" -> ((s, d) => EventAnalytics.sloBurnRate(Tables(s, d).events)),
    "q338_granger" -> ((s, d) => StatTests.grangerLag1(Tables(s, d).events)),
    "q339_dispersion" -> ((s, d) => StatTests.dispersionAudit(Tables(s, d).events)),
    "q340_grouping_sets" -> ((s, d) => Relational.groupingSetsMix(Tables(s, d).lineitem)),
    "q341_series_knn" -> ((s, d) => {
      val t = Tables(s, d)
      StatTests.seriesKnn(t.orders, t.customer)
    }),
    "q342_rolling_median" -> ((s, d) => StatTests.rollingMedian(Tables(s, d).orders)),
    "q343_rec_coverage" -> ((s, d) => {
      val t = Tables(s, d)
      Recommend.recCoverage(t.orders, t.lineitem)
    }),
    "q344_dup_matrix" -> ((s, d) => TextAnalysis.crossSourceDupMatrix(Tables(s, d).documents)),
    "q345_funnel_by_arm" -> ((s, d) => EventAnalytics.funnelByArm(Tables(s, d).events)),
    "q346_peaks" -> ((s, d) => StatTests.revenuePeaks(Tables(s, d).orders)),
    "q347_cart_abandonment" -> ((s, d) => EventAnalytics.cartAbandonment(Tables(s, d).events)),
    "q348_empirical_bayes" -> ((s, d) => {
      val t = Tables(s, d)
      StatTests.empiricalBayesReturns(t.lineitem, t.part)
    }),
    "q349_substitutes" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.substituteParts(t.orders, t.lineitem)
    }),
    "q350_dedup_cascade" -> ((s, d) => Dedup.dedupCascadeReport(Tables(s, d).documents)),
    "q351_nrr" -> ((s, d) => EventAnalytics.netRevenueRetention(Tables(s, d).orders)),
    "q352_seasonal_index" -> ((s, d) => StatTests.seasonalIndex(Tables(s, d).orders)),
    "q353_pvm" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.priceVolumeMix(t.lineitem, t.part)
    }),
    "q354_runs_test" -> ((s, d) => StatTests.runsTest(Tables(s, d).orders)),
    "q355_tukey_fences" -> ((s, d) => StatTests.tukeyFences(Tables(s, d).orders)),
    "q321_model_eval" -> ((s, d) => {
      val t = Tables(s, d)
      Classify.modelEval(t.orders, t.lineitem)
    }),
    "q325_lift_table" -> ((s, d) => {
      val t = Tables(s, d)
      Classify.liftTable(t.orders, t.lineitem)
    }),
    "q356_weibull_leadtime" -> ((s, d) => {
      val t = Tables(s, d)
      StatTests.weibullLeadTime(t.orders, t.lineitem)
    }),
    "q357_kruskal_wallis" -> ((s, d) => StatTests.kruskalWallis(Tables(s, d).orders)),
    "q358_brown_forsythe" -> ((s, d) => StatTests.brownForsythe(Tables(s, d).orders)),
    "q359_token_drift" -> ((s, d) => TextAnalysis.tokenDrift(Tables(s, d).documents)),
    "q360_price_index" -> ((s, d) => Relational.priceIndex(Tables(s, d).lineitem)),
    "q361_gumbel_extremes" -> ((s, d) => StatTests.gumbelExtremes(Tables(s, d).orders)),
    "q362_dedup_coverage" -> ((s, d) => TextAnalysis.dedupCoverageEstimate(Tables(s, d).documents)),
    "q363_ljung_box" -> ((s, d) => StatTests.ljungBox(Tables(s, d).orders)),
    // real WAV decode via the JVM's own audio codec; features are DSP
    // over decoded samples (Goertzel bin scan) — not SQL-expressible,
    // rows-only with ground-truth specs
    "q364_audio_features" -> ((s, d) => Multimodal.audioFeatures(s, Tables(s, d).documents).toDF()),
    "q365_cochran_armitage" -> ((s, d) => StatTests.cochranArmitage(Tables(s, d).lineitem)),
    "q366_theil_index" -> ((s, d) => {
      val t = Tables(s, d)
      StatTests.theilIndex(t.orders, t.customer, t.nation)
    }),
    "q367_wasserstein" -> ((s, d) => {
      val t = Tables(s, d)
      StatTests.wasserstein(t.orders, t.customer)
    }),
    "q368_cliffs_delta" -> ((s, d) => StatTests.cliffsDelta(Tables(s, d).orders)),
    "q369_mood_median" -> ((s, d) => StatTests.moodMedian(Tables(s, d).orders)),
    "q370_hill_tail" -> ((s, d) => TextAnalysis.hillTailExponent(Tables(s, d).documents)),
    "q371_vocab_richness" -> ((s, d) => TextAnalysis.vocabRichness(Tables(s, d).documents)),
    "q372_good_turing" -> ((s, d) => TextAnalysis.goodTuring(Tables(s, d).documents)),
    "q373_source_hellinger" -> ((s, d) => TextAnalysis.sourceHellinger(Tables(s, d).documents)),
    "q374_labeler_kappa" -> ((s, d) => TextAnalysis.labelerKappa(Tables(s, d).documents)),
    "q375_ipw_ate" -> ((s, d) => StatTests.ipwAte(Tables(s, d).events)),
    "q376_friedman" -> ((s, d) => StatTests.friedman(Tables(s, d).orders)),
    "q377_negbin_fit" -> ((s, d) => {
      val t = Tables(s, d)
      StatTests.negBinFit(t.orders, t.customer)
    }),
    "q378_readability" -> ((s, d) => TextAnalysis.readability(Tables(s, d).documents)),
    "q379_cramer_von_mises" -> ((s, d) => {
      val t = Tables(s, d)
      StatTests.cramerVonMises(t.orders, t.customer)
    }),
    "q380_mcnemar" -> ((s, d) => TextAnalysis.mcnemar(Tables(s, d).documents)),
    "q381_ipw_diagnostics" -> ((s, d) => StatTests.ipwDiagnostics(Tables(s, d).events)),
    "q382_logrank" -> ((s, d) => {
      val t = Tables(s, d)
      StatTests.logRank(t.orders, t.customer)
    }),
    "q383_quantile_shift" -> ((s, d) => {
      val t = Tables(s, d)
      StatTests.quantileShift(t.orders, t.customer)
    }),
    "q384_rate_ratio" -> ((s, d) => StatTests.rateRatio(Tables(s, d).events)),
    "q385_yuen_trimmed" -> ((s, d) => StatTests.yuenTrimmed(Tables(s, d).orders)),
    "q386_partial_corr" -> ((s, d) => StatTests.partialCorr(Tables(s, d).orders)),
    "q387_two_way_anova" -> ((s, d) => StatTests.twoWayAnova(Tables(s, d).orders)),
    "q388_cochran_q" -> ((s, d) => TextAnalysis.cochranQ(Tables(s, d).documents)),
    "q389_nelson_aalen" -> ((s, d) => StatTests.nelsonAalen(Tables(s, d).orders)),
    "q390_event_study" -> ((s, d) => StatTests.eventStudy(Tables(s, d).orders)),
    "q391_price_dispersion" -> ((s, d) => StatTests.priceDispersion(Tables(s, d).lineitem)),
    "q392_overlap_orders" -> ((s, d) => {
      val t = Tables(s, d)
      EventAnalytics.overlappingOrders(t.orders, t.lineitem)
    }),
    // file-layout metadata (input_file_name ranges) — not SQL-portable,
    // rows-only with a ScalaTest sorted-vs-shuffled ground truth
    "q393_overlap_depth" -> ((s, d) =>
      graft.sources.ClusteringDepth.report(s, s"$d/orders.parquet", "o_orderdate")),
    "q394_bayes_ab" -> ((s, d) => Relational.bayesAb(Tables(s, d).events)),
    "q395_tost_equivalence" -> ((s, d) => Relational.tostEquivalence(Tables(s, d).events)),
    // layout metadata ranking — not SQL-portable, rows-only (q393's spec
    // discipline: sorted-vs-shuffled ground truth)
    "q396_sort_advisor" -> ((s, d) => graft.sources.ClusteringDepth.sortAdvisor(
      s, s"$d/orders.parquet", Seq("o_orderdate", "o_custkey", "o_totalprice"))),
    "q397_mann_kendall" -> ((s, d) => StatTests.mannKendall(Tables(s, d).orders)),
    "q398_decayed_clv" -> ((s, d) => {
      val t = Tables(s, d)
      StatTests.decayedClv(t.orders, t.customer)
    }),
    "q399_demand_classes" -> ((s, d) => StatTests.demandClasses(Tables(s, d).lineitem)),
    "q400_benford2" -> ((s, d) => StatTests.benfordSecondDigit(Tables(s, d).orders)),
    "q401_price_changes" -> ((s, d) => StatTests.priceChangeFrequency(Tables(s, d).lineitem)),
    "q402_repeat_purchase" -> ((s, d) => {
      val t = Tables(s, d)
      StatTests.repeatPurchase(t.orders, t.customer)
    }),
    "q403_grubbs" -> ((s, d) => StatTests.grubbs(Tables(s, d).orders)),
    "q404_page_hinkley" -> ((s, d) => StatTests.pageHinkley(Tables(s, d).orders)),
    "q405_knn_classify" -> ((s, d) => Similarity.knnClassify(Tables(s, d).embeddings)),
    "q406_novelty_curve" -> ((s, d) => TextAnalysis.noveltyCurve(Tables(s, d).documents)),
    "q407_compression_quality" -> ((s, d) =>
      TextAnalysis.compressionQuality(Tables(s, d).documents)),
    "q408_hurst" -> ((s, d) => StatTests.hurst(Tables(s, d).orders)),
    "q409_hill_tail" -> ((s, d) => StatTests.hillTail(Tables(s, d).orders)),
    "q410_burrows_delta" -> ((s, d) => TextAnalysis.burrowsDelta(Tables(s, d).documents)),
    "q411_pair_budget" -> ((s, d) => Dedup.pairBudget(Tables(s, d).documents)),
    "q412_containment_budgeted" -> ((s, d) => {
      // scale-aware budget (round-10 weak-row fix): max(10⁶, n_docs·2000)
      // — binds at sf1 (cutoff 120 < maxDf 200, 25k pairs survive)
      // without degenerating to an empty result the way the fixed 10⁶
      // did; the derived cap + dropped-incidence share ride on the
      // output itself so a bound run is self-describing.
      val docs = Tables(s, d).documents
      Dedup.containmentJoin(docs, pairBudget = Some(Dedup.scaledPairBudget(docs)))
    }),
    "q413_chunk_ttr" -> ((s, d) => TextAnalysis.chunkTtr(Tables(s, d).documents)),
    "q414_ndcg" -> ((s, d) => Similarity.rankingNdcg(Tables(s, d).embeddings)),
    "q415_anderson_darling" -> ((s, d) => StatTests.andersonDarling(Tables(s, d).orders)),
    "q416_hodges_lehmann" -> ((s, d) => StatTests.hodgesLehmann(Tables(s, d).orders)),
    "q417_retention_triangle" -> ((s, d) =>
      EventAnalytics.retentionTriangle(Tables(s, d).events)),
    "q418_threshold_sweep" -> ((s, d) => Dedup.thresholdSweep(Tables(s, d).documents)),
    "q419_ks_uniform" -> ((s, d) => StatTests.ksUniform(Tables(s, d).orders)),
    "q420_expected_shortfall" -> ((s, d) => StatTests.expectedShortfall(Tables(s, d).orders)),
    "q421_audience_matrix" -> ((s, d) => EventAnalytics.audienceMatrix(Tables(s, d).events)),
    "q422_cold_start_coverage" -> ((s, d) => {
      val t = Tables(s, d); Relational.coldStartCoverage(t.part, t.lineitem)
    }),
    "q423_threshold_sweep_sampled" -> ((s, d) =>
      Dedup.thresholdSweepSampled(Tables(s, d).documents)),
    "q424_duplication_profile" -> ((s, d) =>
      Dedup.duplicationProfile(Tables(s, d).documents)),
    "q425_dup_span_sources" -> ((s, d) => Dedup.dupSpanSources(Tables(s, d).documents)),
    "q426_woe_iv" -> ((s, d) => {
      val t = Tables(s, d); FeatureEng.woeIv(t.orders, t.lineitem)
    }),
    "q428_uplift_deciles" -> ((s, d) => Classify.upliftDeciles(Tables(s, d).events)),
    "q429_srm_check" -> ((s, d) => Relational.srmCheck(Tables(s, d).events)),
    "q427_psm_att" -> ((s, d) => {
      val t = Tables(s, d); StatTests.psmAtt(t.customer, t.orders)
    }),
    "q430_periodogram" -> ((s, d) => StatTests.periodogram(Tables(s, d).orders)),
    "q431_ar2_forecast" -> ((s, d) => StatTests.ar2Forecast(Tables(s, d).orders)),
    "q432_newsvendor" -> ((s, d) => {
      val t = Tables(s, d); StatTests.newsvendor(t.lineitem, t.part)
    }),
    "q433_mediation" -> ((s, d) => StatTests.mediation(Tables(s, d).events)),
    "q434_fk_coverage" -> ((s, d) => {
      val t = Tables(s, d)
      Audit.fkCoverageAudit(t.orders, t.lineitem, t.customer, t.part, t.supplier, t.nation)
    }),
    "q435_fairness_slices" -> ((s, d) => Classify.fairnessSlices(Tables(s, d).documents)),
    "q436_bass_diffusion" -> ((s, d) => StatTests.bassDiffusion(Tables(s, d).events)),
    "q437_switchback" -> ((s, d) => Relational.switchbackAnalysis(Tables(s, d).events)),
    "q438_equi_depth_hist" -> ((s, d) => Relational.equiDepthHistogram(Tables(s, d).orders)),
    "q439_join_estimate_audit" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.joinEstimateAudit(t.orders, t.customer, t.lineitem, t.part)
    }),
    "q440_design_effect" -> ((s, d) => StatTests.designEffect(Tables(s, d).events)),
    "q441_qte" -> ((s, d) => StatTests.quantileTreatmentEffects(Tables(s, d).events)),
    "q442_chunk_dedup" -> ((s, d) => TextAnalysis.chunkDedupAudit(Tables(s, d).documents)),
    "q443_mixture_shift" -> ((s, d) => TextAnalysis.dedupMixtureShift(Tables(s, d).documents)),
    "q444_engle_granger" -> ((s, d) => {
      val t = Tables(s, d); StatTests.engleGranger(t.orders, t.customer)
    }),
    "q445_abc_xyz" -> ((s, d) => {
      val t = Tables(s, d); StatTests.abcXyz(t.lineitem, t.part)
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q260_partition_completeness" ->
      """WITH h AS (
        |  SELECT CAST(ts AS DATE) AS day, date_part('hour', ts) AS hr, count(*) AS n
        |  FROM events GROUP BY 1,2),
        |d AS (
        |  SELECT day, count(*) AS hours_present,
        |    CAST(24 - count(*) AS BIGINT) AS missing_hours,
        |    CAST(sum(n) AS BIGINT) AS n_events,
        |    CAST(min(n) AS BIGINT) AS min_hourly, CAST(max(n) AS BIGINT) AS max_hourly
        |  FROM h GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, hours_present, missing_hours,
        |  n_events, min_hourly, max_hourly,
        |  (missing_hours > 0 OR min_hourly < CAST(n_events AS DOUBLE)/24.0*0.2) AS gap_risk
        |FROM d ORDER BY day""".stripMargin,
    "q257_shapley_attribution" ->
      """WITH users AS (
        |  SELECT user_id,
        |    CAST(max(CASE WHEN event_type='click' THEN 1 ELSE 0 END)
        |       + max(CASE WHEN event_type='error' THEN 1 ELSE 0 END)*2
        |       + max(CASE WHEN event_type='signup' THEN 1 ELSE 0 END)*4
        |       + max(CASE WHEN event_type='view' THEN 1 ELSE 0 END)*8 AS INT) AS mask,
        |    max(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1),
        |obs AS (SELECT mask, count(*) AS n_users, sum(conv) AS n_conv FROM users GROUP BY 1),
        |grid AS (
        |  SELECT CAST(g.range AS INT) AS mask,
        |    COALESCE(CAST(o.n_conv AS DOUBLE)/o.n_users, 0.0) AS v
        |  FROM range(0,16) g LEFT JOIN obs o ON o.mask = g.range),
        |ch(channel, bit) AS (VALUES ('click',1),('error',2),('signup',4),('view',8)),
        |pairs AS (
        |  SELECT ch.channel,
        |    (CASE bit_count(s.mask) WHEN 0 THEN 0.25 WHEN 1 THEN 1.0/12
        |          WHEN 2 THEN 1.0/12 ELSE 0.25 END) * (t.v - s.v) AS phi
        |  FROM ch, grid s, grid t
        |  WHERE (s.mask & ch.bit) = 0 AND t.mask = (s.mask | ch.bit))
        |SELECT channel, floor(sum(phi)*10000 + 0.5)/10000 AS shapley
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin,
    "q258_lorenz_curve" ->
      """WITH pc AS (
        |  SELECT o_custkey, floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders GROUP BY 1),
        |d AS (SELECT rev, ntile(10) OVER (ORDER BY rev, o_custkey) AS decile FROM pc),
        |g AS (SELECT decile, count(*) AS n_customers, sum(rev) AS drev FROM d GROUP BY 1),
        |c AS (
        |  SELECT decile, n_customers,
        |    sum(n_customers) OVER (ORDER BY decile) AS cum_n,
        |    sum(drev) OVER (ORDER BY decile) AS cum_rev,
        |    sum(n_customers) OVER () AS tot_n, sum(drev) OVER () AS tot_rev
        |  FROM g)
        |SELECT CAST(decile AS BIGINT) AS decile, n_customers,
        |  floor(CAST(cum_n AS DOUBLE)/tot_n*10000 + 0.5)/10000 AS cum_pop_share,
        |  floor(cum_rev/tot_rev*10000 + 0.5)/10000 AS cum_rev_share
        |FROM c ORDER BY decile""".stripMargin,
    "q259_spc_chart" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |mr AS (SELECT rev, abs(rev - lag(rev) OVER (ORDER BY d)) AS mr FROM daily),
        |lim AS (SELECT count(*) AS n_days, avg(rev) AS cl, avg(mr) AS mrbar FROM mr)
        |SELECT max(n_days) AS n_days,
        |  floor(max(cl)*10000 + 0.5)/10000 AS center,
        |  floor(max(cl + 2.66*mrbar)*10000 + 0.5)/10000 AS ucl,
        |  floor(max(cl - 2.66*mrbar)*10000 + 0.5)/10000 AS lcl,
        |  CAST(sum(CASE WHEN rev > cl + 2.66*mrbar OR rev < cl - 2.66*mrbar
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_control
        |FROM daily CROSS JOIN lim""".stripMargin,
    "q253_simpson_diversity" ->
      """WITH tf AS (
        |  SELECT source, tok, count(*) AS c FROM (
        |    SELECT source, unnest(regexp_extract_all(lower(text),'\S+')) AS tok
        |    FROM documents)
        |  GROUP BY source, tok),
        |tot AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n, count(*) AS vocab
        |  FROM tf GROUP BY source)
        |SELECT tf.source, max(tot.n) AS n_tokens, max(tot.vocab) AS vocab,
        |  floor((1 - sum((CAST(c AS DOUBLE)/n)*(CAST(c AS DOUBLE)/n)))*10000 + 0.5)/10000
        |    AS simpson,
        |  floor((1/sum((CAST(c AS DOUBLE)/n)*(CAST(c AS DOUBLE)/n)))*10000 + 0.5)/10000
        |    AS eff_vocab
        |FROM tf JOIN tot USING (source)
        |GROUP BY tf.source ORDER BY tf.source""".stripMargin,
    "q254_burstiness" ->
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_us(ts) - lag(epoch_us(ts))
        |       OVER (PARTITION BY event_type ORDER BY ts, event_id))/1e6 AS gap_s
        |  FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |  floor(avg(gap_s)*10000 + 0.5)/10000 AS mean_gap_s,
        |  floor(stddev_samp(gap_s)/avg(gap_s)*10000 + 0.5)/10000 AS cv,
        |  floor((stddev_samp(gap_s) - avg(gap_s))/(stddev_samp(gap_s) + avg(gap_s))
        |    *10000 + 0.5)/10000 AS burstiness
        |FROM g WHERE gap_s IS NOT NULL GROUP BY 1
        |HAVING count(*) > 1 ORDER BY 1""".stripMargin,
    "q255_doc_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'\S+')) AS tok
        |  FROM documents),
        |tf AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS DOUBLE) AS n_corpus FROM tf)
        |SELECT doc_id, count(*) AS n_tokens,
        |  floor(avg(-ln(CAST(c AS DOUBLE)/n_corpus))*10000 + 0.5)/10000 AS mean_surprisal
        |FROM toks JOIN tf USING (tok) CROSS JOIN n
        |GROUP BY doc_id
        |ORDER BY mean_surprisal DESC, doc_id LIMIT 20""".stripMargin,
    "q256_seasonality_strength" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT d, rev,
        |    avg(rev) OVER (ORDER BY d ROWS BETWEEN 14 PRECEDING AND 14 FOLLOWING) AS trend,
        |    CAST(date_part('dow', d) AS INT) AS dow
        |  FROM daily),
        |s AS (SELECT *, avg(rev - trend) OVER (PARTITION BY dow) AS seasonal FROM t),
        |dec AS (
        |  SELECT floor(trend*10000 + 0.5)/10000 AS trend,
        |    floor(seasonal*10000 + 0.5)/10000 AS seasonal,
        |    floor((rev - trend - seasonal)*10000 + 0.5)/10000 AS residual
        |  FROM s)
        |SELECT count(*) AS n_days,
        |  floor(greatest(0, 1 - var_samp(residual)/var_samp(seasonal + residual))
        |    *10000 + 0.5)/10000 AS seasonal_strength,
        |  floor(greatest(0, 1 - var_samp(residual)/var_samp(trend + residual))
        |    *10000 + 0.5)/10000 AS trend_strength
        |FROM dec""".stripMargin,
    "q248_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT d, x,
        |    row_number() OVER (ORDER BY d) AS i,
        |    sum(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
        |    sum(x*x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ss,
        |    count(*) OVER () AS n, sum(x) OVER () AS st, sum(x*x) OVER () AS sst
        |  FROM daily),
        |c AS (
        |  SELECT d, i, n, s, st,
        |    ss - s*s/i + (sst - ss) - (st - s)*(st - s)/(n - i) AS sse,
        |    sst - st*st/n AS tss
        |  FROM p WHERE i < n)
        |SELECT strftime(d, '%Y-%m-%d') AS split_day,
        |  CAST(i AS BIGINT) AS n_left, CAST(n - i AS BIGINT) AS n_right,
        |  floor((s/i)*10000 + 0.5)/10000 AS mean_left,
        |  floor(((st - s)/(n - i))*10000 + 0.5)/10000 AS mean_right,
        |  floor((tss - sse)*10000 + 0.5)/10000 AS sse_reduction
        |FROM c ORDER BY sse, d LIMIT 1""".stripMargin,
    "q249_assortativity" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (
        |  SELECT a.pk AS pa, b.pk AS pb
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1,2 HAVING count(*) >= 2),
        |adj AS (SELECT pa, pb FROM e UNION ALL SELECT pb AS pa, pa AS pb FROM e),
        |deg AS (SELECT pa AS node, count(*) AS d FROM adj GROUP BY 1)
        |SELECT CAST(count(*)/2 AS BIGINT) AS n_edges,
        |  floor(corr(CAST(da.d AS DOUBLE), CAST(db.d AS DOUBLE))*10000 + 0.5)/10000
        |    AS assortativity
        |FROM adj JOIN deg da ON da.node = adj.pa JOIN deg db ON db.node = adj.pb""".stripMargin,
    "q250_basket_lift" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
        |pairs AS (
        |  SELECT a.pk AS ant, b.pk AS cons, count(*) AS c_ab
        |  FROM items a JOIN items b ON a.okey = b.okey AND a.pk <> b.pk
        |  GROUP BY 1,2 HAVING count(*) >= 2),
        |s AS (SELECT pk, count(*) AS c FROM items GROUP BY 1),
        |n AS (SELECT count(DISTINCT okey) AS n_orders FROM items)
        |SELECT pairs.ant AS part_a, pairs.cons AS part_b, CAST(c_ab AS BIGINT) AS n_together,
        |  floor(CAST(c_ab AS DOUBLE)/sa.c*10000 + 0.5)/10000 AS confidence,
        |  floor(n.n_orders*CAST(c_ab AS DOUBLE)/(sa.c*sb.c)*10000 + 0.5)/10000 AS lift
        |FROM pairs JOIN s sa ON sa.pk = pairs.ant JOIN s sb ON sb.pk = pairs.cons CROSS JOIN n
        |ORDER BY lift DESC, n_together DESC, part_a, part_b LIMIT 20""".stripMargin,
    "q251_price_elasticity" ->
      """SELECT p_brand,
        |  count(*) AS n_lines,
        |  floor(avg(l_extendedprice/l_quantity)*10000 + 0.5)/10000 AS avg_unit_price,
        |  floor((covar_samp(ln(l_quantity), ln(l_extendedprice/l_quantity))
        |    / var_samp(ln(l_extendedprice/l_quantity)))*10000 + 0.5)/10000 AS elasticity
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 HAVING var_samp(ln(l_extendedprice/l_quantity)) > 0
        |ORDER BY p_brand""".stripMargin,
    "q252_abc_analysis" ->
      """WITH pp AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))*10000 AS BIGINT) AS revi
        |  FROM lineitem GROUP BY 1),
        |c AS (
        |  SELECT l_partkey, revi,
        |    sum(revi) OVER (ORDER BY revi DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(revi) OVER () AS grand
        |  FROM pp),
        |k AS (
        |  SELECT CASE WHEN cum*100 <= grand*80 THEN 'A'
        |              WHEN cum*100 <= grand*95 THEN 'B' ELSE 'C' END AS abc_class,
        |    revi, grand
        |  FROM c)
        |SELECT abc_class, count(*) AS n_parts,
        |  floor((sum(revi)/10000.0)*100 + 0.5)/100 AS class_revenue,
        |  floor((sum(revi)/10000.0)/(max(grand)/10000.0)*10000 + 0.5)/10000 AS revenue_share
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "q240_psi_drift" ->
      """WITH lab AS (
        |  SELECT CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        |      THEN 'baseline' ELSE 'current' END AS period,
        |    CAST(CAST(floor(o_totalprice/50000) AS BIGINT) AS VARCHAR) AS pb,
        |    o_orderpriority AS pri, o_orderstatus AS st
        |  FROM orders),
        |lng AS (
        |  SELECT period, 'price_bucket' AS feature, pb AS v FROM lab
        |  UNION ALL SELECT period, 'priority', pri FROM lab
        |  UNION ALL SELECT period, 'status', st FROM lab),
        |cells AS (
        |  SELECT feature, v,
        |    CAST(sum(CASE WHEN period='baseline' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN period='current' THEN 1 ELSE 0 END) AS BIGINT) AS nc
        |  FROM lng GROUP BY 1,2),
        |tot AS (
        |  SELECT feature, CAST(sum(nb) AS BIGINT) AS tb, CAST(sum(nc) AS BIGINT) AS tc,
        |    count(*) AS k_buckets
        |  FROM cells GROUP BY 1)
        |SELECT feature, k_buckets, tb AS n_baseline, tc AS n_current,
        |  floor(sum(((CAST(nc AS DOUBLE)+0.5)/(CAST(tc AS DOUBLE)+0.5*k_buckets)
        |        - (CAST(nb AS DOUBLE)+0.5)/(CAST(tb AS DOUBLE)+0.5*k_buckets))
        |      * ln(((CAST(nc AS DOUBLE)+0.5)/(CAST(tc AS DOUBLE)+0.5*k_buckets))
        |          / ((CAST(nb AS DOUBLE)+0.5)/(CAST(tb AS DOUBLE)+0.5*k_buckets))))
        |    *10000 + 0.5)/10000 AS psi
        |FROM cells JOIN tot USING (feature)
        |GROUP BY 1,2,3,4 ORDER BY feature""".stripMargin,
    "q241_t_closeness" ->
      """WITH cells AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS n FROM customer GROUP BY 1,2),
        |cl AS (SELECT c_nationkey, CAST(sum(n) AS BIGINT) AS class_size FROM cells GROUP BY 1),
        |g AS (SELECT c_mktsegment, CAST(sum(n) AS BIGINT) AS gn FROM cells GROUP BY 1),
        |gt AS (SELECT CAST(sum(gn) AS BIGINT) AS g_total FROM g),
        |grid AS (
        |  SELECT cl.c_nationkey, cl.class_size, COALESCE(cells.n, 0) AS n, g.gn, gt.g_total
        |  FROM cl CROSS JOIN g CROSS JOIN gt
        |  LEFT JOIN cells ON cells.c_nationkey = cl.c_nationkey
        |    AND cells.c_mktsegment = g.c_mktsegment),
        |tv AS (
        |  SELECT c_nationkey, max(class_size) AS class_size,
        |    sum(abs(CAST(n AS DOUBLE)/class_size - CAST(gn AS DOUBLE)/g_total))/2 AS tvd
        |  FROM grid GROUP BY 1)
        |SELECT count(*) AS n_classes,
        |  floor(max(tvd)*10000 + 0.5)/10000 AS t_closeness,
        |  floor(avg(tvd)*10000 + 0.5)/10000 AS avg_tvd,
        |  CAST(sum(CASE WHEN tvd > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS classes_above_t
        |FROM tv""".stripMargin,
    "q242_xcorr_lag" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
        |    sum(CASE WHEN event_type='purchase' THEN value ELSE 0.0 END) AS rev
        |  FROM events GROUP BY 1),
        |di AS (SELECT date_diff('day', DATE '1970-01-01', d) AS di, views, rev FROM daily),
        |lg AS (SELECT CAST(range AS BIGINT) AS lag FROM range(-7, 8)),
        |j AS (
        |  SELECT lg.lag, a.views, b.rev
        |  FROM lg CROSS JOIN di a JOIN di b ON a.di + lg.lag = b.di),
        |s AS (
        |  SELECT lag, count(*) AS n_days, stddev_samp(views) AS sv,
        |    stddev_samp(rev) AS sr, corr(views, rev) AS c
        |  FROM j GROUP BY 1)
        |SELECT lag, n_days, floor(c*10000 + 0.5)/10000 AS xcorr
        |FROM s WHERE sv > 0 AND sr > 0 ORDER BY lag""".stripMargin,
    "q243_seasonal_backtest" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |di AS (SELECT date_diff('day', DATE '1970-01-01', d) AS di, rev FROM daily)
        |SELECT count(*) AS n_days,
        |  floor(avg(abs(a.rev - s.rev))*10000 + 0.5)/10000 AS mae,
        |  floor(avg(2*abs(a.rev - s.rev)/(abs(a.rev)+abs(s.rev)))*10000 + 0.5)/10000 AS smape,
        |  floor((avg(abs(a.rev - s.rev))/avg(abs(a.rev - n1.rev)))*10000 + 0.5)/10000 AS mase
        |FROM di a JOIN di s ON a.di - 7 = s.di JOIN di n1 ON a.di - 1 = n1.di""".stripMargin,
    "q244_bom_rollup" ->
      """WITH RECURSIVE r AS (
        |  SELECT p_partkey + 1 AS node, p_partkey + 1 AS anc, p_retailprice AS cost FROM part
        |  UNION ALL
        |  SELECT node, anc >> 1, cost FROM r WHERE anc > 1)
        |SELECT anc AS node, count(*) AS n_parts,
        |  floor(CAST(sum(CAST(cost AS DECIMAL(18,2))) AS DOUBLE)*100 + 0.5)/100 AS subtree_cost
        |FROM r WHERE anc < 32 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q245_link_prediction" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (
        |  SELECT a.pk AS pa, b.pk AS pb
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1,2 HAVING count(*) >= 2),
        |adj AS (SELECT pa, pb FROM e UNION ALL SELECT pb AS pa, pa AS pb FROM e),
        |deg AS (SELECT pa AS node, count(*) AS d FROM adj GROUP BY 1),
        |w AS (
        |  SELECT a1.pb AS x, a2.pb AS z, count(*) AS cn
        |  FROM adj a1 JOIN adj a2 ON a1.pa = a2.pa AND a1.pb < a2.pb
        |  GROUP BY 1,2),
        |p AS (
        |  SELECT w.x, w.z, w.cn FROM w
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.pa = w.x AND e.pb = w.z))
        |SELECT p.x AS part_a, p.z AS part_b, CAST(p.cn AS BIGINT) AS common_neighbors,
        |  floor(CAST(p.cn AS DOUBLE)/(dx.d + dz.d - p.cn)*10000 + 0.5)/10000 AS jaccard
        |FROM p JOIN deg dx ON dx.node = p.x JOIN deg dz ON dz.node = p.z
        |ORDER BY common_neighbors DESC, part_a, part_b LIMIT 20""".stripMargin,
    "q246_theil_sen" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS cnt FROM orders GROUP BY 1),
        |di AS (SELECT date_diff('day', DATE '1970-01-01', d) AS di, cnt FROM daily),
        |s AS (
        |  SELECT CAST(b.cnt - a.cnt AS DOUBLE)/(b.di - a.di) AS slope
        |  FROM di a JOIN di b ON a.di < b.di),
        |t AS (
        |  SELECT count(*) AS n_pairs,
        |    floor(quantile_cont(slope, 0.5)*10000 + 0.5)/10000 AS theil_sen FROM s),
        |o AS (
        |  SELECT floor(covar_samp(CAST(di AS DOUBLE), CAST(cnt AS DOUBLE))
        |    / var_samp(CAST(di AS DOUBLE))*10000 + 0.5)/10000 AS ols_slope FROM di)
        |SELECT n_pairs, theil_sen, ols_slope FROM t CROSS JOIN o""".stripMargin,
    "q247_ols_multi" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    var_samp(l_quantity) AS s11, covar_samp(l_quantity, l_discount) AS s12,
        |    var_samp(l_discount) AS s22, covar_samp(l_quantity, l_extendedprice) AS s1y,
        |    covar_samp(l_discount, l_extendedprice) AS s2y,
        |    var_samp(l_extendedprice) AS syy,
        |    avg(l_quantity) AS m1, avg(l_discount) AS m2, avg(l_extendedprice) AS my
        |  FROM lineitem),
        |b AS (SELECT *, s11*s22 - s12*s12 AS det FROM a),
        |c AS (SELECT *, (s22*s1y - s12*s2y)/det AS b1, (s11*s2y - s12*s1y)/det AS b2 FROM b)
        |SELECT n,
        |  floor((my - b1*m1 - b2*m2)*10000 + 0.5)/10000 AS beta0,
        |  floor(b1*10000 + 0.5)/10000 AS beta_quantity,
        |  floor(b2*10000 + 0.5)/10000 AS beta_discount,
        |  floor((b1*s1y + b2*s2y)/syy*10000 + 0.5)/10000 AS r2
        |FROM c""".stripMargin,
    "q238_cohort_ltv" ->
      """WITH st AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        |wk AS (
        |  SELECT user_id, event_type, value,
        |    CAST(floor(date_diff('day', d0, CAST(ts AS DATE))/7.0) AS BIGINT) AS wi
        |  FROM events, st),
        |co AS (SELECT user_id, min(wi) AS cw FROM wk GROUP BY 1),
        |sz AS (SELECT cw, count(*) AS n_users FROM co GROUP BY 1),
        |ce AS (
        |  SELECT cw, wi - cw AS age_weeks, sum(value) AS rev
        |  FROM wk JOIN co USING (user_id)
        |  WHERE event_type = 'purchase' GROUP BY 1, 2),
        |cum AS (
        |  SELECT cw, age_weeks, rev,
        |    sum(rev) OVER (PARTITION BY cw ORDER BY age_weeks
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        |  FROM ce)
        |SELECT cw AS cohort_week, age_weeks, n_users,
        |  floor(rev*10000 + 0.5)/10000 AS week_revenue,
        |  floor((cum_rev/n_users)*10000 + 0.5)/10000 AS ltv_per_user
        |FROM cum JOIN sz USING (cw)
        |ORDER BY cohort_week, age_weeks""".stripMargin,
    "q236_key_gaps" ->
      """WITH k AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
        |g AS (
        |  SELECT lag(k) OVER (ORDER BY k) + 1 AS gap_start,
        |    k - 1 AS gap_end
        |  FROM k)
        |SELECT gap_start, gap_end, gap_end - gap_start + 1 AS gap_len
        |FROM g
        |WHERE gap_start IS NOT NULL AND gap_end >= gap_start
        |ORDER BY gap_len DESC, gap_start LIMIT 20""".stripMargin,
    "q237_l_diversity" ->
      """WITH cl AS (
        |  SELECT c_nationkey,
        |    count(DISTINCT c_mktsegment) AS l_div, count(*) AS class_size
        |  FROM customer GROUP BY 1)
        |SELECT count(*) AS n_classes,
        |  CAST(min(l_div) AS BIGINT) AS l_diversity,
        |  CAST(sum(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_l,
        |  CAST(sum(class_size) AS BIGINT) AS n_rows
        |FROM cl""".stripMargin,
    "q233_k_anonymity" ->
      """WITH cl AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(sum(class_size) AS BIGINT) AS n_rows,
        |  count(*) AS n_classes,
        |  CAST(min(class_size) AS BIGINT) AS k_anonymity,
        |  floor((CAST(sum(CASE WHEN class_size < 10 THEN class_size ELSE 0 END)
        |    AS DOUBLE) / sum(class_size) * 100)*10000 + 0.5)/10000 AS pct_rows_below_k
        |FROM cl""".stripMargin,
    "q234_dp_counts" ->
      """WITH c AS (
        |  SELECT event_type, count(*) AS n_true FROM events GROUP BY 1),
        |n AS (
        |  SELECT event_type, n_true,
        |    (('0x' || substr(md5(event_type || 'dp1'), 1, 8))::BIGINT + 1.0)
        |      / 4294967297.0 AS u
        |  FROM c),
        |x AS (
        |  SELECT event_type, n_true,
        |    (-1.0/0.5) * sign(u - 0.5) * ln(1.0 - 2.0*abs(u - 0.5)) AS noise
        |  FROM n)
        |SELECT event_type, n_true,
        |  floor(noise*10000 + 0.5)/10000 AS noise,
        |  floor((n_true + noise)*10000 + 0.5)/10000 AS n_noisy,
        |  floor((abs(noise)/n_true*100)*10000 + 0.5)/10000 AS pct_error
        |FROM x ORDER BY event_type""".stripMargin,
    "q231_proportion_test" ->
      """WITH c AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cnt
        |  FROM events GROUP BY 1),
        |m AS (SELECT quantile_cont(cnt, 0.5) AS med FROM c),
        |pu AS (
        |  SELECT user_id,
        |    CASE WHEN cnt > med THEN 1 ELSE 0 END AS converted
        |  FROM c, m),
        |pa AS (
        |  SELECT converted,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |      IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm
        |  FROM pu),
        |g AS (
        |  SELECT count(CASE WHEN arm = 'A' THEN 1 END) AS n_a,
        |    count(CASE WHEN arm = 'B' THEN 1 END) AS n_b,
        |    CAST(sum(CASE WHEN arm = 'A' THEN converted END) AS DOUBLE) AS c_a,
        |    CAST(sum(CASE WHEN arm = 'B' THEN converted END) AS DOUBLE) AS c_b
        |  FROM pa),
        |r AS (
        |  SELECT n_a, n_b, c_a/n_a AS p_a, c_b/n_b AS p_b,
        |    (c_a + c_b)/(n_a + n_b) AS p_pool FROM g)
        |SELECT n_a, n_b,
        |  floor(p_a*10000 + 0.5)/10000 AS rate_a,
        |  floor(p_b*10000 + 0.5)/10000 AS rate_b,
        |  floor(((p_a - p_b)/sqrt(p_pool*(1 - p_pool)*(1.0/n_a + 1.0/n_b)))*10000 + 0.5)/10000 AS z
        |FROM r""".stripMargin,
    "q232_rolling_corr" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS e
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT day, p, e,
        |    count(*) OVER tw AS n_in_window,
        |    stddev_samp(p) OVER tw AS sd_p,
        |    stddev_samp(e) OVER tw AS sd_e,
        |    corr(p, e) OVER tw AS c
        |  FROM d
        |  WINDOW tw AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT strftime(day, '%Y-%m-%d') AS day, p AS purchases, e AS errors,
        |  floor(c*10000 + 0.5)/10000 AS corr_7d
        |FROM w
        |WHERE n_in_window = 7 AND sd_p > 0 AND sd_e > 0
        |ORDER BY day""".stripMargin,
    "q229_loo_zscore" ->
      """WITH w AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    count(*) OVER cw AS n,
        |    sum(o_totalprice) OVER cw AS s1,
        |    sum(o_totalprice*o_totalprice) OVER cw AS s2
        |  FROM orders
        |  WINDOW cw AS (PARTITION BY o_custkey)),
        |m AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    (s1 - o_totalprice)/(n - 1) AS loo_mean,
        |    ((s2 - o_totalprice*o_totalprice)
        |      - (n - 1)*pow((s1 - o_totalprice)/(n - 1), 2))/(n - 2) AS loo_var
        |  FROM w WHERE n >= 3)
        |SELECT o_orderkey, o_custkey,
        |  floor(o_totalprice*10000 + 0.5)/10000 AS o_totalprice,
        |  floor(loo_mean*10000 + 0.5)/10000 AS peer_mean,
        |  floor(((o_totalprice - loo_mean)/sqrt(loo_var))*10000 + 0.5)/10000 AS z
        |FROM m WHERE loo_var > 0
        |ORDER BY abs((o_totalprice - loo_mean)/sqrt(loo_var)) DESC, o_orderkey
        |LIMIT 20""".stripMargin,
    "q230_universe_sample" ->
      """SELECT c_nationkey, count(*) AS n_sampled,
        |  floor((count(*)/0.25)*10000 + 0.5)/10000 AS est_orders,
        |  floor((CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/0.25)*10000 + 0.5)/10000 AS est_revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
        |  AND substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
        |GROUP BY 1 ORDER BY c_nationkey""".stripMargin,
    "q225_interval_union" ->
      """WITH iv AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) - 150 AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 150 AS e
        |  FROM events),
        |op AS (
        |  SELECT user_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY user_id
        |      ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -9223372036854775808) THEN 1 ELSE 0 END AS opens,
        |    event_id
        |  FROM iv),
        |il AS (
        |  SELECT user_id, s, e,
        |    CAST(sum(opens) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        |  FROM op),
        |gi AS (
        |  SELECT user_id, island, min(s) AS i_start, max(e) AS i_end,
        |    count(*) AS n_ev
        |  FROM il GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(n_ev) AS BIGINT) AS n_events,
        |  count(*) AS n_intervals,
        |  CAST(sum(i_end - i_start) AS BIGINT) AS covered_s
        |FROM gi GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q226_weekday_anova" ->
      """WITH d AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |dw AS (SELECT dayofweek(day) AS wd, x FROM d),
        |gr AS (SELECT avg(x) AS gm, count(*) AS n FROM dw),
        |g AS (
        |  SELECT wd, count(*) AS ng, avg(x) AS mg, var_samp(x) AS vg
        |  FROM dw GROUP BY 1)
        |SELECT max(n) AS n_days, count(*) AS k,
        |  floor((sum(ng*pow(mg - gm, 2)) /
        |    (sum(ng*pow(mg - gm, 2)) + sum((ng - 1)*vg)))*10000 + 0.5)/10000 AS eta_sq,
        |  floor(((sum(ng*pow(mg - gm, 2))/(count(*) - 1)) /
        |    (sum((ng - 1)*vg)/(max(n) - count(*))))*10000 + 0.5)/10000 AS f_stat
        |FROM g, gr""".stripMargin,
    "q222_cusum" ->
      """WITH d AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |st AS (SELECT avg(x) AS mu, stddev_samp(x) AS sigma FROM d),
        |cc AS (
        |  SELECT day, x, sigma,
        |    sum(x - mu - sigma/2) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM d, st),
        |s AS (
        |  SELECT day, sigma,
        |    c - least(0, min(c) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
        |  FROM cc)
        |SELECT strftime(day, '%Y-%m') AS month, count(*) AS n_days,
        |  floor(max(s/sigma)*10000 + 0.5)/10000 AS max_excursion_sigmas,
        |  CAST(max(CASE WHEN s > sigma*4 THEN 1 ELSE 0 END) AS INTEGER) AS alarm
        |FROM s GROUP BY 1 ORDER BY month""".stripMargin,
    "q223_cuped" ->
      """WITH st AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        |pu AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase'
        |      AND date_diff('day', d0, CAST(ts AS DATE)) < 15
        |      THEN value ELSE 0 END) AS x,
        |    sum(CASE WHEN event_type = 'purchase'
        |      AND NOT (date_diff('day', d0, CAST(ts AS DATE)) < 15)
        |      THEN value ELSE 0 END) AS y
        |  FROM events, st GROUP BY 1),
        |pa AS (
        |  SELECT x, y,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |      IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm
        |  FROM pu),
        |mo AS (SELECT covar_samp(x, y) AS cxy, var_samp(x) AS vx, avg(x) AS mx FROM pa),
        |ad AS (
        |  SELECT arm, y,
        |    CASE WHEN vx > 0 THEN cxy/vx ELSE 0 END AS theta,
        |    y - (CASE WHEN vx > 0 THEN cxy/vx ELSE 0 END) * (x - mx) AS y_adj
        |  FROM pa, mo)
        |SELECT floor(max(theta)*10000 + 0.5)/10000 AS theta,
        |  floor(var_samp(y)*10000 + 0.5)/10000 AS var_raw,
        |  floor(var_samp(y_adj)*10000 + 0.5)/10000 AS var_cuped,
        |  floor((1.0 - var_samp(y_adj)/var_samp(y))*100*10000 + 0.5)/10000
        |    AS var_reduction_pct,
        |  count(CASE WHEN arm = 'A' THEN 1 END) AS n_a,
        |  count(CASE WHEN arm = 'B' THEN 1 END) AS n_b,
        |  floor(avg(CASE WHEN arm = 'A' THEN y_adj END)*10000 + 0.5)/10000 AS mean_adj_a,
        |  floor(avg(CASE WHEN arm = 'B' THEN y_adj END)*10000 + 0.5)/10000 AS mean_adj_b
        |FROM ad""".stripMargin,
    "q224_ab_power" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS rev
        |  FROM events GROUP BY 1),
        |pa AS (
        |  SELECT rev,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |      IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm
        |  FROM pu),
        |g AS (
        |  SELECT count(CASE WHEN arm = 'A' THEN 1 END) AS n_a,
        |    count(CASE WHEN arm = 'B' THEN 1 END) AS n_b,
        |    avg(CASE WHEN arm = 'A' THEN rev END) AS ma,
        |    avg(CASE WHEN arm = 'B' THEN rev END) AS mb,
        |    var_samp(CASE WHEN arm = 'A' THEN rev END) AS va,
        |    var_samp(CASE WHEN arm = 'B' THEN rev END) AS vb
        |  FROM pa)
        |SELECT n_a, n_b,
        |  floor(abs(ma - mb)*10000 + 0.5)/10000 AS observed_lift,
        |  floor((1.959963984540054 + 0.8416212335729143)
        |    * sqrt(va/n_a + vb/n_b)*10000 + 0.5)/10000 AS mde_at_current_n,
        |  CASE WHEN abs(ma - mb) > 0 THEN
        |    ceil(pow(1.959963984540054 + 0.8416212335729143, 2) * (va + vb)
        |      / pow(ma - mb, 2))
        |  END AS n_per_arm_for_observed_lift
        |FROM g""".stripMargin,
    "q221_survival" ->
      """WITH u AS (
        |  SELECT o_custkey, min(o_orderdate) AS f, max(o_orderdate) AS l
        |  FROM orders GROUP BY 1),
        |e AS (SELECT max(o_orderdate) AS endd FROM orders),
        |lf AS (
        |  SELECT CAST(floor(date_diff('day', f, l)/30.0) AS BIGINT) AS t,
        |    CASE WHEN date_diff('day', l, endd) > 365 THEN 1 ELSE 0 END AS churned
        |  FROM u, e),
        |bt AS (
        |  SELECT t, count(*) AS n_t, CAST(sum(churned) AS BIGINT) AS d
        |  FROM lf GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_users FROM bt),
        |rk AS (
        |  SELECT t, n_t, d,
        |    n_users - CAST(coalesce(sum(n_t) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS at_risk
        |  FROM bt, tot),
        |f AS (
        |  SELECT t, n_t, d, at_risk,
        |    1.0 - CAST(d AS DOUBLE)/at_risk AS factor FROM rk)
        |SELECT t AS lifetime_months, at_risk, d AS n_churned,
        |  n_t - d AS n_censored,
        |  CASE WHEN min(factor) OVER w = 0 THEN 0.0
        |    ELSE floor(exp(sum(ln(factor)) OVER w)*10000 + 0.5)/10000
        |  END AS survival
        |FROM f
        |WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY lifetime_months""".stripMargin,
    "q210_drawdown" ->
      """WITH m AS (
        |  SELECT c_nationkey, strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |p AS (
        |  SELECT c_nationkey, rev,
        |    max(rev) OVER (PARTITION BY c_nationkey ORDER BY month
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM m)
        |SELECT c_nationkey, count(*) AS n_months,
        |  floor(max(peak)*10000 + 0.5)/10000 AS peak_rev,
        |  floor(max((peak - rev)/peak)*10000 + 0.5)/10000 AS max_drawdown
        |FROM p GROUP BY 1 ORDER BY c_nationkey""".stripMargin,
    "q211_pythagorean_means" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  floor(avg(o_totalprice)*10000 + 0.5)/10000 AS arith_mean,
        |  floor(exp(avg(ln(o_totalprice)))*10000 + 0.5)/10000 AS geo_mean,
        |  floor((count(*) / sum(1.0/o_totalprice))*10000 + 0.5)/10000 AS harm_mean
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q212_leave_one_out" ->
      """WITH nr AS (
        |  SELECT c_nationkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
        |t AS (SELECT sum(rev) AS tot_rev, count(*) AS n FROM nr)
        |SELECT c_nationkey,
        |  floor(CAST(rev AS DOUBLE)*10000 + 0.5)/10000 AS revenue,
        |  floor((CAST(tot_rev - rev AS DOUBLE)/(n - 1))*10000 + 0.5)/10000 AS peer_avg,
        |  floor((CAST(rev AS DOUBLE)/(CAST(tot_rev - rev AS DOUBLE)/(n - 1)))*10000 + 0.5)/10000
        |    AS vs_peers
        |FROM nr, t ORDER BY c_nationkey""".stripMargin,
    "q213_streaks" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (
        |  SELECT user_id, day,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
        |  FROM a),
        |s AS (
        |  SELECT user_id, day - CAST(rn AS INTEGER) AS island, count(*) AS len
        |  FROM r GROUP BY 1, 2),
        |l AS (SELECT user_id, max(len) AS longest_streak FROM s GROUP BY 1)
        |SELECT longest_streak, count(*) AS n_users
        |FROM l GROUP BY 1 ORDER BY longest_streak""".stripMargin,
    "q214_debounce" ->
      """WITH x AS (
        |  SELECT event_type, ts,
        |    lag(ts) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT event_type,
        |    CASE WHEN prev_ts IS NULL
        |      OR date_diff('second', prev_ts, ts) > 300 THEN 1 ELSE 0 END AS opens
        |  FROM x)
        |SELECT event_type, count(*) AS n_events, CAST(sum(opens) AS BIGINT) AS n_kept,
        |  floor((sum(opens)/CAST(count(*) AS DOUBLE))*10000 + 0.5)/10000 AS keep_ratio
        |FROM f GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q215_nearest_event" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS p_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |e AS (
        |  SELECT user_id, event_id AS e_id, ts AS e_ts
        |  FROM events WHERE event_type = 'error'),
        |j AS (
        |  SELECT p_id,
        |    CAST(abs(date_diff('second', p_ts, e_ts)) AS DOUBLE) AS gap_s,
        |    e_ts, e_id
        |  FROM p JOIN e USING (user_id)
        |  WHERE abs(date_diff('second', p_ts, e_ts)) <= 3600),
        |b AS (
        |  SELECT p_id, gap_s, row_number() OVER (
        |    PARTITION BY p_id ORDER BY gap_s, e_ts, e_id) AS rn
        |  FROM j)
        |SELECT count(*) AS n_matched,
        |  floor(avg(gap_s)*10000 + 0.5)/10000 AS mean_gap_s,
        |  floor(quantile_cont(gap_s, 0.5)*10000 + 0.5)/10000 AS p50_gap_s,
        |  floor(max(gap_s)*10000 + 0.5)/10000 AS max_gap_s
        |FROM b WHERE rn = 1""".stripMargin,
    "q216_twap" ->
      """WITH x AS (
        |  SELECT user_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    date_diff('second', ts,
        |      lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS wt
        |  FROM events),
        |g AS (
        |  SELECT user_id, count(*) AS n_intervals, CAST(sum(wt) AS BIGINT) AS total_wt,
        |    floor(CAST(sum(cents) AS DOUBLE) / 100.0 / count(*) * 10000 + 0.5)/10000
        |      AS plain_avg,
        |    floor(CAST(sum(cents * wt) AS DOUBLE) / 100.0 / sum(wt) * 10000 + 0.5)/10000
        |      AS twap
        |  FROM x WHERE wt IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_intervals,
        |  floor(CAST(total_wt AS DOUBLE)*10000 + 0.5)/10000 AS total_wt, plain_avg, twap
        |FROM g WHERE total_wt > 0 ORDER BY user_id""".stripMargin,
    "q217_sequence_match" ->
      """WITH x AS (
        |  SELECT user_id, event_type,
        |    max(CASE WHEN event_type = 'view' THEN ts END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_ts,
        |    max(CASE WHEN event_type = 'error' THEN ts END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_error_ts
        |  FROM events)
        |SELECT count(*) AS n_clean_purchases, count(DISTINCT user_id) AS n_users
        |FROM x
        |WHERE event_type = 'purchase' AND last_view_ts IS NOT NULL
        |  AND (last_error_ts IS NULL OR last_error_ts < last_view_ts)""".stripMargin,
    "q208_growth_accounting" ->
      """WITH a AS (
        |  SELECT CAST(ts AS DATE) AS d, count(DISTINCT user_id) AS dau
        |  FROM events GROUP BY 1),
        |f AS (
        |  SELECT d, count(*) AS new_users FROM (
        |    SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY 1)
        |  GROUP BY 1)
        |SELECT strftime(a.d, '%Y-%m-%d') AS day, a.dau,
        |  COALESCE(f.new_users, 0) AS new_users,
        |  a.dau - COALESCE(f.new_users, 0) AS returning,
        |  CAST(sum(COALESCE(f.new_users, 0))
        |    OVER (ORDER BY a.d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
        |FROM a LEFT JOIN f ON a.d = f.d
        |ORDER BY day""".stripMargin,
    "q209_purchase_gaps" ->
      """WITH p AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events WHERE event_type = 'purchase'),
        |g AS (
        |  SELECT date_diff('second', prev_ts, ts)/3600.0 AS gap_hours
        |  FROM p WHERE prev_ts IS NOT NULL)
        |SELECT count(*) AS n_gaps,
        |  floor(avg(gap_hours)*10000 + 0.5)/10000 AS mean_gap_hours,
        |  floor(quantile_cont(gap_hours, 0.5)*10000 + 0.5)/10000 AS p50_gap_hours,
        |  floor(quantile_cont(gap_hours, 0.9)*10000 + 0.5)/10000 AS p90_gap_hours,
        |  floor(max(gap_hours)*10000 + 0.5)/10000 AS max_gap_hours
        |FROM g""".stripMargin,
    "q206_grouping_id" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
        |  floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000
        |    AS revenue,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  CAST(grouping(l_returnflag)*2 + grouping(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "q207_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
        |  floor(o_totalprice*10000 + 0.5)/10000 AS o_totalprice,
        |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)*10000 + 0.5)/10000 AS trailing_rev,
        |  count(*) OVER w AS n_in_window
        |FROM (SELECT *, date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_idx
        |      FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day_idx
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, order_date, o_orderkey""".stripMargin,
    "q205_mg_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT t.tok FROM documents,
        |    LATERAL unnest(string_split(text, ' ')) AS t(tok)
        |  WHERE length(t.tok) > 0),
        |n AS (SELECT count(*) AS n FROM toks)
        |SELECT tok, count(*) AS n_occurrences,
        |  floor(count(*)/CAST(n.n AS DOUBLE)*100*10000 + 0.5)/10000 AS pct
        |FROM toks CROSS JOIN n GROUP BY tok, n.n
        |HAVING count(*) > n.n/30.0
        |ORDER BY n_occurrences DESC, tok""".stripMargin,
    "q202_pmi_bigrams" ->
      """WITH d AS (
        |  SELECT string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT w[i] AS a, w[i+1] AS b
        |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM d)),
        |uni AS (
        |  SELECT t.tok FROM documents,
        |    LATERAL unnest(string_split(text, ' ')) AS t(tok)
        |  WHERE length(t.tok) > 0),
        |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
        |n1 AS (SELECT count(*) AS n1 FROM uni),
        |n2 AS (SELECT count(*) AS n2 FROM bg),
        |p AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT p.a, p.b, p.c_ab,
        |  floor(ln((c_ab/CAST(n2.n2 AS DOUBLE))
        |    /((ca.c/CAST(n1.n1 AS DOUBLE))*(cb.c/CAST(n1.n1 AS DOUBLE))))*10000 + 0.5)/10000
        |    AS pmi
        |FROM p
        |JOIN uc ca ON p.a = ca.tok
        |JOIN uc cb ON p.b = cb.tok
        |CROSS JOIN n1 CROSS JOIN n2
        |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin,
    "q203_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, t.tok FROM documents,
        |    LATERAL unnest(string_split(text, ' ')) AS t(tok)
        |  WHERE length(t.tok) > 0),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks
        |  WHERE tok IN ('spark', 'table', 'query') GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id,
        |    ln((st.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0) * tf.tf * 2.2
        |      / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl)) AS score
        |  FROM tf
        |  JOIN df ON tf.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN st)
        |SELECT doc_id, floor(sum(score)*10000 + 0.5)/10000 AS bm25,
        |  count(*) AS n_terms_hit
        |FROM sc GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    "q204_stl_anomaly" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT d, rev,
        |    avg(rev) OVER (ORDER BY d ROWS BETWEEN 14 PRECEDING AND 14 FOLLOWING) AS trend,
        |    CAST(date_part('dow', d) AS INT) AS dow
        |  FROM daily),
        |s AS (SELECT *, avg(rev - trend) OVER (PARTITION BY dow) AS seasonal FROM t),
        |r AS (
        |  SELECT strftime(d, '%Y-%m-%d') AS day,
        |    floor(rev*10000 + 0.5)/10000 AS rev,
        |    floor((rev - trend - seasonal)*10000 + 0.5)/10000 AS residual
        |  FROM s),
        |m AS (SELECT avg(residual) AS mu, stddev_samp(residual) AS sigma FROM r)
        |SELECT day, rev, residual,
        |  floor((residual - mu)/sigma*10000 + 0.5)/10000 AS z
        |FROM r CROSS JOIN m
        |WHERE abs((residual - mu)/sigma) > 3.0 ORDER BY day""".stripMargin,
    "q199_median_modes" ->
      """WITH g AS (
        |  SELECT l_returnflag, count(*) AS n_lines,
        |    floor(quantile_cont(l_quantity, 0.5)*10000 + 0.5)/10000 AS median_cont,
        |    floor(quantile_disc(l_quantity, 0.5)*10000 + 0.5)/10000 AS median_disc
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT l_returnflag, l_quantity AS mode_qty, count(*) AS mode_count,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY count(*) DESC, l_quantity) AS rk
        |  FROM lineitem GROUP BY l_returnflag, l_quantity)
        |SELECT g.l_returnflag, g.n_lines, g.median_cont, g.median_disc,
        |  m.mode_qty, m.mode_count
        |FROM g JOIN m ON g.l_returnflag = m.l_returnflag AND m.rk = 1
        |ORDER BY g.l_returnflag""".stripMargin,
    "q200_exact_money" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_exact,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS min_exact,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS max_exact,
        |  floor(sum(o_totalprice)*100 + 0.5)/100 AS sum_double
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q198_user_ewma" ->
      """WITH p AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id,
        |  floor(sum(CASE WHEN rn = 1 THEN power(0.7, n - rn)
        |    ELSE 0.3*power(0.7, n - rn) END * value)*10000 + 0.5)/10000 AS ewma_value,
        |  count(*) AS n_obs
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q197_window_funnel" ->
      """WITH v AS (
        |  SELECT user_id, event_id, ts AS t1, ts + INTERVAL 1 DAY AS deadline
        |  FROM events WHERE event_type = 'view'),
        |c2 AS (
        |  SELECT v.user_id, v.event_id, v.t1, v.deadline, min(c.ts) AS t2
        |  FROM v LEFT JOIN events c
        |    ON c.user_id = v.user_id AND c.event_type = 'click'
        |    AND c.ts > v.t1 AND c.ts <= v.deadline
        |  GROUP BY 1, 2, 3, 4),
        |c3 AS (
        |  SELECT c2.user_id, c2.event_id, c2.t2, min(p.ts) AS t3
        |  FROM c2 LEFT JOIN events p
        |    ON p.user_id = c2.user_id AND p.event_type = 'purchase'
        |    AND c2.t2 IS NOT NULL AND p.ts > c2.t2 AND p.ts <= c2.deadline
        |  GROUP BY 1, 2, 3),
        |lv AS (
        |  SELECT user_id, max(1
        |    + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
        |    + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS level
        |  FROM c3 GROUP BY 1)
        |SELECT level, count(*) AS n_users FROM lv GROUP BY 1 ORDER BY 1""".stripMargin,
    "q193_shingle_novelty" ->
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |idx AS (
        |  SELECT doc_id, source, w, unnest(range(1, len(w) - 6)) AS i
        |  FROM d WHERE len(w) >= 8),
        |sh AS (
        |  SELECT DISTINCT doc_id, source,
        |    md5(array_to_string(w[i:i+7], ' ')) AS shingle
        |  FROM idx),
        |own AS (SELECT shingle, min(doc_id) AS owner FROM sh GROUP BY 1),
        |pd AS (
        |  SELECT s.doc_id, s.source, count(*) AS ns,
        |    count(CASE WHEN s.doc_id = o.owner THEN 1 END) AS nn
        |  FROM sh s JOIN own o ON s.shingle = o.shingle
        |  GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  floor(avg(nn/CAST(ns AS DOUBLE))*10000 + 0.5)/10000 AS avg_novelty,
        |  floor(sum(nn)/CAST(sum(ns) AS DOUBLE)*10000 + 0.5)/10000 AS pooled_novelty
        |FROM pd GROUP BY source ORDER BY source""".stripMargin,
    "q194_stl_decompose" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT d, rev,
        |    avg(rev) OVER (ORDER BY d ROWS BETWEEN 14 PRECEDING AND 14 FOLLOWING) AS trend,
        |    CAST(date_part('dow', d) AS INT) AS dow
        |  FROM daily),
        |s AS (SELECT *, avg(rev - trend) OVER (PARTITION BY dow) AS seasonal FROM t)
        |SELECT strftime(d, '%Y-%m-%d') AS day, dow,
        |  floor(rev*10000 + 0.5)/10000 AS rev,
        |  floor(trend*10000 + 0.5)/10000 AS trend,
        |  floor(seasonal*10000 + 0.5)/10000 AS seasonal,
        |  floor((rev - trend - seasonal)*10000 + 0.5)/10000 AS residual
        |FROM s ORDER BY day""".stripMargin,
    "q195_priority_exists" ->
      """SELECT o.o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) > 90)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q188_heaps_law" ->
      """WITH toks AS (
        |  SELECT source, t.tok FROM documents,
        |    LATERAL unnest(string_split(text, ' ')) AS t(tok)
        |  WHERE length(t.tok) > 0),
        |g AS (
        |  SELECT source, count(*) AS n_tokens, count(DISTINCT tok) AS n_types
        |  FROM toks GROUP BY source)
        |SELECT source, n_tokens, n_types,
        |  floor(ln(n_types)/ln(n_tokens)*10000 + 0.5)/10000 AS heaps_beta,
        |  floor(n_types/CAST(n_tokens AS DOUBLE)*10000 + 0.5)/10000 AS ttr
        |FROM g ORDER BY source""".stripMargin,
    "q189_fertility" ->
      """WITH d AS (
        |  SELECT lang, length(text) AS nc,
        |    len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS nt
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  floor(sum(nc)/CAST(sum(nt) AS DOUBLE)*10000 + 0.5)/10000 AS chars_per_token,
        |  floor(avg(nt)*10000 + 0.5)/10000 AS avg_tokens_per_doc
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "q192_triangles" ->
      """WITH pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |edges AS (SELECT pa, pb FROM pairs GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT count(*) AS n FROM edges e1
        |  JOIN edges e2 ON e1.pb = e2.pa
        |  JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
        |w AS (SELECT CAST(sum(d*(d-1)/2) AS BIGINT) AS n_wedges FROM deg)
        |SELECT (SELECT count(*) FROM edges) AS n_edges,
        |  w.n_wedges,
        |  (SELECT CAST(n AS BIGINT) FROM tri) AS n_triangles,
        |  floor((CASE WHEN w.n_wedges > 0
        |    THEN 3.0*(SELECT n FROM tri)/w.n_wedges ELSE 0.0 END)*10000 + 0.5)/10000
        |    AS global_cc
        |FROM w""".stripMargin,
    "q173_nation_trade" ->
      """WITH sn AS (
        |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1', 'NATION_2')),
        |cn AS (
        |  SELECT c_custkey, n_name AS cust_nation FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1', 'NATION_2'))
        |SELECT sn.supp_nation, cn.cust_nation,
        |  CAST(date_part('year', l.l_shipdate) AS INT) AS ship_year,
        |  count(*) AS n_lines,
        |  floor(sum(l.l_extendedprice * (1.0 - l.l_discount))*10000 + 0.5)/10000 AS revenue
        |FROM lineitem l
        |JOIN sn ON l.l_suppkey = sn.s_suppkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN cn ON o.o_custkey = cn.c_custkey
        |WHERE sn.supp_nation <> cn.cust_nation
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q174_market_share" ->
      """WITH rc AS (
        |  SELECT c_custkey FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |sn AS (
        |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey),
        |l AS (
        |  SELECT l_orderkey, l_suppkey, l_extendedprice*(1.0 - l_discount) AS vol
        |  FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_type = 'PROMO')
        |SELECT CAST(date_part('year', o.o_orderdate) AS INT) AS order_year,
        |  floor(sum(vol)*10000 + 0.5)/10000 AS total_volume,
        |  floor(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0.0 END)*10000 + 0.5)/10000
        |    AS nation_volume,
        |  floor(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0.0 END)/sum(vol)*100
        |    *10000 + 0.5)/10000 AS mkt_share_pct
        |FROM l
        |JOIN sn ON l.l_suppkey = sn.s_suppkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN rc ON o.o_custkey = rc.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q175_returned_customers" ->
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |  count(*) AS n_return_lines,
        |  floor(sum(l.l_extendedprice * (1.0 - l.l_discount))*10000 + 0.5)/10000 AS lost_revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q176_late_shipment_mix" ->
      """SELECT CAST(date_part('year', l.l_shipdate) AS INT) AS ship_year,
        |  count(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END)
        |    AS high_line_count,
        |  count(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END)
        |    AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) > 60
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q177_disjunctive_brackets" ->
      """SELECT count(*) AS n_lines,
        |  floor(sum(l_extendedprice * (1.0 - l_discount))*10000 + 0.5)/10000 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)""".stripMargin,
    "q178_promo_share" ->
      """WITH t AS (
        |  SELECT l_shipdate, p_type, l_extendedprice*(1.0 - l_discount) AS v
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
        |  floor(sum(CASE WHEN p_type = 'PROMO' THEN v ELSE 0.0 END)*10000 + 0.5)/10000
        |    AS promo_revenue,
        |  floor(sum(v)*10000 + 0.5)/10000 AS total_revenue,
        |  floor(sum(CASE WHEN p_type = 'PROMO' THEN v ELSE 0.0 END)/sum(v)*100*10000 + 0.5)/10000
        |    AS promo_share_pct
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q179_big_orders" ->
      """WITH tq AS (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty FROM lineitem
        |  GROUP BY 1 HAVING sum(l_quantity) > 200)
        |SELECT o.o_orderkey, c.c_name,
        |  strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
        |  floor(o.o_totalprice*10000 + 0.5)/10000 AS o_totalprice,
        |  tq.total_qty
        |FROM tq
        |JOIN orders o ON tq.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY tq.total_qty DESC, o.o_orderkey LIMIT 100""".stripMargin,
    "q180_part_concentration" ->
      """WITH np AS (
        |  SELECT n.n_name, l.l_partkey, CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS value
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  GROUP BY 1, 2),
        |t AS (SELECT *,
        |  sum(value) OVER (PARTITION BY n_name) AS nation_total,
        |  count(*) OVER (PARTITION BY n_name) AS n_parts
        |FROM np)
        |SELECT n_name, l_partkey,
        |  floor(value*10000 + 0.5)/10000 AS value,
        |  floor(value/nation_total*100*10000 + 0.5)/10000 AS share_pct
        |FROM t WHERE value * n_parts > nation_total * 2.0
        |ORDER BY n_name, 3 DESC, l_partkey""".stripMargin,
    "q181_acf" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |di AS (SELECT date_diff('day', DATE '1970-01-01', d) AS di, rev FROM daily),
        |l AS (SELECT unnest([1, 2, 3, 7]) AS lag)
        |SELECT l.lag, count(*) AS n_pairs,
        |  floor(corr(a.rev, b.rev)*10000 + 0.5)/10000 AS acf
        |FROM di a CROSS JOIN l JOIN di b ON a.di + l.lag = b.di
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q182_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT)
        |    AS digit
        |  FROM orders),
        |g AS (SELECT digit, count(*) AS n_orders FROM d GROUP BY 1),
        |t AS (SELECT *, CAST(sum(n_orders) OVER () AS DOUBLE) AS total FROM g)
        |SELECT digit, n_orders,
        |  floor(n_orders/total*100*10000 + 0.5)/10000 AS pct_obs,
        |  floor(log10(1.0 + 1.0/digit)*100*10000 + 0.5)/10000 AS pct_benford,
        |  floor(power(n_orders - total*log10(1.0 + 1.0/digit), 2)
        |    /(total*log10(1.0 + 1.0/digit))*10000 + 0.5)/10000 AS chi_term
        |FROM t ORDER BY digit""".stripMargin,
    "q183_gini" ->
      """WITH pc AS (
        |  SELECT o_custkey, floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders GROUP BY 1),
        |r AS (SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS rn FROM pc)
        |SELECT count(*) AS n_customers,
        |  floor(CAST(sum(CAST(rev AS DECIMAL(28,4))) AS DOUBLE)*10000 + 0.5)/10000
        |    AS total_revenue,
        |  floor((2.0*sum(rn*rev)/(count(*)*sum(rev)) - (count(*) + 1.0)/count(*))*10000 + 0.5)/10000
        |    AS gini
        |FROM r""".stripMargin,
    "q184_ks_test" ->
      """WITH seg AS (
        |  SELECT c_custkey, CASE WHEN c_mktsegment = 'BUILDING' THEN 0 ELSE 1 END AS side
        |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |v AS (
        |  SELECT o.o_orderkey AS k, o.o_totalprice AS v, seg.side
        |  FROM orders o JOIN seg ON o.o_custkey = seg.c_custkey),
        |r AS (
        |  SELECT side,
        |    row_number() OVER (ORDER BY v, side, k) AS rn_all,
        |    row_number() OVER (PARTITION BY side ORDER BY v, side, k) AS rn_s,
        |    count(*) OVER (PARTITION BY side) AS ns,
        |    count(*) OVER () AS nt
        |  FROM v)
        |SELECT max(CASE WHEN side = 0 THEN ns END) AS n_a,
        |  max(CASE WHEN side = 1 THEN ns END) AS n_b,
        |  floor(max(abs(CAST(rn_s AS DOUBLE)/ns
        |    - CAST(rn_all - rn_s AS DOUBLE)/(nt - ns)))*10000 + 0.5)/10000 AS ks_stat
        |FROM r""".stripMargin,
    "q185_mann_whitney" ->
      """WITH v AS (
        |  SELECT o_orderkey AS k, o_totalprice AS v,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END AS side
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |r AS (SELECT *, row_number() OVER (ORDER BY v, side, k) AS rn FROM v),
        |m AS (SELECT side, avg(rn) OVER (PARTITION BY v) AS mid FROM r),
        |a AS (
        |  SELECT count(CASE WHEN side = 0 THEN 1 END) AS n_a,
        |    count(CASE WHEN side = 1 THEN 1 END) AS n_b,
        |    sum(CASE WHEN side = 0 THEN mid ELSE 0.0 END) AS r1
        |  FROM m)
        |SELECT n_a, n_b,
        |  floor((r1 - n_a*(n_a + 1.0)/2)*10000 + 0.5)/10000 AS u_stat,
        |  floor(((r1 - n_a*(n_a + 1.0)/2) - CAST(n_a AS DOUBLE)*n_b/2.0)
        |    /sqrt(CAST(n_a AS DOUBLE)*n_b*(n_a + n_b + 1.0)/12.0)*10000 + 0.5)/10000 AS z_stat
        |FROM a""".stripMargin,
    "q186_dow_seasonality" ->
      """WITH g AS (
        |  SELECT CAST(date_part('dow', CAST(o_orderdate AS DATE)) AS INT) AS dow,
        |    count(*) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT *, sum(revenue) OVER () / CAST(sum(n_orders) OVER () AS DOUBLE) AS overall
        |  FROM g)
        |SELECT dow, n_orders,
        |  floor(revenue*10000 + 0.5)/10000 AS revenue,
        |  floor(revenue/n_orders/overall*100*10000 + 0.5)/10000 AS seasonality_idx
        |FROM t ORDER BY dow""".stripMargin,
    "q187_ewma" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000
        |      AS rev
        |  FROM orders GROUP BY 1),
        |r AS (SELECT d, rev, row_number() OVER (ORDER BY d) AS rn FROM daily),
        |p AS (
        |  SELECT a.d, a.rev, a.rn, o.o, a.rn - o.o AS jk
        |  FROM r a, (SELECT unnest(range(0, 81)) AS o) o
        |  WHERE o.o <= a.rn - 1),
        |j AS (
        |  SELECT p.d, p.rev,
        |    CASE WHEN p.jk = 1 THEN power(0.9, p.o) ELSE 0.1*power(0.9, p.o) END * b.rev AS term
        |  FROM p JOIN r b ON p.jk = b.rn)
        |SELECT strftime(d, '%Y-%m-%d') AS day, rev,
        |  floor(CAST(sum(CAST(term AS DECIMAL(30,12))) AS DOUBLE)*10000 + 0.5)/10000 AS ewma
        |FROM j GROUP BY d, rev ORDER BY day""".stripMargin,
    "q01_pricing_summary" ->
      // exact decimal money mass (sf1 lesson: 6M-row double sums at 3e10
      // are summation-order-dependent past the 4dp display)
      """WITH t AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS qty,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
        |    CAST(l_discount AS DECIMAL(4,2)) AS disc,
        |    CAST(l_tax AS DECIMAL(4,2)) AS tax
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
        |SELECT l_returnflag, l_linestatus,
        | floor(CAST(sum(qty) AS DOUBLE)*10000 + 0.5)/10000 AS sum_qty,
        | floor(CAST(sum(price) AS DOUBLE)*10000 + 0.5)/10000 AS sum_base_price,
        | floor(CAST(sum(price*(CAST(1 AS DECIMAL(4,2)) - disc)) AS DOUBLE)*10000 + 0.5)/10000
        |   AS sum_disc_price,
        | floor(CAST(sum(price*(CAST(1 AS DECIMAL(4,2)) - disc)
        |     *(CAST(1 AS DECIMAL(4,2)) + tax)) AS DOUBLE)*10000 + 0.5)/10000 AS sum_charge,
        | floor(CAST(sum(qty) AS DOUBLE)/count(*)*10000 + 0.5)/10000 AS avg_qty,
        | floor(CAST(sum(price) AS DOUBLE)/count(*)*10000 + 0.5)/10000 AS avg_price,
        | floor(CAST(sum(disc) AS DOUBLE)/count(*)*10000 + 0.5)/10000 AS avg_disc,
        | count(*) AS count_order
        |FROM t
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, floor((l_quantity)*10000 + 0.5)/10000 AS qty
        |FROM lineitem
        |WHERE l_quantity >= 45 AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_topk_orders" ->
      """SELECT o_orderkey, o_custkey, floor((o_totalprice)*10000 + 0.5)/10000 AS total_price
        |FROM orders ORDER BY total_price DESC, o_orderkey LIMIT 50""".stripMargin,
    "q04_join_broadcast" ->
      """SELECT p_brand,
        | floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   *(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
        |   *10000 + 0.5)/10000 AS revenue,
        | floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000
        |   AS sum_qty,
        | count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q05_multi_join_agg" ->
      """SELECT n_name,
        | floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   *(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
        |   *10000 + 0.5)/10000 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q06_selective_agg" ->
      """SELECT floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   *CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)*10000 + 0.5)/10000 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        | AND l_discount >= 0.02 AND l_discount <= 0.06 AND l_quantity < 24""".stripMargin,
    "q07_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn, floor((o_totalprice)*10000 + 0.5)/10000 AS total_price
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q08_distinct_count" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q09_rollup" ->
      """SELECT coalesce(l_returnflag,'ALL') AS rf, coalesce(l_linestatus,'ALL') AS ls,
        | floor((sum(l_quantity))*10000 + 0.5)/10000 AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY rf, ls""".stripMargin,
    "q10_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q11_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,
    "q12_case_agg" ->
      """SELECT event_type,
        | floor((sum(CASE WHEN value > 100 THEN value ELSE 0 END))*10000 + 0.5)/10000 AS high_value_sum,
        | count(CASE WHEN value > 100 THEN 1 END) AS high_value_cnt,
        | count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q13_having" ->
      """SELECT l_partkey, floor((sum(l_quantity))*10000 + 0.5)/10000 AS sum_qty, count(*) AS n_items
        |FROM lineitem GROUP BY l_partkey
        |HAVING floor((sum(l_quantity))*10000 + 0.5)/10000 > 350.0 ORDER BY l_partkey""".stripMargin,
    "q14_scalar_subquery" ->
      """SELECT p_partkey, p_brand, floor((p_retailprice)*10000 + 0.5)/10000 AS retail_price
        |FROM part WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
        |ORDER BY p_partkey""".stripMargin,
    "q15_union_slices" ->
      """SELECT event_type, count(*) AS n_events, floor((sum(value))*10000 + 0.5)/10000 AS sum_value
        |FROM (
        |  SELECT * FROM events WHERE event_type = 'purchase' AND value > 150
        |  UNION ALL
        |  SELECT * FROM events WHERE event_type = 'signup' AND value > 150) u
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q16_percentiles" ->
      """SELECT event_type,
        | floor((quantile_cont(value, 0.5))*10000 + 0.5)/10000 AS median_value,
        | floor((quantile_cont(value, 0.95))*10000 + 0.5)/10000 AS p95_value,
        | count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q17_first_last" ->
      """SELECT user_id,
        | arg_max(event_type, ts) AS last_event_type,
        | arg_min(event_type, ts) AS first_event_type,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
        | strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
        | count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q18_events_json" ->
      """SELECT event_type,
        | floor((avg(CAST(json_extract_string(props, '$.k') AS INTEGER)))*10000 + 0.5)/10000 AS avg_k,
        | max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
        | count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q20_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
        | count(*) AS n_events,
        | floor(CAST(sum(CAST(value AS DECIMAL(24,6))) AS DOUBLE)*10000 + 0.5)/10000 AS sum_value,
        | floor(CAST(sum(CAST(value AS DECIMAL(24,6))) AS DOUBLE)/count(*)*10000 + 0.5)/10000 AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q21_partition_layout" ->
      """SELECT strftime(ts, '%Y%m%d') AS dt, strftime(ts, '%H') AS hr,
        | count(*) AS n_rows, count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY 1, 2 ORDER BY dt, hr""".stripMargin,
    "q22_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
        |  FROM events)
        |SELECT user_id,
        | count(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 END) AS n_sessions,
        | count(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q23_parser_roundtrip" ->
      """SELECT event_type, count(*) AS n_events, floor((sum(value))*10000 + 0.5)/10000 AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q24_running_total" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        | floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)*10000 + 0.5)/10000 AS running_total
        |FROM orders ORDER BY o_custkey, order_date, o_orderkey""".stripMargin,
    "q25_ntile_buckets" ->
      """WITH t AS (SELECT o_totalprice,
        |  ntile(10) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS decile FROM orders)
        |SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_orders,
        | floor((min(o_totalprice))*10000 + 0.5)/10000 AS min_price, floor((max(o_totalprice))*10000 + 0.5)/10000 AS max_price
        |FROM t GROUP BY decile ORDER BY decile""".stripMargin,
    "q26_left_join_agg" ->
      """SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders,
        | floor((coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0))*10000 + 0.5)/10000 AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""".stripMargin,
    "q27_cube" ->
      """SELECT coalesce(l_returnflag,'ALL') AS rf, coalesce(l_linestatus,'ALL') AS ls,
        | floor((sum(l_quantity))*10000 + 0.5)/10000 AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY rf, ls""".stripMargin,
    "q28_pivot" ->
      """SELECT strftime(ts,'%Y%m%d') AS dt,
        | count(CASE WHEN event_type='click' THEN 1 END) AS click,
        | count(CASE WHEN event_type='error' THEN 1 END) AS error,
        | count(CASE WHEN event_type='purchase' THEN 1 END) AS purchase,
        | count(CASE WHEN event_type='signup' THEN 1 END) AS signup,
        | count(CASE WHEN event_type='view' THEN 1 END) AS view
        |FROM events GROUP BY 1 ORDER BY dt""".stripMargin,
    "q29_stats_agg" ->
      """SELECT event_type,
        | floor((stddev_samp(value))*10000 + 0.5)/10000 AS sd_value,
        | floor((var_samp(value))*10000 + 0.5)/10000 AS var_value,
        | floor((covar_samp(value, CAST(user_id AS DOUBLE)))*10000 + 0.5)/10000 AS covar_vu,
        | floor((corr(value, CAST(user_id AS DOUBLE)))*10000 + 0.5)/10000 AS corr_vu,
        | count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q36_ngram_freq" ->
      """WITH w AS (SELECT unnest(regexp_extract_all(text,'\S+')) AS tok FROM documents)
        |SELECT tok, count(*) AS n FROM w GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
    "q30_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        | floor((avg(length(text)))*10000 + 0.5)/10000 AS avg_chars,
        | floor((avg(len(regexp_extract_all(text,'\S+'))))*10000 + 0.5)/10000 AS avg_tokens,
        | floor((sum(CAST(len(regexp_extract_all(text,'\S+')) AS DOUBLE)))*10000 + 0.5)/10000 AS total_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q31_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, len(regexp_extract_all(text,'\S+')) AS n_tok,
        |    len(list_filter(regexp_extract_all(text,'\S+'),
        |        x -> x IN ('the','a','and','of','to'))) AS n_stop
        |  FROM documents)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, CAST(n_stop AS BIGINT) AS n_stop,
        | floor((CAST(n_stop AS DOUBLE)/n_tok)*10000 + 0.5)/10000 AS stop_ratio,
        | floor(((1 - CAST(n_stop AS DOUBLE)/n_tok) * least(1.0, n_tok/50.0))*10000 + 0.5)/10000 AS quality
        |FROM t WHERE n_tok > 0 ORDER BY doc_id""".stripMargin,
    "q49_window_suite" ->
      """SELECT o_custkey, o_orderkey,
        | lag(o_totalprice) OVER w AS prev_price,
        | lead(o_totalprice) OVER w AS next_price,
        | floor((percent_rank() OVER w)*10000 + 0.5)/10000 AS pct_rank,
        | floor((cume_dist() OVER w)*10000 + 0.5)/10000 AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q55_hash_sample" ->
      """SELECT lang, count(*) AS n_docs,
        | floor(avg(n_chars)*10000 + 0.5)/10000 AS avg_chars,
        | min(doc_id) AS min_doc
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q56_line_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS line,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
        |bl AS (SELECT line FROM tok GROUP BY line
        |       HAVING count(DISTINCT doc_id) >= (SELECT nd * 0.5 FROM n))
        |SELECT doc_id,
        |  count(*) AS n_total,
        |  count(*) FILTER (WHERE line NOT IN (SELECT line FROM bl)) AS n_kept,
        |  coalesce(string_agg(line, ' ' ORDER BY pos)
        |    FILTER (WHERE line NOT IN (SELECT line FROM bl)), '') AS kept_text
        |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q57_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(string_split(text, ' ')) AS n_tok,
        |    len(list_distinct(string_split(text, ' '))) AS n_uniq
        |  FROM documents)
        |SELECT doc_id, lang, n_tok, n_uniq,
        |  floor((1 - CAST(n_uniq AS DOUBLE)/n_tok)*10000 + 0.5)/10000 AS dup_frac,
        |  (floor((1 - CAST(n_uniq AS DOUBLE)/n_tok)*10000 + 0.5)/10000) <= 0.55 AS kept
        |FROM t ORDER BY doc_id""".stripMargin,
    "q58_seq_packing" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(string_split(text, ' ')) AS n_tok,
        |    sum(len(string_split(text, ' '))) OVER
        |      (PARTITION BY source ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |SELECT source, CAST(floor((cum - n_tok) / 512) AS BIGINT) AS bin,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
        |  floor((CAST(sum(n_tok) AS DOUBLE)/512)*10000 + 0.5)/10000 AS fill
        |FROM t GROUP BY source, floor((cum - n_tok) / 512)
        |ORDER BY source, bin""".stripMargin,
    "q64_training_pipeline" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    md5(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS fp,
        |    len(string_split(text, ' ')) AS n_tok,
        |    len(list_distinct(string_split(text, ' '))) AS n_uniq
        |  FROM documents),
        |k AS (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep FROM t),
        |f AS (SELECT doc_id, source, n_tok FROM k
        |      WHERE doc_id = keep
        |        AND floor((1 - CAST(n_uniq AS DOUBLE)/n_tok)*10000 + 0.5)/10000 <= 0.55),
        |c AS (SELECT source, n_tok,
        |        sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM f)
        |SELECT source, CAST(floor((cum - n_tok) / 512) AS BIGINT) AS bin,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
        |  floor((CAST(sum(n_tok) AS DOUBLE)/512)*10000 + 0.5)/10000 AS fill
        |FROM c GROUP BY source, floor((cum - n_tok) / 512)
        |ORDER BY source, bin""".stripMargin,
    "q72_mixture_solver" ->
      """WITH shares(source, share) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
        |t AS (SELECT d.source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |        CAST(s.share AS DOUBLE) AS share
        |      FROM documents d JOIN shares s ON d.source = s.source
        |      GROUP BY d.source, s.share),
        |b AS (SELECT *, min(CAST(n_tokens AS DOUBLE) / share) OVER () AS budget FROM t)
        |SELECT source, n_tokens,
        |  floor(share*10000 + 0.5)/10000 AS share,
        |  floor((share * budget / n_tokens)*10000 + 0.5)/10000 AS rate,
        |  floor((share * budget)*10000 + 0.5)/10000 AS sampled_tokens
        |FROM b ORDER BY source""".stripMargin,
    "q68_full_outer" ->
      """WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer GROUP BY 1),
        |s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier GROUP BY 1)
        |SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
        |  coalesce(n_cust, 0) AS n_cust,
        |  coalesce(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
        |ORDER BY nationkey""".stripMargin,
    "q69_set_ops" ->
      """WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |large AS (SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0),
        |tagged AS (
        |  SELECT o_custkey, 'both' AS which FROM (SELECT * FROM urgent INTERSECT SELECT * FROM large)
        |  UNION ALL
        |  SELECT o_custkey, 'urgent_only' AS which FROM (SELECT * FROM urgent EXCEPT SELECT * FROM large))
        |SELECT which, count(*) AS n_custs, min(o_custkey) AS min_cust
        |FROM tagged GROUP BY which ORDER BY which""".stripMargin,
    "q73_shared_scan" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS ret_flag,
        |  coalesce(l_linestatus, 'ALL') AS line_status,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  floor(sum(l_quantity)*10000 + 0.5)/10000 AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
        |  (l_returnflag, l_linestatus), ())
        |ORDER BY gid, ret_flag, line_status""".stripMargin,
    "q74_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    floor((tf.tf * ln(CAST(n.n AS DOUBLE) / df.df))*10000 + 0.5)/10000 AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (SELECT *, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
        |  FROM scored)
        |SELECT doc_id, term, tfidf, CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 3 AND doc_id < 100
        |ORDER BY doc_id, rnk""".stripMargin,
    "q75_chunking" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
        |        unnest(generate_series(0, len(toks) - 1, 48)) AS start
        |      FROM t WHERE len(toks) > 0)
        |SELECT doc_id,
        |  CAST(start / 48 AS BIGINT) AS chunk_id,
        |  CAST(least(64, n_tok - start) AS BIGINT) AS chunk_len,
        |  md5(array_to_string(list_slice(toks, start + 1, start + least(64, n_tok - start)), ' ')) AS chunk_md5
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    "q76_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts >= v.v_ts GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts GROUP BY 1)
        |SELECT (SELECT count(*) FROM v) AS n_view_users,
        |  (SELECT count(*) FROM c) AS n_click_users,
        |  (SELECT count(*) FROM p) AS n_purchase_users""".stripMargin,
    "q77_rolling_window" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS cnt_1h,
        |  floor(sum(value) OVER w * 10000 + 0.5)/10000 AS sum_1h
        |FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
        |  RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q78_cohort" ->
      """WITH activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |cohort AS (SELECT user_id, min(d) AS cohort_d FROM activity GROUP BY 1)
        |SELECT strftime(c.cohort_d, '%Y-%m-%d') AS cohort,
        |  CAST(date_diff('day', c.cohort_d, a.d) AS BIGINT) AS day_offset,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM activity a JOIN cohort c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin,
    "q79_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
        |  count(*) AS n_orders,
        |  floor(min(o_totalprice)*10000 + 0.5)/10000 AS bin_min,
        |  floor(max(o_totalprice)*10000 + 0.5)/10000 AS bin_max
        |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin,
    "q80_pii_redact" ->
      """SELECT event_type, count(*) AS n_rows,
        |  CAST(sum(len(props) - len(regexp_replace(props, '[0-9]', '', 'g'))) AS BIGINT) AS digits_redacted,
        |  min(regexp_replace(props, '[0-9]+', '<NUM>', 'g')) AS sample_redacted
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q81_hopping" ->
      """WITH e AS (SELECT event_type, value,
        |  CAST(floor(epoch(ts)/900) AS BIGINT) AS k FROM events),
        |x AS (SELECT event_type, value,
        |  unnest(generate_series(k-3, k)) AS wk FROM e)
        |SELECT wk*900 AS window_start, event_type,
        |  count(*) AS n_events,
        |  floor(sum(value)*10000 + 0.5)/10000 AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q83_unpivot" ->
      """WITH u AS (
        |  UNPIVOT (SELECT l_orderkey, l_quantity, l_extendedprice, l_discount, l_tax FROM lineitem)
        |  ON l_quantity, l_extendedprice, l_discount, l_tax
        |  INTO NAME measure VALUE v),
        |c AS (SELECT measure, CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc FROM u)
        |SELECT measure, count(*) AS n,
        |  floor(CAST(sum(vc) AS DOUBLE) / 100.0 * 10000 + 0.5)/10000 AS total,
        |  floor(CAST(sum(vc) AS DOUBLE) / 100.0 / count(*) * 10000 + 0.5)/10000 AS avg_v
        |FROM c GROUP BY measure ORDER BY measure""".stripMargin,
    "q84_gapfill" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    floor(sum(value)*10000 + 0.5)/10000 AS hour_sum
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT date_trunc('hour', min(ts)) AS lo,
        |                  date_trunc('hour', max(ts)) AS hi FROM events),
        |spine AS (
        |  SELECT t.event_type, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hour
        |  FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b),
        |filled AS (
        |  SELECT s.event_type, s.hour, h.hour_sum
        |  FROM spine s ASOF LEFT JOIN hourly h
        |    ON s.event_type = h.event_type AND s.hour >= h.hour)
        |SELECT f.event_type,
        |  CAST(floor(epoch(f.hour)) AS BIGINT) AS hour_ts,
        |  floor(coalesce(f.hour_sum, 0)*10000 + 0.5)/10000 AS filled_sum,
        |  CAST(CASE WHEN a.hour IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_actual
        |FROM filled f LEFT JOIN hourly a
        |  ON f.event_type = a.event_type AND f.hour = a.hour
        |ORDER BY f.event_type, hour_ts""".stripMargin,
    "q85_transitions" ->
      """SELECT prev_type, next_type, count(*) AS n_transitions FROM (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |         event_type AS next_type
        |  FROM events) t
        |WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, next_type ORDER BY prev_type, next_type""".stripMargin,
    "q86_session_paths" ->
      """WITH ranked AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, event_type, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id) AS rn
        |  FROM events),
        |paths AS (
        |  SELECT user_id, d, string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM ranked WHERE rn <= 5 GROUP BY user_id, d)
        |SELECT path, count(*) AS n_user_days FROM paths
        |GROUP BY path ORDER BY n_user_days DESC, path LIMIT 20""".stripMargin,
    "q87_anomaly" ->
      """WITH hourly AS (
        |  SELECT strftime(ts, '%Y%m%d') AS dt, strftime(ts, '%H') AS hr, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |base AS (
        |  SELECT hr, avg(n_events) AS mu, stddev_samp(n_events) AS sigma
        |  FROM hourly GROUP BY hr)
        |SELECT h.dt, h.hr, h.n_events,
        |  floor(((h.n_events - b.mu) / b.sigma)*10000 + 0.5)/10000 AS z
        |FROM hourly h JOIN base b ON h.hr = b.hr
        |ORDER BY h.dt, h.hr""".stripMargin,
    "q88_centroid_assign" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, c.cid,
        |    list_inner_product(e.embedding::DOUBLE[], c.ce) AS dp,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_inner_product(e.embedding::DOUBLE[], c.ce) DESC, c.cid) AS rk
        |  FROM embeddings e CROSS JOIN cents c WHERE e.vec_id >= 8)
        |SELECT cid AS cluster_id, count(*) AS n_vecs,
        |  floor((avg(dp))*10000 + 0.5)/10000 AS avg_cos
        |FROM scored WHERE rk = 1 GROUP BY cid ORDER BY cluster_id""".stripMargin,
    "q89_mom_change" ->
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT month, floor(rev*10000 + 0.5)/10000 AS revenue,
        |  floor(coalesce(
        |    (rev - lag(rev) OVER (ORDER BY month)) / lag(rev) OVER (ORDER BY month) * 100,
        |    0)*10000 + 0.5)/10000 AS pct_change
        |FROM m ORDER BY month""".stripMargin,
    "q90_robust_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY event_type),
        |dev AS (
        |  SELECT e.event_type, abs(e.value - m.med) AS absdev, m.med
        |  FROM events e JOIN med m ON e.event_type = m.event_type),
        |mad AS (
        |  SELECT event_type, quantile_cont(absdev, 0.5) AS madv, max(med) AS med
        |  FROM dev GROUP BY event_type)
        |SELECT d.event_type,
        |  count(CASE WHEN floor(d.absdev*10000 + 0.5)/10000 > floor(3*1.4826*m.madv*10000 + 0.5)/10000 THEN 1 END) AS n_outliers,
        |  count(*) AS n_events,
        |  floor(m.med*10000 + 0.5)/10000 AS median_value,
        |  floor(m.madv*10000 + 0.5)/10000 AS mad_value
        |FROM dev d JOIN mad m ON d.event_type = m.event_type
        |GROUP BY d.event_type, m.med, m.madv
        |ORDER BY d.event_type""".stripMargin,
    "q91_leakage_split" ->
      """SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2')
        |       THEN 'val' ELSE 'train' END AS split,
        |  event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY split, event_type ORDER BY split, event_type""".stripMargin,
    "q92_copurchase" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem)
        |SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_orders
        |FROM items a JOIN items b ON a.okey = b.okey AND a.pk < b.pk
        |GROUP BY a.pk, b.pk
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin,
    "q94_mv_rollup" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        | floor((sum(l_quantity))*10000 + 0.5)/10000 AS sum_qty,
        | floor((avg(l_quantity))*10000 + 0.5)/10000 AS avg_qty,
        | floor((max(l_quantity))*10000 + 0.5)/10000 AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q93_profile" ->
      """SELECT 'o_orderkey' AS column_name,
        |  count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_nulls,
        |  count(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_value,
        |  CAST(max(o_orderkey) AS VARCHAR) AS max_value FROM orders
        |UNION ALL SELECT 'o_custkey',
        |  count(CASE WHEN o_custkey IS NULL THEN 1 END),
        |  count(DISTINCT o_custkey),
        |  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders
        |UNION ALL SELECT 'o_orderstatus',
        |  count(CASE WHEN o_orderstatus IS NULL THEN 1 END),
        |  count(DISTINCT o_orderstatus),
        |  min(o_orderstatus), max(o_orderstatus) FROM orders
        |UNION ALL SELECT 'o_orderpriority',
        |  count(CASE WHEN o_orderpriority IS NULL THEN 1 END),
        |  count(DISTINCT o_orderpriority),
        |  min(o_orderpriority), max(o_orderpriority) FROM orders
        |ORDER BY column_name""".stripMargin,
    "q114_revenue_share" ->
      """WITH pn AS (SELECT n.n_name AS nation,
        |    CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY 1),
        |t AS (SELECT sum(rev) AS tot FROM pn)
        |SELECT nation, floor(rev*10000 + 0.5)/10000 AS revenue,
        |  floor(rev/(SELECT tot FROM t)*100*10000 + 0.5)/10000 AS pct_share
        |FROM pn ORDER BY pct_share DESC, nation""".stripMargin,
    "q126_chisq" ->
      """WITH cells AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source),
        |rt AS (SELECT lang, sum(o) AS rt FROM cells GROUP BY lang),
        |ct AS (SELECT source, sum(o) AS ct FROM cells GROUP BY source),
        |tot AS (SELECT sum(o) AS n, count(DISTINCT lang) AS nl,
        |          count(DISTINCT source) AS ns FROM cells),
        |grid AS (SELECT rt.lang, ct.source, rt.rt, ct.ct,
        |           coalesce(c.o, 0) AS o
        |         FROM rt CROSS JOIN ct
        |         LEFT JOIN cells c ON c.lang = rt.lang AND c.source = ct.source)
        |SELECT floor(sum(pow(g.o - (g.rt*g.ct/CAST(tot.n AS DOUBLE)), 2)
        |        / (g.rt*g.ct/CAST(tot.n AS DOUBLE)))*10000 + 0.5)/10000 AS chi2,
        |  CAST((max(tot.nl)-1)*(max(tot.ns)-1) AS BIGINT) AS dof,
        |  CAST(max(tot.n) AS BIGINT) AS n_docs
        |FROM grid g CROSS JOIN tot""".stripMargin,
    "q127_token_entropy" ->
      """WITH tf AS (
        |  SELECT source, tok, count(*) AS c FROM (
        |    SELECT source, unnest(regexp_extract_all(lower(text),'\S+')) AS tok
        |    FROM documents)
        |  GROUP BY source, tok),
        |tot AS (SELECT source, sum(c) AS n, count(*) AS vocab FROM tf GROUP BY source)
        |SELECT tf.source, CAST(max(tot.n) AS BIGINT) AS n_tokens,
        |  CAST(max(tot.vocab) AS BIGINT) AS vocab,
        |  floor(-sum((tf.c/CAST(tot.n AS DOUBLE))*ln(tf.c/CAST(tot.n AS DOUBLE)))*10000 + 0.5)/10000 AS entropy,
        |  CASE WHEN max(tot.vocab) > 1 THEN
        |    floor(-sum((tf.c/CAST(tot.n AS DOUBLE))*ln(tf.c/CAST(tot.n AS DOUBLE)))
        |          / ln(CAST(max(tot.vocab) AS DOUBLE))*10000 + 0.5)/10000
        |  ELSE 0.0 END AS norm_entropy
        |FROM tf JOIN tot USING (source)
        |GROUP BY tf.source ORDER BY tf.source""".stripMargin,
    "q128_correlated_avg" ->
      """WITH pa AS (SELECT l_partkey, floor(avg(l_quantity)*10000 + 0.5)/10000 AS pa
        |            FROM lineitem GROUP BY l_partkey)
        |SELECT l.l_returnflag, count(*) AS n_below,
        |  floor(sum(l.l_quantity)*10000 + 0.5)/10000 AS qty_below,
        |  floor(avg(l.l_extendedprice)*10000 + 0.5)/10000 AS avg_price
        |FROM lineitem l JOIN pa USING (l_partkey)
        |WHERE l.l_quantity < 0.5*pa.pa
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,
    "q123_winsorize" ->
      """WITH b AS (SELECT event_type,
        |    floor(quantile_cont(value, 0.05)*10000 + 0.5)/10000 AS lo,
        |    floor(quantile_cont(value, 0.95)*10000 + 0.5)/10000 AS hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, count(*) AS n_events,
        |  floor(avg(least(greatest(e.value, b.lo), b.hi))*10000 + 0.5)/10000 AS wins_mean,
        |  floor(min(least(greatest(e.value, b.lo), b.hi))*10000 + 0.5)/10000 AS wins_min,
        |  floor(max(least(greatest(e.value, b.lo), b.hi))*10000 + 0.5)/10000 AS wins_max
        |FROM events e JOIN b USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q124_covariance" ->
      """WITH l AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, 17)) AS t(i))
        |SELECT a.i AS dim_i, b.i AS dim_j,
        |  floor(covar_pop(a.v, b.v)*10000 + 0.5)/10000 AS cov
        |FROM l a JOIN l b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY a.i, b.i ORDER BY dim_i, dim_j""".stripMargin,
    "q121_dau_wau" ->
      """WITH activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |days AS (SELECT DISTINCT day FROM activity),
        |contrib AS (SELECT DISTINCT a.user_id, d.day AS wday
        |  FROM activity a JOIN days d ON d.day BETWEEN a.day AND a.day + 6),
        |wau AS (SELECT wday, count(*) AS wau FROM contrib GROUP BY wday),
        |dau AS (SELECT day, count(*) AS dau FROM activity GROUP BY day)
        |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
        |  floor(CAST(dau.dau AS DOUBLE)/wau.wau*10000 + 0.5)/10000 AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.wday ORDER BY day""".stripMargin,
    "q122_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
        |           FROM embeddings WHERE vec_id < 3),
        | c AS (SELECT vec_id AS cid, embedding AS ce, label AS clabel
        |       FROM embeddings WHERE vec_id >= 3),
        | s AS (SELECT qid, cid,
        |   list_sum(list_transform(list_zip(qe,ce), z -> CAST(z[1] AS DOUBLE)*z[2])) AS cos
        |   FROM q JOIN c ON c.clabel <> q.qlabel),
        | r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk FROM s)
        |SELECT qid, cid, rk, floor((cos)*10000 + 0.5)/10000 AS cosine FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "q118_peak_concurrency" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |l AS (SELECT user_id, us,
        |        lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev_us FROM e),
        |s AS (SELECT user_id, us,
        |        CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS ns
        |      FROM l),
        |s2 AS (SELECT user_id, us,
        |         sum(ns) OVER (PARTITION BY user_id ORDER BY us
        |                       ROWS UNBOUNDED PRECEDING) AS sid FROM s),
        |sess AS (SELECT user_id, sid, min(us) AS start_us, max(us) AS end_us
        |         FROM s2 GROUP BY user_id, sid),
        |d AS (SELECT strftime(make_timestamp(start_us), '%Y-%m-%d') AS day, start_us AS t, 1 AS dd FROM sess
        |      UNION ALL
        |      SELECT strftime(make_timestamp(start_us), '%Y-%m-%d'), end_us + 1, -1 FROM sess),
        |net AS (SELECT day, t, sum(dd) AS delta FROM d GROUP BY day, t),
        |run AS (SELECT day, sum(delta) OVER (PARTITION BY day ORDER BY t
        |                                     ROWS UNBOUNDED PRECEDING) AS run FROM net),
        |pk AS (SELECT day, max(run) AS peak FROM run GROUP BY day),
        |ns AS (SELECT strftime(make_timestamp(start_us), '%Y-%m-%d') AS day,
        |         count(*) AS n_sessions FROM sess GROUP BY 1)
        |SELECT ns.day, ns.n_sessions, CAST(pk.peak AS BIGINT) AS peak_concurrency
        |FROM ns JOIN pk ON ns.day = pk.day ORDER BY ns.day""".stripMargin,
    "q115_feature_scale" ->
      """WITH long AS (
        |  SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |stats AS (
        |  SELECT dim, avg(v) AS mu, stddev_samp(v) AS sigma FROM long GROUP BY dim)
        |SELECT l.vec_id, l.dim,
        |  floor((l.v - s.mu)/s.sigma*10000 + 0.5)/10000 AS z
        |FROM long l JOIN stats s ON l.dim = s.dim
        |ORDER BY l.vec_id, l.dim""".stripMargin,
    "q116_vocab_oov" ->
      """WITH toks AS (
        |  SELECT source, unnest(regexp_extract_all(lower(text),'\S+')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS n FROM toks GROUP BY tok
        |    ORDER BY n DESC, tok LIMIT 500))
        |SELECT t.source, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
        |  floor(sum(CASE WHEN v.tok IS NULL THEN 1.0 ELSE 0.0 END)/count(*)*10000 + 0.5)/10000 AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        |GROUP BY t.source ORDER BY t.source""".stripMargin,
    "q117_zipf_slope" ->
      """WITH tf AS (
        |  SELECT lang, tok, count(*) AS n FROM (
        |    SELECT lang, unnest(regexp_extract_all(lower(text),'\S+')) AS tok
        |    FROM documents)
        |  GROUP BY lang, tok),
        |r AS (
        |  SELECT lang, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk
        |  FROM tf)
        |SELECT lang,
        |  floor(regr_slope(ln(n), ln(rk))*10000 + 0.5)/10000 AS zipf_slope,
        |  floor(regr_r2(ln(n), ln(rk))*10000 + 0.5)/10000 AS zipf_r2,
        |  count(*) AS n_ranks
        |FROM r WHERE rk <= 100 GROUP BY lang ORDER BY lang""".stripMargin,
    "q113_vector_pool" ->
      """SELECT label, i AS dim,
        |  floor(avg(embedding[i])*10000 + 0.5)/10000 AS avg_val,
        |  count(*) AS n_vecs
        |FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
        |GROUP BY label, i ORDER BY label, dim""".stripMargin,
    "q111_skyline_nd" ->
      """WITH tup AS (SELECT DISTINCT l_quantity, l_discount, l_tax FROM lineitem)
        |SELECT p.l_quantity, p.l_discount, p.l_tax FROM tup p
        |WHERE NOT EXISTS (SELECT 1 FROM tup q
        |  WHERE q.l_quantity >= p.l_quantity AND q.l_discount <= p.l_discount
        |    AND q.l_tax <= p.l_tax
        |    AND (q.l_quantity > p.l_quantity OR q.l_discount < p.l_discount
        |         OR q.l_tax < p.l_tax))
        |ORDER BY l_quantity, l_discount, l_tax""".stripMargin,
    "q112_pit_join" ->
      """WITH dim AS (SELECT user_id, epoch_us(ts) AS t_us,
        |         floor(value*10000 + 0.5)/10000 AS tier
        |       FROM events WHERE event_type = 'purchase'),
        |ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us FROM events)
        |SELECT e.event_type, coalesce(d.tier, -1.0) AS tier_bucket, count(*) AS n_events
        |FROM ev e ASOF LEFT JOIN dim d ON e.user_id = d.user_id AND e.t_us >= d.t_us
        |GROUP BY 1, 2 ORDER BY event_type, tier_bucket""".stripMargin,
    "q109_grouped_topk" ->
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey,
        |  floor(o_totalprice*10000 + 0.5)/10000 AS price, rn
        |FROM r WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q110_null_semantics" ->
      """WITH t AS (SELECT CASE WHEN value < 10 THEN NULL ELSE event_type END AS k, user_id
        |           FROM events),
        |a AS (SELECT k, count(*) AS n_rows, count(k) AS n_nonnull_key,
        |        count(DISTINCT user_id) AS n_users FROM t GROUP BY k)
        |SELECT a.k, a.n_rows, a.n_nonnull_key, a.n_users, b.n_rows AS nullsafe_join_n
        |FROM a JOIN a b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY a.k NULLS FIRST""".stripMargin,
    "q108_scd2_build" ->
      """SELECT user_id,
        |  floor(value*10000 + 0.5)/10000 AS tier,
        |  epoch_us(ts) AS valid_from_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, valid_from_us""".stripMargin,
    "q106_itemsets" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
        |t AS (SELECT a.pk AS pa, b.pk AS pb, c.pk AS pc
        |      FROM items a JOIN items b ON a.okey = b.okey AND a.pk < b.pk
        |      JOIN items c ON b.okey = c.okey AND b.pk < c.pk)
        |SELECT pa AS part_a, pb AS part_b, pc AS part_c, count(*) AS n_orders
        |FROM t GROUP BY 1, 2, 3
        |ORDER BY n_orders DESC, part_a, part_b, part_c LIMIT 20""".stripMargin,
    "q107_fuzzy_join" ->
      """SELECT a.c_custkey AS ck_a, b.c_custkey AS ck_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE a.c_custkey < 2000 AND b.c_custkey < 2000
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY ck_a, ck_b""".stripMargin,
    "q104_bfs_reach" ->
      """WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
        |edges AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
        |          FROM items a JOIN items b ON a.okey = b.okey AND a.pk <> b.pk),
        |walk(node, hops) AS (
        |  SELECT (SELECT min(src) FROM edges), 0
        |  UNION ALL
        |  SELECT e.dst, w.hops + 1 FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.hops < 3)
        |SELECT node AS part, CAST(min(hops) AS BIGINT) AS hops
        |FROM walk GROUP BY node ORDER BY part""".stripMargin,
    "q105_weighted_sample" ->
      """WITH u AS (
        |  SELECT source, doc_id, n_chars,
        |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1.0) / 4294967297.0 AS u
        |  FROM documents),
        |r AS (SELECT source, doc_id, n_chars,
        |        row_number() OVER (PARTITION BY source ORDER BY ln(u)/n_chars DESC, doc_id) AS rk
        |      FROM u)
        |SELECT source, doc_id, n_chars FROM r WHERE rk <= 20
        |ORDER BY source, doc_id""".stripMargin,
    "q103_conversion_latency" ->
      """WITH fc AS (SELECT user_id, min(ts) AS fc FROM events
        |            WHERE event_type = 'click' GROUP BY user_id),
        |fp AS (SELECT e.user_id, min(fc.fc) AS fc, min(e.ts) AS fp
        |       FROM events e JOIN fc ON e.user_id = fc.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= fc.fc
        |       GROUP BY e.user_id),
        |lat AS (SELECT strftime(fc, '%Y-%m-%d') AS day,
        |          epoch_us(fp) - epoch_us(fc) AS lat_us FROM fp)
        |SELECT day, count(*) AS n_conversions,
        |  floor(quantile_cont(lat_us, 0.5)/1000000.0*10000 + 0.5)/10000 AS median_latency_s,
        |  floor(quantile_cont(lat_us, 0.9)/1000000.0*10000 + 0.5)/10000 AS p90_latency_s
        |FROM lat GROUP BY day ORDER BY day""".stripMargin,
    "q102_skyline" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_partkey""".stripMargin,
    "q95_session_window" ->
      """WITH x AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM events),
        |s AS (SELECT user_id, us,
        |        sum(is_new) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM x),
        |g AS (SELECT user_id, sid, count(*) AS n, max(us) - min(us) AS span_us
        |      FROM s GROUP BY user_id, sid)
        |SELECT user_id, count(*) AS n_sessions, CAST(sum(n) AS BIGINT) AS n_events,
        |  floor(CAST(sum(span_us) AS DOUBLE)/1000000.0*10000 + 0.5)/10000 AS total_span_s,
        |  floor(CAST(max(span_us) AS DOUBLE)/1000000.0*10000 + 0.5)/10000 AS max_span_s
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q96_constraint_audit" ->
      """WITH checks AS (
        |  SELECT 'notnull_o_custkey' AS check_name, 'orders' AS table_name,
        |    count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_violations, count(*) AS n_rows FROM orders
        |  UNION ALL SELECT 'unique_o_orderkey', 'orders',
        |    count(*) - count(DISTINCT o_orderkey), count(*) FROM orders
        |  UNION ALL SELECT 'range_o_totalprice', 'orders',
        |    count(CASE WHEN o_totalprice <= 0 THEN 1 END), count(*) FROM orders
        |  UNION ALL SELECT 'range_l_quantity', 'lineitem',
        |    count(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END), count(*) FROM lineitem
        |  UNION ALL SELECT 'range_l_discount', 'lineitem',
        |    count(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END), count(*) FROM lineitem
        |  UNION ALL SELECT 'notnull_l_shipdate', 'lineitem',
        |    count(CASE WHEN l_shipdate IS NULL THEN 1 END), count(*) FROM lineitem
        |  UNION ALL SELECT 'notnull_event_ts', 'events',
        |    count(CASE WHEN ts IS NULL THEN 1 END), count(*) FROM events
        |  UNION ALL SELECT 'unique_event_id', 'events',
        |    count(*) - count(DISTINCT event_id), count(*) FROM events
        |  UNION ALL SELECT 'fk_orders_custkey', 'orders',
        |    count(CASE WHEN c.c_custkey IS NULL AND o.o_custkey IS NOT NULL THEN 1 END), count(*)
        |    FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |      ON o.o_custkey = c.c_custkey
        |  UNION ALL SELECT 'fk_lineitem_orderkey', 'lineitem',
        |    count(CASE WHEN p.o_orderkey IS NULL AND l.l_orderkey IS NOT NULL THEN 1 END), count(*)
        |    FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) p
        |      ON l.l_orderkey = p.o_orderkey)
        |SELECT check_name, table_name, CAST(n_violations AS BIGINT) AS n_violations,
        |  CAST(n_rows AS BIGINT) AS n_rows, n_violations = 0 AS passed
        |FROM checks ORDER BY check_name""".stripMargin,
    "q97_source_caps" ->
      """WITH r AS (
        |  SELECT source, n_chars, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents),
        |k AS (SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |      FROM r WHERE rk <= 50 GROUP BY source),
        |t AS (SELECT source, count(*) AS n_total FROM documents GROUP BY source)
        |SELECT t.source, t.n_total, k.n_kept, k.chars_kept,
        |  floor(CAST(k.n_kept AS DOUBLE)/t.n_total*10000 + 0.5)/10000 AS keep_ratio
        |FROM t JOIN k USING (source) ORDER BY source""".stripMargin,
    "q98_pagerank" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
        |edges AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
        |          FROM items a JOIN items b ON a.okey = b.okey AND a.pk <> b.pk),
        |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
        |r0 AS (SELECT src AS node, 1.0/(SELECT n FROM nn) AS pr FROM deg),
        |r1 AS (SELECT e.dst AS node, 0.15/(SELECT n FROM nn) + 0.85*sum(r.pr/g.d) AS pr
        |       FROM edges e JOIN r0 r ON e.src = r.node JOIN deg g ON g.src = e.src GROUP BY e.dst),
        |r2 AS (SELECT e.dst AS node, 0.15/(SELECT n FROM nn) + 0.85*sum(r.pr/g.d) AS pr
        |       FROM edges e JOIN r1 r ON e.src = r.node JOIN deg g ON g.src = e.src GROUP BY e.dst),
        |r3 AS (SELECT e.dst AS node, 0.15/(SELECT n FROM nn) + 0.85*sum(r.pr/g.d) AS pr
        |       FROM edges e JOIN r2 r ON e.src = r.node JOIN deg g ON g.src = e.src GROUP BY e.dst)
        |SELECT node AS part, floor(pr*(SELECT n FROM nn)*10000 + 0.5)/10000 AS pr_x_n
        |FROM r3 ORDER BY pr_x_n DESC, part LIMIT 20""".stripMargin,
    "q99_substring_dedup" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
        |g AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
        |      FROM t, unnest(range(1, len(toks) - 6)) AS u(i) WHERE len(toks) >= 8),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
        |w AS (SELECT doc_id, count(*) AS n_windows FROM g GROUP BY doc_id),
        |h AS (SELECT doc_id, count(*) AS n_dup FROM g
        |      WHERE gram IN (SELECT gram FROM dup) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(w.n_windows, 0) AS BIGINT) AS n_windows,
        |  CAST(coalesce(h.n_dup, 0) AS BIGINT) AS n_dup_windows,
        |  floor(coalesce(CAST(h.n_dup AS DOUBLE)/w.n_windows, 0)*10000 + 0.5)/10000 AS dup_fraction,
        |  coalesce(CAST(h.n_dup AS DOUBLE)/w.n_windows, 0) > 0.5 AS flagged
        |FROM documents d LEFT JOIN w USING (doc_id) LEFT JOIN h USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q67_winnowing" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
        |sh AS (SELECT doc_id, i, array_to_string(toks[i:i+2], ' ') AS gram
        |       FROM t, unnest(range(1, len(toks) - 1)) AS u(i) WHERE len(toks) >= 3),
        |h AS (SELECT doc_id, i, ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h,
        |        count(*) OVER (PARTITION BY doc_id) AS n_sh FROM sh),
        |wm AS (SELECT doc_id, i, n_sh,
        |        min(h) OVER (PARTITION BY doc_id ORDER BY i
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |       FROM h),
        |fps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE i <= n_sh - 3),
        |c AS (SELECT doc_id, fp FROM
        |        (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps)
        |      WHERE df <= 100)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
        |FROM c a JOIN c b USING (fp)
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q66_decontamination" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
        |g AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
        |      FROM t, unnest(range(1, len(toks) - 6)) AS u(i) WHERE len(toks) >= 8),
        |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
        |h AS (SELECT doc_id, count(*) AS n_hits FROM g
        |      WHERE gram IN (SELECT gram FROM b) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
        |  h.doc_id IS NOT NULL AS contaminated
        |FROM documents d LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q148_calibrated_curation" ->
      """WITH scored AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(regexp_extract_all(text,'\S+')) AS BIGINT) AS n_tok,
        |    floor(((1 - CAST(len(list_filter(regexp_extract_all(text,'\S+'),
        |             x -> x IN ('the','a','and','of','to'))) AS DOUBLE)
        |             / len(regexp_extract_all(text,'\S+')))
        |           * least(1.0, len(regexp_extract_all(text,'\S+'))/50.0))*10000 + 0.5)/10000 AS quality
        |  FROM documents
        |  WHERE len(regexp_extract_all(text,'\S+')) > 0),
        |cuts AS (
        |  SELECT lang, source, quantile_cont(quality, 0.75) AS cut,
        |         count(*) AS n_total
        |  FROM scored GROUP BY lang, source)
        |SELECT s.lang, s.source,
        |  floor(c.cut*10000 + 0.5)/10000 AS cutoff,
        |  c.n_total AS n_total,
        |  count(*) AS n_kept,
        |  floor((sum(CAST(s.n_tok AS DOUBLE)))*10000 + 0.5)/10000 AS kept_tokens,
        |  floor((avg(s.quality))*10000 + 0.5)/10000 AS avg_quality_kept
        |FROM scored s JOIN cuts c USING (lang, source)
        |WHERE s.quality >= c.cut
        |GROUP BY s.lang, s.source, c.cut, c.n_total
        |ORDER BY s.lang, s.source""".stripMargin,
    "q149_token_budget" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text,'\S+')) AS BIGINT) AS n_tok,
        |    md5(CAST(doc_id AS VARCHAR)) AS priority
        |  FROM documents
        |  WHERE len(regexp_extract_all(text,'\S+')) > 0),
        |c AS (
        |  SELECT *, sum(n_tok) OVER (PARTITION BY source
        |    ORDER BY priority, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM s)
        |SELECT source, doc_id, n_tok, priority
        |FROM c WHERE cum <= 600 ORDER BY source, priority""".stripMargin,
    "q48_corpus_curation" ->
      """WITH t AS (
        |  SELECT doc_id, source, lang,
        |    len(regexp_extract_all(text,'\S+')) AS n_tok,
        |    len(list_filter(regexp_extract_all(text,'\S+'),
        |        x -> x IN ('the','a','and','of','to'))) AS n_stop,
        |    md5(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS fp
        |  FROM documents),
        |k AS (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep FROM t),
        |q AS (SELECT doc_id, source, lang, n_tok,
        |        floor(((1 - CAST(n_stop AS DOUBLE)/n_tok) * least(1.0, n_tok/50.0))*10000 + 0.5)/10000 AS quality
        |      FROM k WHERE doc_id = keep AND n_tok > 0)
        |SELECT source, count(*) AS n_docs,
        |  floor((sum(CAST(n_tok AS DOUBLE)))*10000 + 0.5)/10000 AS total_tokens,
        |  floor((avg(quality))*10000 + 0.5)/10000 AS avg_quality
        |FROM q WHERE lang = 'en' AND quality >= 0.3
        |GROUP BY source ORDER BY source""".stripMargin,
    "q32_fingerprint" ->
      """WITH t AS (SELECT doc_id, md5(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS fp FROM documents)
        |SELECT fp, count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM t GROUP BY fp ORDER BY fp""".stripMargin,
    "q33_dedup_exact" ->
      """WITH t AS (SELECT doc_id, md5(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS fp FROM documents),
        |k AS (SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS keep FROM t)
        |SELECT doc_id, fp FROM k WHERE doc_id = keep ORDER BY doc_id""".stripMargin,
    "q34_token_regex" ->
      """WITH t AS (SELECT source, len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe FROM documents)
        |SELECT source, count(*) AS n_docs, floor((avg(n_bpe))*10000 + 0.5)/10000 AS avg_bpe_tokens,
        | floor((sum(CAST(n_bpe AS DOUBLE)))*10000 + 0.5)/10000 AS total_bpe_tokens
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "q42_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, list_distinct(regexp_extract_all(text,'\S+')) AS tok FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | floor((CAST(len(list_intersect(a.tok,b.tok)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.tok,b.tok))))*10000 + 0.5)/10000 AS jaccard
        |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1 ORDER BY doc_a""".stripMargin,
    "q50_embedding_stats" ->
      """WITH t AS (SELECT label, sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*x))) AS nrm FROM embeddings)
        |SELECT label, count(*) AS n_vecs, floor((avg(nrm))*10000 + 0.5)/10000 AS avg_norm,
        | floor((min(nrm))*10000 + 0.5)/10000 AS min_norm, floor((max(nrm))*10000 + 0.5)/10000 AS max_norm
        |FROM t GROUP BY label ORDER BY label""".stripMargin,
    "q51_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
        | c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 3),
        | s AS (SELECT qid, cid,
        |   list_sum(list_transform(list_zip(qe,ce), z -> CAST(z[1] AS DOUBLE)*z[2])) AS cos
        |   FROM q, c),
        | r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk FROM s)
        |SELECT qid, cid, rk, floor((cos)*10000 + 0.5)/10000 AS cosine FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "q267_ann_filtered" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
        | c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 3 AND label % 2 = 1),
        | s AS (SELECT qid, cid,
        |   list_sum(list_transform(list_zip(qe,ce), z -> CAST(z[1] AS DOUBLE)*z[2])) AS cos
        |   FROM q, c),
        | r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk FROM s)
        |SELECT qid, cid, rk, floor((cos)*10000 + 0.5)/10000 AS cosine FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "q269_mor_read" ->
      """WITH b0 AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'),
        |b AS (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM b0 WHERE rn = 1),
        |l0 AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |    CASE WHEN o_orderstatus = 'F' THEN 'delete' ELSE 'upsert' END AS op,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC,
        |               (o_orderstatus <> 'F') DESC) AS rn
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'),
        |w AS (SELECT * FROM l0 WHERE rn = 1),
        |merged AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM w WHERE op <> 'delete'
        |  UNION ALL
        |  SELECT b.o_custkey, b.o_orderkey, b.o_orderdate, b.o_totalprice FROM b
        |  WHERE NOT EXISTS (SELECT 1 FROM w WHERE w.o_custkey = b.o_custkey))
        |SELECT o_custkey, o_orderkey AS cur_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS cur_date,
        |  o_totalprice AS cur_price
        |FROM merged ORDER BY o_custkey""".stripMargin,
    "q270_hybrid_search" ->
      """WITH toks AS (
        |  SELECT doc_id, t.tok FROM documents,
        |    LATERAL unnest(string_split(text, ' ')) AS t(tok)
        |  WHERE length(t.tok) > 0),
        |qt AS (SELECT DISTINCT doc_id AS qid, tok FROM toks WHERE doc_id < 3),
        |ct AS (SELECT doc_id, tok FROM toks WHERE doc_id >= 3),
        |dl AS (SELECT doc_id, count(*) AS dl FROM ct GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM ct
        |       WHERE tok IN (SELECT tok FROM qt) GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |ls AS (
        |  SELECT qt.qid, tf.doc_id AS cid,
        |    floor(sum(ln((st.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0) * tf.tf * 2.2
        |      / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl)))*10000 + 0.5)/10000 AS s_lex
        |  FROM tf JOIN qt ON tf.tok = qt.tok JOIN df ON tf.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  GROUP BY 1, 2),
        |lex AS (SELECT qid, cid, rk_lex FROM (
        |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY s_lex DESC, cid) AS rk_lex FROM ls)
        |  WHERE rk_lex <= 10),
        |qv AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
        |cv AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 3),
        |vs AS (SELECT qid, cid,
        |  list_sum(list_transform(list_zip(qe,ce), z -> CAST(z[1] AS DOUBLE)*z[2])) AS cos FROM qv, cv),
        |vec AS (SELECT qid, cid, rk_vec FROM (
        |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk_vec FROM vs)
        |  WHERE rk_vec <= 10),
        |fused AS (
        |  SELECT coalesce(lex.qid, vec.qid) AS qid, coalesce(lex.cid, vec.cid) AS cid,
        |    lex.rk_lex, vec.rk_vec,
        |    coalesce(1.0/(60 + lex.rk_lex), 0) + coalesce(1.0/(60 + vec.rk_vec), 0) AS rrf
        |  FROM lex FULL OUTER JOIN vec ON lex.qid = vec.qid AND lex.cid = vec.cid),
        |r AS (SELECT qid, cid, rk_lex, rk_vec, rrf,
        |  row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cid) AS rk FROM fused)
        |SELECT qid, rk, cid, coalesce(rk_lex, 0) AS rk_lex, coalesce(rk_vec, 0) AS rk_vec,
        |  floor(rrf*10000 + 0.5)/10000 AS rrf_score
        |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "q271_er_report" ->
      """WITH r AS (SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part),
        |bc AS (SELECT p_name, count(*) AS blk_n FROM r GROUP BY 1),
        |b AS (SELECT r.*, CASE WHEN bc.blk_n > 64 THEN r.p_name || '|' || r.p_brand ELSE r.p_name END AS blk
        |      FROM r JOIN bc USING (p_name)),
        |p AS (
        |  SELECT a.p_name, a.blk,
        |    (CASE WHEN a.p_type = b2.p_type THEN 5 ELSE 0 END
        |     + CASE WHEN abs(a.p_size - b2.p_size) <= 1 THEN 3 ELSE 0 END
        |     + CASE WHEN abs(a.p_retailprice - b2.p_retailprice) <= 50.0 THEN 2 ELSE 0 END) AS points
        |  FROM b a JOIN b b2 ON a.blk = b2.blk AND a.p_partkey < b2.p_partkey)
        |SELECT p_name, count(DISTINCT blk) AS n_blocks, count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN points >= 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  floor((sum(CASE WHEN points >= 7 THEN 1 ELSE 0 END)/CAST(count(*) AS DOUBLE))*10000 + 0.5)/10000 AS match_rate
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q142_concentration" ->
      """WITH rev AS (
        |  SELECT c.c_nationkey, c.c_custkey, CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_nationkey, c.c_custkey),
        |tot AS (SELECT c_nationkey, sum(rev) AS tot FROM rev GROUP BY c_nationkey)
        |SELECT r.c_nationkey, count(*) AS n_customers,
        |  floor(sum((r.rev/t.tot)*(r.rev/t.tot))*10000 + 0.5)/10000 AS hhi,
        |  floor(max(r.rev/t.tot)*10000 + 0.5)/10000 AS top_share
        |FROM rev r JOIN tot t USING (c_nationkey)
        |GROUP BY r.c_nationkey ORDER BY r.c_nationkey""".stripMargin,
    "q143_calendar_rollup" ->
      """WITH e AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS h,
        |         strftime(ts, '%Y-%m-%d') AS d,
        |         strftime(ts, '%Y-%m') AS m,
        |         value
        |  FROM events)
        |SELECT CAST(GROUPING(h, d, m) AS BIGINT) AS gid,
        |       h AS hour, d AS day, m AS month,
        |       count(*) AS n_events,
        |       floor((sum(value))*10000 + 0.5)/10000 AS revenue
        |FROM e
        |GROUP BY GROUPING SETS ((h), (d), (m))
        |ORDER BY gid, hour, day, month""".stripMargin,
    "q141_bpe_pairs" ->
      """WITH words AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(regexp_extract_all(lower(text),'\S+')) AS w FROM documents)
        |  GROUP BY w),
        |pairs AS (
        |  SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
        |  FROM words, unnest(range(1, length(w))) AS t(i)
        |  WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
        |FROM pairs GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "q136_moving_avg" ->
      """WITH daily AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, sum(value) AS revenue
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT day, floor(revenue*10000 + 0.5)/10000 AS revenue,
        |  floor(avg(revenue) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |        *10000 + 0.5)/10000 AS ma_7d,
        |  count(*) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS days_in_frame
        |FROM daily ORDER BY day""".stripMargin,
    "q137_topk_ties" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS BIGINT) AS rnk,
        |  floor(o_totalprice*10000 + 0.5)/10000 AS price
        |FROM orders
        |QUALIFY rnk <= 3
        |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin,
    "q138_bounce_rate" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |l AS (SELECT user_id, us,
        |        lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev_us FROM e),
        |s AS (SELECT user_id, us,
        |        CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS ns
        |      FROM l),
        |s2 AS (SELECT user_id, us,
        |         sum(ns) OVER (PARTITION BY user_id ORDER BY us
        |                       ROWS UNBOUNDED PRECEDING) AS sid FROM s),
        |sess AS (SELECT user_id, sid, min(us) AS start_us, count(*) AS n_events
        |         FROM s2 GROUP BY user_id, sid)
        |SELECT strftime(make_timestamp(start_us), '%Y-%m-%d') AS day,
        |  count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
        |  floor(sum(CASE WHEN n_events = 1 THEN 1.0 ELSE 0.0 END)/count(*)*10000 + 0.5)/10000 AS bounce_rate
        |FROM sess GROUP BY 1 ORDER BY day""".stripMargin,
    "q139_weighted_percentile" ->
      """WITH ex AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    unnest(generate_series(1, CAST(l_quantity AS INT))) AS i
        |  FROM lineitem),
        |w AS (
        |  SELECT l_returnflag,
        |    floor(quantile_cont(l_extendedprice, 0.5)*10000 + 0.5)/10000 AS wp50,
        |    floor(quantile_cont(l_extendedprice, 0.9)*10000 + 0.5)/10000 AS wp90
        |  FROM ex GROUP BY l_returnflag),
        |u AS (
        |  SELECT l_returnflag,
        |    floor(quantile_cont(l_extendedprice, 0.5)*10000 + 0.5)/10000 AS p50_unweighted,
        |    count(*) AS n_rows
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT w.l_returnflag, w.wp50, w.wp90, u.p50_unweighted, u.n_rows
        |FROM w JOIN u USING (l_returnflag) ORDER BY l_returnflag""".stripMargin,
    "q150_global_rownum" ->
      """SELECT CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn,
        |  o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice
        |FROM orders ORDER BY rn""".stripMargin,
    "q151_bloom_join" ->
      """SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS order_month,
        |  count(*) AS n_lines,
        |  floor(sum(l.l_extendedprice*(1-l.l_discount))*10000 + 0.5)/10000 AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'O'
        |GROUP BY 1 ORDER BY order_month""".stripMargin,
    "q152_decay_attribution" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS c_us FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS p_us, event_id AS purchase_id, value
        |      FROM events WHERE event_type = 'purchase'),
        |pairs AS (
        |  SELECT c.user_id, c.c_us, p.purchase_id, p.p_us, p.value,
        |    power(0.5, (p.p_us - c.c_us) / 900000000.0) AS w
        |  FROM c JOIN p ON c.user_id = p.user_id
        |   AND p.p_us >= c.c_us AND p.p_us < c.c_us + 3600000000),
        |wp AS (
        |  SELECT c_us, purchase_id, value, w,
        |    sum(w) OVER (PARTITION BY purchase_id) AS sw
        |  FROM pairs)
        |SELECT strftime(make_timestamp(c_us), '%Y-%m-%d') AS click_day,
        |  count(*) AS n_touches,
        |  count(DISTINCT purchase_id) AS n_purchases,
        |  floor(sum(value*w/sw)*10000 + 0.5)/10000 AS attributed_revenue
        |FROM wp GROUP BY 1 ORDER BY click_day""".stripMargin,
    "q153_rfm" ->
      """WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS d FROM orders),
        |rfm AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', max(CAST(o_orderdate AS DATE)), (SELECT d FROM mx)) AS BIGINT)
        |      AS recency_days,
        |    count(*) AS frequency,
        |    floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS monetary
        |  FROM orders GROUP BY o_custkey),
        |scored AS (
        |  SELECT *,
        |    CAST(ntile(5) OVER (ORDER BY -recency_days, o_custkey) AS INTEGER) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS INTEGER) AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY monetary, o_custkey) AS INTEGER) AS m_score
        |  FROM rfm)
        |SELECT r_score, f_score, m_score, count(*) AS n_customers,
        |  floor(CAST(sum(CAST(monetary AS DECIMAL(28,4))) AS DOUBLE)*10000 + 0.5)/10000
        |    AS segment_revenue,
        |  floor(avg(recency_days)*10000 + 0.5)/10000 AS avg_recency_days
        |FROM scored GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score""".stripMargin,
    "q154_skew_audit" ->
      """WITH pk AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        |g AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_rows, count(*) AS total_keys,
        |             max(cnt) AS max_cnt FROM pk),
        |h AS (
        |  SELECT CAST(length(bin(cnt)) - 1 AS INTEGER) AS bucket,
        |    count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows, max(cnt) AS max_count
        |  FROM pk GROUP BY 1)
        |SELECT h.bucket, h.n_keys, h.n_rows, h.max_count,
        |  floor(h.n_rows / CAST(g.total_rows AS DOUBLE) * 100 * 10000 + 0.5)/10000 AS rows_pct,
        |  floor(g.max_cnt / CAST(g.total_rows AS DOUBLE) * 100 * 10000 + 0.5)/10000 AS hot_key_pct,
        |  CAST(ceil(g.max_cnt / 4000000.0) AS BIGINT) AS rec_salt
        |FROM h, g ORDER BY bucket""".stripMargin,
    "q155_revenue_trend" ->
      """WITH m AS (
        |  SELECT c.c_nationkey,
        |    CAST((year(o.o_orderdate) - 1995) * 12 + month(o.o_orderdate) AS DOUBLE) AS month_idx,
        |    CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2)
        |SELECT c_nationkey, count(*) AS n_months,
        |  floor(regr_slope(rev, month_idx)*10000 + 0.5)/10000 AS slope,
        |  floor(regr_intercept(rev, month_idx)*10000 + 0.5)/10000 AS intercept,
        |  floor(regr_r2(rev, month_idx)*10000 + 0.5)/10000 AS r2
        |FROM m GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q156_top_supplier" ->
      """WITH r AS (
        |  SELECT l_suppkey,
        |    floor(sum(l_extendedprice*(1-l_discount))*10000 + 0.5)/10000 AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey),
        |m AS (SELECT max(total_revenue) AS mr FROM r)
        |SELECT s.s_suppkey, s.s_name, r.total_revenue
        |FROM r, m, supplier s
        |WHERE r.total_revenue = m.mr AND r.l_suppkey = s.s_suppkey
        |ORDER BY s.s_suppkey""".stripMargin,
    "q157_approx_groupby" ->
      """SELECT o_orderpriority, count(*) AS n_sampled,
        |  floor(count(*) / 0.25 * 10000 + 0.5)/10000 AS est_count,
        |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 0.25 * 10000 + 0.5)/10000 AS est_revenue,
        |  floor(sqrt(sum(o_totalprice*o_totalprice) * 12.0) * 10000 + 0.5)/10000 AS stderr_revenue
        |FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q158_null_aware_anti" ->
      """WITH probe AS (SELECT nullif(s_nationkey, 3) AS k FROM supplier),
        |a AS (SELECT count(*) AS n FROM customer
        |      WHERE c_nationkey NOT IN (SELECT k FROM probe)),
        |b AS (SELECT count(*) AS n FROM customer
        |      WHERE c_nationkey NOT IN (SELECT k FROM probe WHERE k IS NOT NULL))
        |SELECT 'ansi_not_in' AS variant, n AS n_customers FROM a
        |UNION ALL SELECT 'null_stripped' AS variant, n AS n_customers FROM b
        |ORDER BY variant""".stripMargin,
    "q159_listagg" ->
      """WITH r AS (
        |  SELECT c_nationkey, c_name, c_acctbal, c_custkey,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer)
        |SELECT c_nationkey, count(*) AS n_top,
        |  string_agg(c_name, ',' ORDER BY rnk) AS top_names,
        |  floor(sum(c_acctbal)*10000 + 0.5)/10000 AS top_balance
        |FROM r WHERE rnk <= 3 GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q166_neyman_sample" ->
      """WITH s AS (
        |  SELECT doc_id, source, CAST(length(text) AS DOUBLE) AS x,
        |    md5(CAST(doc_id AS VARCHAR)) AS priority
        |  FROM documents),
        |st AS (SELECT source, count(*) AS n_pop, stddev_pop(x) AS sigma FROM s GROUP BY source),
        |tw AS (SELECT sum(n_pop * sigma) AS tw FROM st),
        |al AS (
        |  SELECT source, n_pop, sigma,
        |    least(n_pop, CAST(floor(
        |      100 * (floor(n_pop * sigma / tw.tw * 10000 + 0.5)/10000) + 0.5) AS BIGINT))
        |      AS n_alloc
        |  FROM st, tw),
        |r AS (
        |  SELECT source, x,
        |    row_number() OVER (PARTITION BY source ORDER BY priority, doc_id) AS rk
        |  FROM s)
        |SELECT r.source AS source, al.n_pop,
        |  floor(al.sigma*10000 + 0.5)/10000 AS sigma,
        |  al.n_alloc, count(*) AS n_selected,
        |  floor(avg(r.x)*10000 + 0.5)/10000 AS avg_chars_selected
        |FROM r JOIN al ON r.source = al.source
        |WHERE r.rk <= al.n_alloc
        |GROUP BY r.source, al.n_pop, al.sigma, al.n_alloc
        |ORDER BY r.source""".stripMargin,
    "q167_interpolate" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us FROM events),
        |nb AS (
        |  SELECT user_id, event_id, event_type, us,
        |    last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_v,
        |    last_value(CASE WHEN event_type = 'purchase' THEN us END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_us,
        |    first_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_v,
        |    first_value(CASE WHEN event_type = 'purchase' THEN us END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_us
        |  FROM e),
        |it AS (
        |  SELECT user_id, event_type,
        |    CASE WHEN event_type <> 'purchase' THEN
        |      CASE WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
        |        THEN prev_v + (next_v - prev_v) *
        |          ((us - prev_us) / CAST(next_us - prev_us AS DOUBLE))
        |        ELSE COALESCE(prev_v, next_v) END
        |    END AS interp
        |  FROM nb)
        |SELECT user_id,
        |  count(*) AS n_events,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_knots,
        |  count(interp) AS n_interpolated,
        |  floor(avg(interp)*10000 + 0.5)/10000 AS avg_interp
        |FROM it GROUP BY user_id
        |HAVING count(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
        |ORDER BY user_id""".stripMargin,
    "q168_markov_matrix" ->
      """WITH tr AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events),
        |tc AS (SELECT src, dst, count(*) AS c FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2),
        |ty AS (SELECT DISTINCT event_type FROM events),
        |grid AS (SELECT a.event_type AS src, b.event_type AS dst FROM ty a CROSS JOIN ty b),
        |dense AS (
        |  SELECT g.src, g.dst, CAST(COALESCE(tc.c, 0) AS BIGINT) AS n
        |  FROM grid g LEFT JOIN tc ON g.src = tc.src AND g.dst = tc.dst),
        |tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot FROM dense GROUP BY src),
        |k AS (SELECT count(*) AS k FROM ty)
        |SELECT d.src, d.dst, d.n,
        |  floor((d.n + 1.0) / (t.tot + 1.0 * k.k) * 10000 + 0.5)/10000 AS p
        |FROM dense d JOIN tot t ON d.src = t.src CROSS JOIN k
        |ORDER BY d.src, d.dst""".stripMargin,
    "q171_ab_welch" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS rev,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm
        |  FROM events GROUP BY user_id),
        |ag AS (
        |  SELECT
        |    count(CASE WHEN arm = 'A' THEN 1 END) AS n_a,
        |    count(CASE WHEN arm = 'B' THEN 1 END) AS n_b,
        |    avg(CASE WHEN arm = 'A' THEN rev END) AS ma,
        |    avg(CASE WHEN arm = 'B' THEN rev END) AS mb,
        |    var_samp(CASE WHEN arm = 'A' THEN rev END) AS va,
        |    var_samp(CASE WHEN arm = 'B' THEN rev END) AS vb
        |  FROM pu)
        |SELECT n_a, n_b,
        |  floor(ma*10000 + 0.5)/10000 AS mean_a,
        |  floor(mb*10000 + 0.5)/10000 AS mean_b,
        |  floor((ma - mb) / sqrt(va / n_a + vb / n_b) * 10000 + 0.5)/10000 AS t_stat,
        |  floor(power(va / n_a + vb / n_b, 2)
        |    / (power(va / n_a, 2) / (n_a - 1) + power(vb / n_b, 2) / (n_b - 1))
        |    * 10000 + 0.5)/10000 AS welch_df
        |FROM ag""".stripMargin,
    "q172_sla_compliance" ->
      """SELECT o.o_orderpriority,
        |  count(*) AS n_lines,
        |  floor(quantile_cont(date_diff('day', CAST(o.o_orderdate AS DATE),
        |    CAST(l.l_shipdate AS DATE)), 0.5)*10000 + 0.5)/10000 AS p50_delay,
        |  floor(quantile_cont(date_diff('day', CAST(o.o_orderdate AS DATE),
        |    CAST(l.l_shipdate AS DATE)), 0.9)*10000 + 0.5)/10000 AS p90_delay,
        |  floor(avg(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
        |    CAST(l.l_shipdate AS DATE)) <= 30 THEN 1.0 ELSE 0.0 END) * 100 * 10000 + 0.5)/10000
        |    AS pct_within_sla
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin,
    "q170_quantile_normalize" ->
      """WITH s AS (
        |  SELECT doc_id, source, CAST(length(text) AS DOUBLE) AS x FROM documents),
        |g AS (SELECT x AS gx, row_number() OVER (ORDER BY x, doc_id) AS gr FROM s),
        |n AS (SELECT count(*) AS nn FROM s),
        |h AS (SELECT source, count(*) AS nh FROM s GROUP BY source),
        |r AS (
        |  SELECT source, x,
        |    row_number() OVER (PARTITION BY source ORDER BY x, doc_id) AS rk
        |  FROM s),
        |m AS (
        |  SELECT r.source, r.x,
        |    least(n.nn, greatest(1,
        |      CAST(floor((r.rk - 0.5) / h.nh * n.nn) AS BIGINT) + 1)) AS tr
        |  FROM r JOIN h ON r.source = h.source CROSS JOIN n)
        |SELECT m.source, count(*) AS n_docs,
        |  floor(avg(m.x)*10000 + 0.5)/10000 AS avg_raw,
        |  floor(avg(g.gx)*10000 + 0.5)/10000 AS avg_normalized
        |FROM m JOIN g ON m.tr = g.gr
        |GROUP BY m.source ORDER BY m.source""".stripMargin,
    "q169_contribution" ->
      """WITH nr AS (
        |  SELECT c.c_nationkey,
        |    floor(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS revenue
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_nationkey),
        |nn AS (
        |  SELECT n.n_name, n.n_regionkey, nr.revenue
        |  FROM nr JOIN nation n ON nr.c_nationkey = n.n_nationkey),
        |rr AS (SELECT n_regionkey, sum(revenue) AS region_revenue FROM nn GROUP BY 1),
        |g AS (SELECT sum(revenue) AS global_revenue FROM nn)
        |SELECT re.r_name, nn.n_name, nn.revenue,
        |  floor(nn.revenue / rr.region_revenue * 100 * 10000 + 0.5)/10000 AS pct_of_region,
        |  floor(nn.revenue / g.global_revenue * 100 * 10000 + 0.5)/10000 AS pct_of_global
        |FROM nn JOIN rr ON nn.n_regionkey = rr.n_regionkey
        |CROSS JOIN g JOIN region re ON nn.n_regionkey = re.r_regionkey
        |ORDER BY re.r_name, nn.n_name""".stripMargin,
    "q164_reset_cumsum" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value,
        |    CAST(COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS epoch
        |  FROM events)
        |SELECT user_id, epoch,
        |  count(*) AS n_events,
        |  floor(sum(CASE WHEN event_type <> 'purchase' THEN value ELSE 0 END)*10000 + 0.5)/10000
        |    AS browse_value,
        |  CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INTEGER) AS converted
        |FROM e GROUP BY 1, 2 ORDER BY user_id, epoch""".stripMargin,
    "q165_daily_churn" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |y AS (SELECT d + 1 AS d, user_id AS y_user FROM du)
        |SELECT strftime(COALESCE(du.d, y.d), '%Y-%m-%d') AS day,
        |  count(CASE WHEN du.user_id IS NOT NULL AND y.y_user IS NOT NULL THEN 1 END) AS retained,
        |  count(CASE WHEN du.user_id IS NOT NULL AND y.y_user IS NULL THEN 1 END) AS gained,
        |  count(CASE WHEN du.user_id IS NULL AND y.y_user IS NOT NULL THEN 1 END) AS lost
        |FROM du FULL OUTER JOIN y ON du.d = y.d AND du.user_id = y.y_user
        |GROUP BY 1 ORDER BY day""".stripMargin,
    "q35_lang_id" ->
      """WITH toks AS (
        |  SELECT doc_id, lang AS labeled_lang, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id, labeled_lang, s.lang AS cand,
        |    CAST(len(list_filter(tk, t -> list_contains(s.markers, t))) AS DOUBLE)
        |      / greatest(len(tk), 1) AS score
        |  FROM toks CROSS JOIN (
        |    SELECT * FROM (VALUES
        |      ('en', ['the','and','of','to','in','is']),
        |      ('de', ['der','die','und','das','ist','nicht']),
        |      ('fr', ['le','les','et','des','une','est']),
        |      ('es', ['el','los','y','las','una','es']),
        |      ('zh', ['de5','shi4','bu4','le5','zai4','ren2'])) v(lang, markers)) s)
        |SELECT doc_id, labeled_lang, cand AS pred_lang,
        |  floor(score * 10000 + 0.5)/10000 AS best_score
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand DESC) AS rn
        |      FROM scores)
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "q120_prefix_join" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, s.sh
        |  FROM toks, unnest(list_transform(range(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s(sh)
        |  WHERE len(tk) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b,
        |  floor(i.common / CAST(sa.sz + sb.sz - i.common AS DOUBLE) * 10000 + 0.5)/10000 AS jaccard
        |FROM inter i
        |JOIN sizes sa ON i.doc_a = sa.doc_id
        |JOIN sizes sb ON i.doc_b = sb.doc_id
        |WHERE i.common / CAST(sa.sz + sb.sz - i.common AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q201_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, s.sh
        |  FROM toks, unnest(list_transform(range(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s(sh)
        |  WHERE len(tk) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |rare AS (
        |  SELECT doc_id, sh FROM (
        |    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh)
        |  WHERE df <= 200),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, sa.sz AS sz_a, sb.sz AS sz_b, i.common,
        |  floor(i.common / CAST(sa.sz AS DOUBLE) * 10000 + 0.5)/10000 AS c_ab,
        |  floor(i.common / CAST(sb.sz AS DOUBLE) * 10000 + 0.5)/10000 AS c_ba
        |FROM inter i
        |JOIN sizes sa ON i.doc_a = sa.doc_id
        |JOIN sizes sb ON i.doc_b = sb.doc_id
        |WHERE greatest(i.common / CAST(sa.sz AS DOUBLE), i.common / CAST(sb.sz AS DOUBLE)) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q163_rrf_fusion" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
        |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 3),
        |dims AS (SELECT unnest(range(1, (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i),
        |scored AS (
        |  SELECT qid, cid,
        |    sum(CASE WHEN d.i <= least(len(qe), len(ce))
        |        THEN CAST(qe[d.i] AS DOUBLE) * CAST(ce[d.i] AS DOUBLE) ELSE 0 END) AS s_full,
        |    sum(CASE WHEN d.i <= least(8, len(qe), len(ce))
        |        THEN CAST(qe[d.i] AS DOUBLE) * CAST(ce[d.i] AS DOUBLE) ELSE 0 END) AS s_cheap
        |  FROM q CROSS JOIN c CROSS JOIN dims d
        |  GROUP BY qid, cid),
        |ranked AS (
        |  SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY s_full DESC, cid) AS rk_full,
        |    row_number() OVER (PARTITION BY qid ORDER BY s_cheap DESC, cid) AS rk_cheap
        |  FROM scored),
        |fused AS (
        |  SELECT qid, cid, rk_full, rk_cheap,
        |    (CASE WHEN rk_full <= 10 THEN CAST(1 AS DOUBLE)/(60 + rk_full) ELSE 0 END +
        |     CASE WHEN rk_cheap <= 10 THEN CAST(1 AS DOUBLE)/(60 + rk_cheap) ELSE 0 END) AS rrf
        |  FROM ranked),
        |top AS (
        |  SELECT qid, cid, rk_full, rk_cheap, rrf,
        |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cid) AS rk
        |  FROM fused WHERE rrf > 0)
        |SELECT qid, rk, cid, rk_full, rk_cheap,
        |  floor(rrf*10000 + 0.5)/10000 AS rrf_score
        |FROM top WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "q239_lang_confusion" ->
      """WITH toks AS (
        |  SELECT doc_id, lang AS labeled_lang, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id, labeled_lang, s.lang AS cand,
        |    CAST(len(list_filter(tk, t -> list_contains(s.markers, t))) AS DOUBLE)
        |      / greatest(len(tk), 1) AS score
        |  FROM toks CROSS JOIN (
        |    SELECT * FROM (VALUES
        |      ('en', ['the','and','of','to','in','is']),
        |      ('de', ['der','die','und','das','ist','nicht']),
        |      ('fr', ['le','les','et','des','une','est']),
        |      ('es', ['el','los','y','las','una','es']),
        |      ('zh', ['de5','shi4','bu4','le5','zai4','ren2'])) v(lang, markers)) s),
        |preds AS (
        |  SELECT labeled_lang, cand AS pred_lang
        |  FROM (SELECT labeled_lang, cand,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand DESC) AS rn
        |        FROM scores) WHERE rn = 1),
        |cells AS (
        |  SELECT labeled_lang, pred_lang, count(*) AS n FROM preds GROUP BY 1, 2),
        |labels AS (SELECT DISTINCT labeled_lang AS l FROM preds),
        |pdom AS (
        |  SELECT l FROM labels UNION SELECT DISTINCT pred_lang FROM preds),
        |grid AS (
        |  SELECT labels.l AS labeled_lang, pdom.l AS pred_lang FROM labels CROSS JOIN pdom),
        |totals AS (SELECT labeled_lang, sum(n) AS n_label FROM cells GROUP BY 1),
        |acc AS (
        |  SELECT floor(sum(CASE WHEN labeled_lang = pred_lang THEN n ELSE 0 END)
        |    / CAST(sum(n) AS DOUBLE) * 10000 + 0.5)/10000 AS accuracy FROM cells)
        |SELECT g.labeled_lang, g.pred_lang,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n,
        |  floor(coalesce(c.n, 0) / CAST(t.n_label AS DOUBLE) * 10000 + 0.5)/10000 AS frac_of_label,
        |  acc.accuracy
        |FROM grid g
        |LEFT JOIN cells c USING (labeled_lang, pred_lang)
        |JOIN totals t USING (labeled_lang)
        |CROSS JOIN acc
        |ORDER BY labeled_lang, pred_lang""".stripMargin,
    "q162_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |tot AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        |pair AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, ta.n AS n_a, tb.n AS n_b, p.n_both,
        |  floor(p.n_both / CAST(ta.n + tb.n - p.n_both AS DOUBLE) * 10000 + 0.5)/10000
        |    AS jaccard
        |FROM pair p
        |JOIN tot ta ON p.type_a = ta.event_type
        |JOIN tot tb ON p.type_b = tb.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    "q161_length_drift" ->
      """WITH cells AS (
        |  SELECT source, CAST(least(floor(length(text) / 200), 9) AS INTEGER) AS bin,
        |    count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |ref AS (SELECT bin, sum(c) AS rc FROM cells GROUP BY bin),
        |spine AS (
        |  SELECT s.source, b.bin
        |  FROM (SELECT DISTINCT source FROM cells) s
        |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) b),
        |dense AS (
        |  SELECT sp.source, sp.bin,
        |    COALESCE(c.c, 0) + 0.5 AS sc,
        |    COALESCE(r.rc, 0) + 0.5 AS rc
        |  FROM spine sp
        |  LEFT JOIN cells c ON sp.source = c.source AND sp.bin = c.bin
        |  LEFT JOIN ref r ON sp.bin = r.bin),
        |t AS (SELECT source, sum(sc) AS sn, sum(rc) AS rn FROM dense GROUP BY source),
        |pq AS (
        |  SELECT d.source, d.sc/t.sn AS p, d.rc/t.rn AS q, d.sc - 0.5 AS c
        |  FROM dense d JOIN t ON d.source = t.source)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |  floor((sum(p * ln(p / ((p+q)/2))) + sum(q * ln(q / ((p+q)/2))))/2 * 10000 + 0.5)/10000
        |    AS js_divergence
        |FROM pq GROUP BY source ORDER BY source""".stripMargin,
    "q160_pct_rank_ref" ->
      """WITH n AS (SELECT count(*) AS n_ref FROM customer)
        |SELECT s.s_suppkey,
        |  CAST(s.s_acctbal AS DOUBLE) AS s_acctbal,
        |  CAST((SELECT count(*) FROM customer c WHERE c.c_acctbal < s.s_acctbal) AS BIGINT)
        |    AS n_ref_below,
        |  floor((SELECT count(*) FROM customer c WHERE c.c_acctbal < s.s_acctbal)
        |    / CAST(n.n_ref AS DOUBLE) * 10000 + 0.5)/10000 AS pct_rank
        |FROM supplier s, n ORDER BY s.s_suppkey""".stripMargin,
    "q135_linear_attribution" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS c_us FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS p_us, event_id AS purchase_id, value
        |      FROM events WHERE event_type = 'purchase'),
        |pairs AS (
        |  SELECT c.user_id, c.c_us, p.purchase_id, p.p_us, p.value
        |  FROM c JOIN p ON c.user_id = p.user_id
        |   AND p.p_us >= c.c_us AND p.p_us < c.c_us + 3600000000),
        |wpairs AS (
        |  SELECT c_us, purchase_id, value,
        |    count(*) OVER (PARTITION BY purchase_id) AS n_clicks
        |  FROM pairs)
        |SELECT strftime(make_timestamp(c_us), '%Y-%m-%d') AS click_day,
        |  count(*) AS n_touches,
        |  count(DISTINCT purchase_id) AS n_purchases,
        |  floor(sum(value/n_clicks)*10000 + 0.5)/10000 AS attributed_revenue
        |FROM wpairs GROUP BY 1 ORDER BY click_day""".stripMargin,
    "q132_order_count_dist" ->
      """WITH cc AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |SELECT c_count, count(*) AS n_customers
        |FROM cc GROUP BY c_count
        |ORDER BY n_customers DESC, c_count DESC""".stripMargin,
    "q133_rich_inactive" ->
      """WITH ab AS (SELECT floor(avg(c_acctbal)*10000 + 0.5)/10000 AS ab
        |            FROM customer WHERE c_acctbal > 0),
        |cut AS (SELECT floor(2.0*avg(o_totalprice)*10000 + 0.5)/10000 AS cut FROM orders),
        |big AS (SELECT DISTINCT o.o_custkey FROM orders o, cut WHERE o.o_totalprice > cut.cut)
        |SELECT c.c_nationkey, count(*) AS n_customers,
        |  floor(sum(c.c_acctbal)*10000 + 0.5)/10000 AS total_bal
        |FROM customer c CROSS JOIN ab
        |WHERE c.c_acctbal > ab.ab
        |  AND NOT EXISTS (SELECT 1 FROM big WHERE big.o_custkey = c.c_custkey)
        |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin,
    "q134_min_cost_supplier" ->
      """WITH mn AS (SELECT l_partkey, min(l_extendedprice) AS bp
        |            FROM lineitem GROUP BY l_partkey),
        |w AS (SELECT l.l_partkey, min(l.l_suppkey) AS s_suppkey, min(mn.bp) AS bp
        |      FROM lineitem l JOIN mn
        |        ON l.l_partkey = mn.l_partkey AND l.l_extendedprice = mn.bp
        |      GROUP BY l.l_partkey)
        |SELECT w.l_partkey, w.s_suppkey, s.s_name,
        |  floor(w.bp*10000 + 0.5)/10000 AS best_price
        |FROM w JOIN supplier s ON w.s_suppkey = s.s_suppkey
        |ORDER BY w.l_partkey""".stripMargin,
    "q147_waiting_supplier" ->
      """SELECT s.s_name, count(*) AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name LIMIT 20""".stripMargin,
    "q130_asof_forward" ->
      """SELECT e.event_id, e.user_id, p.value AS next_purchase_value
        |FROM events e
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max(value) AS value FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id, ts) p
        |  ON e.user_id = p.user_id AND e.ts <= p.ts
        |ORDER BY e.event_id""".stripMargin,
    "q131_dedup_keep_best" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |    len(regexp_extract_all(text,'\S+')) AS n_tok,
        |    len(list_filter(regexp_extract_all(text,'\S+'),
        |        x -> x IN ('the','a','and','of','to'))) AS n_stop
        |  FROM documents),
        |q AS (SELECT doc_id, fp,
        |    floor((1.0 - CAST(n_stop AS DOUBLE)/n_tok)
        |          * least(1.0, CAST(n_tok AS DOUBLE)/50.0)*10000 + 0.5)/10000 AS quality
        |  FROM scored WHERE n_tok > 0),
        |r AS (SELECT fp, doc_id, quality,
        |        row_number() OVER (PARTITION BY fp ORDER BY quality DESC, doc_id) AS rk,
        |        count(*) OVER (PARTITION BY fp) AS group_size
        |      FROM q)
        |SELECT fp, group_size, doc_id AS keep_doc, quality AS keep_quality
        |FROM r WHERE rk = 1 ORDER BY fp""".stripMargin,
    "q44_asof_join" ->
      """SELECT e.event_id, e.user_id, p.value AS last_purchase_value
        |FROM events e
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max(value) AS value FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id, ts) p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin,
    "q45_range_join" ->
      """SELECT a.user_id AS user_id, count(*) AS n_pairs,
        | count(DISTINCT b.event_id) AS n_purchases
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 60 MINUTE
        |GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q70_sink_ingest" ->
      """SELECT strftime(ts, '%Y%m%d') AS dt, count(*) AS n_rows
        |FROM events GROUP BY 1 ORDER BY dt""".stripMargin,
    "q62_feature_extract" ->
      // the real-codec path renders a per-doc PNG (always decodable, never
      // empty), box-resizes to 64x64 and emits an l1-normalized histogram:
      // every doc's feature mass is exactly 1.0 at 4dp
      """SELECT doc_id, 64 AS width_px, 64 AS height_px, 16 AS dims,
        | CAST(1.0 AS DOUBLE) AS feature_l1
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q60_multimodal_meta" ->
      """WITH t AS (SELECT source, octet_length(encode(text)) AS nb FROM documents)
        |SELECT source, count(*) AS n_docs, floor((avg(nb))*10000 + 0.5)/10000 AS avg_bytes,
        | floor((sum(CAST(nb AS DOUBLE)))*10000 + 0.5)/10000 AS total_bytes, CAST(max(nb) AS BIGINT) AS max_bytes
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "q287_position_attribution" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS c_us, event_id AS click_id
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS p_us, event_id AS purchase_id, value
        |      FROM events WHERE event_type = 'purchase'),
        |pairs AS (
        |  SELECT c.c_us, c.click_id, p.purchase_id, p.value
        |  FROM c JOIN p ON c.user_id = p.user_id
        |   AND p.p_us >= c.c_us AND p.p_us < c.c_us + 3600000000),
        |wpairs AS (
        |  SELECT c_us, purchase_id, value,
        |    count(*) OVER (PARTITION BY purchase_id) AS n_clicks,
        |    row_number() OVER (PARTITION BY purchase_id ORDER BY c_us, click_id) AS pos
        |  FROM pairs),
        |credited AS (
        |  SELECT c_us, purchase_id,
        |    value * (CASE WHEN n_clicks = 1 THEN CAST(1.0 AS DOUBLE)
        |                  WHEN n_clicks = 2 THEN CAST(0.5 AS DOUBLE)
        |                  WHEN pos = 1 OR pos = n_clicks THEN CAST(0.4 AS DOUBLE)
        |                  ELSE CAST(0.2 AS DOUBLE) / (n_clicks - 2) END) AS credit
        |  FROM wpairs)
        |SELECT strftime(make_timestamp(c_us), '%Y-%m-%d') AS click_day,
        |  count(*) AS n_touches,
        |  count(DISTINCT purchase_id) AS n_purchases,
        |  floor(sum(credit)*10000 + 0.5)/10000 AS attributed_revenue
        |FROM credited GROUP BY 1 ORDER BY click_day""".stripMargin,
    "q286_relational_division" ->
      """WITH rn AS (
        |  SELECT n_nationkey FROM nation
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'),
        |sn AS (
        |  SELECT s_suppkey, s_nationkey FROM supplier
        |  WHERE s_nationkey IN (SELECT n_nationkey FROM rn)),
        |slice AS (
        |  SELECT l.l_partkey, sn.s_nationkey, l.l_extendedprice
        |  FROM lineitem l JOIN sn ON l.l_suppkey = sn.s_suppkey)
        |SELECT l_partkey, count(DISTINCT s_nationkey) AS n_nations,
        |  floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS region_revenue
        |FROM slice GROUP BY 1
        |HAVING count(DISTINCT s_nationkey) = (SELECT count(*) FROM rn)
        |ORDER BY l_partkey""".stripMargin,
    "q284_seq_support" ->
      """WITH f AS (
        |  SELECT user_id, event_type, min(ts) AS first_ts
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT count(DISTINCT user_id) AS n_total FROM events)
        |SELECT a.event_type AS step_a, b.event_type AS step_b,
        |  count(*) AS n_users,
        |  floor(CAST(count(*) AS DOUBLE)/(SELECT n_total FROM tot)*10000 + 0.5)/10000
        |    AS support
        |FROM f a JOIN f b ON a.user_id = b.user_id
        |  AND a.event_type <> b.event_type AND a.first_ts < b.first_ts
        |GROUP BY 1, 2 ORDER BY step_a, step_b""".stripMargin,
    "q285_cumulative_reach" ->
      """WITH fm AS (
        |  SELECT o_custkey, min(strftime(o_orderdate, '%Y-%m')) AS month
        |  FROM orders GROUP BY 1),
        |pm AS (SELECT month, count(*) AS new_customers FROM fm GROUP BY 1),
        |tot AS (SELECT CAST(sum(new_customers) AS DOUBLE) AS n_total FROM pm)
        |SELECT month, new_customers,
        |  CAST(sum(new_customers) OVER (ORDER BY month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cumulative_customers,
        |  floor(CAST(sum(new_customers) OVER (ORDER BY month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    /(SELECT n_total FROM tot)*10000 + 0.5)/10000 AS reach_share
        |FROM pm ORDER BY month""".stripMargin,
    "q283_tier_migration" ->
      """WITH b AS (
        |  SELECT o_custkey, floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-07-01' GROUP BY 1),
        |bs AS (
        |  SELECT o_custkey,
        |    CAST(ntile(5) OVER (ORDER BY rev, o_custkey) AS INT) AS tier_before
        |  FROM b),
        |a AS (
        |  SELECT o_custkey, floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-07-01' GROUP BY 1),
        |asc_ AS (
        |  SELECT o_custkey,
        |    CAST(ntile(5) OVER (ORDER BY rev, o_custkey) AS INT) AS tier_after
        |  FROM a),
        |j AS (
        |  SELECT coalesce(bs.tier_before, 0) AS tier_before,
        |    coalesce(asc_.tier_after, 0) AS tier_after
        |  FROM bs FULL OUTER JOIN asc_ ON bs.o_custkey = asc_.o_custkey),
        |m AS (
        |  SELECT tier_before, tier_after, count(*) AS n_customers
        |  FROM j GROUP BY 1, 2)
        |SELECT tier_before, tier_after, n_customers,
        |  floor(CAST(n_customers AS DOUBLE)
        |    / sum(n_customers) OVER (PARTITION BY tier_before)*10000 + 0.5)/10000
        |    AS row_share
        |FROM m ORDER BY tier_before, tier_after""".stripMargin,
    "q282_shortest_path" ->
      """WITH RECURSIVE items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |und AS (
        |  SELECT a.pk AS pa, b.pk AS pb, count(*) AS c
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (
        |  SELECT pa AS src, pb AS dst, floor((1.0/c)*10000 + 0.5)/10000 AS w FROM und
        |  UNION ALL
        |  SELECT pb, pa, floor((1.0/c)*10000 + 0.5)/10000 FROM und),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |seed AS (SELECT src AS s FROM deg ORDER BY d DESC, src LIMIT 1),
        |p AS (
        |  SELECT s AS node, CAST(0 AS DOUBLE) AS dist, 0 AS hops FROM seed
        |  UNION ALL
        |  SELECT e.dst, p.dist + e.w, p.hops + 1
        |  FROM p JOIN e ON e.src = p.node WHERE p.hops < 4)
        |SELECT node, floor(min(dist)*10000 + 0.5)/10000 AS dist
        |FROM p GROUP BY node ORDER BY node""".stripMargin,
    "q281_holt_forecast" ->
      """WITH RECURSIVE d0 AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |    floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders GROUP BY 1),
        |daily AS (SELECT day, rev, row_number() OVER (ORDER BY day) AS rn FROM d0),
        |rec AS (
        |  SELECT rn, day, rev, rev AS lvl, CAST(0.0 AS DOUBLE) AS trd, rev AS fc
        |  FROM daily WHERE rn = 1
        |  UNION ALL
        |  SELECT d.rn, d.day, d.rev,
        |    0.25*d.rev + (1.0 - 0.25)*(r.lvl + r.trd),
        |    0.125*((0.25*d.rev + (1.0 - 0.25)*(r.lvl + r.trd)) - r.lvl)
        |      + (1.0 - 0.125)*r.trd,
        |    r.lvl + r.trd
        |  FROM rec r JOIN daily d ON d.rn = r.rn + 1)
        |SELECT day, rev,
        |  floor(lvl*10000 + 0.5)/10000 AS level,
        |  floor(trd*10000 + 0.5)/10000 AS trend,
        |  floor(fc*10000 + 0.5)/10000 AS forecast,
        |  floor((rev - fc)*10000 + 0.5)/10000 AS err
        |FROM rec ORDER BY day""".stripMargin,
    "q274_local_volume" ->
      """WITH rn AS (
        |  SELECT n_nationkey, n_name FROM nation
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA')
        |SELECT rn.n_name, count(*) AS n_lines,
        |  floor(sum(l.l_extendedprice * (1.0 - l.l_discount))*10000 + 0.5)/10000 AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        | AND o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN rn ON s.s_nationkey = rn.n_nationkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_nationkey = s.s_nationkey
        |GROUP BY rn.n_name ORDER BY revenue DESC, rn.n_name""".stripMargin,
    "q275_product_profit" ->
      """SELECT n.n_name AS supp_nation,
        |  CAST(date_part('year', o.o_orderdate) AS INT) AS order_year,
        |  floor(sum(l.l_extendedprice * (1.0 - l.l_discount)
        |            - 0.5 * p.p_retailprice * l.l_quantity)*10000 + 0.5)/10000 AS profit
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2 ORDER BY supp_nation, order_year DESC""".stripMargin,
    "q276_supplier_parts" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |kept AS (
        |  SELECT p_partkey, p_brand, p_type, p_size FROM part
        |  WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |    AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29))
        |SELECT k.p_brand, k.p_type, k.p_size,
        |  count(DISTINCT ps.l_suppkey) AS supplier_cnt
        |FROM ps
        |JOIN kept k ON ps.l_partkey = k.p_partkey
        |WHERE ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q277_small_qty_revenue" ->
      """WITH slice AS (
        |  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_brand = 'Brand#1'),
        |cut AS (
        |  SELECT l_partkey, floor(avg(l_quantity)*0.5*10000 + 0.5)/10000 AS qty_cut
        |  FROM slice GROUP BY 1)
        |SELECT floor(CAST(sum(CAST(s.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/7.0*10000 + 0.5)/10000 AS avg_yearly
        |FROM slice s JOIN cut c ON s.l_partkey = c.l_partkey
        |WHERE s.l_quantity < c.qty_cut""".stripMargin,
    "q278_excess_stock" ->
      """WITH slice AS (
        |  SELECT l.l_partkey, l.l_suppkey, l.l_quantity,
        |    CASE WHEN l.l_shipdate >= TIMESTAMP '1997-01-01'
        |         AND l.l_shipdate < TIMESTAMP '1998-01-01'
        |    THEN l.l_quantity ELSE 0.0 END AS year_qty
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_name LIKE 'small%'),
        |g AS (SELECT sum(year_qty)/sum(l_quantity) AS gs FROM slice),
        |q AS (
        |  SELECT l_partkey, l_suppkey, count(*) AS n_lines,
        |    sum(l_quantity) AS life_qty, sum(year_qty) AS yr_qty
        |  FROM slice GROUP BY 1, 2)
        |SELECT s.s_name, n.n_name
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE s.s_suppkey IN (
        |  SELECT l_suppkey FROM q, g
        |  WHERE n_lines >= 3 AND yr_qty > life_qty * gs * 2.0)
        |ORDER BY s.s_name""".stripMargin,
    "q289_spearman" ->
      """WITH base AS (
        |  SELECT l_returnflag AS flag, CAST(l_quantity AS DOUBLE) AS x,
        |         CAST(l_discount AS DOUBLE) AS y
        |  FROM lineitem),
        |cx AS (SELECT flag, x, count(*) AS cnt FROM base GROUP BY 1, 2),
        |rx AS (
        |  SELECT flag, x,
        |    coalesce(sum(cnt) OVER (PARTITION BY flag ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + (cnt + 1) / 2.0 AS rx
        |  FROM cx),
        |cy AS (SELECT flag, y, count(*) AS cnt FROM base GROUP BY 1, 2),
        |ry AS (
        |  SELECT flag, y,
        |    coalesce(sum(cnt) OVER (PARTITION BY flag ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + (cnt + 1) / 2.0 AS ry
        |  FROM cy)
        |SELECT b.flag AS l_returnflag, count(*) AS n,
        |  floor(corr(rx.rx, ry.ry)*10000 + 0.5)/10000 AS spearman_rho,
        |  floor(corr(b.x, b.y)*10000 + 0.5)/10000 AS pearson_r
        |FROM base b
        |JOIN rx ON b.flag = rx.flag AND b.x = rx.x
        |JOIN ry ON b.flag = ry.flag AND b.y = ry.y
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q290_cramers_v" ->
      """WITH f AS (
        |  SELECT event_type, CAST(date_part('dow', ts) AS VARCHAR) AS dow,
        |    'h' || CAST(CAST(floor(date_part('hour', ts)/6) AS INT) AS VARCHAR)
        |      AS hour_bucket
        |  FROM events),
        |c1 AS (SELECT event_type AS va, dow AS vb, count(*) AS o FROM f GROUP BY 1,2),
        |m1 AS (SELECT o, sum(o) OVER (PARTITION BY va) AS row_tot,
        |         sum(o) OVER (PARTITION BY vb) AS col_tot, sum(o) OVER () AS n,
        |         va, vb FROM c1),
        |s1 AS (SELECT 'event_type' AS feature_a, 'dow' AS feature_b, max(n) AS n,
        |         count(DISTINCT va) AS r, count(DISTINCT vb) AS c,
        |         sum((CAST(o AS DOUBLE)*o)/(row_tot*col_tot/CAST(n AS DOUBLE)))
        |           - max(n) AS chi2
        |       FROM m1),
        |c2 AS (SELECT event_type AS va, hour_bucket AS vb, count(*) AS o
        |       FROM f GROUP BY 1,2),
        |m2 AS (SELECT o, sum(o) OVER (PARTITION BY va) AS row_tot,
        |         sum(o) OVER (PARTITION BY vb) AS col_tot, sum(o) OVER () AS n,
        |         va, vb FROM c2),
        |s2 AS (SELECT 'event_type' AS feature_a, 'hour_bucket' AS feature_b,
        |         max(n) AS n, count(DISTINCT va) AS r, count(DISTINCT vb) AS c,
        |         sum((CAST(o AS DOUBLE)*o)/(row_tot*col_tot/CAST(n AS DOUBLE)))
        |           - max(n) AS chi2
        |       FROM m2),
        |c3 AS (SELECT dow AS va, hour_bucket AS vb, count(*) AS o FROM f GROUP BY 1,2),
        |m3 AS (SELECT o, sum(o) OVER (PARTITION BY va) AS row_tot,
        |         sum(o) OVER (PARTITION BY vb) AS col_tot, sum(o) OVER () AS n,
        |         va, vb FROM c3),
        |s3 AS (SELECT 'dow' AS feature_a, 'hour_bucket' AS feature_b, max(n) AS n,
        |         count(DISTINCT va) AS r, count(DISTINCT vb) AS c,
        |         sum((CAST(o AS DOUBLE)*o)/(row_tot*col_tot/CAST(n AS DOUBLE)))
        |           - max(n) AS chi2
        |       FROM m3),
        |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
        |SELECT feature_a, feature_b, CAST(n AS BIGINT) AS n, r, c,
        |  floor(chi2*10000 + 0.5)/10000 AS chi2,
        |  floor((CASE WHEN least(r, c) > 1
        |         THEN sqrt(chi2/(n*(least(r, c) - 1))) ELSE 0.0 END)*10000 + 0.5)/10000
        |    AS cramers_v
        |FROM u ORDER BY feature_a, feature_b""".stripMargin,
    "q291_info_gain" ->
      """WITH f AS (
        |  SELECT event_type, CAST(date_part('dow', ts) AS VARCHAR) AS dow,
        |    'h' || CAST(CAST(floor(date_part('hour', ts)/6) AS INT) AS VARCHAR)
        |      AS hour_bucket,
        |    'v' || CAST(CAST(floor(log10("value" + 1.0)) AS INT) AS VARCHAR)
        |      AS value_bucket
        |  FROM events),
        |ht AS (
        |  SELECT -sum(c*ln(c))/sum(c)/0.6931471805599453
        |         + ln(sum(c))/0.6931471805599453 AS h_target
        |  FROM (SELECT count(*) AS c FROM f GROUP BY event_type)),
        |g1 AS (SELECT v, cv, sum(c*ln(c)) AS s FROM (
        |         SELECT dow AS v, event_type, count(*) AS c,
        |           sum(count(*)) OVER (PARTITION BY dow) AS cv
        |         FROM f GROUP BY 1, 2) GROUP BY 1, 2),
        |a1 AS (SELECT 'dow' AS feature, count(DISTINCT v) AS cardinality,
        |         (sum(cv*ln(cv)) - sum(s))/sum(cv)/0.6931471805599453 AS h_cond,
        |         -sum(cv*ln(cv))/sum(cv)/0.6931471805599453
        |           + ln(sum(cv))/0.6931471805599453 AS h_feature
        |       FROM g1),
        |g2 AS (SELECT v, cv, sum(c*ln(c)) AS s FROM (
        |         SELECT hour_bucket AS v, event_type, count(*) AS c,
        |           sum(count(*)) OVER (PARTITION BY hour_bucket) AS cv
        |         FROM f GROUP BY 1, 2) GROUP BY 1, 2),
        |a2 AS (SELECT 'hour_bucket' AS feature, count(DISTINCT v) AS cardinality,
        |         (sum(cv*ln(cv)) - sum(s))/sum(cv)/0.6931471805599453 AS h_cond,
        |         -sum(cv*ln(cv))/sum(cv)/0.6931471805599453
        |           + ln(sum(cv))/0.6931471805599453 AS h_feature
        |       FROM g2),
        |g3 AS (SELECT v, cv, sum(c*ln(c)) AS s FROM (
        |         SELECT value_bucket AS v, event_type, count(*) AS c,
        |           sum(count(*)) OVER (PARTITION BY value_bucket) AS cv
        |         FROM f GROUP BY 1, 2) GROUP BY 1, 2),
        |a3 AS (SELECT 'value_bucket' AS feature, count(DISTINCT v) AS cardinality,
        |         (sum(cv*ln(cv)) - sum(s))/sum(cv)/0.6931471805599453 AS h_cond,
        |         -sum(cv*ln(cv))/sum(cv)/0.6931471805599453
        |           + ln(sum(cv))/0.6931471805599453 AS h_feature
        |       FROM g3),
        |u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3)
        |SELECT feature, cardinality,
        |  floor(ht.h_target*10000 + 0.5)/10000 AS h_target_bits,
        |  floor(h_cond*10000 + 0.5)/10000 AS h_cond_bits,
        |  floor((ht.h_target - h_cond)*10000 + 0.5)/10000 AS info_gain_bits,
        |  floor((CASE WHEN h_feature > 0
        |         THEN (ht.h_target - h_cond)/h_feature ELSE 0.0 END)*10000 + 0.5)/10000
        |    AS gain_ratio
        |FROM u, ht ORDER BY feature""".stripMargin,
    "q292_hits" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
        |m AS (SELECT count(*) AS m FROM e),
        |h1 AS (SELECT s, CAST(count(*) AS DOUBLE)/(SELECT m FROM m) AS h1
        |       FROM e GROUP BY s),
        |a1raw AS (SELECT e.p, sum(h1.h1) AS a1raw
        |          FROM e JOIN h1 ON e.s = h1.s GROUP BY e.p),
        |za AS (SELECT sum(a1raw) AS za FROM a1raw),
        |a1 AS (SELECT p, a1raw/(SELECT za FROM za) AS a1 FROM a1raw),
        |h2raw AS (SELECT e.s, sum(a1.a1) AS h2raw
        |          FROM e JOIN a1 ON e.p = a1.p GROUP BY e.s),
        |zh AS (SELECT sum(h2raw) AS zh FROM h2raw),
        |h2 AS (SELECT s, h2raw/(SELECT zh FROM zh) AS h2 FROM h2raw),
        |u AS (
        |  SELECT 'hub' AS role, s AS node_id,
        |    floor(h2*1000*1000000 + 0.5)/1000000 AS score_x1000 FROM h2
        |  UNION ALL
        |  SELECT 'authority' AS role, p AS node_id,
        |    floor(a1*1000*1000000 + 0.5)/1000000 AS score_x1000 FROM a1),
        |r AS (SELECT role, node_id, score_x1000,
        |        row_number() OVER (PARTITION BY role
        |          ORDER BY score_x1000 DESC, node_id) AS rank
        |      FROM u)
        |SELECT role, node_id, score_x1000, rank
        |FROM r WHERE rank <= 20 ORDER BY role, rank""".stripMargin,
    "q293_target_encode" ->
      """WITH base AS (
        |  SELECT c.c_mktsegment AS segment,
        |    CAST((strpos('0123456789abcdef',
        |      substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) % 5 AS INT) AS fold,
        |    o_totalprice AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |cells AS (
        |  SELECT segment, fold, sum(y) AS s, count(*) AS cnt
        |  FROM base GROUP BY 1, 2),
        |w AS (
        |  SELECT segment, fold, s, cnt,
        |    sum(s) OVER (PARTITION BY segment) AS seg_s,
        |    sum(cnt) OVER (PARTITION BY segment) AS seg_n,
        |    sum(s) OVER () AS tot_s,
        |    sum(cnt) OVER () AS tot_n
        |  FROM cells)
        |SELECT segment, fold, cnt AS n_rows,
        |  floor(((seg_s - s)/(seg_n - cnt))*10000 + 0.5)/10000 AS oof_mean,
        |  floor(((tot_s - s)/(tot_n - cnt))*10000 + 0.5)/10000 AS oof_prior,
        |  floor(((CAST(seg_n - cnt AS DOUBLE) * ((seg_s - s)/(seg_n - cnt))
        |          + 20.0 * ((tot_s - s)/(tot_n - cnt)))
        |         / (CAST(seg_n - cnt AS DOUBLE) + 20.0))*10000 + 0.5)/10000 AS encoded
        |FROM w ORDER BY segment, fold""".stripMargin,
    "q294_source_overlap" ->
      """WITH sf AS (
        |  SELECT DISTINCT source,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |ps AS (SELECT source, count(*) AS n_fp FROM sf GROUP BY 1),
        |sh AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        |  FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.source AS source_a, a.n_fp AS n_a,
        |         b.source AS source_b, b.n_fp AS n_b
        |  FROM ps a, ps b WHERE a.source < b.source)
        |SELECT p.source_a, p.source_b, p.n_a, p.n_b,
        |  coalesce(sh.n_shared, 0) AS n_shared,
        |  floor((CAST(coalesce(sh.n_shared, 0) AS DOUBLE)
        |         /(p.n_a + p.n_b - coalesce(sh.n_shared, 0)))*10000 + 0.5)/10000
        |    AS fp_jaccard
        |FROM pairs p LEFT JOIN sh
        |  ON p.source_a = sh.source_a AND p.source_b = sh.source_b
        |ORDER BY 1, 2""".stripMargin,
    "q295_js_divergence" ->
      """WITH tokx AS (
        |  SELECT source, unnest(regexp_extract_all(text, '\S+')) AS t FROM documents),
        |c1 AS (SELECT source, t, count(*) AS c FROM tokx GROUP BY 1, 2),
        |ts AS (SELECT source, sum(c) AS ts FROM c1 GROUP BY 1),
        |ct AS (SELECT t, sum(c) AS ct FROM c1 GROUP BY 1),
        |tot AS (SELECT sum(c) AS tt FROM c1),
        |sp AS (
        |  SELECT c1.source, c1.c, ts.ts, ct.ct, (SELECT tt FROM tot) AS tt
        |  FROM c1 JOIN ct ON c1.t = ct.t JOIN ts ON c1.source = ts.source),
        |terms AS (
        |  SELECT source, ts, ct/tt AS q,
        |    (c/ts)*ln((c/ts)/(((c/ts)+(ct/tt))/2.0))
        |      + (ct/tt)*ln((ct/tt)/(((c/ts)+(ct/tt))/2.0)) AS term
        |  FROM sp)
        |SELECT source, CAST(max(ts) AS BIGINT) AS n_tokens, count(*) AS vocab_size,
        |  floor((0.5*sum(term)/0.6931471805599453
        |         + 0.5*(1.0 - sum(q)))*10000 + 0.5)/10000 AS js_bits
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,
    "q296_datacard" ->
      """WITH base AS (
        |  SELECT source, lang, n_chars,
        |    len(regexp_extract_all(text, '\S+')) AS n_tok,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |vol AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    floor(avg(n_chars)*10000 + 0.5)/10000 AS avg_chars,
        |    CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |    count(DISTINCT lang) AS n_langs,
        |    count(DISTINCT fp) AS n_distinct_fp
        |  FROM base GROUP BY 1),
        |tl AS (
        |  SELECT source, lang AS top_lang, n AS top_n FROM (
        |    SELECT source, lang, count(*) AS n,
        |      row_number() OVER (PARTITION BY source
        |        ORDER BY count(*) DESC, lang) AS rk
        |    FROM base GROUP BY source, lang) WHERE rk = 1)
        |SELECT v.source, n_docs, total_chars, avg_chars, total_tokens, n_langs,
        |  top_lang,
        |  floor((CAST(top_n AS DOUBLE)/n_docs)*10000 + 0.5)/10000 AS top_lang_share,
        |  floor((1.0 - CAST(n_distinct_fp AS DOUBLE)/n_docs)*10000 + 0.5)/10000
        |    AS dup_rate
        |FROM vol v JOIN tl ON v.source = tl.source ORDER BY 1""".stripMargin,
    "q298_holt_winters" ->
      """WITH RECURSIVE d0 AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |    floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders GROUP BY 1),
        |daily AS (SELECT day, rev, row_number() OVER (ORDER BY day) AS rn FROM d0),
        |seed AS (
        |  SELECT ((((((ys[1]+ys[2])+ys[3])+ys[4])+ys[5])+ys[6])+ys[7])/7.0 AS l0, ys
        |  FROM (SELECT list(rev ORDER BY rn) AS ys FROM daily WHERE rn <= 7)),
        |rec AS (
        |  SELECT CAST(7 AS BIGINT) AS rn, CAST(NULL AS VARCHAR) AS day,
        |    CAST(NULL AS DOUBLE) AS rev, l0 AS lvl, CAST(0.0 AS DOUBLE) AS trd,
        |    CAST(NULL AS DOUBLE) AS snew, CAST(NULL AS DOUBLE) AS fc,
        |    list_transform(ys, y -> y - l0) AS seas
        |  FROM seed
        |  UNION ALL
        |  SELECT d.rn, d.day, d.rev,
        |    0.25*(d.rev - r.seas[1]) + (1.0 - 0.25)*(r.lvl + r.trd),
        |    0.125*((0.25*(d.rev - r.seas[1]) + (1.0 - 0.25)*(r.lvl + r.trd)) - r.lvl)
        |      + (1.0 - 0.125)*r.trd,
        |    0.25*(d.rev - (0.25*(d.rev - r.seas[1])
        |                   + (1.0 - 0.25)*(r.lvl + r.trd)))
        |      + (1.0 - 0.25)*r.seas[1],
        |    r.lvl + r.trd + r.seas[1],
        |    r.seas[2:] || [0.25*(d.rev - (0.25*(d.rev - r.seas[1])
        |                                 + (1.0 - 0.25)*(r.lvl + r.trd)))
        |                   + (1.0 - 0.25)*r.seas[1]]
        |  FROM rec r JOIN daily d ON d.rn = r.rn + 1)
        |SELECT day, rev,
        |  floor(lvl*10000 + 0.5)/10000 AS level,
        |  floor(trd*10000 + 0.5)/10000 AS trend,
        |  floor(snew*10000 + 0.5)/10000 AS seasonal,
        |  floor(fc*10000 + 0.5)/10000 AS forecast,
        |  floor((rev - fc)*10000 + 0.5)/10000 AS err
        |FROM rec WHERE rn > 7 ORDER BY day""".stripMargin,
    "q299_textrank" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(regexp_extract_all(lower(text), '\S+'),
        |    t -> NOT t IN ('the','a','and','of','to')) AS ts
        |  FROM documents),
        |pos AS (SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS p
        |        FROM tk),
        |bg AS (SELECT x.w AS a, y.w AS b FROM pos x JOIN pos y
        |        ON x.doc_id = y.doc_id AND y.p = x.p + 1 AND x.w <> y.w),
        |ed AS (SELECT a, b, count(*) AS e FROM
        |        (SELECT a, b FROM bg UNION ALL SELECT b AS a, a AS b FROM bg)
        |       GROUP BY 1, 2),
        |wd AS (SELECT a, sum(e) AS wd FROM ed GROUP BY 1),
        |nv AS (SELECT count(*) AS nv FROM wd),
        |r1 AS (SELECT ed.b AS w, (SELECT nv FROM nv) AS nv,
        |         sum(e/wd.wd/(SELECT nv FROM nv)) AS m1
        |       FROM ed JOIN wd ON ed.a = wd.a GROUP BY 1, 2),
        |r1s AS (SELECT w, (1.0 - 0.875)/nv + 0.875*m1 AS r1 FROM r1),
        |r2 AS (SELECT ed.b AS w, (SELECT nv FROM nv) AS nv,
        |         sum(e/wd.wd*r1s.r1) AS m2
        |       FROM ed JOIN wd ON ed.a = wd.a JOIN r1s ON ed.a = r1s.w
        |       GROUP BY 1, 2)
        |SELECT w AS keyword,
        |  floor(((1.0 - 0.875)/nv + 0.875*m2)*1000000 + 0.5)/1000000 AS textrank
        |FROM r2 ORDER BY textrank DESC, keyword LIMIT 20""".stripMargin,
    "q300_kendall_tau" ->
      """WITH k AS (
        |  SELECT md5(CAST(l_orderkey AS VARCHAR) || '#'
        |             || CAST(l_linenumber AS VARCHAR)) AS h,
        |    CAST(l_quantity AS DOUBLE) AS x, CAST(l_extendedprice AS DOUBLE) AS y
        |  FROM lineitem),
        |s0 AS (SELECT * FROM k ORDER BY h, x, y LIMIT 500),
        |s AS (SELECT x, y, row_number() OVER (ORDER BY h, x, y) AS rn FROM s0),
        |p AS (SELECT a.x - b.x AS dx, a.y - b.y AS dy
        |      FROM s a JOIN s b ON a.rn < b.rn)
        |SELECT count(*) AS n_pairs,
        |  count(CASE WHEN dx*dy > 0 THEN 1 END) AS concordant,
        |  count(CASE WHEN dx*dy < 0 THEN 1 END) AS discordant,
        |  count(CASE WHEN dx = 0 AND dy <> 0 THEN 1 END) AS ties_x,
        |  count(CASE WHEN dx <> 0 AND dy = 0 THEN 1 END) AS ties_y,
        |  count(CASE WHEN dx = 0 AND dy = 0 THEN 1 END) AS ties_xy,
        |  floor((CASE WHEN
        |      (count(*) - count(CASE WHEN dx = 0 AND dy <> 0 THEN 1 END)
        |       - count(CASE WHEN dx = 0 AND dy = 0 THEN 1 END)) > 0
        |      AND (count(*) - count(CASE WHEN dx <> 0 AND dy = 0 THEN 1 END)
        |       - count(CASE WHEN dx = 0 AND dy = 0 THEN 1 END)) > 0
        |    THEN CAST(count(CASE WHEN dx*dy > 0 THEN 1 END)
        |              - count(CASE WHEN dx*dy < 0 THEN 1 END) AS DOUBLE)
        |    /sqrt(CAST(count(*) - count(CASE WHEN dx = 0 AND dy <> 0 THEN 1 END)
        |               - count(CASE WHEN dx = 0 AND dy = 0 THEN 1 END) AS DOUBLE)
        |      *(count(*) - count(CASE WHEN dx <> 0 AND dy = 0 THEN 1 END)
        |        - count(CASE WHEN dx = 0 AND dy = 0 THEN 1 END)))
        |    ELSE 0.0 END)*10000 + 0.5)/10000 AS tau_b
        |FROM p""".stripMargin,
    "q304_transition_audit" ->
      """WITH pairs AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           AS prev_type,
        |         event_type AS next_type
        |  FROM events),
        |cells AS (SELECT prev_type, next_type, count(*) AS n FROM pairs
        |          WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT sum(n) AS n_total FROM cells)
        |SELECT prev_type, next_type, n AS n_violations,
        |  floor((CAST(n AS DOUBLE)/(SELECT n_total FROM tot))*10000 + 0.5)/10000
        |    AS share_of_transitions
        |FROM cells
        |WHERE (prev_type || '>' || next_type) NOT IN
        |  ('signup>view','signup>click','signup>error','view>view','view>click',
        |   'view>error','click>view','click>click','click>purchase','click>error',
        |   'purchase>view','purchase>click','error>view','error>signup')
        |ORDER BY prev_type, next_type""".stripMargin,
    "q308_embedding_qa" ->
      """WITH base AS (
        |  SELECT label,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*x)))
        |      AS nrm,
        |    len(list_filter(embedding,
        |      x -> isnan(CAST(x AS DOUBLE)) OR abs(CAST(x AS DOUBLE)) > 1e38)) > 0
        |      AS is_bad
        |  FROM embeddings),
        |st AS (SELECT label, count(*) AS n_vecs,
        |         count(CASE WHEN nrm = 0.0 THEN 1 END) AS n_zero_norm,
        |         count(CASE WHEN is_bad THEN 1 END) AS n_nonfinite,
        |         avg(nrm) AS mu, stddev_samp(nrm) AS sd
        |       FROM base GROUP BY 1)
        |SELECT b.label, n_vecs, n_zero_norm, n_nonfinite,
        |  floor(mu*10000 + 0.5)/10000 AS avg_norm,
        |  floor(sd*10000 + 0.5)/10000 AS std_norm,
        |  count(CASE WHEN sd > 0 THEN
        |          CASE WHEN abs(nrm - mu)/sd > 3.0 THEN 1 END END)
        |    AS n_norm_outliers
        |FROM base b JOIN st ON b.label = st.label
        |GROUP BY 1, 2, 3, 4, mu, sd ORDER BY 1""".stripMargin,
    "q309_dup_cluster_dist" ->
      """WITH sz AS (
        |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |    count(*) AS cluster_size
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT count(*) AS n_total FROM documents)
        |SELECT cluster_size, count(*) AS n_clusters,
        |  cluster_size * count(*) AS n_docs,
        |  floor((CAST(cluster_size * count(*) AS DOUBLE)
        |         /(SELECT n_total FROM tot))*10000 + 0.5)/10000 AS pct_docs
        |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin,
    "q310_ppr" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |               FROM lineitem),
        |canon AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS w
        |          FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |          GROUP BY 1, 2 HAVING count(*) >= 2),
        |ed AS (SELECT pa AS a, pb AS b, w FROM canon
        |       UNION ALL SELECT pb AS a, pa AS b, w FROM canon),
        |wd AS (SELECT a, sum(w) AS wd FROM ed GROUP BY 1),
        |seed AS (SELECT a AS seed FROM wd ORDER BY wd DESC, a LIMIT 1),
        |r1p AS (SELECT b AS node, sum(0.875*w/wd.wd) AS r
        |        FROM ed JOIN wd ON ed.a = wd.a
        |        WHERE ed.a = (SELECT seed FROM seed) GROUP BY 1),
        |r1 AS (SELECT node, sum(r) AS r1 FROM (
        |        SELECT node, r FROM r1p
        |        UNION ALL SELECT (SELECT seed FROM seed) AS node,
        |          CAST(0.125 AS DOUBLE) AS r) GROUP BY 1),
        |r2p AS (SELECT ed.b AS node, sum(0.875*ed.w/wd.wd*r1.r1) AS r
        |        FROM ed JOIN r1 ON ed.a = r1.node JOIN wd ON ed.a = wd.a
        |        GROUP BY 1),
        |r2 AS (SELECT node, sum(r) AS r2 FROM (
        |        SELECT node, r FROM r2p
        |        UNION ALL SELECT (SELECT seed FROM seed) AS node,
        |          CAST(0.125 AS DOUBLE) AS r) GROUP BY 1)
        |SELECT (SELECT seed FROM seed) AS seed_part, node AS part,
        |  floor(r2*1000*1000000 + 0.5)/1000000 AS ppr_x1000
        |FROM r2 ORDER BY ppr_x1000 DESC, part LIMIT 20""".stripMargin,
    "q313_log_compaction" ->
      """WITH log AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |    CASE WHEN o_orderstatus = 'F' THEN 'delete' ELSE 'upsert' END AS op
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'),
        |w AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC, (op <> 'delete') DESC) AS rk
        |  FROM log)
        |SELECT o_custkey, op, o_orderkey AS net_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS net_date,
        |  o_totalprice AS net_price
        |FROM w WHERE rk = 1 ORDER BY o_custkey""".stripMargin,
    "q314_feature_hashing" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) AS hx1,
        |    (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) AS hx2
        |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |        FROM documents WHERE doc_id < 50)),
        |cells AS (
        |  SELECT doc_id, CAST(hx1 % 16 AS INT) AS dim,
        |    sum(CASE WHEN hx2 % 2 = 0 THEN 1.0 ELSE -1.0 END) AS v
        |  FROM toks GROUP BY 1, 2),
        |nm AS (
        |  SELECT doc_id, dim, v,
        |    sqrt(sum(v*v) OVER (PARTITION BY doc_id)) AS nrm
        |  FROM cells)
        |SELECT doc_id, dim, floor((v/nrm)*10000 + 0.5)/10000 AS val
        |FROM nm WHERE nrm > 0 ORDER BY doc_id, dim""".stripMargin,
    "q315_conformal" ->
      """WITH RECURSIVE d0 AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |    floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders GROUP BY 1),
        |daily AS (SELECT day, rev, row_number() OVER (ORDER BY day) AS rn FROM d0),
        |rec AS (
        |  SELECT rn, day, rev, rev AS lvl, CAST(0.0 AS DOUBLE) AS trd, rev AS fc
        |  FROM daily WHERE rn = 1
        |  UNION ALL
        |  SELECT d.rn, d.day, d.rev,
        |    0.25*d.rev + (1.0 - 0.25)*(r.lvl + r.trd),
        |    0.125*((0.25*d.rev + (1.0 - 0.25)*(r.lvl + r.trd)) - r.lvl)
        |      + (1.0 - 0.125)*r.trd,
        |    r.lvl + r.trd
        |  FROM rec r JOIN daily d ON d.rn = r.rn + 1),
        |hf AS (SELECT day, floor((rev - fc)*10000 + 0.5)/10000 AS err FROM rec),
        |w2 AS (SELECT day, err, row_number() OVER (ORDER BY day) AS rn FROM hf),
        |nn AS (SELECT count(*) AS n FROM hf),
        |kk AS (SELECT n,
        |         CAST(floor(CAST(0.6 AS DOUBLE)*(n - 1)) AS BIGINT) AS ncal,
        |         CAST(ceil(CAST(0.9 AS DOUBLE)
        |           *(CAST(floor(CAST(0.6 AS DOUBLE)*(n - 1)) AS BIGINT) + 1))
        |           AS BIGINT) AS k
        |       FROM nn),
        |cal AS (SELECT abs(err) AS s, day FROM w2, kk
        |        WHERE rn >= 2 AND rn <= ncal + 1),
        |rkd AS (SELECT s, row_number() OVER (ORDER BY s, day) AS rk FROM cal),
        |q AS (SELECT s AS qhat FROM rkd, kk WHERE rk = k),
        |test AS (SELECT err FROM w2, kk WHERE rn > ncal + 1)
        |SELECT (SELECT n FROM nn) AS n_days, (SELECT ncal FROM kk) AS n_cal,
        |  count(*) AS n_test,
        |  floor((SELECT qhat FROM q)*10000 + 0.5)/10000 AS qhat,
        |  floor((CAST(count(CASE WHEN abs(err) <= (SELECT qhat FROM q) THEN 1 END)
        |              AS DOUBLE)/count(*))*10000 + 0.5)/10000 AS coverage
        |FROM test""".stripMargin,
    "q316_blocklist" ->
      """WITH terms AS (
        |  SELECT unnest(['slow', 'spark', 'merge batch']) AS term),
        |ps AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |hits AS (
        |  SELECT d.source, t.term, count(*) AS n_flagged
        |  FROM documents d, terms t
        |  WHERE contains(d.text, t.term)
        |  GROUP BY 1, 2)
        |SELECT ps.source, t.term, ps.n_docs,
        |  coalesce(h.n_flagged, 0) AS n_flagged,
        |  floor((CAST(coalesce(h.n_flagged, 0) AS DOUBLE)/ps.n_docs)*10000 + 0.5)/10000
        |    AS flag_rate
        |FROM ps CROSS JOIN terms t
        |LEFT JOIN hits h ON h.source = ps.source AND h.term = t.term
        |ORDER BY 1, 2""".stripMargin,
    "q318_metric_corr" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT d FROM daily),
        |types AS (SELECT DISTINCT event_type FROM daily),
        |dense AS (
        |  SELECT dy.d, t.event_type, coalesce(daily.n, 0) AS n
        |  FROM days dy CROSS JOIN types t
        |  LEFT JOIN daily ON daily.d = dy.d AND daily.event_type = t.event_type)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS n_days,
        |  floor(corr(a.n, b.n)*10000 + 0.5)/10000 AS pearson_r
        |FROM dense a JOIN dense b
        |  ON a.d = b.d AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q319_wilson_returns" ->
      """WITH agg AS (
        |  SELECT p.p_brand, count(*) AS n,
        |    count(CASE WHEN l.l_returnflag = 'R' THEN 1 END) AS k
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1),
        |c AS (
        |  SELECT p_brand, n, k,
        |    CAST(k AS DOUBLE)/n AS p,
        |    CAST(1.96 AS DOUBLE)*CAST(1.96 AS DOUBLE) AS z2
        |  FROM agg)
        |SELECT p_brand, n, k,
        |  floor(p*10000 + 0.5)/10000 AS share,
        |  floor(((p + z2/(CAST(2.0 AS DOUBLE)*n)
        |          - CAST(1.96 AS DOUBLE)*sqrt(p*(CAST(1.0 AS DOUBLE) - p)/n
        |            + z2/(CAST(4.0 AS DOUBLE)*n*n)))
        |         /(CAST(1.0 AS DOUBLE) + z2/n))*10000 + 0.5)/10000 AS wilson_lo,
        |  floor(((p + z2/(CAST(2.0 AS DOUBLE)*n)
        |          + CAST(1.96 AS DOUBLE)*sqrt(p*(CAST(1.0 AS DOUBLE) - p)/n
        |            + z2/(CAST(4.0 AS DOUBLE)*n*n)))
        |         /(CAST(1.0 AS DOUBLE) + z2/n))*10000 + 0.5)/10000 AS wilson_hi
        |FROM c ORDER BY p_brand""".stripMargin,
    "q297_next_entropy" ->
      """WITH pairs AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           AS prev_type,
        |         event_type AS next_type
        |  FROM events),
        |cells AS (
        |  SELECT prev_type, next_type, count(*) AS c
        |  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |m AS (
        |  SELECT prev_type, next_type, c,
        |    sum(c) OVER (PARTITION BY prev_type) AS tot,
        |    row_number() OVER (PARTITION BY prev_type
        |      ORDER BY c DESC, next_type) AS rk
        |  FROM cells)
        |SELECT prev_type, CAST(tot AS BIGINT) AS n_transitions,
        |  count(DISTINCT next_type) AS n_next_types,
        |  floor(((ln(tot) - sum(c*ln(c))/tot)/0.6931471805599453)*10000 + 0.5)/10000
        |    AS entropy_bits,
        |  max(CASE WHEN rk = 1 THEN next_type END) AS top_next,
        |  floor((CAST(max(CASE WHEN rk = 1 THEN c END) AS DOUBLE)/tot)*10000 + 0.5)/10000
        |    AS top_share
        |FROM m GROUP BY prev_type, tot ORDER BY prev_type""".stripMargin,
    "q320_naive_bayes" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |train AS (SELECT * FROM tok WHERE doc_id % 5 <> 0),
        |ctok AS (SELECT lang AS c, count(*) AS n_tok FROM train GROUP BY 1),
        |cdoc AS (SELECT lang AS c, count(*) AS n_doc FROM documents
        |         WHERE doc_id % 5 <> 0 GROUP BY 1),
        |nt AS (SELECT count(*) AS n_train FROM documents WHERE doc_id % 5 <> 0),
        |v AS (SELECT count(DISTINCT term) AS v FROM train),
        |cs AS (SELECT c, ln(CAST(n_doc AS DOUBLE)/n_train) AS log_prior,
        |         CAST(n_tok AS DOUBLE) + 1.0*v AS denom
        |       FROM ctok JOIN cdoc USING (c) CROSS JOIN nt CROSS JOIN v),
        |cnts AS (SELECT lang AS c, term, count(*) AS cnt FROM train GROUP BY 1, 2),
        |obs AS (SELECT c, term, ln((cnt + 1.0)/denom) AS logp
        |        FROM cnts JOIN cs USING (c)),
        |ttf AS (SELECT doc_id, lang AS true_lang, term, count(*) AS tf
        |        FROM tok WHERE doc_id % 5 = 0 GROUP BY 1, 2, 3),
        |mt AS (SELECT ttf.doc_id, obs.c, sum(tf*logp) AS s_obs,
        |         CAST(sum(tf) AS BIGINT) AS m
        |       FROM ttf JOIN obs USING (term) GROUP BY 1, 2),
        |dt AS (SELECT doc_id, true_lang, CAST(sum(tf) AS BIGINT) AS t_d
        |       FROM ttf GROUP BY 1, 2),
        |grid AS (SELECT dt.doc_id, dt.true_lang, dt.t_d, l.c FROM dt
        |         CROSS JOIN (SELECT unnest(['de','en','es','fr','zh']) AS c) l),
        |sc AS (SELECT g.doc_id, g.true_lang, g.c,
        |         cs.log_prior + coalesce(mt.s_obs, 0.0)
        |         + (g.t_d - coalesce(mt.m, 0))*ln(1.0/cs.denom) AS score
        |       FROM grid g JOIN cs ON cs.c = g.c
        |       LEFT JOIN mt ON mt.doc_id = g.doc_id AND mt.c = g.c),
        |pred AS (SELECT doc_id, true_lang, c,
        |           row_number() OVER (PARTITION BY doc_id
        |             ORDER BY score DESC, c) AS rk
        |         FROM sc)
        |SELECT true_lang, c AS pred_lang, count(*) AS n_docs
        |FROM pred WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q322_dupkey_audit" ->
      """WITH pk AS (
        |  SELECT l_orderkey, l_linenumber, count(*) AS m,
        |    count(DISTINCT (l_partkey, l_suppkey, l_quantity, l_extendedprice,
        |      l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate)) AS nv
        |  FROM lineitem GROUP BY 1, 2),
        |tot AS (SELECT count(*) AS n_total FROM lineitem)
        |SELECT m AS multiplicity, count(*) AS n_keys,
        |  CAST(sum(m) AS BIGINT) AS n_rows,
        |  count(CASE WHEN nv > 1 THEN 1 END) AS n_divergent_keys,
        |  floor((CAST(sum(m) AS DOUBLE)/(SELECT n_total FROM tot))*1000000 + 0.5)
        |    /1000000 AS row_share
        |FROM pk GROUP BY 1 ORDER BY 1""".stripMargin,
    "q323_local_cc" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |edges AS (
        |  SELECT a.pk AS pa, b.pk AS pb FROM items a JOIN items b
        |    ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS (
        |  SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
        |  FROM edges e1 JOIN edges e2 ON e1.pb = e2.pa
        |  JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
        |corners AS (
        |  SELECT node, count(*) AS tri FROM (
        |    SELECT x AS node FROM tri UNION ALL
        |    SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |  GROUP BY 1),
        |deg AS (
        |  SELECT node, count(*) AS degree FROM (
        |    SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges)
        |  GROUP BY 1)
        |SELECT d.node AS part, d.degree,
        |  CAST(coalesce(c.tri, 0) AS BIGINT) AS n_triangles,
        |  floor((CAST(2 AS DOUBLE)*coalesce(c.tri, 0)/(d.degree*(d.degree - 1)))
        |    *10000 + 0.5)/10000 AS local_cc
        |FROM deg d LEFT JOIN corners c USING (node)
        |WHERE d.degree >= 2
        |ORDER BY local_cc DESC, degree DESC, part
        |LIMIT 20""".stripMargin,
    "q324_croston" ->
      """WITH weekly AS (
        |  SELECT l_partkey AS part,
        |    CAST(floor(datediff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE))/7) AS BIGINT) AS wi,
        |    sum(l_quantity) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |seq AS (
        |  SELECT part, wi, q,
        |    CAST(row_number() OVER (PARTITION BY part ORDER BY wi) AS BIGINT) AS j,
        |    CAST(wi - lag(wi) OVER (PARTITION BY part ORDER BY wi) AS DOUBLE) AS iv,
        |    count(*) OVER (PARTITION BY part) AS jmax
        |  FROM weekly),
        |st AS (
        |  SELECT part, jmax AS n_events,
        |    sum(CASE WHEN j = 1 THEN pow(0.75, jmax - 1)
        |             ELSE 0.25*pow(0.75, jmax - j) END * q) AS z_raw,
        |    sum(CASE WHEN j = 2 THEN pow(0.75, jmax - 2)
        |             WHEN j > 2 THEN 0.25*pow(0.75, jmax - j)
        |             ELSE 0.0 END * iv) AS p_raw
        |  FROM seq WHERE jmax >= 6 GROUP BY 1, 2)
        |SELECT part, n_events,
        |  floor(z_raw*10000 + 0.5)/10000 AS size_ewma,
        |  floor(p_raw*10000 + 0.5)/10000 AS interval_ewma,
        |  floor((z_raw/p_raw)*10000 + 0.5)/10000 AS demand_rate
        |FROM st
        |ORDER BY demand_rate DESC, part
        |LIMIT 20""".stripMargin,
    "q326_rec_holdout" ->
      """WITH marked AS (
        |  SELECT o_orderkey AS ok, o_custkey AS cust,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) = 1 AS is_holdout
        |  FROM orders),
        |lines AS (SELECT l_orderkey AS ok, l_partkey AS part FROM lineitem),
        |train AS (SELECT m.cust, l.ok, l.part FROM lines l
        |          JOIN marked m ON l.ok = m.ok AND NOT m.is_holdout),
        |holdout AS (SELECT DISTINCT m.cust, l.part FROM lines l
        |            JOIN marked m ON l.ok = m.ok AND m.is_holdout),
        |basket AS (SELECT DISTINCT ok, part FROM train),
        |co AS (SELECT a.part AS pa, b.part AS pb, count(*) AS c
        |       FROM basket a JOIN basket b ON a.ok = b.ok AND a.part < b.part
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT pa AS f, pb AS t, c FROM co
        |        UNION ALL SELECT pb, pa, c FROM co),
        |owned AS (SELECT DISTINCT cust, part FROM train),
        |cand AS (
        |  SELECT o.cust, a.t, CAST(sum(a.c) AS BIGINT) AS score
        |  FROM owned o JOIN adj a ON o.part = a.f
        |  GROUP BY 1, 2),
        |cand2 AS (
        |  SELECT c.* FROM cand c LEFT JOIN owned o
        |    ON c.cust = o.cust AND c.t = o.part
        |  WHERE o.cust IS NULL),
        |ranked AS (
        |  SELECT cust, t, row_number() OVER (PARTITION BY cust
        |    ORDER BY score DESC, t) AS rnk
        |  FROM cand2 QUALIFY rnk <= 3),
        |hits AS (
        |  SELECT r.cust, min(r.rnk) AS first_hit
        |  FROM ranked r JOIN holdout h ON r.cust = h.cust AND r.t = h.part
        |  GROUP BY 1),
        |ev AS (SELECT DISTINCT cust FROM ranked)
        |SELECT count(*) AS n_customers,
        |  count(CASE WHEN first_hit = 1 THEN 1 END) AS hits_at_1,
        |  count(first_hit) AS hits_at_k,
        |  floor((CAST(count(CASE WHEN first_hit = 1 THEN 1 END) AS DOUBLE)
        |    /count(*))*10000 + 0.5)/10000 AS hit_rate_1,
        |  floor((CAST(count(first_hit) AS DOUBLE)/count(*))*10000 + 0.5)/10000
        |    AS hit_rate_k
        |FROM ev LEFT JOIN hits USING (cust)""".stripMargin,
    "q327_trending" ->
      """WITH weekly AS (
        |  SELECT l_partkey AS part,
        |    CAST(floor(datediff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE))/7) AS BIGINT) AS wk,
        |    floor(sum(l_extendedprice*(1.0 - l_discount))*10000 + 0.5)/10000 AS wrev
        |  FROM lineitem GROUP BY 1, 2),
        |mx AS (SELECT max(wk) AS wmax FROM weekly),
        |two AS (SELECT weekly.*, wmax FROM weekly CROSS JOIN mx
        |        WHERE wk >= wmax - 1),
        |ranked AS (SELECT part, wk, wmax, wrev,
        |  CAST(row_number() OVER (PARTITION BY wk ORDER BY wrev DESC, part)
        |    AS BIGINT) AS rnk
        |  FROM two),
        |cur AS (SELECT part, wrev AS rev_cur, rnk AS rank_cur
        |        FROM ranked WHERE wk = wmax),
        |prev AS (SELECT part, wrev AS rev_prev, rnk AS rank_prev
        |         FROM ranked WHERE wk = wmax - 1)
        |SELECT cur.part, rank_prev, rank_cur,
        |  rank_prev - rank_cur AS rank_gain, rev_prev, rev_cur
        |FROM cur JOIN prev ON cur.part = prev.part
        |ORDER BY rank_gain DESC, cur.part LIMIT 20""".stripMargin,
    "q328_hbos" ->
      """WITH f AS (
        |  SELECT event_id, event_type, value,
        |    hour(ts) AS f_hour,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS f_dow
        |  FROM events),
        |vr AS (SELECT min(value) AS vmin, max(value) AS vmax FROM f),
        |b AS (SELECT f.*, CASE WHEN vmax = vmin THEN CAST(0 AS BIGINT)
        |        ELSE least(CAST(floor((value - vmin)*10/(vmax - vmin)) AS BIGINT), 9)
        |        END AS f_vbin
        |      FROM f CROSS JOIN vr),
        |tot AS (SELECT count(*) AS n_total FROM f),
        |dh AS (SELECT f_hour, CAST(count(*) AS DOUBLE)/(SELECT n_total FROM tot)
        |         AS d_h FROM b GROUP BY 1),
        |dd AS (SELECT f_dow, CAST(count(*) AS DOUBLE)/(SELECT n_total FROM tot)
        |         AS d_d FROM b GROUP BY 1),
        |dv AS (SELECT f_vbin, CAST(count(*) AS DOUBLE)/(SELECT n_total FROM tot)
        |         AS d_v FROM b GROUP BY 1)
        |SELECT event_id, event_type, f_hour, f_dow, f_vbin,
        |  floor((-(ln(d_h) + ln(d_d) + ln(d_v)))*10000 + 0.5)/10000 AS hbos_score
        |FROM b JOIN dh USING (f_hour) JOIN dd USING (f_dow) JOIN dv USING (f_vbin)
        |ORDER BY hbos_score DESC, event_id LIMIT 20""".stripMargin,
    "q329_forecast_tournament" ->
      """WITH RECURSIVE d0 AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |    floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders GROUP BY 1),
        |daily AS (SELECT rev, row_number() OVER (ORDER BY day) AS rn FROM d0),
        |nt AS (SELECT count(*) AS n, count(*)//4 AS ntest FROM daily),
        |rec AS (
        |  SELECT rn, rev, rev AS s, rev AS lvl, CAST(0.0 AS DOUBLE) AS trd,
        |    CAST(NULL AS DOUBLE) AS fce, CAST(NULL AS DOUBLE) AS fch
        |  FROM daily WHERE rn = 1
        |  UNION ALL
        |  SELECT d.rn, d.rev,
        |    0.25*d.rev + 0.75*r.s,
        |    0.25*d.rev + 0.75*(r.lvl + r.trd),
        |    0.125*((0.25*d.rev + 0.75*(r.lvl + r.trd)) - r.lvl) + 0.875*r.trd,
        |    r.s, r.lvl + r.trd
        |  FROM rec r JOIN daily d ON d.rn = r.rn + 1),
        |f AS (
        |  SELECT rn, rev,
        |    lag(rev) OVER (ORDER BY rn) AS fcn,
        |    lag(rev, 7) OVER (ORDER BY rn) AS fcs,
        |    fce, fch
        |  FROM rec),
        |sc AS (
        |  SELECT sum(abs(rev - fcn))/(SELECT n - ntest - 1 FROM nt) AS smae
        |  FROM f WHERE rn BETWEEN 2 AND (SELECT n - ntest FROM nt)),
        |test AS (SELECT * FROM f WHERE rn > (SELECT n - ntest FROM nt)),
        |m AS (
        |  SELECT 'naive' AS model, count(*) AS n_test,
        |    sum(abs(rev - fcn))/count(*) AS mae_r,
        |    sqrt(sum((rev - fcn)*(rev - fcn))/count(*)) AS rmse_r,
        |    sum(abs(rev - fcn)/rev)/count(*)*100 AS mape_r
        |  FROM test
        |  UNION ALL
        |  SELECT 'snaive7', count(*), sum(abs(rev - fcs))/count(*),
        |    sqrt(sum((rev - fcs)*(rev - fcs))/count(*)),
        |    sum(abs(rev - fcs)/rev)/count(*)*100
        |  FROM test
        |  UNION ALL
        |  SELECT 'ewma', count(*), sum(abs(rev - fce))/count(*),
        |    sqrt(sum((rev - fce)*(rev - fce))/count(*)),
        |    sum(abs(rev - fce)/rev)/count(*)*100
        |  FROM test
        |  UNION ALL
        |  SELECT 'holt', count(*), sum(abs(rev - fch))/count(*),
        |    sqrt(sum((rev - fch)*(rev - fch))/count(*)),
        |    sum(abs(rev - fch)/rev)/count(*)*100
        |  FROM test)
        |SELECT model, n_test,
        |  floor(mae_r*10000 + 0.5)/10000 AS mae,
        |  floor(rmse_r*10000 + 0.5)/10000 AS rmse,
        |  floor(mape_r*10000 + 0.5)/10000 AS mape_pct,
        |  floor((mae_r/smae)*10000 + 0.5)/10000 AS mase
        |FROM m CROSS JOIN sc ORDER BY mae, model""".stripMargin,
    "q330_delta_ratio" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS x,
        |    CAST(count(*) AS DOUBLE) AS y,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm
        |  FROM events GROUP BY user_id),
        |ag AS (
        |  SELECT arm, count(*) AS n_users, avg(x) AS mx, avg(y) AS my,
        |    var_samp(x) AS vx, var_samp(y) AS vy, covar_samp(x, y) AS cxy
        |  FROM pu GROUP BY arm),
        |r AS (SELECT ag.*, mx/my AS ratio FROM ag),
        |s AS (SELECT r.*,
        |  sqrt((vx - CAST(2.0 AS DOUBLE)*ratio*cxy + ratio*ratio*vy)/n_users)/my AS se
        |  FROM r)
        |SELECT arm, n_users,
        |  floor(ratio*10000 + 0.5)/10000 AS rev_per_event,
        |  floor(se*10000 + 0.5)/10000 AS se,
        |  floor((ratio - CAST(1.959963984540054 AS DOUBLE)*se)*10000 + 0.5)/10000 AS ci_lo,
        |  floor((ratio + CAST(1.959963984540054 AS DOUBLE)*se)*10000 + 0.5)/10000 AS ci_hi
        |FROM s ORDER BY arm""".stripMargin,
    "q331_fdr_bh" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm
        |  FROM events),
        |t AS (
        |  SELECT event_type,
        |    count(CASE WHEN arm = 'A' THEN 1 END) AS n_a,
        |    count(CASE WHEN arm = 'B' THEN 1 END) AS n_b,
        |    avg(CASE WHEN arm = 'A' THEN value END) AS ma,
        |    avg(CASE WHEN arm = 'B' THEN value END) AS mb,
        |    var_samp(CASE WHEN arm = 'A' THEN value END) AS va,
        |    var_samp(CASE WHEN arm = 'B' THEN value END) AS vb
        |  FROM e GROUP BY event_type),
        |z AS (SELECT t.*,
        |  CASE WHEN va/n_a + vb/n_b > 0
        |       THEN (ma - mb)/sqrt(va/n_a + vb/n_b) END AS z FROM t),
        |tt AS (SELECT z.*,
        |  CAST(1.0 AS DOUBLE)/(CAST(1.0 AS DOUBLE) + CAST(0.2316419 AS DOUBLE)*abs(z)) AS tk
        |  FROM z),
        |p AS (SELECT tt.*,
        |  CAST(2.0 AS DOUBLE) * ((exp(CAST(-0.5 AS DOUBLE)*abs(z)*abs(z))
        |      * CAST(0.3989422804014327 AS DOUBLE))
        |    * (CAST(0.319381530 AS DOUBLE)*tk
        |      + CAST(-0.356563782 AS DOUBLE)*tk*tk
        |      + CAST(1.781477937 AS DOUBLE)*tk*tk*tk
        |      + CAST(-1.821255978 AS DOUBLE)*tk*tk*tk*tk
        |      + CAST(1.330274429 AS DOUBLE)*tk*tk*tk*tk*tk)) AS p
        |  FROM tt),
        |b AS (SELECT p.*, count(*) OVER () AS m_tests,
        |  row_number() OVER (ORDER BY p, event_type) AS rnk FROM p),
        |a AS (SELECT b.*,
        |  least(min(p*m_tests/rnk) OVER (ORDER BY p, event_type
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), CAST(1.0 AS DOUBLE)) AS p_adj
        |  FROM b)
        |SELECT event_type, n_a, n_b,
        |  floor(z*10000 + 0.5)/10000 AS z,
        |  floor(p*10000 + 0.5)/10000 AS p_value,
        |  floor(p_adj*10000 + 0.5)/10000 AS p_adj,
        |  p_adj <= CAST(0.10 AS DOUBLE) AS significant
        |FROM a ORDER BY event_type""".stripMargin,
    "q332_diff_in_diff" ->
      """WITH mid AS (
        |  SELECT CAST(floor((min(epoch_us(ts)) + max(epoch_us(ts)))/2) AS BIGINT) AS mid_us
        |  FROM events),
        |cell AS (
        |  SELECT user_id,
        |    CASE WHEN epoch_us(ts) >= (SELECT mid_us FROM mid)
        |         THEN 'post' ELSE 'pre' END AS period,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm,
        |    sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS rev
        |  FROM events GROUP BY 1, 2, 3),
        |ag AS (
        |  SELECT
        |    avg(CASE WHEN arm='A' AND period='pre'  THEN rev END) AS m_ctrl_pre,
        |    avg(CASE WHEN arm='A' AND period='post' THEN rev END) AS m_ctrl_post,
        |    avg(CASE WHEN arm='B' AND period='pre'  THEN rev END) AS m_treat_pre,
        |    avg(CASE WHEN arm='B' AND period='post' THEN rev END) AS m_treat_post,
        |    var_samp(CASE WHEN arm='A' AND period='pre'  THEN rev END) AS v_cp,
        |    var_samp(CASE WHEN arm='A' AND period='post' THEN rev END) AS v_cq,
        |    var_samp(CASE WHEN arm='B' AND period='pre'  THEN rev END) AS v_tp,
        |    var_samp(CASE WHEN arm='B' AND period='post' THEN rev END) AS v_tq,
        |    count(CASE WHEN arm='A' AND period='pre'  THEN 1 END) AS n_cp,
        |    count(CASE WHEN arm='A' AND period='post' THEN 1 END) AS n_cq,
        |    count(CASE WHEN arm='B' AND period='pre'  THEN 1 END) AS n_tp,
        |    count(CASE WHEN arm='B' AND period='post' THEN 1 END) AS n_tq
        |  FROM cell),
        |d AS (SELECT ag.*,
        |  (m_treat_post - m_treat_pre) - (m_ctrl_post - m_ctrl_pre) AS did,
        |  sqrt(v_cp/n_cp + v_cq/n_cq + v_tp/n_tp + v_tq/n_tq) AS se
        |  FROM ag)
        |SELECT
        |  floor(m_ctrl_pre*10000 + 0.5)/10000 AS ctrl_pre,
        |  floor(m_ctrl_post*10000 + 0.5)/10000 AS ctrl_post,
        |  floor(m_treat_pre*10000 + 0.5)/10000 AS treat_pre,
        |  floor(m_treat_post*10000 + 0.5)/10000 AS treat_post,
        |  floor(did*10000 + 0.5)/10000 AS did,
        |  floor(se*10000 + 0.5)/10000 AS se,
        |  floor(CASE WHEN se > 0 THEN did/se END*10000 + 0.5)/10000 AS z
        |FROM d""".stripMargin,
    "q333_msprt" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS rev,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm
        |  FROM events GROUP BY user_id),
        |ag AS (
        |  SELECT
        |    count(CASE WHEN arm = 'A' THEN 1 END) AS n_a,
        |    count(CASE WHEN arm = 'B' THEN 1 END) AS n_b,
        |    avg(CASE WHEN arm = 'A' THEN rev END) AS ma,
        |    avg(CASE WHEN arm = 'B' THEN rev END) AS mb,
        |    var_samp(CASE WHEN arm = 'A' THEN rev END) AS va,
        |    var_samp(CASE WHEN arm = 'B' THEN rev END) AS vb
        |  FROM pu),
        |v AS (SELECT ag.*, va/n_a + vb/n_b AS v FROM ag),
        |l AS (SELECT v.*,
        |  CASE WHEN v > 0 THEN
        |    CAST(0.5 AS DOUBLE)*ln(v/(v + 0.25))
        |      + (ma - mb)*(ma - mb)*CAST(0.25 AS DOUBLE)
        |        /(CAST(2.0 AS DOUBLE)*v*(v + 0.25)) END AS log_lambda
        |  FROM v)
        |SELECT n_a, n_b,
        |  floor((ma - mb)*10000 + 0.5)/10000 AS lift,
        |  floor(log_lambda*10000 + 0.5)/10000 AS log_lambda,
        |  floor(least(CAST(1.0 AS DOUBLE), exp(-log_lambda))*10000 + 0.5)/10000
        |    AS p_always_valid
        |FROM l""".stripMargin,
    "q334_temperature_mix" ->
      """WITH s AS (
        |  SELECT source,
        |    CAST(len(regexp_extract_all(text,'\S+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |ps AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tok, count(*) AS n_docs
        |       FROM s GROUP BY source),
        |tot AS (SELECT sum(n_tok) AS tot_tok,
        |        sum(sqrt(CAST(n_tok AS DOUBLE))) AS tot_w FROM ps),
        |wt AS (SELECT ps.*, tot_tok, sqrt(CAST(n_tok AS DOUBLE))/tot_w AS w
        |       FROM ps CROSS JOIN tot)
        |SELECT source, n_docs, n_tok,
        |  floor(n_tok/CAST(tot_tok AS DOUBLE)*10000 + 0.5)/10000 AS raw_share,
        |  floor(w*10000 + 0.5)/10000 AS temp_share,
        |  floor(w*CAST(100000.0 AS DOUBLE)*10000 + 0.5)/10000 AS planned_tokens,
        |  floor(w*CAST(100000.0 AS DOUBLE)/n_tok*10000 + 0.5)/10000 AS epochs
        |FROM wt ORDER BY source""".stripMargin,
    "q336_gap_expfit" ->
      """WITH g0 AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(date_diff('day',
        |      CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey) AS DATE),
        |      CAST(o_orderdate AS DATE)) AS DOUBLE) AS gap
        |  FROM orders),
        |g AS (SELECT * FROM g0 WHERE gap IS NOT NULL),
        |m AS (SELECT avg(gap) AS mean_gap FROM g),
        |r AS (SELECT gap, o_custkey, o_orderkey,
        |        row_number() OVER (ORDER BY gap, o_custkey, o_orderkey) AS rn,
        |        count(*) OVER () AS n FROM g),
        |f AS (SELECT r.*, mean_gap,
        |        CASE WHEN mean_gap > 0 THEN 1.0 - exp(-gap/mean_gap)
        |             ELSE CAST(0.0 AS DOUBLE) END AS fx
        |      FROM r CROSS JOIN m)
        |SELECT max(n) AS n_gaps,
        |  floor(max(mean_gap)*10000 + 0.5)/10000 AS mean_gap,
        |  floor(CASE WHEN max(mean_gap) > 0 THEN 1.0/max(mean_gap) END*10000 + 0.5)/10000
        |    AS lambda,
        |  floor(max(greatest(rn/CAST(n AS DOUBLE) - fx,
        |    fx - (rn - 1)/CAST(n AS DOUBLE)))*10000 + 0.5)/10000 AS ks_stat
        |FROM f""".stripMargin,
    "q337_burn_rate" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS eday,
        |    strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    count(*) AS n_events,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_errors
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT daily.*,
        |    CAST(sum(n_errors) OVER (ORDER BY eday
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS e7,
        |    CAST(sum(n_events) OVER (ORDER BY eday
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n7
        |  FROM daily),
        |b AS (SELECT w.*, n_errors/CAST(n_events AS DOUBLE) AS rate FROM w),
        |c AS (SELECT b.*, rate/0.25 AS burn1, e7/CAST(n7 AS DOUBLE)/0.25 AS burn7 FROM b)
        |SELECT day, n_events, n_errors,
        |  floor(rate*10000 + 0.5)/10000 AS error_rate,
        |  floor(burn1*10000 + 0.5)/10000 AS burn_1d,
        |  floor(burn7*10000 + 0.5)/10000 AS burn_7d,
        |  burn1 > CAST(2.0 AS DOUBLE) AND burn7 > CAST(1.0 AS DOUBLE) AS page
        |FROM c ORDER BY day""".stripMargin,
    "q338_granger" ->
      """WITH daily AS (
        |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    CAST(CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS DOUBLE) AS x,
        |    CAST(CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |lagged AS (
        |  SELECT y,
        |    lag(y) OVER (ORDER BY day) AS ylag,
        |    lag(x) OVER (ORDER BY day) AS xlag
        |  FROM daily),
        |f AS (SELECT * FROM lagged WHERE ylag IS NOT NULL),
        |m AS (
        |  SELECT count(*) AS n,
        |    var_samp(ylag) AS s11, covar_samp(ylag, xlag) AS s12, var_samp(xlag) AS s22,
        |    covar_samp(ylag, y) AS s1y, covar_samp(xlag, y) AS s2y, var_samp(y) AS syy
        |  FROM f),
        |b AS (SELECT m.*,
        |  s11*s22 - s12*s12 AS det FROM m),
        |c AS (SELECT b.*,
        |  (s22*s1y - s12*s2y)/det AS b1,
        |  (s11*s2y - s12*s1y)/det AS b2 FROM b),
        |d AS (SELECT c.*,
        |  syy - b1*s1y - b2*s2y AS rssu,
        |  syy - s1y*s1y/s11 AS rssr FROM c)
        |SELECT n AS n_days,
        |  floor(b1*10000 + 0.5)/10000 AS beta_ylag,
        |  floor(b2*10000 + 0.5)/10000 AS beta_xlag,
        |  floor(CASE WHEN rssu > 0 THEN (rssr - rssu)*(n - 3)/rssu END*10000 + 0.5)/10000
        |    AS granger_f,
        |  floor((b1*s1y + b2*s2y)/syy*10000 + 0.5)/10000 AS r2_u
        |FROM d""".stripMargin,
    "q339_dispersion" ->
      """WITH tot AS (
        |  SELECT count(DISTINCT user_id) AS n_users,
        |    count(DISTINCT CAST(ts AS DATE)) AS n_days FROM events),
        |nz0 AS (
        |  SELECT event_type, user_id, CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |nz AS (
        |  SELECT event_type, count(*) AS m_nonzero,
        |    CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c*c) AS BIGINT) AS sc2
        |  FROM nz0 GROUP BY event_type),
        |g AS (SELECT nz.*, n_users*n_days AS nn FROM nz CROSS JOIN tot),
        |h AS (SELECT g.*, sc/nn AS lam FROM g),
        |i AS (SELECT h.*, sc2/nn - lam*lam AS v FROM h),
        |j AS (SELECT i.*, v/lam AS disp FROM i)
        |SELECT event_type, m_nonzero,
        |  floor(lam*10000 + 0.5)/10000 AS lambda,
        |  floor(disp*10000 + 0.5)/10000 AS dispersion,
        |  floor((nn - m_nonzero)/CAST(nn AS DOUBLE)*10000 + 0.5)/10000 AS zero_share_obs,
        |  floor(exp(-lam)*10000 + 0.5)/10000 AS zero_share_poisson,
        |  disp > CAST(1.25 AS DOUBLE) AS overdispersed
        |FROM j ORDER BY event_type""".stripMargin,
    "q340_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n_lines,
        |  floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000
        |    AS revenue,
        |  CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "q341_series_knn" ->
      """WITH daily AS (
        |  SELECT c_nationkey AS nation, CAST(o_orderdate AS DATE) AS d,
        |    floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |grid AS (
        |  SELECT n.nation, dd.d, coalesce(rev, CAST(0.0 AS DOUBLE)) AS rev
        |  FROM (SELECT DISTINCT nation FROM daily) n
        |  CROSS JOIN (SELECT DISTINCT d FROM daily) dd
        |  LEFT JOIN daily ON daily.nation = n.nation AND daily.d = dd.d),
        |stats AS (SELECT nation, avg(rev) AS mu, stddev_samp(rev) AS sd
        |          FROM grid GROUP BY 1),
        |z AS (SELECT g.nation, g.d,
        |        CASE WHEN sd > 0 THEN (rev - mu)/sd ELSE CAST(0.0 AS DOUBLE) END AS z
        |      FROM grid g JOIN stats USING (nation)),
        |dist AS (
        |  SELECT a.nation AS na, b.nation AS nb,
        |    floor(sum((a.z - b.z)*(a.z - b.z))*10000 + 0.5)/10000 AS ssd
        |  FROM z a JOIN z b ON a.d = b.d AND a.nation < b.nation GROUP BY 1, 2),
        |sym AS (SELECT * FROM dist UNION ALL SELECT nb, na, ssd FROM dist),
        |r AS (SELECT na AS nation,
        |        CAST(row_number() OVER (PARTITION BY na ORDER BY ssd, nb) AS BIGINT) AS rk,
        |        nb AS neighbor, ssd
        |      FROM sym)
        |SELECT nation, rk, neighbor, ssd FROM r WHERE rk <= 3
        |ORDER BY nation, rk""".stripMargin,
    "q342_rolling_median" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS eday,
        |    strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
        |    floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders GROUP BY 1, 2),
        |w AS (
        |  SELECT daily.*,
        |    quantile_cont(rev, 0.5) OVER (ORDER BY eday
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7,
        |    avg(rev) OVER (ORDER BY eday
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS avg7
        |  FROM daily)
        |SELECT day, rev,
        |  floor(med7*10000 + 0.5)/10000 AS median_7d,
        |  floor(avg7*10000 + 0.5)/10000 AS mean_7d,
        |  floor((rev - med7)*10000 + 0.5)/10000 AS vs_median
        |FROM w ORDER BY day""".stripMargin,
    "q343_rec_coverage" ->
      """WITH lines AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM lineitem),
        |cust AS (SELECT o_orderkey AS ok, o_custkey AS cust FROM orders),
        |co AS (
        |  SELECT a.part AS pa, b.part AS pb, count(*) AS c
        |  FROM lines a JOIN lines b ON a.ok = b.ok AND a.part < b.part
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT pa AS frm, pb AS tto, c FROM co
        |        UNION ALL SELECT pb, pa, c FROM co),
        |owned AS (SELECT DISTINCT cust, part FROM lines JOIN cust USING (ok)),
        |cand AS (
        |  SELECT o.cust, a.tto, CAST(sum(c) AS BIGINT) AS score
        |  FROM owned o JOIN adj a ON o.part = a.frm GROUP BY 1, 2),
        |cand2 AS (SELECT * FROM cand WHERE NOT EXISTS (
        |  SELECT 1 FROM owned w WHERE w.cust = cand.cust AND w.part = cand.tto)),
        |topk AS (SELECT cust, tto FROM (
        |  SELECT cust, tto, row_number() OVER (PARTITION BY cust
        |    ORDER BY score DESC, tto) AS rnk FROM cand2) WHERE rnk <= 3),
        |perpart AS (SELECT tto, count(*) AS slots FROM topk GROUP BY 1),
        |t10 AS (
        |  SELECT CAST(sum(CASE WHEN pr <= 10 THEN slots ELSE 0 END) AS BIGINT)
        |      AS top10_slots,
        |    CAST(sum(slots) AS BIGINT) AS total_slots,
        |    count(*) AS n_rec_parts
        |  FROM (SELECT perpart.*, row_number() OVER (ORDER BY slots DESC, tto) AS pr
        |        FROM perpart)),
        |sc AS (SELECT
        |  (SELECT count(DISTINCT cust) FROM owned) AS n_customers,
        |  (SELECT count(DISTINCT part) FROM lines) AS n_catalog,
        |  (SELECT count(DISTINCT cust) FROM topk) AS n_with_recs)
        |SELECT n_customers, n_with_recs, n_catalog, n_rec_parts, total_slots,
        |  floor(n_with_recs/CAST(n_customers AS DOUBLE)*10000 + 0.5)/10000
        |    AS customer_share,
        |  floor(n_rec_parts/CAST(n_catalog AS DOUBLE)*10000 + 0.5)/10000
        |    AS catalog_coverage,
        |  floor(top10_slots/CAST(total_slots AS DOUBLE)*10000 + 0.5)/10000
        |    AS top10_concentration
        |FROM sc CROSS JOIN t10""".stripMargin,
    "q344_dup_matrix" ->
      """WITH fps AS (
        |  SELECT DISTINCT source,
        |    md5(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS fp
        |  FROM documents),
        |ps AS (SELECT source, count(*) AS n_fps FROM fps GROUP BY source),
        |shared AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT x.source AS source_a, y.source AS source_b
        |  FROM ps x CROSS JOIN ps y WHERE x.source < y.source),
        |g AS (
        |  SELECT grid.source_a, grid.source_b,
        |    CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared
        |  FROM grid LEFT JOIN shared USING (source_a, source_b))
        |SELECT source_a, source_b, n_shared,
        |  floor(n_shared/CAST(na.n_fps AS DOUBLE)*10000 + 0.5)/10000 AS share_of_a,
        |  floor(n_shared/CAST(nb.n_fps AS DOUBLE)*10000 + 0.5)/10000 AS share_of_b
        |FROM g
        |JOIN ps na ON na.source = source_a
        |JOIN ps nb ON nb.source = source_b
        |ORDER BY source_a, source_b""".stripMargin,
    "q345_funnel_by_arm" ->
      """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts >= v.v_ts GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts GROUP BY e.user_id),
        |u AS (
        |  SELECT v.user_id,
        |    CASE WHEN c.user_id IS NOT NULL THEN 1 END AS clicked,
        |    CASE WHEN p.user_id IS NOT NULL THEN 1 END AS purchased,
        |    CASE WHEN substr(md5(CAST(v.user_id AS VARCHAR)), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm
        |  FROM v LEFT JOIN c ON v.user_id = c.user_id
        |         LEFT JOIN p ON v.user_id = p.user_id),
        |pa AS (SELECT arm, count(*) AS n_view, count(clicked) AS n_click,
        |         count(purchased) AS n_purchase
        |       FROM u GROUP BY arm),
        |zz AS (
        |  SELECT a.n_purchase/CAST(a.n_click AS DOUBLE) AS ra,
        |    b.n_purchase/CAST(b.n_click AS DOUBLE) AS rb,
        |    (a.n_purchase + b.n_purchase)/CAST(a.n_click + b.n_click AS DOUBLE) AS rp,
        |    a.n_click AS ca, b.n_click AS cb
        |  FROM (SELECT * FROM pa WHERE arm = 'A') a
        |  CROSS JOIN (SELECT * FROM pa WHERE arm = 'B') b),
        |z AS (SELECT floor((ra - rb)/sqrt(rp*(1-rp)*(1.0/ca + 1.0/cb))*10000 + 0.5)/10000
        |        AS step_z FROM zz)
        |SELECT arm, n_view, n_click, n_purchase,
        |  floor(n_click/CAST(n_view AS DOUBLE)*10000 + 0.5)/10000 AS view_to_click,
        |  floor(n_purchase/CAST(n_click AS DOUBLE)*10000 + 0.5)/10000 AS click_to_purchase,
        |  step_z
        |FROM pa CROSS JOIN z ORDER BY arm""".stripMargin,
    "q346_peaks" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS eday,
        |    strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
        |    floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders GROUP BY 1, 2),
        |w AS (
        |  SELECT daily.*,
        |    lag(rev) OVER (ORDER BY eday) AS prev,
        |    lead(rev) OVER (ORDER BY eday) AS next,
        |    quantile_cont(rev, 0.5) OVER (ORDER BY eday
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
        |  FROM daily)
        |SELECT day, rev,
        |  floor(med7*10000 + 0.5)/10000 AS baseline_med7,
        |  floor(rev/med7*10000 + 0.5)/10000 AS prominence
        |FROM w
        |WHERE prev IS NOT NULL AND next IS NOT NULL
        |  AND rev > prev AND rev > next AND rev > med7 * CAST(1.25 AS DOUBLE)
        |ORDER BY day""".stripMargin,
    "q347_cart_abandonment" ->
      """WITH g AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |s AS (
        |  SELECT g.*,
        |    sum(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g),
        |sess AS (
        |  SELECT user_id, sid,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS intent,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased,
        |    count(*) AS n_events
        |  FROM s GROUP BY 1, 2),
        |r AS (
        |  SELECT count(*) AS n_sessions,
        |    CAST(sum(intent) AS BIGINT) AS n_intent,
        |    CAST(sum(intent*purchased) AS BIGINT) AS n_converted,
        |    floor(avg(n_events)*10000 + 0.5)/10000 AS avg_events_per_session
        |  FROM sess)
        |SELECT n_sessions, n_intent, n_converted, avg_events_per_session,
        |  floor((1.0 - n_converted/CAST(n_intent AS DOUBLE))*10000 + 0.5)/10000
        |    AS abandonment_rate
        |FROM r""".stripMargin,
    "q348_empirical_bayes" ->
      """WITH rates AS (
        |  SELECT p_brand AS brand, count(*) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1),
        |r2 AS (SELECT rates.*, k/CAST(n AS DOUBLE) AS rate FROM rates),
        |pr AS (
        |  SELECT avg(rate) AS m, var_samp(rate) AS v FROM r2),
        |pr2 AS (SELECT pr.*, v > 0 AND v < m*(1.0 - m) AS valid FROM pr),
        |pr3 AS (SELECT pr2.*,
        |  CASE WHEN valid THEN m*(1.0 - m)/v - 1.0 END AS ab FROM pr2),
        |pr4 AS (SELECT m, valid,
        |  CASE WHEN valid THEN m*ab END AS alpha,
        |  CASE WHEN valid THEN (1.0 - m)*ab END AS beta FROM pr3)
        |SELECT brand, n, k,
        |  floor(rate*10000 + 0.5)/10000 AS raw_rate,
        |  floor(CASE WHEN valid THEN (k + alpha)/(n + alpha + beta)
        |        ELSE rate END*10000 + 0.5)/10000 AS shrunk_rate,
        |  floor(m*10000 + 0.5)/10000 AS prior_mean
        |FROM r2 CROSS JOIN pr4 ORDER BY brand""".stripMargin,
    "q349_substitutes" ->
      """WITH lines AS (SELECT l_orderkey AS ok, l_partkey AS part FROM lineitem),
        |owned AS (
        |  SELECT DISTINCT o_custkey AS cust, part
        |  FROM lines JOIN orders ON ok = o_orderkey),
        |cp AS (
        |  SELECT a.part AS pa, b.part AS pb, count(*) AS n_shared_customers
        |  FROM owned a JOIN owned b ON a.cust = b.cust AND a.part < b.part
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |basket AS (SELECT DISTINCT ok, part FROM lines),
        |bp AS (
        |  SELECT DISTINCT x.part AS pa, y.part AS pb
        |  FROM basket x JOIN basket y ON x.ok = y.ok AND x.part < y.part)
        |SELECT cp.pa, cp.pb, cp.n_shared_customers
        |FROM cp WHERE NOT EXISTS (
        |  SELECT 1 FROM bp WHERE bp.pa = cp.pa AND bp.pb = cp.pb)
        |ORDER BY n_shared_customers DESC, pa, pb LIMIT 20""".stripMargin,
    "q351_nrr" ->
      """WITH cm AS (
        |  SELECT o_custkey AS cust,
        |    year(o_orderdate)*12 + month(o_orderdate) - 1 AS mi,
        |    floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders GROUP BY 1, 2),
        |j AS (
        |  SELECT a.mi, a.rev, b.rev AS prev_rev
        |  FROM cm a JOIN cm b ON a.cust = b.cust AND b.mi = a.mi - 1),
        |g AS (
        |  SELECT mi, count(*) AS n_retained_customers,
        |    floor(sum(rev)*10000 + 0.5)/10000 AS retained_rev,
        |    floor(sum(prev_rev)*10000 + 0.5)/10000 AS base_rev
        |  FROM j GROUP BY mi)
        |SELECT CAST(mi//12 AS VARCHAR) || '-' ||
        |    lpad(CAST((mi % 12) + 1 AS VARCHAR), 2, '0') AS month,
        |  n_retained_customers, retained_rev, base_rev,
        |  floor(retained_rev/base_rev*10000 + 0.5)/10000 AS nrr
        |FROM g ORDER BY month""".stripMargin,
    "q352_seasonal_index" ->
      """WITH monthly AS (
        |  SELECT year(o_orderdate)*12 + month(o_orderdate) - 1 AS mi,
        |    floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT mi, rev,
        |    count(*) OVER (ORDER BY mi ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS n_win,
        |    avg(rev) OVER (ORDER BY mi ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS ma
        |  FROM monthly),
        |q AS (SELECT (mi % 12) + 1 AS month_of_year, rev/ma AS ratio
        |      FROM r WHERE n_win = 13),
        |i AS (SELECT month_of_year, avg(ratio) AS raw_idx, count(*) AS n_years
        |      FROM q GROUP BY 1),
        |n AS (SELECT avg(raw_idx) AS mean_idx FROM i)
        |SELECT month_of_year, n_years,
        |  floor(raw_idx*10000 + 0.5)/10000 AS raw_index,
        |  floor(raw_idx/mean_idx*10000 + 0.5)/10000 AS seasonal_index
        |FROM i CROSS JOIN n ORDER BY month_of_year""".stripMargin,
    "q353_pvm" ->
      """WITH byr AS (
        |  SELECT p_brand AS brand, year(l_shipdate) AS yr,
        |    floor(sum(l_extendedprice*(1.0 - l_discount))*10000 + 0.5)/10000 AS rev,
        |    floor(sum(l_quantity)*10000 + 0.5)/10000 AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |mx AS (SELECT max(yr) AS y2 FROM byr),
        |cur AS (SELECT brand, rev AS rev2, qty AS qty2
        |        FROM byr CROSS JOIN mx WHERE yr = y2),
        |prev AS (SELECT brand, rev AS rev1, qty AS qty1
        |         FROM byr CROSS JOIN mx WHERE yr = y2 - 1),
        |j AS (SELECT cur.brand, rev1, rev2, qty1, qty2,
        |        rev1/qty1 AS p1, rev2/qty2 AS p2
        |      FROM cur JOIN prev USING (brand))
        |SELECT brand,
        |  floor(rev1*10000 + 0.5)/10000 AS rev_prev,
        |  floor(rev2*10000 + 0.5)/10000 AS rev_cur,
        |  floor((rev2 - rev1)*10000 + 0.5)/10000 AS delta_rev,
        |  floor((p2 - p1)*qty1*10000 + 0.5)/10000 AS price_effect,
        |  floor((qty2 - qty1)*p1*10000 + 0.5)/10000 AS volume_effect,
        |  floor((p2 - p1)*(qty2 - qty1)*10000 + 0.5)/10000 AS mix_effect
        |FROM j ORDER BY brand""".stripMargin,
    "q354_runs_test" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS eday,
        |    floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders GROUP BY 1),
        |m AS (SELECT quantile_cont(rev, 0.5) AS med FROM daily),
        |s AS (SELECT eday, CASE WHEN rev > med THEN 1 ELSE 0 END AS sgn
        |      FROM daily CROSS JOIN m WHERE rev <> med),
        |l AS (SELECT sgn, lag(sgn) OVER (ORDER BY eday) AS prev_sgn FROM s),
        |r AS (
        |  SELECT
        |    CAST(sum(CASE WHEN prev_sgn IS NULL OR sgn <> prev_sgn THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_runs,
        |    CAST(sum(sgn) AS BIGINT) AS n_pos,
        |    count(*) AS n
        |  FROM l),
        |c AS (SELECT r.*, n - n_pos AS n_neg FROM r),
        |d AS (SELECT c.*, CAST(2.0 AS DOUBLE)*n_pos*n_neg/n + CAST(1.0 AS DOUBLE) AS mu
        |      FROM c),
        |e AS (SELECT d.*,
        |        (mu - CAST(1.0 AS DOUBLE))*(mu - CAST(2.0 AS DOUBLE))/(n - 1) AS sigma2
        |      FROM d)
        |SELECT n AS n_days, n_pos, n_neg, n_runs,
        |  floor(mu*10000 + 0.5)/10000 AS expected_runs,
        |  floor(CASE WHEN sigma2 > 0 THEN (n_runs - mu)/sqrt(sigma2) END*10000 + 0.5)/10000
        |    AS z
        |FROM e""".stripMargin,
    "q355_tukey_fences" ->
      """WITH q AS (
        |  SELECT o_orderpriority AS prio,
        |    quantile_cont(o_totalprice, 0.25) AS q1,
        |    quantile_cont(o_totalprice, 0.75) AS q3
        |  FROM orders GROUP BY 1),
        |f AS (SELECT q.*,
        |  q1 - CAST(1.5 AS DOUBLE)*(q3 - q1) AS lo,
        |  q3 + CAST(1.5 AS DOUBLE)*(q3 - q1) AS hi FROM q)
        |SELECT prio AS o_orderpriority, count(*) AS n,
        |  floor(max(q1)*10000 + 0.5)/10000 AS q1,
        |  floor(max(q3)*10000 + 0.5)/10000 AS q3,
        |  floor(max(lo)*10000 + 0.5)/10000 AS fence_lo,
        |  floor(max(hi)*10000 + 0.5)/10000 AS fence_hi,
        |  CAST(sum(CASE WHEN o_totalprice < lo OR o_totalprice > hi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  floor(sum(CASE WHEN o_totalprice < lo OR o_totalprice > hi
        |    THEN 1 ELSE 0 END)/CAST(count(*) AS DOUBLE)*10000 + 0.5)/10000
        |    AS outlier_share
        |FROM orders JOIN f ON o_orderpriority = prio
        |GROUP BY prio ORDER BY prio""".stripMargin,
    "q321_model_eval" ->
      """WITH ret AS (SELECT DISTINCT l_orderkey AS rk FROM lineitem
        |             WHERE l_returnflag = 'R'),
        |st AS (SELECT avg(o_totalprice) AS mu, stddev_samp(o_totalprice) AS sd
        |       FROM orders),
        |sc AS (SELECT o_orderkey, o_totalprice,
        |         CASE WHEN rk IS NOT NULL THEN 1 ELSE 0 END AS y,
        |         CASE WHEN sd = 0 THEN 0.5
        |              ELSE 1.0/(1.0 + exp(-(o_totalprice - mu)/sd)) END AS p
        |       FROM orders LEFT JOIN ret ON o_orderkey = rk CROSS JOIN st),
        |rn AS (SELECT o_totalprice, y,
        |         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
        |       FROM sc),
        |ar AS (SELECT o_totalprice, min(rn) + (count(*) - 1)/2.0 AS arank
        |       FROM rn GROUP BY 1),
        |wr AS (SELECT rn.y, ar.arank FROM rn JOIN ar USING (o_totalprice)),
        |auc AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS npos,
        |          CASE WHEN sum(y) = 0 OR sum(y) = count(*) THEN 0.5
        |            ELSE (sum(CASE WHEN y = 1 THEN arank END)
        |              - CAST(sum(y) AS DOUBLE)*(sum(y) + 1)/2.0)
        |            /(CAST(sum(y) AS DOUBLE)*(count(*) - sum(y))) END AS auc_raw
        |        FROM wr),
        |pw AS (SELECT avg((p - y)*(p - y)) AS brier_raw,
        |         avg(-(y*ln(p) + (1 - y)*ln(1.0 - p))) AS logloss_raw FROM sc),
        |eb AS (SELECT least(CAST(floor(p*10) AS BIGINT), 9) AS bin,
        |         count(*) AS nb, avg(p) AS pb, avg(CAST(y AS DOUBLE)) AS yb
        |       FROM sc GROUP BY 1),
        |ec AS (SELECT sum(nb*abs(pb - yb))/sum(nb) AS ece_raw FROM eb)
        |SELECT n AS n_orders, npos AS n_pos,
        |  floor(auc_raw*1000000 + 0.5)/1000000 AS auc,
        |  floor(brier_raw*1000000 + 0.5)/1000000 AS brier,
        |  floor(logloss_raw*1000000 + 0.5)/1000000 AS logloss,
        |  floor(ece_raw*1000000 + 0.5)/1000000 AS ece
        |FROM auc CROSS JOIN pw CROSS JOIN ec""".stripMargin,
    "q325_lift_table" ->
      """WITH ret AS (SELECT DISTINCT l_orderkey AS rk FROM lineitem
        |             WHERE l_returnflag = 'R'),
        |sc AS (SELECT o_orderkey, o_totalprice,
        |         CASE WHEN rk IS NOT NULL THEN 1 ELSE 0 END AS y
        |       FROM orders LEFT JOIN ret ON o_orderkey = rk),
        |tiled AS (SELECT y, ntile(10) OVER
        |            (ORDER BY -o_totalprice, o_orderkey) AS decile
        |          FROM sc),
        |agg AS (SELECT decile, count(*) AS n_orders,
        |          CAST(sum(y) AS BIGINT) AS n_pos
        |        FROM tiled GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tot_pos,
        |          CAST(sum(n_orders) AS BIGINT) AS tot_n FROM agg),
        |cum AS (SELECT decile, n_orders, n_pos,
        |          CAST(sum(n_pos) OVER (ORDER BY decile
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |            AS cum_pos
        |        FROM agg)
        |SELECT decile, n_orders, n_pos,
        |  floor((CAST(n_pos AS DOUBLE)/n_orders)*10000 + 0.5)/10000 AS pos_rate,
        |  floor((CAST(cum_pos AS DOUBLE)/tot_pos)*10000 + 0.5)/10000 AS cum_capture,
        |  floor(((CAST(n_pos AS DOUBLE)/n_orders)
        |         /(CAST(tot_pos AS DOUBLE)/tot_n))*10000 + 0.5)/10000 AS lift
        |FROM cum CROSS JOIN tot ORDER BY decile""".stripMargin,
    "q288_kcore" -> kcoreOracle,
    "q365_cochran_armitage" ->
      """WITH g AS (
        |  SELECT CAST(ceil(l_quantity/10.0) AS BIGINT) AS w, count(*) AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) AS r
        |  FROM lineitem GROUP BY 1),
        |s AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn, count(*) AS k, sum(r) AS rr,
        |    sum(w*r) AS swr, sum(w*n) AS swn, sum(w*w*n) AS swwn FROM g),
        |e AS (
        |  SELECT nn, k, rr/nn AS pbar,
        |    swr - (rr/nn)*swn AS num,
        |    (rr/nn)*(1.0 - rr/nn)*(swwn - CAST(swn AS DOUBLE)*swn/nn) AS den2
        |  FROM s)
        |SELECT nn AS n, k AS k_doses,
        |  floor(pbar*10000 + 0.5)/10000 AS overall_rate,
        |  floor(CASE WHEN den2 <= 0 THEN NULL ELSE num/sqrt(den2) END*10000 + 0.5)/10000
        |    AS z_trend
        |FROM e""".stripMargin,
    "q366_theil_index" ->
      """WITH cr AS (
        |  SELECT o_custkey AS ck, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1 HAVING CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) > 0),
        |j AS (
        |  SELECT n.n_name, cr.x FROM cr
        |  JOIN customer c ON cr.ck = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |m AS (SELECT n_name, avg(x) AS mu, count(*) AS n_customers
        |      FROM j GROUP BY 1)
        |SELECT j.n_name AS nation, max(m.n_customers) AS n_customers,
        |  floor(avg((j.x/m.mu)*ln(j.x/m.mu))*10000 + 0.5)/10000 AS theil,
        |  floor(max(m.mu)*10000 + 0.5)/10000 AS mean_revenue
        |FROM j JOIN m ON j.n_name = m.n_name
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q367_wasserstein" ->
      """WITH seg AS (
        |  SELECT c_custkey, CASE WHEN c_mktsegment = 'BUILDING' THEN 0 ELSE 1 END AS side
        |  FROM customer WHERE c_mktsegment IN ('BUILDING','MACHINERY')),
        |v AS (
        |  SELECT o_orderkey AS k, o_totalprice AS v, side
        |  FROM orders JOIN seg ON o_custkey = c_custkey),
        |r AS (
        |  SELECT v, side,
        |    sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) OVER (ORDER BY v, side, k) AS cum_a,
        |    sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) OVER (ORDER BY v, side, k) AS cum_b,
        |    lead(v) OVER (ORDER BY v, side, k) AS v_next
        |  FROM v),
        |n AS (
        |  SELECT count(CASE WHEN side = 0 THEN 1 END) AS n_a,
        |         count(CASE WHEN side = 1 THEN 1 END) AS n_b FROM v)
        |SELECT n_a, n_b,
        |  floor(sum(abs(CAST(cum_a AS DOUBLE)/n_a - CAST(cum_b AS DOUBLE)/n_b)
        |        *(v_next - v))*10000 + 0.5)/10000 AS w1
        |FROM r CROSS JOIN n WHERE v_next IS NOT NULL GROUP BY n_a, n_b""".stripMargin,
    "q368_cliffs_delta" ->
      """WITH v AS (
        |  SELECT o_orderkey AS k, o_totalprice AS v,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END AS side
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |r AS (SELECT *, row_number() OVER (ORDER BY v, side, k) AS rn FROM v),
        |m AS (SELECT side, avg(rn) OVER (PARTITION BY v) AS mid FROM r),
        |a AS (
        |  SELECT count(CASE WHEN side = 0 THEN 1 END) AS n_a,
        |    count(CASE WHEN side = 1 THEN 1 END) AS n_b,
        |    sum(CASE WHEN side = 0 THEN mid ELSE 0.0 END) AS r1
        |  FROM m),
        |d AS (
        |  SELECT n_a, n_b,
        |    floor((2.0*(r1 - n_a*(n_a + 1.0)/2)/(CAST(n_a AS DOUBLE)*n_b) - 1)
        |      *10000 + 0.5)/10000 AS delta
        |  FROM a)
        |SELECT n_a, n_b, delta,
        |  CASE WHEN abs(delta) < CAST(0.147 AS DOUBLE) THEN 'negligible'
        |       WHEN abs(delta) < CAST(0.33 AS DOUBLE) THEN 'small'
        |       WHEN abs(delta) < CAST(0.474 AS DOUBLE) THEN 'medium'
        |       ELSE 'large' END AS magnitude
        |FROM d""".stripMargin,
    "q369_mood_median" ->
      """WITH v AS (
        |  SELECT o_orderkey AS k, o_totalprice AS v, o_orderpriority AS grp FROM orders),
        |r AS (SELECT v, row_number() OVER (ORDER BY v, k) AS rn, count(*) OVER () AS tot FROM v),
        |m AS (SELECT v AS med FROM r WHERE rn = (tot + 1) // 2),
        |g AS (
        |  SELECT grp, count(*) AS n,
        |    CAST(sum(CASE WHEN v.v > med THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |  FROM v CROSS JOIN m GROUP BY grp),
        |t AS (SELECT sum(n) AS tn, sum(n_above) AS ta FROM g),
        |c AS (
        |  SELECT g.grp, g.n, g.n_above,
        |    CAST(g.n AS DOUBLE)*ta/tn AS ea,
        |    CAST(g.n AS DOUBLE)*(tn - ta)/tn AS eb
        |  FROM g CROSS JOIN t)
        |SELECT grp AS o_orderpriority, n, n_above,
        |  floor(ea*10000 + 0.5)/10000 AS exp_above,
        |  floor(sum((n_above - ea)*(n_above - ea)/ea
        |      + (n - n_above - eb)*(n - n_above - eb)/eb) OVER ()*10000 + 0.5)/10000 AS chi2
        |FROM c ORDER BY o_orderpriority""".stripMargin,
    "q370_hill_tail" ->
      """WITH tf AS (
        |  SELECT lang, tok, count(*) AS n FROM (
        |    SELECT lang, unnest(regexp_extract_all(lower(text),'\S+')) AS tok
        |    FROM documents)
        |  GROUP BY lang, tok),
        |r AS (
        |  SELECT lang, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk
        |  FROM tf),
        |ref AS (SELECT lang, n AS nk1 FROM r WHERE rk = 11)
        |SELECT r.lang, count(*) AS k_used,
        |  floor(avg(ln(CAST(r.n AS DOUBLE)/nk1))*10000 + 0.5)/10000 AS hill_mean_log,
        |  floor(CASE WHEN avg(ln(CAST(r.n AS DOUBLE)/nk1)) = 0 THEN NULL
        |        ELSE 1.0/avg(ln(CAST(r.n AS DOUBLE)/nk1)) END*10000 + 0.5)/10000 AS alpha_tail
        |FROM r JOIN ref ON r.lang = ref.lang
        |WHERE rk <= 10
        |GROUP BY r.lang ORDER BY r.lang""".stripMargin,
    "q371_vocab_richness" ->
      """WITH tf AS (
        |  SELECT lang, tok, count(*) AS n FROM (
        |    SELECT lang, unnest(regexp_extract_all(lower(text),'\S+')) AS tok
        |    FROM documents)
        |  GROUP BY lang, tok)
        |SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens, count(*) AS vocab,
        |  CAST(count(CASE WHEN n = 1 THEN 1 END) AS BIGINT) AS f1,
        |  CAST(count(CASE WHEN n = 2 THEN 1 END) AS BIGINT) AS f2,
        |  floor((count(*) + count(CASE WHEN n = 1 THEN 1 END)
        |      *(count(CASE WHEN n = 1 THEN 1 END) - 1)
        |      /(2.0*(count(CASE WHEN n = 2 THEN 1 END) + 1)))*10000 + 0.5)/10000 AS chao1,
        |  floor((1.0 - count(CASE WHEN n = 1 THEN 1 END)/CAST(sum(n) AS DOUBLE))
        |      *10000 + 0.5)/10000 AS coverage
        |FROM tf GROUP BY lang ORDER BY lang""".stripMargin,
    "q372_good_turing" ->
      """WITH tf AS (
        |  SELECT tok, count(*) AS n FROM (
        |    SELECT unnest(regexp_extract_all(lower(text),'\S+')) AS tok FROM documents)
        |  GROUP BY tok),
        |cc AS (SELECT n AS r, count(*) AS n_r FROM tf GROUP BY n),
        |low AS (SELECT r, n_r FROM cc ORDER BY r LIMIT 10),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS big_n FROM tf)
        |SELECT a.r, a.n_r,
        |  CAST(coalesce(b.n_r, 0) AS BIGINT) AS n_r_next,
        |  floor((a.r + 1)*coalesce(b.n_r, 0)/CAST(a.n_r AS DOUBLE)*10000 + 0.5)/10000 AS r_star,
        |  floor((a.r + 1)*coalesce(b.n_r, 0)/CAST(a.n_r AS DOUBLE)/big_n
        |      *100000000 + 0.5)/100000000 AS p_gt
        |FROM low a LEFT JOIN cc b ON b.r = a.r + 1 CROSS JOIN tot
        |ORDER BY a.r""".stripMargin,
    "q373_source_hellinger" ->
      """WITH tf AS (
        |  SELECT source, tok, count(*) AS n FROM (
        |    SELECT source, unnest(regexp_extract_all(lower(text),'\S+')) AS tok
        |    FROM documents)
        |  GROUP BY source, tok),
        |tot AS (SELECT source, sum(n) AS tot FROM tf GROUP BY source),
        |p AS (
        |  SELECT tf.source, tok, CAST(n AS DOUBLE)/tot AS p
        |  FROM tf JOIN tot ON tf.source = tot.source),
        |d AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS common_vocab,
        |    sum(sqrt(a.p*b.p)) AS bc
        |  FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, common_vocab,
        |  floor(bc*10000 + 0.5)/10000 AS bc,
        |  floor(sqrt(greatest(0.0, 1.0 - bc))*10000 + 0.5)/10000 AS hellinger,
        |  floor(-ln(bc)*10000 + 0.5)/10000 AS bhattacharyya
        |FROM d ORDER BY src_a, src_b""".stripMargin,
    "q374_labeler_kappa" ->
      """WITH f AS (
        |  SELECT (n_chars >= 400) AS a,
        |    (len(regexp_extract_all(text,'\S+')) >= 60) AS b
        |  FROM documents),
        |c AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(count(CASE WHEN a AND b THEN 1 END) AS BIGINT) AS n_both,
        |    CAST(count(CASE WHEN a AND NOT b THEN 1 END) AS BIGINT) AS n_a_only,
        |    CAST(count(CASE WHEN NOT a AND b THEN 1 END) AS BIGINT) AS n_b_only,
        |    CAST(count(CASE WHEN NOT a AND NOT b THEN 1 END) AS BIGINT) AS n_neither
        |  FROM f),
        |k AS (
        |  SELECT *, (n_both + n_neither)/CAST(n_docs AS DOUBLE) AS po,
        |    ((n_both + n_a_only)*(n_both + n_b_only)
        |      + (n_b_only + n_neither)*(n_a_only + n_neither))
        |      /(CAST(n_docs AS DOUBLE)*n_docs) AS pe
        |  FROM c)
        |SELECT n_docs, n_both, n_a_only, n_b_only, n_neither,
        |  floor(po*10000 + 0.5)/10000 AS p_observed,
        |  floor(pe*10000 + 0.5)/10000 AS p_expected,
        |  floor(CASE WHEN pe < 1.0 THEN (po - pe)/(1.0 - pe) END*10000 + 0.5)/10000 AS kappa
        |FROM k""".stripMargin,
    "q375_ipw_ate" ->
      """WITH e AS (
        |  SELECT CAST(user_id % 2 AS INT) AS t, value AS y, event_type AS x FROM events),
        |p AS (SELECT x, avg(CAST(t AS DOUBLE)) AS eh FROM e GROUP BY x),
        |j AS (SELECT t, y, eh FROM e JOIN p ON e.x = p.x)
        |SELECT count(*) AS n_events,
        |  floor((avg(CASE WHEN t = 1 THEN y END) - avg(CASE WHEN t = 0 THEN y END))
        |      *10000 + 0.5)/10000 AS ate_naive,
        |  floor((sum(CASE WHEN t = 1 THEN y/eh END)/sum(CASE WHEN t = 1 THEN 1.0/eh END)
        |       - sum(CASE WHEN t = 0 THEN y/(1.0 - eh) END)
        |         /sum(CASE WHEN t = 0 THEN 1.0/(1.0 - eh) END))*10000 + 0.5)/10000 AS ate_ipw,
        |  floor(sum(CASE WHEN t = 1 THEN y/eh END)/sum(CASE WHEN t = 1 THEN 1.0/eh END)
        |      *10000 + 0.5)/10000 AS mu_treated,
        |  floor(sum(CASE WHEN t = 0 THEN y/(1.0 - eh) END)
        |      /sum(CASE WHEN t = 0 THEN 1.0/(1.0 - eh) END)*10000 + 0.5)/10000 AS mu_control
        |FROM j""".stripMargin,
    "q376_friedman" ->
      """WITH cell AS (
        |  SELECT month(o_orderdate) AS block, o_orderpriority AS treat,
        |    floor(avg(o_totalprice)*10000 + 0.5)/10000 AS m
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT treat, row_number() OVER (PARTITION BY block ORDER BY m, treat) AS r
        |  FROM cell),
        |s AS (
        |  SELECT treat, sum(CAST(r AS DOUBLE)) AS rank_sum, count(*) AS n_blocks
        |  FROM r GROUP BY treat)
        |SELECT treat AS o_orderpriority, rank_sum, n_blocks,
        |  -- complete-block gate mirrors the Spark side: Q is only valid
        |  -- when every block ranks all k treatments
        |  CASE WHEN min(n_blocks) OVER () = max(n_blocks) OVER () THEN
        |    floor((12.0/(max(n_blocks) OVER ()*count(*) OVER ()*(count(*) OVER () + 1))
        |      *sum(rank_sum*rank_sum) OVER ()
        |      - 3.0*max(n_blocks) OVER ()*(count(*) OVER () + 1))*10000 + 0.5)/10000
        |  END AS q_stat
        |FROM s ORDER BY o_orderpriority""".stripMargin,
    "q377_negbin_fit" ->
      """WITH c AS (
        |  SELECT c.c_custkey, c.c_mktsegment, count(o_orderkey) AS cnt
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2)
        |SELECT c_mktsegment AS segment, count(*) AS n_cust,
        |  floor(avg(CAST(cnt AS DOUBLE))*10000 + 0.5)/10000 AS mean_orders,
        |  floor(var_samp(CAST(cnt AS DOUBLE))*10000 + 0.5)/10000 AS var_orders,
        |  floor(CASE WHEN var_samp(CAST(cnt AS DOUBLE)) = avg(CAST(cnt AS DOUBLE)) THEN NULL
        |      ELSE avg(CAST(cnt AS DOUBLE))*avg(CAST(cnt AS DOUBLE))
        |      /(var_samp(CAST(cnt AS DOUBLE)) - avg(CAST(cnt AS DOUBLE))) END*10000 + 0.5)/10000 AS nb_r,
        |  floor(CASE WHEN var_samp(CAST(cnt AS DOUBLE)) = 0 THEN NULL
        |      ELSE avg(CAST(cnt AS DOUBLE))/var_samp(CAST(cnt AS DOUBLE)) END*10000 + 0.5)/10000 AS nb_p,
        |  floor(CASE WHEN avg(CAST(cnt AS DOUBLE)) = 0 THEN NULL
        |      ELSE var_samp(CAST(cnt AS DOUBLE))/avg(CAST(cnt AS DOUBLE)) END*10000 + 0.5)/10000 AS dispersion
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q378_readability" ->
      """WITH d AS (
        |  SELECT lang,
        |    CAST(len(regexp_extract_all(lower(text),'[a-z]+')) AS DOUBLE) AS w,
        |    CAST(len(regexp_extract_all(lower(text),'[aeiouy]+')) AS DOUBLE) AS s,
        |    CAST(greatest(len(regexp_extract_all(text,'[.!?]+')), 1) AS DOUBLE) AS st
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  floor(avg(w/st)*10000 + 0.5)/10000 AS words_per_sentence,
        |  floor(avg(s/w)*10000 + 0.5)/10000 AS syllables_per_word,
        |  floor(avg(206.835 - 1.015*w/st - 84.6*(s/w))*10000 + 0.5)/10000 AS flesch_ease,
        |  floor(avg(0.39*w/st + 11.8*(s/w) - 15.59)*10000 + 0.5)/10000 AS fk_grade
        |FROM d WHERE w > 0 GROUP BY lang ORDER BY lang""".stripMargin,
    "q379_cramer_von_mises" ->
      """WITH seg AS (
        |  SELECT c_custkey, CASE WHEN c_mktsegment = 'BUILDING' THEN 0 ELSE 1 END AS side
        |  FROM customer WHERE c_mktsegment IN ('BUILDING','MACHINERY')),
        |v AS (
        |  SELECT o_orderkey AS k, o_totalprice AS v, side
        |  FROM orders JOIN seg ON o_custkey = c_custkey),
        |r AS (
        |  SELECT
        |    sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) OVER (ORDER BY v, side, k) AS cum_a,
        |    sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) OVER (ORDER BY v, side, k) AS cum_b
        |  FROM v),
        |n AS (
        |  SELECT count(CASE WHEN side = 0 THEN 1 END) AS n_a,
        |         count(CASE WHEN side = 1 THEN 1 END) AS n_b FROM v)
        |SELECT n_a, n_b,
        |  floor(CAST(n_a AS DOUBLE)*n_b/((n_a + n_b)*(n_a + n_b))
        |    *sum((CAST(cum_a AS DOUBLE)/n_a - CAST(cum_b AS DOUBLE)/n_b)
        |        *(CAST(cum_a AS DOUBLE)/n_a - CAST(cum_b AS DOUBLE)/n_b))
        |    *10000 + 0.5)/10000 AS t_stat
        |FROM r CROSS JOIN n GROUP BY n_a, n_b""".stripMargin,
    "q380_mcnemar" ->
      """WITH f AS (
        |  SELECT (n_chars >= 400) AS a,
        |    (len(regexp_extract_all(text,'\S+')) >= 60) AS b
        |  FROM documents),
        |c AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(count(CASE WHEN a AND NOT b THEN 1 END) AS BIGINT) AS n_a_only,
        |    CAST(count(CASE WHEN NOT a AND b THEN 1 END) AS BIGINT) AS n_b_only
        |  FROM f)
        |SELECT n_docs, n_a_only, n_b_only,
        |  floor(CASE WHEN n_a_only + n_b_only > 0 THEN
        |    CAST(n_a_only - n_b_only AS DOUBLE)*(n_a_only - n_b_only)
        |      /(n_a_only + n_b_only) END*10000 + 0.5)/10000 AS chi2,
        |  floor(CASE WHEN n_a_only + n_b_only > 0 THEN
        |    greatest(0, abs(n_a_only - n_b_only) - 1)
        |      *greatest(0, abs(n_a_only - n_b_only) - 1)
        |      /CAST(n_a_only + n_b_only AS DOUBLE) END*10000 + 0.5)/10000 AS chi2_corrected
        |FROM c""".stripMargin,
    "q381_ipw_diagnostics" ->
      """WITH e AS (
        |  SELECT CAST(user_id % 2 AS INT) AS t, event_type AS x FROM events),
        |p AS (SELECT x, avg(CAST(t AS DOUBLE)) AS eh FROM e GROUP BY x),
        |j AS (
        |  SELECT t, CASE WHEN t = 1 THEN 1.0/eh ELSE 1.0/(1.0 - eh) END AS w
        |  FROM e JOIN p ON e.x = p.x)
        |SELECT t AS arm, count(*) AS n,
        |  floor(sum(w)*10000 + 0.5)/10000 AS sum_w,
        |  floor(sum(w)*sum(w)/sum(w*w)*10000 + 0.5)/10000 AS ess,
        |  floor(sum(w)*sum(w)/sum(w*w)/count(*)*10000 + 0.5)/10000 AS ess_ratio,
        |  floor(max(w)*10000 + 0.5)/10000 AS max_w,
        |  floor(stddev_samp(w)/avg(w)*10000 + 0.5)/10000 AS cv_w
        |FROM j GROUP BY t ORDER BY arm""".stripMargin,
    "q382_logrank" ->
      """WITH seg AS (
        |  SELECT c_custkey, CASE WHEN c_mktsegment = 'BUILDING' THEN 0 ELSE 1 END AS side
        |  FROM customer WHERE c_mktsegment IN ('BUILDING','MACHINERY')),
        |e AS (SELECT max(o_orderdate) AS endd FROM orders),
        |life AS (
        |  SELECT side,
        |    CAST(floor(date_diff('day', f, l)/30.0) AS BIGINT) AS t,
        |    CASE WHEN date_diff('day', l, endd) > 365 THEN 1 ELSE 0 END AS churned
        |  FROM (SELECT o_custkey, side, min(o_orderdate) AS f, max(o_orderdate) AS l
        |        FROM orders JOIN seg ON o_custkey = c_custkey GROUP BY 1, 2)
        |  CROSS JOIN e),
        |bts AS (
        |  SELECT t, side, count(*) AS n_t, CAST(sum(churned) AS BIGINT) AS d
        |  FROM life GROUP BY 1, 2),
        |grid AS (
        |  SELECT DISTINCT t, s.side
        |  FROM bts CROSS JOIN (SELECT 0 AS side UNION ALL SELECT 1) s),
        |tot AS (SELECT side, count(*) AS n_users FROM life GROUP BY 1),
        |dense AS (
        |  SELECT g.t, g.side, coalesce(b.n_t, 0) AS n_t, coalesce(b.d, 0) AS d, tot.n_users
        |  FROM grid g LEFT JOIN bts b ON g.t = b.t AND g.side = b.side
        |  JOIN tot ON g.side = tot.side),
        |risk AS (
        |  SELECT t, side, d,
        |    n_users - coalesce(sum(n_t) OVER (PARTITION BY side ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
        |  FROM dense),
        |pt AS (
        |  SELECT t,
        |    max(CASE WHEN side = 0 THEN at_risk END) AS ra,
        |    max(CASE WHEN side = 1 THEN at_risk END) AS rb,
        |    max(CASE WHEN side = 0 THEN d END) AS da,
        |    max(CASE WHEN side = 1 THEN d END) AS db
        |  FROM risk GROUP BY t),
        |terms AS (
        |  SELECT da,
        |    CAST(da + db AS DOUBLE)*ra/(ra + rb) AS e_a,
        |    CASE WHEN ra + rb > 1 THEN
        |      CAST(da + db AS DOUBLE)*(CAST(ra AS DOUBLE)/(ra + rb))
        |        *(1.0 - CAST(ra AS DOUBLE)/(ra + rb))
        |        *((ra + rb) - (da + db))/((ra + rb) - 1)
        |      ELSE 0.0 END AS v
        |  FROM pt),
        |agg AS (
        |  SELECT count(*) AS n_times, CAST(sum(da) AS BIGINT) AS o_a,
        |    sum(e_a) AS ea, sum(v) AS vv FROM terms)
        |SELECT n_times, o_a,
        |  floor(ea*10000 + 0.5)/10000 AS e_a,
        |  floor(CASE WHEN vv > 0 THEN (o_a - ea)*(o_a - ea)/vv END*10000 + 0.5)/10000 AS chi2,
        |  floor(CASE WHEN vv > 0 THEN (o_a - ea)/sqrt(vv) END*10000 + 0.5)/10000 AS z_stat
        |FROM agg""".stripMargin,
    "q383_quantile_shift" ->
      """WITH seg AS (
        |  SELECT c_custkey, CASE WHEN c_mktsegment = 'BUILDING' THEN 0 ELSE 1 END AS side
        |  FROM customer WHERE c_mktsegment IN ('BUILDING','MACHINERY')),
        |v AS (
        |  SELECT o_orderkey AS k, o_totalprice AS v, side
        |  FROM orders JOIN seg ON o_custkey = c_custkey),
        |r AS (SELECT v, side, row_number() OVER (PARTITION BY side ORDER BY v, k) AS rn FROM v),
        |n AS (SELECT side, count(*) AS ns FROM v GROUP BY side),
        |b AS (
        |  SELECT side, d AS decile, CAST(ceil(ns*d/10.0) AS BIGINT) AS trank
        |  FROM n CROSS JOIN (SELECT unnest(range(1, 11)) AS d)),
        |q AS (
        |  SELECT b.decile,
        |    max(CASE WHEN r.side = 0 THEN r.v END) AS q_a,
        |    max(CASE WHEN r.side = 1 THEN r.v END) AS q_b
        |  FROM r JOIN b ON r.side = b.side AND r.rn = b.trank
        |  GROUP BY 1)
        |SELECT decile, q_a, q_b,
        |  floor((q_b - q_a)*10000 + 0.5)/10000 AS shift,
        |  floor(CASE WHEN q_a <> 0 THEN q_b/q_a END*10000 + 0.5)/10000 AS ratio
        |FROM q ORDER BY decile""".stripMargin,
    "q384_rate_ratio" ->
      """WITH c AS (
        |  SELECT
        |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS c_a,
        |    CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS c_b,
        |    count(DISTINCT CAST(ts AS DATE)) AS n_days
        |  FROM events)
        |SELECT c_a, c_b, n_days,
        |  floor(c_a/CAST(n_days AS DOUBLE)*10000 + 0.5)/10000 AS rate_a,
        |  floor(c_b/CAST(n_days AS DOUBLE)*10000 + 0.5)/10000 AS rate_b,
        |  floor(CASE WHEN c_b > 0 THEN c_a/CAST(c_b AS DOUBLE) END*10000 + 0.5)/10000
        |    AS rate_ratio,
        |  floor(CASE WHEN c_a > 0 AND c_b > 0 THEN
        |    ln(c_a/CAST(c_b AS DOUBLE))/sqrt(1.0/c_a + 1.0/c_b) END*10000 + 0.5)/10000
        |    AS z_stat
        |FROM c""".stripMargin,
    "q385_yuen_trimmed" ->
      """WITH v AS (
        |  SELECT o_orderkey AS k, o_totalprice AS v,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END AS side
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |r AS (
        |  SELECT v, side, row_number() OVER (PARTITION BY side ORDER BY v, k) AS rn,
        |    count(*) OVER (PARTITION BY side) AS ns
        |  FROM v),
        |w AS (
        |  SELECT side, v, rn, ns,
        |    CAST(floor(ns*CAST(0.1 AS DOUBLE)) AS BIGINT) AS g
        |  FROM r),
        |bnd AS (
        |  SELECT side, max(CASE WHEN rn = g + 1 THEN v END) AS vlo,
        |    max(CASE WHEN rn = ns - g THEN v END) AS vhi
        |  FROM w GROUP BY side),
        |s AS (
        |  SELECT w.side, max(ns) AS ns, max(g) AS g,
        |    avg(CASE WHEN rn > g AND rn <= ns - g THEN v END) AS tm,
        |    var_samp(least(greatest(v, vlo), vhi)) AS s2w
        |  FROM w JOIN bnd ON w.side = bnd.side GROUP BY w.side),
        |d AS (
        |  SELECT side, ns, ns - 2*g AS h, tm,
        |    CASE WHEN ns - 2*g > 1 THEN
        |      s2w*(ns - 1)/((ns - 2*g)*(ns - 2*g - 1)) END AS dd
        |  FROM s)
        |SELECT a.ns AS n_a, b.ns AS n_b, a.h AS h_a, b.h AS h_b,
        |  floor(a.tm*10000 + 0.5)/10000 AS tm_a,
        |  floor(b.tm*10000 + 0.5)/10000 AS tm_b,
        |  floor(CASE WHEN a.dd + b.dd > 0 THEN
        |    (a.tm - b.tm)/sqrt(a.dd + b.dd) END*10000 + 0.5)/10000 AS t_stat
        |FROM d a CROSS JOIN d b WHERE a.side = 0 AND b.side = 1""".stripMargin,
    "q386_partial_corr" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x,
        |    CAST(count(*) AS DOUBLE) AS y, avg(o_totalprice) AS z
        |  FROM orders GROUP BY 1),
        |c AS (
        |  SELECT count(*) AS n_days, corr(x, y) AS rxy, corr(x, z) AS rxz,
        |    corr(y, z) AS ryz
        |  FROM daily)
        |SELECT n_days,
        |  floor(rxy*10000 + 0.5)/10000 AS r_rev_cnt,
        |  floor(rxz*10000 + 0.5)/10000 AS r_rev_ticket,
        |  floor(ryz*10000 + 0.5)/10000 AS r_cnt_ticket,
        |  floor(CASE WHEN rxz*rxz < 1.0 AND ryz*ryz < 1.0 THEN
        |    (rxy - rxz*ryz)/sqrt((1.0 - rxz*rxz)*(1.0 - ryz*ryz)) END*10000 + 0.5)/10000
        |    AS partial_r
        |FROM c""".stripMargin,
    "q387_two_way_anova" ->
      """WITH k AS (
        |  SELECT month(o_orderdate) AS ma, o_orderpriority AS pb, o_totalprice AS v
        |  FROM orders),
        |tot AS (SELECT count(*) AS n, sum(v) AS s, sum(v*v) AS ss FROM k),
        |ba AS (
        |  SELECT count(*) AS a_levels, sum(sa*sa/na) AS pa FROM (
        |    SELECT ma, count(*) AS na, sum(v) AS sa FROM k GROUP BY ma)),
        |bb AS (
        |  SELECT count(*) AS b_levels, sum(sb*sb/nb) AS pb2 FROM (
        |    SELECT pb, count(*) AS nb, sum(v) AS sb FROM k GROUP BY pb)),
        |bc AS (
        |  SELECT count(*) AS n_cells, sum(sc*sc/nc) AS pc FROM (
        |    SELECT ma, pb, count(*) AS nc, sum(v) AS sc FROM k GROUP BY ma, pb)),
        |x AS (
        |  SELECT n, a_levels, b_levels, n_cells,
        |    ss - s*s/n AS sst, pa - s*s/n AS ssa, pb2 - s*s/n AS ssb, ss - pc AS sse,
        |    a_levels - 1 AS dfa, b_levels - 1 AS dfb,
        |    n_cells - a_levels - b_levels + 1 AS dfab, n - n_cells AS dfe
        |  FROM tot CROSS JOIN ba CROSS JOIN bb CROSS JOIN bc),
        |y AS (SELECT *, sst - ssa - ssb - sse AS ssab FROM x)
        |SELECT n AS n_orders, a_levels, b_levels, dfa, dfb, dfab, dfe,
        |  floor(CASE WHEN dfa > 0 AND dfe > 0 AND sse > 0 THEN
        |    ssa/dfa/(sse/dfe) END*10000 + 0.5)/10000 AS f_month,
        |  floor(CASE WHEN dfb > 0 AND dfe > 0 AND sse > 0 THEN
        |    ssb/dfb/(sse/dfe) END*10000 + 0.5)/10000 AS f_prio,
        |  floor(CASE WHEN dfab > 0 AND dfe > 0 AND sse > 0 THEN
        |    ssab/dfab/(sse/dfe) END*10000 + 0.5)/10000 AS f_inter,
        |  floor(CASE WHEN sst > 0 THEN ssa/sst END*10000 + 0.5)/10000 AS eta2_month,
        |  floor(CASE WHEN sst > 0 THEN ssb/sst END*10000 + 0.5)/10000 AS eta2_prio,
        |  floor(CASE WHEN sst > 0 THEN ssab/sst END*10000 + 0.5)/10000 AS eta2_inter
        |FROM y""".stripMargin,
    "q388_cochran_q" ->
      """WITH f AS (
        |  SELECT
        |    CAST(n_chars >= 400 AS BIGINT) AS a,
        |    CAST(len(regexp_extract_all(text,'\S+')) >= 60 AS BIGINT) AS b,
        |    CAST(len(regexp_extract_all(lower(text),'[aeiou]'))
        |      /CAST(n_chars AS DOUBLE) >= CAST(0.285 AS DOUBLE) AS BIGINT) AS c
        |  FROM documents WHERE n_chars > 0),
        |g AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(sum(a) AS BIGINT) AS c_a, CAST(sum(b) AS BIGINT) AS c_b,
        |    CAST(sum(c) AS BIGINT) AS c_c,
        |    CAST(sum((a + b + c)*(a + b + c)) AS BIGINT) AS sr2
        |  FROM f),
        |h AS (SELECT *, c_a + c_b + c_c AS nn FROM g)
        |SELECT n_docs, c_a, c_b, c_c,
        |  floor(CASE WHEN 3*nn - sr2 > 0 THEN
        |    2.0*(3*(c_a*c_a + c_b*c_b + c_c*c_c) - nn*nn)/(3*nn - sr2)
        |  END*10000 + 0.5)/10000 AS q_stat
        |FROM h""".stripMargin,
    "q389_nelson_aalen" ->
      """WITH u AS (
        |  SELECT o_custkey, min(o_orderdate) AS f, max(o_orderdate) AS l
        |  FROM orders GROUP BY 1),
        |e AS (SELECT max(o_orderdate) AS endd FROM orders),
        |lf AS (
        |  SELECT CAST(floor(date_diff('day', f, l)/30.0) AS BIGINT) AS t,
        |    CASE WHEN date_diff('day', l, endd) > 365 THEN 1 ELSE 0 END AS churned
        |  FROM u, e),
        |bt AS (
        |  SELECT t, count(*) AS n_t, CAST(sum(churned) AS BIGINT) AS d
        |  FROM lf GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_users FROM bt),
        |rk AS (
        |  SELECT t, n_t, d,
        |    n_users - CAST(coalesce(sum(n_t) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS at_risk
        |  FROM bt, tot),
        |f AS (SELECT t, d, at_risk, d/CAST(at_risk AS DOUBLE) AS h FROM rk)
        |SELECT t AS lifetime_months, at_risk, d AS n_churned,
        |  floor(h*10000 + 0.5)/10000 AS hazard,
        |  floor(sum(h) OVER w*10000 + 0.5)/10000 AS cum_hazard,
        |  floor(exp(-sum(h) OVER w)*10000 + 0.5)/10000 AS na_survival
        |FROM f
        |WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY lifetime_months""".stripMargin,
    "q390_event_study" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders GROUP BY 1),
        |d2 AS (SELECT day, rev, date_diff('day', DATE '1970-01-01', day) AS di FROM daily),
        |m AS (SELECT di AS mdi FROM d2 ORDER BY rev DESC, day LIMIT 1),
        |o AS (SELECT day, rev, di - mdi AS "offset" FROM d2 CROSS JOIN m),
        |b AS (SELECT avg(rev) AS base FROM o WHERE abs("offset") > 7)
        |SELECT "offset", strftime(day, '%Y-%m-%d') AS day, rev,
        |  floor(CASE WHEN base > 0 THEN rev/base END*10000 + 0.5)/10000 AS rel_to_baseline
        |FROM o CROSS JOIN b WHERE abs("offset") <= 7 ORDER BY "offset"""".stripMargin,
    "q391_price_dispersion" ->
      """WITH p AS (
        |  SELECT l_partkey, l_extendedprice/l_quantity AS p
        |  FROM lineitem WHERE l_quantity > 0),
        |g AS (
        |  SELECT l_partkey, count(*) AS n_lines, avg(p) AS m, stddev_samp(p) AS sd
        |  FROM p GROUP BY 1),
        |f AS (
        |  SELECT l_partkey, n_lines,
        |    floor(m*10000 + 0.5)/10000 AS avg_unit_price,
        |    floor(sd/m*10000 + 0.5)/10000 AS cv
        |  FROM g WHERE n_lines >= 5 AND m > 0)
        |SELECT l_partkey, n_lines, avg_unit_price, cv
        |FROM f ORDER BY cv DESC, l_partkey LIMIT 20""".stripMargin,
    "q392_overlap_orders" ->
      """WITH win AS (
        |  SELECT l_orderkey, min(l_shipdate) AS s, max(l_shipdate) AS e
        |  FROM lineitem GROUP BY 1),
        |ow AS (
        |  SELECT o_custkey AS cust, o_orderkey AS o, s, e
        |  FROM orders JOIN win ON o_orderkey = l_orderkey),
        |p AS (
        |  SELECT a.cust, count(*) AS n_overlap_pairs
        |  FROM ow a JOIN ow b ON a.cust = b.cust AND a.o < b.o
        |    AND a.s <= b.e AND b.s <= a.e
        |  GROUP BY 1),
        |c AS (SELECT cust, count(*) AS n_orders FROM ow GROUP BY 1)
        |SELECT p.cust AS o_custkey, c.n_orders, p.n_overlap_pairs
        |FROM p JOIN c ON p.cust = c.cust
        |ORDER BY n_overlap_pairs DESC, o_custkey LIMIT 50""".stripMargin,
    "q394_bayes_ab" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm
        |  FROM events),
        |c AS (
        |  SELECT count(CASE WHEN arm = 'A' THEN 1 END) AS n_a,
        |    count(CASE WHEN arm = 'B' THEN 1 END) AS n_b,
        |    count(CASE WHEN arm = 'A' AND event_type = 'purchase' THEN 1 END) AS s_a,
        |    count(CASE WHEN arm = 'B' AND event_type = 'purchase' THEN 1 END) AS s_b
        |  FROM e),
        |pp AS (
        |  SELECT *, (s_a + CAST(0.5 AS DOUBLE))/(n_a + 1) AS pa,
        |    (s_b + CAST(0.5 AS DOUBLE))/(n_b + 1) AS pb
        |  FROM c),
        |v AS (
        |  SELECT *, pa*(1.0 - pa)/(n_a + 1) AS va, pb*(1.0 - pb)/(n_b + 1) AS vb
        |  FROM pp),
        |z AS (SELECT *, CASE WHEN va + vb > 0 THEN (pa - pb)/sqrt(va + vb) END AS zz FROM v),
        |tt AS (SELECT *,
        |  CAST(1.0 AS DOUBLE)/(CAST(1.0 AS DOUBLE) + CAST(0.2316419 AS DOUBLE)*abs(zz)) AS tk
        |  FROM z),
        |q AS (SELECT *,
        |  (exp(CAST(-0.5 AS DOUBLE)*abs(zz)*abs(zz))
        |      * CAST(0.3989422804014327 AS DOUBLE))
        |    * (CAST(0.319381530 AS DOUBLE)*tk
        |      + CAST(-0.356563782 AS DOUBLE)*tk*tk
        |      + CAST(1.781477937 AS DOUBLE)*tk*tk*tk
        |      + CAST(-1.821255978 AS DOUBLE)*tk*tk*tk*tk
        |      + CAST(1.330274429 AS DOUBLE)*tk*tk*tk*tk*tk) AS qq
        |  FROM tt),
        |pr AS (SELECT *,
        |  floor(CASE WHEN zz >= 0 THEN 1.0 - qq ELSE qq END*10000 + 0.5)/10000 AS prob
        |  FROM q)
        |SELECT n_a, n_b, s_a, s_b,
        |  floor(pa*10000 + 0.5)/10000 AS conv_a,
        |  floor(pb*10000 + 0.5)/10000 AS conv_b,
        |  floor((pa - pb)*10000 + 0.5)/10000 AS lift,
        |  prob AS prob_a_beats_b,
        |  CASE WHEN n_a < 100 OR n_b < 100 THEN 'inconclusive'
        |       WHEN prob >= CAST(0.95 AS DOUBLE) THEN 'ship_a'
        |       WHEN prob <= CAST(0.05 AS DOUBLE) THEN 'ship_b'
        |       ELSE 'inconclusive' END AS decision
        |FROM pr""".stripMargin,
    "q395_tost_equivalence" ->
      """WITH u AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS rev
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT rev,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm
        |  FROM u),
        |m AS (
        |  SELECT count(CASE WHEN arm = 'A' THEN 1 END) AS n_a,
        |    count(CASE WHEN arm = 'B' THEN 1 END) AS n_b,
        |    avg(CASE WHEN arm = 'A' THEN rev END) AS ma,
        |    avg(CASE WHEN arm = 'B' THEN rev END) AS mb,
        |    var_samp(CASE WHEN arm = 'A' THEN rev END) AS va,
        |    var_samp(CASE WHEN arm = 'B' THEN rev END) AS vb,
        |    avg(rev) AS m_all
        |  FROM w),
        |d AS (
        |  SELECT *, ma - mb AS d, sqrt(va/n_a + vb/n_b) AS se,
        |    abs(m_all)*CAST(0.05 AS DOUBLE) AS delta
        |  FROM m),
        |z AS (
        |  SELECT *, CASE WHEN se > 0 THEN (d + delta)/se END AS zl,
        |    CASE WHEN se > 0 THEN (delta - d)/se END AS zu
        |  FROM d),
        |tz AS (SELECT *,
        |  CAST(1.0 AS DOUBLE)/(CAST(1.0 AS DOUBLE) + CAST(0.2316419 AS DOUBLE)*abs(zl)) AS tl,
        |  CAST(1.0 AS DOUBLE)/(CAST(1.0 AS DOUBLE) + CAST(0.2316419 AS DOUBLE)*abs(zu)) AS tu
        |  FROM z),
        |qz AS (SELECT *,
        |  (exp(CAST(-0.5 AS DOUBLE)*abs(zl)*abs(zl))
        |      * CAST(0.3989422804014327 AS DOUBLE))
        |    * (CAST(0.319381530 AS DOUBLE)*tl
        |      + CAST(-0.356563782 AS DOUBLE)*tl*tl
        |      + CAST(1.781477937 AS DOUBLE)*tl*tl*tl
        |      + CAST(-1.821255978 AS DOUBLE)*tl*tl*tl*tl
        |      + CAST(1.330274429 AS DOUBLE)*tl*tl*tl*tl*tl) AS ql,
        |  (exp(CAST(-0.5 AS DOUBLE)*abs(zu)*abs(zu))
        |      * CAST(0.3989422804014327 AS DOUBLE))
        |    * (CAST(0.319381530 AS DOUBLE)*tu
        |      + CAST(-0.356563782 AS DOUBLE)*tu*tu
        |      + CAST(1.781477937 AS DOUBLE)*tu*tu*tu
        |      + CAST(-1.821255978 AS DOUBLE)*tu*tu*tu*tu
        |      + CAST(1.330274429 AS DOUBLE)*tu*tu*tu*tu*tu) AS qu
        |  FROM tz),
        |p AS (SELECT *,
        |  floor(CASE WHEN zl >= 0 THEN ql ELSE 1.0 - ql END*10000 + 0.5)/10000 AS pl,
        |  floor(CASE WHEN zu >= 0 THEN qu ELSE 1.0 - qu END*10000 + 0.5)/10000 AS pu
        |  FROM qz)
        |SELECT n_a, n_b,
        |  floor(ma*10000 + 0.5)/10000 AS mean_a,
        |  floor(mb*10000 + 0.5)/10000 AS mean_b,
        |  floor(delta*10000 + 0.5)/10000 AS margin,
        |  floor(zl*10000 + 0.5)/10000 AS z_lower,
        |  floor(zu*10000 + 0.5)/10000 AS z_upper,
        |  pl AS p_lower, pu AS p_upper,
        |  greatest(pl, pu) < CAST(0.05 AS DOUBLE) AS equivalent
        |FROM p""".stripMargin,
    "q397_mann_kendall" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*10000 + 0.5)/10000 AS rev
        |  FROM orders GROUP BY 1),
        |d2 AS (SELECT rev, date_diff('day', DATE '1970-01-01', day) AS di FROM daily),
        |s AS (
        |  SELECT CAST(sum(sign(b.rev - a.rev)) AS BIGINT) AS s_stat
        |  FROM d2 a JOIN d2 b ON a.di < b.di),
        |t AS (
        |  SELECT CAST(sum(t) AS BIGINT) AS n,
        |    CAST(sum(t*(t - 1)*(2*t + 5)) AS BIGINT) AS tie_term
        |  FROM (SELECT count(*) AS t FROM daily GROUP BY rev)),
        |v AS (
        |  SELECT s_stat, n, tie_term,
        |    (n*(n - 1)*(2*n + 5) - tie_term)/CAST(18.0 AS DOUBLE) AS var_s
        |  FROM s CROSS JOIN t),
        |z AS (
        |  SELECT *, CASE WHEN var_s > 0 THEN (s_stat - sign(s_stat))/sqrt(var_s) END AS z
        |  FROM v),
        |r AS (SELECT *, floor(z*10000 + 0.5)/10000 AS zr FROM z)
        |SELECT n AS n_days, s_stat,
        |  floor(var_s*10000 + 0.5)/10000 AS var_s,
        |  zr AS z_stat,
        |  CASE WHEN zr > CAST(1.96 AS DOUBLE) THEN 'increasing'
        |       WHEN zr < CAST(-1.96 AS DOUBLE) THEN 'decreasing'
        |       ELSE 'no_trend' END AS trend
        |FROM r""".stripMargin,
    "q398_decayed_clv" -> {
      val c = -math.log(2.0) / 180.0 // the SAME double the Spark side uses
      s"""WITH e AS (SELECT max(o_orderdate) AS endd FROM orders),
         |pc AS (
         |  SELECT o_custkey,
         |    sum(o_totalprice * exp($c * date_diff('day', o_orderdate, endd))) AS clv
         |  FROM orders CROSS JOIN e GROUP BY 1),
         |j AS (
         |  SELECT c_mktsegment AS segment, clv
         |  FROM pc JOIN customer ON o_custkey = c_custkey)
         |SELECT segment, count(*) AS n_customers,
         |  floor(avg(clv)*10000 + 0.5)/10000 AS avg_clv,
         |  floor(quantile_cont(clv, 0.5)*10000 + 0.5)/10000 AS median_clv,
         |  floor(quantile_cont(clv, 0.9)*10000 + 0.5)/10000 AS p90_clv
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q399_demand_classes" ->
      """WITH g AS (
        |  SELECT l_partkey, count(*) AS n,
        |    min(CAST(l_shipdate AS DATE)) AS f, max(CAST(l_shipdate AS DATE)) AS l,
        |    avg(l_quantity) AS mq, var_samp(l_quantity) AS vq
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT
        |    floor(date_diff('day', f, l)/CAST(n - 1 AS DOUBLE)*10000 + 0.5)/10000 AS adi,
        |    floor(vq/(mq*mq)*10000 + 0.5)/10000 AS cv2
        |  FROM g WHERE n >= 2 AND mq > 0),
        |c AS (
        |  SELECT CASE WHEN adi < CAST(1.32 AS DOUBLE) THEN
        |           CASE WHEN cv2 < CAST(0.49 AS DOUBLE) THEN 'smooth' ELSE 'erratic' END
        |         ELSE
        |           CASE WHEN cv2 < CAST(0.49 AS DOUBLE) THEN 'intermittent' ELSE 'lumpy' END
        |         END AS demand_class, adi, cv2
        |  FROM m)
        |SELECT demand_class, count(*) AS n_parts,
        |  floor(avg(adi)*10000 + 0.5)/10000 AS avg_adi,
        |  floor(avg(cv2)*10000 + 0.5)/10000 AS avg_cv2
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q411_pair_budget" ->
      // the q201 string-shingle replica prices the same df distribution
      // the Spark side's hashed shingles produce (distinct per-doc sets
      // correspond 1:1, so every df — and therefore every budget — agrees)
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, s.sh
        |  FROM toks, unnest(list_transform(range(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s(sh)
        |  WHERE len(tk) >= 3),
        |dfs AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
        |tot AS (SELECT sum(df) AS tot_inc FROM dfs),
        |x AS (
        |  SELECT CAST(c.cap AS INT) AS max_df, df
        |  FROM dfs CROSS JOIN (SELECT unnest([50, 100, 200, 400]) AS cap) c)
        |SELECT max_df,
        |  count(CASE WHEN df <= max_df THEN 1 END) AS n_shingles_kept,
        |  count(CASE WHEN df > max_df THEN 1 END) AS n_shingles_dropped,
        |  CAST(COALESCE(sum(CASE WHEN df <= max_df THEN df*(df - 1) END), 0)/2
        |    AS BIGINT) AS est_candidate_pairs,
        |  floor(COALESCE(sum(CASE WHEN df > max_df THEN df END), 0)
        |    / CAST((SELECT tot_inc FROM tot) AS DOUBLE)*10000 + 0.5)/10000
        |    AS dropped_incidence_share
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "q412_containment_budgeted" ->
      // q201 with the ENFORCED pair budget: the df cutoff is DERIVED in
      // SQL exactly as budgetedMaxDf derives it in Spark — largest df
      // ≤ 200 whose cumulative Σ df·(df−1) ≤ 2·budget, where budget is
      // the SCALE-AWARE max(10⁶, n_docs·2000) (round-10 weak-row fix);
      // the derived cap + dropped-incidence share ride on every row
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, s.sh
        |  FROM toks, unnest(list_transform(range(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s(sh)
        |  WHERE len(tk) >= 3),
        |budget AS (SELECT greatest(1000000, count(*) * 2000) AS b FROM documents),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |dfs AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
        |hist AS (SELECT df, count(*) AS n_sh FROM dfs GROUP BY 1),
        |cum AS (SELECT df, sum(df*(df - 1)*n_sh) OVER (ORDER BY df) AS cum2 FROM hist),
        |cut AS (SELECT COALESCE(max(CASE WHEN df <= 200
        |            AND cum2 <= 2*(SELECT b FROM budget) THEN df END), 1)
        |          AS cutoff FROM cum),
        |disc AS (SELECT floor(
        |    COALESCE(sum(CASE WHEN df > (SELECT cutoff FROM cut) THEN df*n_sh END), 0)
        |      / CAST(sum(df*n_sh) AS DOUBLE) * 10000 + 0.5)/10000 AS s
        |  FROM hist),
        |rare AS (
        |  SELECT s.doc_id, s.sh FROM sh s JOIN dfs d ON s.sh = d.sh, cut
        |  WHERE d.df <= cut.cutoff),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, sa.sz AS sz_a, sb.sz AS sz_b, i.common,
        |  floor(i.common / CAST(sa.sz AS DOUBLE) * 10000 + 0.5)/10000 AS c_ab,
        |  floor(i.common / CAST(sb.sz AS DOUBLE) * 10000 + 0.5)/10000 AS c_ba,
        |  CAST((SELECT cutoff FROM cut) AS INT) AS eff_max_df,
        |  (SELECT s FROM disc) AS dropped_incidence_share
        |FROM inter i
        |JOIN sizes sa ON i.doc_a = sa.doc_id
        |JOIN sizes sb ON i.doc_b = sb.doc_id
        |WHERE greatest(i.common / CAST(sa.sz AS DOUBLE), i.common / CAST(sb.sz AS DOUBLE)) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q413_chunk_ttr" ->
      // positions: DuckDB range() is 1-based, Spark posexplode 0-based —
      // floor((pos-1)/50) here mirrors floor(pos/50) there
      """WITH toks AS (
        |  SELECT doc_id, source, regexp_extract_all(text, '\S+') AS tk FROM documents),
        |pt AS (
        |  SELECT doc_id, source, tk[p.pos] AS tok,
        |    CAST(floor((p.pos - 1)/50.0) AS BIGINT) AS ck
        |  FROM toks, unnest(range(1, len(tk) + 1)) AS p(pos)),
        |chunks AS (
        |  SELECT doc_id, source, ck,
        |    count(DISTINCT tok) AS n_types, count(*) AS n_toks
        |  FROM pt GROUP BY 1, 2, 3
        |  HAVING count(*) = 50)
        |SELECT source, count(*) AS n_chunks,
        |  floor(avg(n_types/CAST(n_toks AS DOUBLE))*10000 + 0.5)/10000 AS avg_ttr,
        |  floor(min(n_types/CAST(n_toks AS DOUBLE))*10000 + 0.5)/10000 AS min_ttr
        |FROM chunks GROUP BY 1 ORDER BY 1""".stripMargin,
    "q414_ndcg" ->
      // gold = full list_dot_product top-10, system = first-8-dims
      // ranking (the q163 machinery); rel is binary membership in gold
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
        |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 3),
        |scored AS (
        |  SELECT qid, cid,
        |    list_dot_product(CAST(qe AS DOUBLE[]), CAST(ce AS DOUBLE[])) AS s_full,
        |    list_dot_product(CAST(qe[1:8] AS DOUBLE[]), CAST(ce[1:8] AS DOUBLE[])) AS s_cheap
        |  FROM q CROSS JOIN c),
        |ranked AS (
        |  SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY s_full DESC, cid) AS rk_full,
        |    row_number() OVER (PARTITION BY qid ORDER BY s_cheap DESC, cid) AS rk_cheap
        |  FROM scored),
        |idcg AS (SELECT sum(1.0/log2(r.r + 1)) AS v FROM unnest(range(1, 11)) AS r(r))
        |SELECT qid,
        |  count(CASE WHEN rk_full <= 10 THEN 1 END) AS n_hits,
        |  floor(COALESCE(sum(CASE WHEN rk_full <= 10 THEN 1.0/log2(rk_cheap + 1) END), 0)
        |    / (SELECT v FROM idcg) * 10000 + 0.5)/10000 AS ndcg
        |FROM ranked WHERE rk_cheap <= 10
        |GROUP BY qid ORDER BY qid""".stripMargin,
    "q415_anderson_darling" ->
      // the q184 rank algebra: M_i from each pooled row's own ranks
      """WITH v AS (
        |  SELECT o_orderkey AS k, o_totalprice AS v,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END AS side
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |r AS (
        |  SELECT side,
        |    row_number() OVER (ORDER BY v, side, k) AS rn_all,
        |    row_number() OVER (PARTITION BY side ORDER BY v, side, k) AS rn_s,
        |    count(*) OVER (PARTITION BY side) AS ns,
        |    count(*) OVER () AS nt
        |  FROM v),
        |s AS (SELECT *,
        |    max(CASE WHEN side = 0 THEN ns END) OVER () AS n_a,
        |    max(CASE WHEN side = 1 THEN ns END) OVER () AS n_b,
        |    CASE WHEN side = 0 THEN rn_s ELSE rn_all - rn_s END AS m_i
        |  FROM r)
        |SELECT max(n_a) AS n_a, max(n_b) AS n_b,
        |  floor(sum(pow(m_i*nt - n_a*rn_all, 2)
        |      / (rn_all*CAST(nt - rn_all AS DOUBLE)))
        |    / (max(n_a)*CAST(max(n_b) AS DOUBLE))*10000 + 0.5)/10000 AS a2_stat
        |FROM s WHERE rn_all < nt""".stripMargin,
    "q416_hodges_lehmann" ->
      """WITH da AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS xa
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
        |db AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS xb
        |  FROM orders WHERE o_orderpriority = '5-LOW' GROUP BY 1),
        |d AS (SELECT xb - xa AS d FROM da CROSS JOIN db)
        |SELECT count(*) AS n_pairs,
        |  floor(quantile_cont(d, 0.5)*10000 + 0.5)/10000 AS hl_shift,
        |  floor(avg(d)*10000 + 0.5)/10000 AS mean_shift
        |FROM d""".stripMargin,
    "q417_retention_triangle" ->
      """WITH am AS (
        |  SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS DATE)) AS am
        |  FROM events),
        |cohort AS (SELECT user_id, min(am) AS cm FROM am GROUP BY 1),
        |sizes AS (SELECT cm, count(*) AS cohort_users FROM cohort GROUP BY 1),
        |act AS (
        |  SELECT c.cm, datediff('day', c.cm, a.am) // 7 AS weeks_since,
        |    count(*) AS active_users
        |  FROM am a JOIN cohort c ON a.user_id = c.user_id
        |  WHERE datediff('day', c.cm, a.am) // 7 <= 5
        |  GROUP BY 1, 2)
        |SELECT strftime(a.cm, '%Y-%m-%d') AS cohort_week, a.weeks_since,
        |  a.active_users, s.cohort_users,
        |  floor(a.active_users/CAST(s.cohort_users AS DOUBLE)*10000 + 0.5)/10000 AS retention
        |FROM act a JOIN sizes s ON a.cm = s.cm
        |ORDER BY cohort_week, weeks_since""".stripMargin,
    "q418_threshold_sweep" ->
      // q120's exact string-shingle jaccard join at theta_min = 0.5,
      // swept over the grid; thetas ride as DOUBLE casts so the >=
      // comparisons share Spark's binary literals
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, s.sh
        |  FROM toks, unnest(list_transform(range(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s(sh)
        |  WHERE len(tk) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT i.doc_a, i.doc_b,
        |    floor(i.common / CAST(sa.sz + sb.sz - i.common AS DOUBLE)*10000 + 0.5)/10000 AS j
        |  FROM inter i
        |  JOIN sizes sa ON i.doc_a = sa.doc_id
        |  JOIN sizes sb ON i.doc_b = sb.doc_id
        |  WHERE floor(i.common / CAST(sa.sz + sb.sz - i.common AS DOUBLE)*10000 + 0.5)/10000
        |    >= CAST(0.5 AS DOUBLE)),
        |grid AS (SELECT CAST(g.t AS DOUBLE) AS theta
        |  FROM unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS g(t)),
        |per AS (
        |  SELECT g.theta, p.doc_a, p.doc_b, p.j
        |  FROM grid g JOIN pairs p ON p.j >= g.theta),
        |np AS (SELECT theta, count(*) AS n_pairs,
        |    floor(avg(j)*10000 + 0.5)/10000 AS avg_jaccard
        |  FROM per GROUP BY 1),
        |nd AS (SELECT theta, count(DISTINCT d) AS n_docs_affected FROM (
        |    SELECT theta, doc_a AS d FROM per
        |    UNION ALL SELECT theta, doc_b FROM per) GROUP BY 1)
        |SELECT floor(g.theta*10000 + 0.5)/10000 AS theta,
        |  COALESCE(np.n_pairs, 0) AS n_pairs,
        |  COALESCE(nd.n_docs_affected, 0) AS n_docs_affected,
        |  np.avg_jaccard
        |FROM grid g LEFT JOIN np ON g.theta = np.theta
        |LEFT JOIN nd ON g.theta = nd.theta
        |ORDER BY theta""".stripMargin,
    "q419_ks_uniform" ->
      // same tie convention both sides: rank by (di, k); left limits via
      // the (rn-1)/n term cover the step function's lower straddle
      """WITH d AS (
        |  SELECT o_orderkey AS k,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS di
        |  FROM orders),
        |sp AS (SELECT min(di) AS lo, max(di) AS hi, count(*) AS n FROM d),
        |r AS (SELECT di, row_number() OVER (ORDER BY di, k) AS rn, count(*) OVER () AS nt
        |  FROM d),
        |g AS (
        |  SELECT nt, greatest(
        |    abs(CAST(rn AS DOUBLE)/nt
        |      - CASE WHEN sp.hi > sp.lo
        |          THEN (di - sp.lo)/CAST(sp.hi - sp.lo AS DOUBLE) ELSE 0 END),
        |    abs(CAST(rn - 1 AS DOUBLE)/nt
        |      - CASE WHEN sp.hi > sp.lo
        |          THEN (di - sp.lo)/CAST(sp.hi - sp.lo AS DOUBLE) ELSE 0 END)) AS gap
        |  FROM r CROSS JOIN sp)
        |SELECT max(nt) AS n,
        |  floor(max(gap)*10000 + 0.5)/10000 AS ks_stat,
        |  floor(max(gap)*sqrt(max(nt))*10000 + 0.5)/10000 AS sqrt_n_d
        |FROM g""".stripMargin,
    "q420_expected_shortfall" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |v AS (SELECT quantile_cont(x, CAST(0.05 AS DOUBLE)) AS var_p FROM daily)
        |SELECT count(*) AS n_days,
        |  floor(max(v.var_p)*10000 + 0.5)/10000 AS var_p,
        |  count(CASE WHEN x <= v.var_p THEN 1 END) AS n_tail_days,
        |  floor(avg(CASE WHEN x <= v.var_p THEN x END)*10000 + 0.5)/10000
        |    AS expected_shortfall
        |FROM daily CROSS JOIN v""".stripMargin,
    "q421_audience_matrix" ->
      """WITH tu AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
        |sizes AS (SELECT t, count(*) AS n FROM tu GROUP BY 1),
        |pairs AS (
        |  SELECT a.t AS t_a, b.t AS t_b, count(*) AS n_both
        |  FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
        |  GROUP BY 1, 2)
        |SELECT p.t_a, p.t_b, sa.n AS n_a, sb.n AS n_b, p.n_both,
        |  floor(p.n_both/CAST(sa.n + sb.n - p.n_both AS DOUBLE)*10000 + 0.5)/10000
        |    AS jaccard,
        |  floor(p.n_both/CAST(sa.n AS DOUBLE)*10000 + 0.5)/10000 AS p_b_given_a
        |FROM pairs p
        |JOIN sizes sa ON p.t_a = sa.t
        |JOIN sizes sb ON p.t_b = sb.t
        |ORDER BY t_a, t_b""".stripMargin,
    "q422_cold_start_coverage" ->
      """WITH ordered AS (SELECT DISTINCT l_partkey FROM lineitem)
        |SELECT p.p_brand AS brand, count(*) AS n_parts,
        |  count(o.l_partkey) AS n_ordered,
        |  floor(avg(CASE WHEN o.l_partkey IS NULL THEN 1.0 ELSE 0.0 END)*10000 + 0.5)/10000
        |    AS dead_share,
        |  floor(COALESCE(sum(CASE WHEN o.l_partkey IS NULL THEN p.p_retailprice END), 0)
        |    *10000 + 0.5)/10000 AS dead_retail_value
        |FROM part p LEFT JOIN ordered o ON p.p_partkey = o.l_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q423_threshold_sweep_sampled" ->
      // q418's sweep on the md5(doc_id) quarter-sample (q55/q157 idiom)
      // — the oracle stays feasible at every SF because the quadratic
      // pair term shrinks by p²
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM documents
        |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')),
        |sh AS (
        |  SELECT DISTINCT doc_id, s.sh
        |  FROM toks, unnest(list_transform(range(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s(sh)
        |  WHERE len(tk) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT i.doc_a, i.doc_b,
        |    floor(i.common / CAST(sa.sz + sb.sz - i.common AS DOUBLE)*10000 + 0.5)/10000 AS j
        |  FROM inter i
        |  JOIN sizes sa ON i.doc_a = sa.doc_id
        |  JOIN sizes sb ON i.doc_b = sb.doc_id
        |  WHERE floor(i.common / CAST(sa.sz + sb.sz - i.common AS DOUBLE)*10000 + 0.5)/10000
        |    >= CAST(0.5 AS DOUBLE)),
        |grid AS (SELECT CAST(g.t AS DOUBLE) AS theta
        |  FROM unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS g(t)),
        |per AS (
        |  SELECT g.theta, p.doc_a, p.doc_b, p.j
        |  FROM grid g JOIN pairs p ON p.j >= g.theta),
        |np AS (SELECT theta, count(*) AS n_pairs,
        |    floor(avg(j)*10000 + 0.5)/10000 AS avg_jaccard
        |  FROM per GROUP BY 1),
        |nd AS (SELECT theta, count(DISTINCT d) AS n_docs_affected FROM (
        |    SELECT theta, doc_a AS d FROM per
        |    UNION ALL SELECT theta, doc_b FROM per) GROUP BY 1)
        |SELECT floor(g.theta*10000 + 0.5)/10000 AS theta,
        |  COALESCE(np.n_pairs, 0) AS n_pairs,
        |  COALESCE(nd.n_docs_affected, 0) AS n_docs_affected,
        |  np.avg_jaccard
        |FROM grid g LEFT JOIN np ON g.theta = np.theta
        |LEFT JOIN nd ON g.theta = nd.theta
        |ORDER BY theta""".stripMargin,
    "q424_duplication_profile" ->
      """WITH c AS (
        |  SELECT md5(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS fp,
        |    count(*) AS k, sum(len(regexp_extract_all(text,'\S+'))) AS toks
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(k) AS tot_docs, sum(toks) AS tot_toks FROM c)
        |SELECT k, count(*) AS n_clusters, CAST(sum(k) AS BIGINT) AS n_docs,
        |  floor(sum(k)/CAST((SELECT tot_docs FROM tot) AS DOUBLE)*10000 + 0.5)/10000
        |    AS doc_share,
        |  floor(sum(toks)/CAST((SELECT tot_toks FROM tot) AS DOUBLE)*10000 + 0.5)/10000
        |    AS token_share
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q425_dup_span_sources" ->
      """WITH c AS (
        |  SELECT md5(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS fp,
        |    count(*) AS k, count(DISTINCT source) AS n_sources
        |  FROM documents GROUP BY 1)
        |SELECT CASE WHEN k = 1 THEN 'unique'
        |            WHEN n_sources = 1 THEN 'within_source'
        |            ELSE 'cross_source' END AS span,
        |  count(*) AS n_clusters, CAST(sum(k) AS BIGINT) AS n_docs,
        |  CAST(sum(k - 1) AS BIGINT) AS n_redundant
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q407_compression_quality" ->
      // GOLDEN oracle (q227/q218 discipline — carried round-9 item): no
      // SQL deflate exists (DuckDB probed), but java.util.zip level-6 on
      // the pinned JDK is deterministic, so the sf0.01 per-source report
      // is pinned as VALUES. Catches silent codec/normalization drift
      // the rows-only check never could. SF-SPECIFIC: self-run sweeps at
      // other SFs must skip q407 (like q418's oracle-infeasible row).
      """SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(avg_ratio AS DOUBLE) AS avg_ratio,
        |  CAST(n_low_info AS BIGINT) AS n_low_info,
        |  CAST(n_degenerate AS BIGINT) AS n_degenerate,
        |  CAST(keep_share AS DOUBLE) AS keep_share
        |FROM (VALUES
        |  ('src0', 25, 1.9513, 12, 0, 0.52),
        |  ('src1', 25, 2.0213, 9, 0, 0.64),
        |  ('src10', 25, 1.8525, 17, 0, 0.32),
        |  ('src11', 25, 1.992, 11, 0, 0.56),
        |  ('src12', 25, 1.8298, 15, 0, 0.4),
        |  ('src13', 25, 1.9875, 11, 0, 0.56),
        |  ('src14', 25, 1.8529, 13, 0, 0.48),
        |  ('src15', 25, 1.8615, 14, 0, 0.44),
        |  ('src16', 25, 1.8678, 10, 0, 0.6),
        |  ('src17', 25, 1.9218, 13, 0, 0.48),
        |  ('src18', 25, 1.9046, 14, 0, 0.44),
        |  ('src19', 25, 1.7612, 17, 0, 0.32),
        |  ('src2', 25, 1.9193, 13, 0, 0.48),
        |  ('src3', 25, 1.8951, 14, 0, 0.44),
        |  ('src4', 25, 1.8579, 15, 0, 0.4),
        |  ('src5', 25, 1.857, 12, 0, 0.52),
        |  ('src6', 25, 1.8267, 14, 0, 0.44),
        |  ('src7', 25, 1.9658, 11, 0, 0.56),
        |  ('src8', 25, 1.7828, 18, 0, 0.28),
        |  ('src9', 25, 1.9354, 14, 0, 0.44)
        |) AS t(source, n_docs, avg_ratio, n_low_info, n_degenerate, keep_share)
        |ORDER BY source""".stripMargin,
    "q408_hurst" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM daily),
        |sized AS (
        |  SELECT rn, x, s.size, CAST(floor((rn - 1)/s.size) AS BIGINT) AS block
        |  FROM idx CROSS JOIN (SELECT CAST(unnest([8,16,32,64]) AS INT) AS size) s),
        |fullb AS (
        |  SELECT *, count(*) OVER (PARTITION BY size, block) AS bn,
        |    avg(x) OVER (PARTITION BY size, block) AS mu,
        |    stddev_pop(x) OVER (PARTITION BY size, block) AS sd
        |  FROM sized QUALIFY bn = size),
        |cums AS (
        |  SELECT *, sum(x - mu) OVER (PARTITION BY size, block
        |    ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM fullb),
        |rsx AS (
        |  SELECT size, CASE WHEN max(sd) > 0 THEN (max(cum) - min(cum))/max(sd) END AS rs
        |  FROM cums GROUP BY size, block),
        |ps AS (SELECT size, count(rs) AS n_blocks, avg(rs) AS mean_rs FROM rsx GROUP BY size),
        |uv AS (SELECT *, CASE WHEN mean_rs IS NOT NULL THEN ln(CAST(size AS DOUBLE)) END AS u,
        |  ln(mean_rs) AS v FROM ps),
        |hh AS (SELECT *,
        |  (avg(u*v) OVER () - avg(u) OVER ()*avg(v) OVER ())
        |    / (avg(u*u) OVER () - avg(u) OVER ()*avg(u) OVER ()) AS h
        |  FROM uv)
        |SELECT size, n_blocks,
        |  floor(mean_rs*10000 + 0.5)/10000 AS mean_rs,
        |  floor(h*10000 + 0.5)/10000 AS hurst
        |FROM hh ORDER BY size""".stripMargin,
    "q409_hill_tail" ->
      """WITH topx AS (
        |  SELECT o_totalprice AS x, o_orderkey AS okey
        |  FROM orders ORDER BY x DESC, okey LIMIT 101),
        |r AS (SELECT x, row_number() OVER (ORDER BY x DESC, okey) AS rn FROM topx),
        |xr AS (SELECT *, max(CASE WHEN rn = 101 THEN x END) OVER () AS xref FROM r)
        |SELECT count(*) AS n_tail,
        |  floor(max(xref)*10000 + 0.5)/10000 AS x_kplus1,
        |  floor(CASE WHEN sum(ln(x/xref)) > 0
        |    THEN count(*)/sum(ln(x/xref)) END*10000 + 0.5)/10000 AS alpha
        |FROM xr WHERE rn <= 100""".stripMargin,
    "q410_burrows_delta" ->
      """WITH tf AS (
        |  SELECT source, tok, count(*) AS c FROM (
        |    SELECT source, unnest(regexp_extract_all(lower(text),'\S+')) AS tok
        |    FROM documents) GROUP BY 1, 2),
        |st AS (SELECT source, sum(c) AS n FROM tf GROUP BY 1),
        |topv AS (
        |  SELECT tok FROM (SELECT tok, sum(c) AS ctot FROM tf GROUP BY 1)
        |  ORDER BY ctot DESC, tok LIMIT 50),
        |grid AS (
        |  SELECT st.source, topv.tok, COALESCE(tf.c, 0)/CAST(st.n AS DOUBLE) AS f
        |  FROM st CROSS JOIN topv
        |  LEFT JOIN tf ON tf.source = st.source AND tf.tok = topv.tok),
        |stats AS (SELECT tok, avg(f) AS mu, stddev_samp(f) AS sd FROM grid GROUP BY 1),
        |z AS (
        |  SELECT g.source, g.tok,
        |    CASE WHEN s.sd > 0 THEN (g.f - s.mu)/s.sd ELSE CAST(0.0 AS DOUBLE) END AS z
        |  FROM grid g JOIN stats s USING (tok))
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_terms,
        |  floor(avg(abs(a.z - b.z))*10000 + 0.5)/10000 AS delta
        |FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q403_grubbs" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |st AS (SELECT count(*) AS n_days, avg(x) AS mu, stddev_samp(x) AS s FROM daily),
        |dv AS (
        |  SELECT d.day, d.x, st.n_days, st.mu, st.s,
        |    CASE WHEN st.s > 0 THEN abs(d.x - st.mu)/st.s END AS dev,
        |    row_number() OVER (
        |      ORDER BY (CASE WHEN st.s > 0 THEN abs(d.x - st.mu)/st.s END) DESC, d.day) AS rn
        |  FROM daily d CROSS JOIN st),
        |top AS (SELECT * FROM dv WHERE rn = 1),
        |tt AS (SELECT *,
        |  CAST(1.0 AS DOUBLE)/(CAST(1.0 AS DOUBLE) + CAST(0.2316419 AS DOUBLE)*dev) AS tk
        |  FROM top),
        |pq AS (SELECT *,
        |  (exp(CAST(-0.5 AS DOUBLE)*dev*dev) * CAST(0.3989422804014327 AS DOUBLE))
        |    * (CAST(0.319381530 AS DOUBLE)*tk
        |      + CAST(-0.356563782 AS DOUBLE)*tk*tk
        |      + CAST(1.781477937 AS DOUBLE)*tk*tk*tk
        |      + CAST(-1.821255978 AS DOUBLE)*tk*tk*tk*tk
        |      + CAST(1.330274429 AS DOUBLE)*tk*tk*tk*tk*tk) AS qq
        |  FROM tt),
        |fin AS (SELECT *,
        |  floor(least(CAST(1.0 AS DOUBLE), 2.0*n_days*qq)*10000 + 0.5)/10000 AS p FROM pq)
        |SELECT n_days,
        |  floor(mu*10000 + 0.5)/10000 AS mean_rev,
        |  floor(s*10000 + 0.5)/10000 AS sd_rev,
        |  strftime(day, '%Y-%m-%d') AS worst_day,
        |  floor(x*10000 + 0.5)/10000 AS x_worst,
        |  floor(dev*10000 + 0.5)/10000 AS g_stat,
        |  p AS p_bonferroni,
        |  p < CAST(0.05 AS DOUBLE) AS outlier
        |FROM fin""".stripMargin,
    "q404_page_hinkley" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |st AS (SELECT avg(x) AS gmu, stddev_samp(x) AS sigma FROM daily),
        |r AS (SELECT day, x, gmu, sigma,
        |    avg(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rbar
        |  FROM daily CROSS JOIN st),
        |m AS (SELECT *,
        |    sum(x - rbar - CAST(0.005 AS DOUBLE)*gmu)
        |      OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        |  FROM r),
        |p AS (SELECT *,
        |    m - least(CAST(0.0 AS DOUBLE),
        |      min(m) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS ph
        |  FROM m)
        |SELECT strftime(day, '%Y-%m') AS month, count(*) AS n_days,
        |  floor(max(CASE WHEN sigma > 0 THEN ph/sigma END)*10000 + 0.5)/10000
        |    AS max_excursion_sigmas,
        |  max(CASE WHEN ph > sigma*4 THEN 1 ELSE 0 END) AS alarm
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q405_knn_classify" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe, label AS true_label
        |  FROM embeddings WHERE vec_id < 50),
        |c AS (
        |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce, label AS clabel
        |  FROM embeddings WHERE vec_id >= 50),
        |nn AS (
        |  SELECT qid, true_label, cid, clabel,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY list_dot_product(qe, ce) DESC, cid) AS rk
        |  FROM q CROSS JOIN c QUALIFY rk <= 10),
        |v AS (SELECT qid, true_label, clabel, count(*) AS votes FROM nn GROUP BY 1, 2, 3),
        |p AS (SELECT qid, true_label, clabel AS predicted, votes,
        |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, clabel) AS r
        |  FROM v)
        |SELECT qid, true_label, predicted, votes, true_label = predicted AS correct
        |FROM p WHERE r = 1 ORDER BY qid""".stripMargin,
    "q406_novelty_curve" ->
      """WITH sp AS (SELECT max(doc_id) + 1 AS span FROM documents),
        |b AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS fp,
        |    CAST(floor(doc_id * 10 / span) AS BIGINT) AS bin
        |  FROM documents CROSS JOIN sp),
        |fs AS (SELECT fp, min(bin) AS bin FROM b GROUP BY fp),
        |nb AS (SELECT bin, count(*) AS n_new_fp FROM fs GROUP BY bin),
        |pb AS (SELECT bin, count(*) AS n_docs FROM b GROUP BY bin),
        |j AS (SELECT pb.bin, pb.n_docs, COALESCE(nb.n_new_fp, 0) AS n_new_fp
        |      FROM pb LEFT JOIN nb USING (bin))
        |SELECT bin, n_docs, n_new_fp,
        |  floor(n_new_fp/CAST(n_docs AS DOUBLE)*10000 + 0.5)/10000 AS novelty_share,
        |  floor(sum(n_new_fp) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    / CAST(sum(n_docs) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE)*10000 + 0.5)/10000 AS cum_distinct_share
        |FROM j ORDER BY bin""".stripMargin,
    "q119_kmeans" -> {
      // Unrolled Lloyd replay (the q98/q288 unrolled-oracle pattern):
      // every arithmetic step the operator takes is mirrored, including
      // the FLOAT truncation unit() applies to each centroid component
      // (CAST(... AS FLOAT) — the quantization that makes the
      // inter-iteration state engine-comparable) and the md5-ordered
      // 128-point sample + farthest-first seeding (argmin of max-dot,
      // ties to the earliest sample index, matching the strict < scan).
      // Dots are left-to-right double accumulation in both engines
      // (VecDot ≡ list_dot_product over DOUBLE[], verified bit-exact).
      val k = 8; val iters = 4; val m = 128
      val seeds = (1 until k).map { j =>
        s"""ps$j AS MATERIALIZED (
           |  SELECT sidx FROM (
           |    SELECT s.sidx, max(list_dot_product(s.e, d.e)) AS best
           |    FROM samp s CROSS JOIN seeds$j d
           |    GROUP BY s.sidx)
           |  ORDER BY best ASC, sidx ASC LIMIT 1),
           |seeds${j + 1} AS MATERIALIZED (
           |  SELECT * FROM seeds$j
           |  UNION ALL SELECT $j AS c, e FROM samp WHERE sidx = (SELECT sidx FROM ps$j))""".stripMargin
      }.mkString(",\n")
      val lloyd = (1 to iters).map { i =>
        s"""asg$i AS MATERIALIZED (
           |  SELECT vec_id, c, d FROM (
           |    SELECT m.vec_id, t.c, list_dot_product(m.e, t.e) AS d,
           |      row_number() OVER (PARTITION BY m.vec_id
           |        ORDER BY list_dot_product(m.e, t.e) DESC, t.c ASC) AS rn
           |    FROM emb m CROSS JOIN cents$i t) WHERE rn = 1),
           |mom$i AS MATERIALIZED (
           |  SELECT a.c, l.pos, sum(l.v) AS s
           |  FROM asg$i a JOIN lng l USING (vec_id)
           |  GROUP BY 1, 2),
           |nrm$i AS MATERIALIZED (SELECT c, sqrt(sum(s*s)) AS n FROM mom$i GROUP BY c),
           |cents${i + 1} AS MATERIALIZED (
           |  SELECT p.c,
           |    list(CAST(CAST(CASE WHEN n.n = 0 THEN p.s ELSE p.s/n.n END AS FLOAT) AS DOUBLE)
           |      ORDER BY p.pos) AS e
           |  FROM mom$i p JOIN nrm$i n USING (c)
           |  GROUP BY p.c
           |  UNION ALL
           |  SELECT c, e FROM cents$i
           |  WHERE c NOT IN (SELECT DISTINCT c FROM asg$i))""".stripMargin
      }.mkString(",\n")
      s"""WITH emb AS MATERIALIZED (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |lng AS MATERIALIZED (
         |  SELECT vec_id, unnest(e) AS v, unnest(range(1, len(e)+1)) AS pos FROM emb),
         |samp AS MATERIALIZED (
         |  SELECT e, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS sidx
         |  FROM emb QUALIFY sidx <= $m),
         |seeds1 AS MATERIALIZED (SELECT 0 AS c, e FROM samp WHERE sidx = 1),
         |$seeds,
         |cents1 AS MATERIALIZED (SELECT * FROM seeds$k),
         |$lloyd,
         |fin AS (
         |  SELECT vec_id, c, d FROM (
         |    SELECT m.vec_id, t.c, list_dot_product(m.e, t.e) AS d,
         |      row_number() OVER (PARTITION BY m.vec_id
         |        ORDER BY list_dot_product(m.e, t.e) DESC, t.c ASC) AS rn
         |    FROM emb m CROSS JOIN cents${iters + 1} t) WHERE rn = 1)
         |SELECT CAST(c AS BIGINT) AS cluster_id, count(*) AS n_vecs,
         |  floor(avg(d)*10000 + 0.5)/10000 AS avg_cos
         |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q191_mmr" -> {
      // MMR greedy is EXACTLY replayable: VecDot accumulates float
      // elements left-to-right in double, and DuckDB's
      // list_dot_product over CAST(... AS DOUBLE[]) produces the
      // bit-identical double (verified), so pool ranking, redundancy
      // maxima and every argmax tie resolve the same way. The 10
      // greedy steps unroll as chained CTEs (no window/aggregate
      // restrictions of recursive CTEs); λ and 1−λ are emitted as the
      // EXACT doubles the Scala loop uses (1−0.7 ≠ 0.3 in IEEE).
      val l = 0.7
      val L = f"$l%.17e"; val M = f"${1 - l}%.17e"
      val steps = (2 to 10).map { n =>
        s"""sel${n - 1} AS MATERIALIZED (${
          if (n == 2) "SELECT * FROM pick1"
          else s"SELECT * FROM sel${n - 2} UNION ALL SELECT * FROM pick${n - 1}"}),
           |pick$n AS MATERIALIZED (
           |  SELECT qid, $n AS rk, cid, rel, score FROM (
           |    SELECT p.qid, p.cid, p.rel,
           |      $L*p.rel - $M*max(pd.d) AS score,
           |      row_number() OVER (PARTITION BY p.qid
           |        ORDER BY $L*p.rel - $M*max(pd.d) DESC, p.cid) AS rn
           |    FROM pool p JOIN pdot pd ON pd.qid = p.qid AND pd.ca = p.cid
           |    WHERE pd.cb IN (SELECT cid FROM sel${n - 1} u WHERE u.qid = p.qid)
           |      AND p.cid NOT IN (SELECT cid FROM sel${n - 1} u WHERE u.qid = p.qid)
           |    GROUP BY 1, 2, 3
           |  ) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val all = (1 to 10).map(n => s"SELECT * FROM pick$n").mkString(" UNION ALL ")
      s"""WITH q AS MATERIALIZED (
         |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
         |  FROM embeddings WHERE vec_id < 3),
         |c AS MATERIALIZED (
         |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
         |  FROM embeddings WHERE vec_id >= 3),
         |r0 AS MATERIALIZED (SELECT qid, cid, list_dot_product(qe, ce) AS rel, ce FROM q CROSS JOIN c),
         |pool AS MATERIALIZED (SELECT qid, cid, rel, ce FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS prk
         |  FROM r0) WHERE prk <= 50),
         |pdot AS MATERIALIZED (
         |  SELECT a.qid, a.cid AS ca, b.cid AS cb, list_dot_product(a.ce, b.ce) AS d
         |  FROM pool a JOIN pool b ON a.qid = b.qid),
         |pick1 AS MATERIALIZED (
         |  SELECT qid, 1 AS rk, cid, rel, $L*rel AS score FROM (
         |    SELECT qid, cid, rel,
         |      row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn
         |    FROM pool) WHERE rn = 1),
         |$steps
         |SELECT qid, CAST(rk AS BIGINT) AS rk, cid,
         |  floor(rel*10000 + 0.5)/10000 AS relevance,
         |  floor(score*10000 + 0.5)/10000 AS mmr_score
         |FROM ($all) ORDER BY qid, rk""".stripMargin
    },
    "q196_bootstrap_ci" -> {
      // the SAME Poisson(1) inverse-CDF thresholds the Spark CASE ladder
      // uses, emitted in round-trip-exact scientific notation (exponent
      // literals are DOUBLE in DuckDB, not DECIMAL); the md5 uniform is
      // the q105 replayable idiom, so the whole resample replays
      val cum = {
        val e = math.exp(-1.0)
        var acc = 0.0; var fact = 1.0
        (0 to 7).map { k => if (k > 0) fact *= k; acc += e / fact; acc }
      }
      val ladder = cum.zipWithIndex
        .map { case (c, k) => f"WHEN u < $c%.17e THEN $k" }.mkString(" ")
      s"""WITH x AS (
         |  SELECT o_orderkey, o_totalprice, r.range AS r,
         |    (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '-' ||
         |        CAST(r.range AS VARCHAR)), 1, 8))::BIGINT + 0.5) / 4294967296.0 AS u
         |  FROM orders CROSS JOIN range(1, 201) r),
         |w AS (SELECT r, CAST(CASE $ladder ELSE 8 END AS DOUBLE) AS w, o_totalprice FROM x),
         |rep AS (SELECT r, sum(w*o_totalprice)/sum(w) AS boot_mean FROM w GROUP BY r),
         |base AS (
         |  SELECT count(*) AS n, avg(o_totalprice) AS mean,
         |    stddev_samp(o_totalprice)/sqrt(count(*)) AS se_analytic
         |  FROM orders),
         |boot AS (
         |  SELECT count(*) AS n_replicates, stddev_samp(boot_mean) AS se_boot,
         |    quantile_cont(boot_mean, 0.025) AS ci_lo,
         |    quantile_cont(boot_mean, 0.975) AS ci_hi
         |  FROM rep)
         |SELECT n, n_replicates,
         |  floor(mean*10000 + 0.5)/10000 AS mean,
         |  floor(se_analytic*10000 + 0.5)/10000 AS se_analytic,
         |  floor(se_boot*10000 + 0.5)/10000 AS se_boot,
         |  floor(ci_lo*10000 + 0.5)/10000 AS ci_lo,
         |  floor(ci_hi*10000 + 0.5)/10000 AS ci_hi
         |FROM boot CROSS JOIN base""".stripMargin
    },
    "q400_benford2" -> {
      // the SAME doubles the Spark side builds its CASE ladder from
      val probs = (0 to 9).map(d =>
        (1 to 9).map(k => math.log10(1.0 + 1.0 / (10 * k + d))).sum)
      val ladder = probs.zipWithIndex
        .map { case (p, d) => s"WHEN $d THEN CAST($p AS DOUBLE)" }.mkString(" ")
      s"""WITH dd AS (
         |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 2, 1)
         |    AS INT) AS d
         |  FROM orders WHERE o_totalprice >= 10),
         |g0 AS (SELECT d, count(*) AS n FROM dd GROUP BY 1),
         |-- densified: a digit with zero rows still owes (0-e)^2/e = e
         |g AS (
         |  SELECT ten.d, COALESCE(g0.n, 0) AS n
         |  FROM (SELECT CAST(r.range AS INT) AS d FROM range(0, 10) r) ten
         |  LEFT JOIN g0 ON ten.d = g0.d),
         |e AS (
         |  SELECT g.d, g.n, sum(n) OVER () AS total,
         |    CASE g.d $ladder END AS p_exp
         |  FROM g),
         |x AS (SELECT *, p_exp*total AS e FROM e)
         |SELECT d AS digit, n,
         |  floor(n/CAST(total AS DOUBLE)*10000 + 0.5)/10000 AS p_observed,
         |  floor(p_exp*10000 + 0.5)/10000 AS p_expected,
         |  floor(sum((n - e)*(n - e)/e) OVER ()*10000 + 0.5)/10000 AS chi2
         |FROM x ORDER BY digit""".stripMargin
    },
    "q401_price_changes" ->
      """WITH s AS (
        |  SELECT l_partkey, l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS sd,
        |    floor(l_extendedprice/l_quantity*10000 + 0.5)/10000 AS up
        |  FROM lineitem WHERE l_quantity > 0),
        |q AS (
        |  SELECT l_partkey, up,
        |    lag(up) OVER (PARTITION BY l_partkey
        |      ORDER BY sd, up, l_orderkey, l_linenumber) AS prev
        |  FROM s),
        |g AS (
        |  SELECT l_partkey, count(*) AS n_lines,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND up <> prev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_changes
        |  FROM q GROUP BY 1)
        |SELECT n_changes, count(*) AS n_parts,
        |  floor(avg(CAST(n_lines AS DOUBLE))*10000 + 0.5)/10000 AS avg_lines
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q402_repeat_purchase" ->
      """WITH c AS (
        |  SELECT c.c_custkey, c.c_mktsegment, count(o_orderkey) AS c
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2)
        |SELECT c_mktsegment AS segment, count(*) AS n_customers,
        |  CAST(count(CASE WHEN c >= 2 THEN 1 END) AS BIGINT) AS n_repeat,
        |  floor(avg(CAST(c AS DOUBLE))*10000 + 0.5)/10000 AS avg_orders,
        |  floor(count(CASE WHEN c >= 2 THEN 1 END)/CAST(count(*) AS DOUBLE)
        |      *10000 + 0.5)/10000 AS repeat_share,
        |  floor(CASE WHEN count(CASE WHEN c >= 2 THEN 1 END) > 0 THEN
        |      sum(CASE WHEN c >= 2 THEN c ELSE 0 END)
        |        /CAST(count(CASE WHEN c >= 2 THEN 1 END) AS DOUBLE)
        |    END*10000 + 0.5)/10000 AS orders_per_repeater
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q218_mv_advisor" ->
      // GOLDEN oracle (q227 discipline): the advisor report is a pure
      // function of the registered plans + the sink's fixed schemas —
      // pinning it makes a silent advisor regression fail the gate
      """SELECT "table", group_keys, CAST(n_exact AS BIGINT) AS n_exact,
        |  CAST(covers AS BIGINT) AS covers, queries
        |FROM (VALUES
        |  ('events', 'date_format(date_trunc(''hour'', ts), ''yyyy-mm-dd hh:00''),event_type', 1, 2, 'q20_events_hourly'),
        |  ('events', 'date_format(ts, ''hh''),date_format(ts, ''yyyymmdd'')', 2, 2, 'q87_anomaly'),
        |  ('events', 'date_format(ts, ''yyyy-mm-dd'')', 1, 1, 'q136_moving_avg'),
        |  ('events', 'dt,event_type', 1, 2, 'q28_pivot'),
        |  ('events', 'dt,hr', 1, 0, 'q21_partition_layout'),
        |  ('events', 'event_type', 4, 1, 'q08_distinct_count,q12_case_agg,q16_percentiles,q29_stats_agg'),
        |  ('lineitem', 'l_linestatus,l_returnflag', 1, 1, 'q01_pricing_summary'),
        |  ('lineitem', 'l_partkey', 1, 1, 'q13_having'),
        |  ('orders', '(dayofweek(to_date(o_orderdate)) - 1)', 1, 1, 'q186_dow_seasonality'),
        |  ('orders', 'cast(floor((o_totalprice / 50000.0d)) as bigint)', 1, 1, 'q79_histogram'),
        |  ('orders', 'date_format(cast(o_orderdate as timestamp), ''yyyy-mm'')', 1, 1, 'q89_mom_change'),
        |  ('orders', 'o_orderpriority', 2, 2, 'q200_exact_money,q211_pythagorean_means')
        |) AS t("table", group_keys, n_exact, covers, queries)
        |ORDER BY "table", group_keys""".stripMargin,

    "q227_column_lineage" ->
      // GOLDEN oracle: column lineage is a pure function of the 25
      // registered plans it reports on (schema-stable; the pivot
      // columns ride the sink's fixed event-type domain) — pinning the
      // expected report catches silent lineage regressions the
      // rows-only check never could
      """SELECT * FROM (VALUES
        |  ('q01_pricing_summary', 'avg_disc', 'lineitem.l_discount'),
        |  ('q01_pricing_summary', 'avg_price', 'lineitem.l_extendedprice'),
        |  ('q01_pricing_summary', 'avg_qty', 'lineitem.l_quantity'),
        |  ('q01_pricing_summary', 'count_order', ''),
        |  ('q01_pricing_summary', 'l_linestatus', 'lineitem.l_linestatus'),
        |  ('q01_pricing_summary', 'l_returnflag', 'lineitem.l_returnflag'),
        |  ('q01_pricing_summary', 'sum_base_price', 'lineitem.l_extendedprice'),
        |  ('q01_pricing_summary', 'sum_charge', 'lineitem.l_discount,lineitem.l_extendedprice,lineitem.l_tax'),
        |  ('q01_pricing_summary', 'sum_disc_price', 'lineitem.l_discount,lineitem.l_extendedprice'),
        |  ('q01_pricing_summary', 'sum_qty', 'lineitem.l_quantity'),
        |  ('q06_selective_agg', 'revenue', 'lineitem.l_discount,lineitem.l_extendedprice'),
        |  ('q08_distinct_count', 'event_type', 'events.event_type'),
        |  ('q08_distinct_count', 'n_events', ''),
        |  ('q08_distinct_count', 'n_users', 'events.user_id'),
        |  ('q118_peak_concurrency', 'day', 'events.ts'),
        |  ('q118_peak_concurrency', 'n_sessions', ''),
        |  ('q118_peak_concurrency', 'peak_concurrency', 'events.ts'),
        |  ('q121_dau_wau', 'dau', 'events.ts'),
        |  ('q121_dau_wau', 'day', 'events.ts'),
        |  ('q121_dau_wau', 'stickiness', 'events.ts'),
        |  ('q121_dau_wau', 'wau', ''),
        |  ('q12_case_agg', 'event_type', 'events.event_type'),
        |  ('q12_case_agg', 'high_value_cnt', 'events.value'),
        |  ('q12_case_agg', 'high_value_sum', 'events.value'),
        |  ('q12_case_agg', 'n_events', ''),
        |  ('q136_moving_avg', 'day', 'events.ts'),
        |  ('q136_moving_avg', 'days_in_frame', 'events.ts'),
        |  ('q136_moving_avg', 'ma_7d', 'events.ts,events.value'),
        |  ('q136_moving_avg', 'revenue', 'events.value'),
        |  ('q13_having', 'l_partkey', 'lineitem.l_partkey'),
        |  ('q13_having', 'n_items', ''),
        |  ('q13_having', 'sum_qty', 'lineitem.l_quantity'),
        |  ('q143_calendar_rollup', 'day', ''),
        |  ('q143_calendar_rollup', 'gid', ''),
        |  ('q143_calendar_rollup', 'hour', ''),
        |  ('q143_calendar_rollup', 'month', ''),
        |  ('q143_calendar_rollup', 'n_events', ''),
        |  ('q143_calendar_rollup', 'revenue', 'events.value'),
        |  ('q16_percentiles', 'event_type', 'events.event_type'),
        |  ('q16_percentiles', 'median_value', 'events.value'),
        |  ('q16_percentiles', 'n_events', ''),
        |  ('q16_percentiles', 'p95_value', 'events.value'),
        |  ('q186_dow_seasonality', 'dow', 'orders.o_orderdate'),
        |  ('q186_dow_seasonality', 'n_orders', ''),
        |  ('q186_dow_seasonality', 'revenue', 'orders.o_totalprice'),
        |  ('q186_dow_seasonality', 'seasonality_idx', 'orders.o_totalprice'),
        |  ('q200_exact_money', 'max_exact', 'orders.o_totalprice'),
        |  ('q200_exact_money', 'min_exact', 'orders.o_totalprice'),
        |  ('q200_exact_money', 'n_orders', ''),
        |  ('q200_exact_money', 'o_orderpriority', 'orders.o_orderpriority'),
        |  ('q200_exact_money', 'sum_double', 'orders.o_totalprice'),
        |  ('q200_exact_money', 'sum_exact', 'orders.o_totalprice'),
        |  ('q20_events_hourly', 'avg_value', 'events.value'),
        |  ('q20_events_hourly', 'event_type', 'events.event_type'),
        |  ('q20_events_hourly', 'hour', 'events.ts'),
        |  ('q20_events_hourly', 'n_events', ''),
        |  ('q20_events_hourly', 'sum_value', 'events.value'),
        |  ('q211_pythagorean_means', 'arith_mean', 'orders.o_totalprice'),
        |  ('q211_pythagorean_means', 'geo_mean', 'orders.o_totalprice'),
        |  ('q211_pythagorean_means', 'harm_mean', 'orders.o_totalprice'),
        |  ('q211_pythagorean_means', 'n', ''),
        |  ('q211_pythagorean_means', 'o_orderpriority', 'orders.o_orderpriority'),
        |  ('q21_partition_layout', 'dt', 'events.ts'),
        |  ('q21_partition_layout', 'hr', 'events.ts'),
        |  ('q21_partition_layout', 'n_rows', ''),
        |  ('q21_partition_layout', 'n_types', 'events.event_type'),
        |  ('q28_pivot', 'click', 'events.event_type'),
        |  ('q28_pivot', 'dt', 'events.ts'),
        |  ('q28_pivot', 'error', 'events.event_type'),
        |  ('q28_pivot', 'purchase', 'events.event_type'),
        |  ('q28_pivot', 'signup', 'events.event_type'),
        |  ('q28_pivot', 'view', 'events.event_type'),
        |  ('q29_stats_agg', 'corr_vu', 'events.user_id,events.value'),
        |  ('q29_stats_agg', 'covar_vu', 'events.user_id,events.value'),
        |  ('q29_stats_agg', 'event_type', 'events.event_type'),
        |  ('q29_stats_agg', 'n_events', ''),
        |  ('q29_stats_agg', 'sd_value', 'events.value'),
        |  ('q29_stats_agg', 'var_value', 'events.value'),
        |  ('q79_histogram', 'bin', 'orders.o_totalprice'),
        |  ('q79_histogram', 'bin_max', 'orders.o_totalprice'),
        |  ('q79_histogram', 'bin_min', 'orders.o_totalprice'),
        |  ('q79_histogram', 'n_orders', ''),
        |  ('q87_anomaly', 'dt', 'events.ts'),
        |  ('q87_anomaly', 'hr', 'events.ts'),
        |  ('q87_anomaly', 'n_events', ''),
        |  ('q87_anomaly', 'z', ''),
        |  ('q89_mom_change', 'month', 'orders.o_orderdate'),
        |  ('q89_mom_change', 'pct_change', 'orders.o_orderdate,orders.o_totalprice'),
        |  ('q89_mom_change', 'revenue', 'orders.o_totalprice')
        |) AS t(query, out_column, sources) ORDER BY query, out_column""".stripMargin,

    "q360_price_index" ->
      """WITH by AS (
        |  SELECT l_partkey AS part, date_part('year', l_shipdate) AS yr,
        |    sum(l_extendedprice*(1.0 - l_discount)) AS rev, sum(l_quantity) AS qty
        |  FROM lineitem GROUP BY 1, 2 HAVING sum(l_quantity) > 0),
        |my AS (SELECT max(yr) AS y2 FROM by),
        |base AS (SELECT part, rev/qty AS p0, qty AS q0 FROM by, my WHERE yr = y2 - 1),
        |cur AS (SELECT part, rev/qty AS p1, qty AS q1, y2 FROM by, my WHERE yr = y2),
        |j AS (SELECT base.*, cur.p1, cur.q1, cur.y2 FROM base JOIN cur USING (part)),
        |s AS (
        |  SELECT count(*) AS n_parts,
        |    CAST(max(y2) - 1 AS BIGINT) AS base_year, CAST(max(y2) AS BIGINT) AS cur_year,
        |    sum(p1*q0) AS ln_, sum(p0*q0) AS ld, sum(p1*q1) AS pn, sum(p0*q1) AS pd
        |  FROM j)
        |SELECT base_year, cur_year, n_parts,
        |  floor(ln_/ld*10000 + 0.5)/10000 AS laspeyres,
        |  floor(pn/pd*10000 + 0.5)/10000 AS paasche,
        |  floor(sqrt((ln_/ld)*(pn/pd))*10000 + 0.5)/10000 AS fisher
        |FROM s""".stripMargin,
    "q361_gumbel_extremes" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, max(o_totalprice) AS mx
        |  FROM orders GROUP BY 1),
        |mo AS (SELECT count(*) AS n_days, avg(mx) AS m, stddev_samp(mx) AS s FROM daily),
        |fit AS (SELECT n_days, m - 0.5772156649015329*(s*sqrt(6.0)/pi()) AS mu,
        |          s*sqrt(6.0)/pi() AS beta FROM mo)
        |SELECT n_days,
        |  floor(mu*10000 + 0.5)/10000 AS mu,
        |  floor(beta*10000 + 0.5)/10000 AS beta,
        |  floor((mu - beta*ln(-ln(1.0 - 1.0/30)))*10000 + 0.5)/10000 AS rl_30d,
        |  floor((mu - beta*ln(-ln(1.0 - 1.0/100)))*10000 + 0.5)/10000 AS rl_100d,
        |  floor((mu - beta*ln(-ln(1.0 - 1.0/365)))*10000 + 0.5)/10000 AS rl_365d
        |FROM fit""".stripMargin,
    "q362_dedup_coverage" ->
      """WITH a AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (
        |      PARTITION BY md5(substr(text, 1, 256)) ORDER BY doc_id) AS rn
        |    FROM documents) WHERE rn > 1),
        |b AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (
        |      PARTITION BY md5(substr(text, -256, 256)) ORDER BY doc_id) AS rn
        |    FROM documents) WHERE rn > 1),
        |s AS (
        |  SELECT (SELECT count(*) FROM a) AS n_a,
        |    (SELECT count(*) FROM b) AS n_b,
        |    (SELECT count(*) FROM a JOIN b USING (doc_id)) AS n_both),
        |e AS (SELECT n_a, n_b, n_both,
        |        (n_a + 1)*(n_b + 1)/(n_both + 1.0) - 1 AS est FROM s)
        |SELECT n_a, n_b, n_both,
        |  floor(est*10000 + 0.5)/10000 AS est_total_dups,
        |  floor(CASE WHEN est <= 0 THEN NULL ELSE n_a/est END*10000 + 0.5)/10000 AS coverage_a,
        |  floor(CASE WHEN est <= 0 THEN NULL ELSE n_b/est END*10000 + 0.5)/10000 AS coverage_b
        |FROM e""".stripMargin,
    "q363_ljung_box" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |mean AS (SELECT avg(rev) AS xbar, count(*) AS n FROM daily),
        |c AS (SELECT date_diff('day', DATE '1970-01-01', day) AS di,
        |        rev - xbar AS c, n FROM daily, mean),
        |denom AS (SELECT sum(c*c) AS ss, CAST(max(n) AS BIGINT) AS nd FROM c),
        |lags AS (SELECT unnest(range(1, 8)) AS lag),
        |rho AS (
        |  SELECT lag, sum(a.c*b.c)/(SELECT ss FROM denom) AS rho,
        |    (SELECT nd FROM denom) AS nd
        |  FROM c a CROSS JOIN lags JOIN c b ON a.di + lag = b.di
        |  GROUP BY lag)
        |SELECT CAST(max(nd) AS BIGINT) AS n_days, count(*) AS m_lags,
        |  floor(max(nd)*(max(nd) + 2)*sum(rho*rho/(nd - lag))*10000 + 0.5)/10000 AS q_stat
        |FROM rho""".stripMargin,
    "q356_weibull_leadtime" ->
      """WITH t AS (
        |  SELECT o_orderpriority AS prio,
        |    CAST(date_diff('day', o_orderdate, l_shipdate) + 1 AS DOUBLE) AS t
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE date_diff('day', o_orderdate, l_shipdate) + 1 >= 1),
        |g AS (SELECT prio, t, count(*) AS nt FROM t GROUP BY 1, 2),
        |tot AS (SELECT prio, CAST(sum(nt) AS BIGINT) AS n FROM g GROUP BY 1),
        |pts AS (
        |  SELECT g.prio, g.nt, tot.n,
        |    sum(g.nt) OVER (PARTITION BY g.prio ORDER BY g.t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    ln(g.t) AS x
        |  FROM g JOIN tot ON g.prio = tot.prio),
        |xy AS (SELECT prio, nt, n, x,
        |         ln(-ln(1.0 - (cum - 0.3)/(n + 0.4))) AS y FROM pts),
        |s AS (
        |  SELECT prio, max(n) AS n, sum(nt) AS sw,
        |    sum(nt*x) AS swx, sum(nt*y) AS swy,
        |    sum(nt*x*x) AS swxx, sum(nt*y*y) AS swyy, sum(nt*x*y) AS swxy
        |  FROM xy GROUP BY 1),
        |f AS (
        |  SELECT prio, n,
        |    swxx - swx*swx/sw AS sxx, swyy - swy*swy/sw AS syy,
        |    swxy - swx*swy/sw AS sxy, sw, swx, swy
        |  FROM s),
        |k AS (
        |  SELECT prio, n,
        |    CASE WHEN sxx = 0 THEN NULL ELSE sxy/sxx END AS shape,
        |    sxx, syy, sxy, sw, swx, swy FROM f)
        |SELECT prio AS o_orderpriority, n,
        |  floor(shape*10000 + 0.5)/10000 AS shape_k,
        |  floor(CASE WHEN shape IS NULL OR shape = 0 THEN NULL
        |    ELSE exp(-((swy - shape*swx)/sw)/shape) END*10000 + 0.5)/10000 AS scale_days,
        |  floor(CASE WHEN syy = 0 OR sxx = 0 THEN NULL
        |    ELSE sxy*sxy/(sxx*syy) END*10000 + 0.5)/10000 AS r2
        |FROM k ORDER BY o_orderpriority""".stripMargin,
    "q357_kruskal_wallis" ->
      """WITH r AS (
        |  SELECT o_orderpriority AS grp, o_totalprice AS v,
        |    rank() OVER (ORDER BY o_totalprice) AS mn,
        |    count(*) OVER (PARTITION BY o_totalprice) AS cnt
        |  FROM orders),
        |a AS (SELECT grp, mn + (cnt - 1)/2.0 AS avgrank, v, cnt FROM r),
        |pg AS (SELECT grp, count(*) AS ng, sum(avgrank) AS rg FROM a GROUP BY 1),
        |tie AS (
        |  SELECT sum(CAST(cnt AS DOUBLE)*cnt*cnt - cnt) AS tie3
        |  FROM (SELECT v, max(cnt) AS cnt FROM a GROUP BY v)),
        |top AS (
        |  SELECT CAST(sum(ng) AS BIGINT) AS n, count(*) AS k,
        |    sum(rg*rg/ng) AS srq FROM pg)
        |SELECT n, k,
        |  floor((12.0/(n*(CAST(n AS DOUBLE)+1))*srq - 3.0*(n+1))*10000 + 0.5)/10000 AS h,
        |  floor(CASE WHEN 1.0 - tie3/(CAST(n AS DOUBLE)*n*n - n) = 0 THEN NULL
        |    ELSE (12.0/(n*(CAST(n AS DOUBLE)+1))*srq - 3.0*(n+1))
        |         / (1.0 - tie3/(CAST(n AS DOUBLE)*n*n - n)) END*10000 + 0.5)/10000
        |    AS h_tie_corrected
        |FROM top CROSS JOIN tie""".stripMargin,
    "q358_brown_forsythe" ->
      """WITH meds AS (
        |  SELECT o_orderpriority AS grp, quantile_cont(o_totalprice, 0.5) AS med
        |  FROM orders GROUP BY 1),
        |z AS (
        |  SELECT o.o_orderpriority AS grp, abs(o.o_totalprice - m.med) AS z
        |  FROM orders o JOIN meds m ON o.o_orderpriority = m.grp),
        |grand AS (SELECT avg(z) AS gm, count(*) AS n FROM z),
        |pg AS (SELECT grp, count(*) AS ng, avg(z) AS mg, var_samp(z) AS vg
        |       FROM z GROUP BY 1)
        |SELECT max(n) AS n, count(*) AS k,
        |  floor((sum(ng*(mg-gm)*(mg-gm))/(count(*)-1))
        |    / (sum((ng-1)*vg)/(max(n)-count(*)))*10000 + 0.5)/10000 AS f_stat
        |FROM pg CROSS JOIN grand""".stripMargin,
    "q359_token_drift" ->
      """WITH tok AS (
        |  SELECT (doc_id % 2 = 0) AS in_a,
        |    unnest(regexp_extract_all(text, '\S+')) AS token
        |  FROM documents),
        |c AS (
        |  SELECT token,
        |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
        |    CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
        |  FROM tok GROUP BY 1 HAVING cnt_a + cnt_b >= 20),
        |tot AS (
        |  SELECT CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS nb
        |  FROM tok)
        |SELECT token, cnt_a, cnt_b,
        |  floor(CAST(cnt_a AS DOUBLE)/na*1000000 + 0.5)/1000000 AS rate_a,
        |  floor(CAST(cnt_b AS DOUBLE)/nb*1000000 + 0.5)/1000000 AS rate_b,
        |  floor(log2(((cnt_a + 0.5)/na)/((cnt_b + 0.5)/nb))*10000 + 0.5)/10000 AS log2_ratio,
        |  floor((CAST(cnt_a AS DOUBLE)*(nb-cnt_b) - CAST(cnt_b AS DOUBLE)*(na-cnt_a))
        |    * (CAST(cnt_a AS DOUBLE)*(nb-cnt_b) - CAST(cnt_b AS DOUBLE)*(na-cnt_a))
        |    * (CAST(na AS DOUBLE)+nb)
        |    / (CAST(na AS DOUBLE)*nb*(cnt_a+cnt_b)*(CAST(na AS DOUBLE)+nb-cnt_a-cnt_b))
        |    *10000 + 0.5)/10000 AS chi2
        |FROM c CROSS JOIN tot
        |ORDER BY chi2 DESC, token LIMIT 50""".stripMargin,
    "q312_partition_advisor" ->
      // mirrors PartitionAdvisor.advise over the events schema: one
      // grouped aggregate per candidate column (string/int + date(ts);
      // value is DOUBLE → not a candidate), verdicts + log-decade fit,
      // rank by (verdict class, rounded fit, name)
      """WITH t AS MATERIALIZED (SELECT count(*) AS total FROM events),
        |cand AS (
        |  SELECT 'event_id' AS candidate, CAST(event_id AS VARCHAR) AS v FROM events
        |  UNION ALL SELECT 'date(ts)', CAST(CAST(ts AS DATE) AS VARCHAR) FROM events
        |  UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
        |  UNION ALL SELECT 'event_type', event_type FROM events
        |  UNION ALL SELECT 'props', props FROM events),
        |per AS (SELECT candidate, v, count(*) AS n FROM cand GROUP BY 1, 2),
        |stats AS (SELECT candidate, count(*) AS nd, max(n) AS topn FROM per GROUP BY 1),
        |scored AS (
        |  SELECT candidate, nd AS n_partitions,
        |    floor(CAST(topn AS DOUBLE)/total*10000 + 0.5)/10000 AS top_share,
        |    floor(CAST(total AS DOUBLE)/nd*10000 + 0.5)/10000 AS rows_per_partition,
        |    CASE WHEN nd < 2 THEN 'reject' WHEN nd > 10000 THEN 'reject'
        |         WHEN CAST(topn AS DOUBLE)/total > 0.5 THEN 'warn' ELSE 'ok' END AS verdict,
        |    CASE WHEN nd < 2 THEN 'constant column: no pruning possible'
        |         WHEN nd > 10000 THEN nd || ' partitions: small-file explosion'
        |         WHEN CAST(topn AS DOUBLE)/total > 0.5
        |           THEN 'top value holds over half of rows: skewed partitions'
        |         ELSE 'balanced cardinality and spread' END AS reason,
        |    floor(abs(log10((CAST(total AS DOUBLE)/nd)/1000000.0))*10000 + 0.5)/10000 AS fit_log10
        |  FROM stats, t)
        |SELECT CAST(row_number() OVER (ORDER BY
        |    CASE verdict WHEN 'ok' THEN 0 WHEN 'warn' THEN 1 ELSE 2 END,
        |    fit_log10, candidate) AS BIGINT) AS rank,
        |  candidate, n_partitions, top_share, rows_per_partition, verdict, reason, fit_log10
        |FROM scored ORDER BY rank""".stripMargin,
    "q335_isotonic" ->
      // PAVA has no closed form per row, but the FIT does: the minimax
      // characterization of (weighted, L2, non-decreasing) isotonic
      // regression — iso_i = max_{j<=i} min_{k>=i} wavg(y[j..k]) —
      // is three bounded joins over the 20-bin frame (prefix sums give
      // every segment mean), exactly what the stack-merge PAVA computes
      """WITH ret AS (SELECT DISTINCT l_orderkey AS rk FROM lineitem WHERE l_returnflag = 'R'),
        |st AS (SELECT avg(o_totalprice) AS mu, stddev_samp(o_totalprice) AS sd FROM orders),
        |sc AS (SELECT o_orderkey, o_totalprice,
        |         CASE WHEN rk IS NOT NULL THEN 1 ELSE 0 END AS y,
        |         CASE WHEN sd = 0 THEN 0.5
        |              ELSE 1.0/(1.0 + exp(-(o_totalprice - mu)/sd)) END AS p
        |       FROM orders LEFT JOIN ret ON o_orderkey = rk CROSS JOIN st),
        |binned AS (SELECT ntile(20) OVER (ORDER BY o_totalprice, o_orderkey) AS bin, y, p FROM sc),
        |b AS (SELECT bin, count(*) AS n, avg(p) AS p_mean, avg(CAST(y AS DOUBLE)) AS y_rate
        |      FROM binned GROUP BY 1),
        |pre AS (SELECT bin, n, y_rate,
        |          sum(n*y_rate) OVER (ORDER BY bin) AS cwy,
        |          sum(n) OVER (ORDER BY bin) AS cw FROM b),
        |seg AS (SELECT j.bin AS jb, k.bin AS kb,
        |          (k.cwy - coalesce(jp.cwy, 0))/(k.cw - coalesce(jp.cw, 0)) AS a
        |        FROM pre j JOIN pre k ON j.bin <= k.bin
        |        LEFT JOIN pre jp ON jp.bin = j.bin - 1),
        |mins AS (SELECT i.bin, s.jb, min(s.a) AS m
        |         FROM b i JOIN seg s ON s.jb <= i.bin AND s.kb >= i.bin GROUP BY 1, 2),
        |iso AS (SELECT bin, max(m) AS iso_raw FROM mins GROUP BY 1)
        |SELECT CAST(b.bin AS BIGINT) AS bin, b.n,
        |  floor(b.p_mean*10000 + 0.5)/10000 AS p_mean,
        |  floor(b.y_rate*10000 + 0.5)/10000 AS raw_rate,
        |  floor(iso.iso_raw*10000 + 0.5)/10000 AS iso_rate
        |FROM b JOIN iso USING (bin) ORDER BY bin""".stripMargin,
    "q317_schema_compat" ->
      // the v2 evolution report is a pure function of the events schema
      // (drop props, narrow value, tighten user_id, add session_id) —
      // the oracle pins the expected classification as literals, an
      // independent golden the Spark diff must reproduce
      """SELECT * FROM (VALUES
        |  ('props', 'removed', 'string dropped', 'breaking'),
        |  ('session_id', 'add-nullable', 'new optional string', 'ok'),
        |  ('user_id', 'required-tightened', 'nullable → required: existing nulls violate it', 'breaking'),
        |  ('value', 'narrowing', 'double → float', 'breaking')
        |) AS t(field, change, detail, verdict) ORDER BY field, change""".stripMargin,
    "q426_woe_iv" ->
      """WITH ret AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
        |lab AS (
        |  SELECT CAST(least(floor(o.o_totalprice / CAST(50000 AS DOUBLE)), 9) AS INT) AS bin,
        |    CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END AS pos
        |  FROM orders o LEFT JOIN ret r ON o.o_orderkey = r.l_orderkey),
        |b AS (
        |  SELECT bin, count(*) AS n_orders, CAST(sum(pos) AS BIGINT) AS n_pos
        |  FROM lab GROUP BY 1),
        |b2 AS (SELECT bin, n_orders, n_pos, n_orders - n_pos AS n_neg FROM b),
        |t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tot_pos,
        |             CAST(sum(n_neg) AS BIGINT) AS tot_neg FROM b2)
        |SELECT bin, n_orders, n_pos, n_neg,
        |  floor(ln(((n_pos + CAST(0.5 AS DOUBLE)) / tot_pos)
        |         / ((n_neg + CAST(0.5 AS DOUBLE)) / tot_neg)) * 10000 + 0.5)/10000 AS woe,
        |  floor((CAST(n_pos AS DOUBLE) / tot_pos - CAST(n_neg AS DOUBLE) / tot_neg)
        |    * ln(((n_pos + CAST(0.5 AS DOUBLE)) / tot_pos)
        |       / ((n_neg + CAST(0.5 AS DOUBLE)) / tot_neg)) * 10000 + 0.5)/10000 AS iv_term
        |FROM b2 CROSS JOIN t ORDER BY bin""".stripMargin,
    "q428_uplift_deciles" ->
      """WITH u AS (
        |  SELECT user_id,
        |    count(CASE WHEN event_type = 'view' THEN 1 END) AS score,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT conv,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm,
        |    CAST(ntile(10) OVER (ORDER BY score DESC, user_id) AS INT) AS decile
        |  FROM u),
        |g AS (
        |  SELECT decile,
        |    count(CASE WHEN arm = 'A' THEN 1 END) AS n_t,
        |    count(CASE WHEN arm = 'B' THEN 1 END) AS n_c,
        |    CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_t,
        |    CAST(sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_c
        |  FROM r GROUP BY 1)
        |SELECT decile, n_t, n_c, conv_t, conv_c,
        |  CASE WHEN n_t > 0
        |    THEN floor(CAST(conv_t AS DOUBLE) / n_t * 10000 + 0.5)/10000 END AS rate_t,
        |  CASE WHEN n_c > 0
        |    THEN floor(CAST(conv_c AS DOUBLE) / n_c * 10000 + 0.5)/10000 END AS rate_c,
        |  CASE WHEN n_t > 0 AND n_c > 0
        |    THEN floor((CAST(conv_t AS DOUBLE) / n_t - CAST(conv_c AS DOUBLE) / n_c)
        |      * 10000 + 0.5)/10000 END AS uplift
        |FROM g ORDER BY decile""".stripMargin,
    "q429_srm_check" ->
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |a AS (
        |  SELECT day,
        |    count(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |          IN ('0','1','2','3','4','5','6','7') THEN 1 END) AS n_a,
        |    count(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |          NOT IN ('0','1','2','3','4','5','6','7') THEN 1 END) AS n_b
        |  FROM ud GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n_a, n_b,
        |  floor(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
        |    / CAST(n_a + n_b AS DOUBLE) * 10000 + 0.5)/10000 AS chi2,
        |  (floor(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
        |    / CAST(n_a + n_b AS DOUBLE) * 10000 + 0.5)/10000 > 10.8276) AS srm_flag
        |FROM a ORDER BY day""".stripMargin,
    "q427_psm_att" ->
      """WITH rev AS (
        |  SELECT o_custkey AS c_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS outcome
        |  FROM orders GROUP BY 1),
        |c AS (
        |  SELECT cu.c_custkey, cu.c_nationkey,
        |    (cu.c_mktsegment = 'AUTOMOBILE') AS treated,
        |    cu.c_acctbal + cu.c_custkey * CAST(1e-9 AS DOUBLE) AS score,
        |    COALESCE(rev.outcome, CAST(0.0 AS DOUBLE)) AS outcome
        |  FROM customer cu LEFT JOIN rev ON cu.c_custkey = rev.c_custkey),
        |m AS (
        |  SELECT *,
        |    last_value(CASE WHEN NOT treated THEN score END IGNORE NULLS)
        |      OVER (PARTITION BY c_nationkey ORDER BY score
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bs,
        |    last_value(CASE WHEN NOT treated THEN outcome END IGNORE NULLS)
        |      OVER (PARTITION BY c_nationkey ORDER BY score
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bo,
        |    first_value(CASE WHEN NOT treated THEN score END IGNORE NULLS)
        |      OVER (PARTITION BY c_nationkey ORDER BY score
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fs,
        |    first_value(CASE WHEN NOT treated THEN outcome END IGNORE NULLS)
        |      OVER (PARTITION BY c_nationkey ORDER BY score
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fo
        |  FROM c),
        |t AS (
        |  SELECT c_nationkey, outcome, score,
        |    CASE WHEN bs IS NULL THEN fo WHEN fs IS NULL THEN bo
        |         WHEN score - bs <= fs - score THEN bo ELSE fo END AS mo,
        |    CASE WHEN bs IS NULL THEN fs - score WHEN fs IS NULL THEN score - bs
        |         ELSE least(score - bs, fs - score) END AS mgap
        |  FROM m WHERE treated)
        |SELECT c_nationkey, count(*) AS n_treated, count(mo) AS n_matched,
        |  floor(avg((outcome - mo) / CAST(1000.0 AS DOUBLE)) * 10000 + 0.5)/10000 AS att_k,
        |  floor(avg(mgap) * 10000 + 0.5)/10000 AS mean_score_gap
        |FROM t GROUP BY 1 ORDER BY c_nationkey""".stripMargin,
    "q430_periodogram" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |mu AS (SELECT avg(x) AS mu, count(*) AS n_days FROM daily),
        |cent AS (
        |  SELECT date_diff('day', DATE '1970-01-01', d) AS di, x - mu.mu AS xc, mu.n_days
        |  FROM daily CROSS JOIN mu),
        |byp AS (
        |  SELECT p.period,
        |    sum(xc * cos(2.0 * pi() * di / p.period)) AS sc,
        |    sum(xc * sin(2.0 * pi() * di / p.period)) AS ss,
        |    sum(xc * xc) AS c0, max(n_days) AS n_days
        |  FROM cent CROSS JOIN (SELECT CAST(unnest(range(2, 15)) AS INT) AS period) p
        |  GROUP BY 1),
        |sh AS (
        |  SELECT period, n_days,
        |    CASE WHEN c0 > 0 THEN
        |      floor((sc * sc + ss * ss) / (n_days * c0) * 10000 + 0.5)/10000 END
        |      AS energy_share
        |  FROM byp)
        |SELECT period, n_days, energy_share,
        |  CAST(row_number() OVER (ORDER BY energy_share DESC, period) AS INT) AS rank
        |FROM sh ORDER BY period""".stripMargin,
    "q431_ar2_forecast" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS di,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |mu AS (SELECT avg(x) AS mu, count(*) AS n_days FROM daily),
        |r1t AS (SELECT corr(a.x, b.x) AS r1 FROM daily a JOIN daily b ON b.di = a.di + 1),
        |r2t AS (SELECT corr(a.x, b.x) AS r2 FROM daily a JOIN daily b ON b.di = a.di + 2),
        |l2 AS (
        |  SELECT arg_max(x, di) AS x_last, arg_min(x, di) AS x_prev
        |  FROM (SELECT di, x FROM daily ORDER BY di DESC LIMIT 2)),
        |j AS (SELECT * FROM mu CROSS JOIN r1t CROSS JOIN r2t CROSS JOIN l2),
        |f AS (
        |  SELECT *,
        |    CASE WHEN abs(1.0 - r1 * r1) > CAST(1e-12 AS DOUBLE)
        |      THEN r1 * (1.0 - r2) / (1.0 - r1 * r1) END AS phi1,
        |    CASE WHEN abs(1.0 - r1 * r1) > CAST(1e-12 AS DOUBLE)
        |      THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS phi2
        |  FROM j)
        |SELECT n_days,
        |  floor(mu / CAST(1e6 AS DOUBLE) * 10000 + 0.5)/10000 AS mu_m,
        |  floor(r1 * 10000 + 0.5)/10000 AS r1,
        |  floor(r2 * 10000 + 0.5)/10000 AS r2,
        |  floor(phi1 * 10000 + 0.5)/10000 AS phi1,
        |  floor(phi2 * 10000 + 0.5)/10000 AS phi2,
        |  floor(x_last / CAST(1e6 AS DOUBLE) * 10000 + 0.5)/10000 AS x_last_m,
        |  floor(x_prev / CAST(1e6 AS DOUBLE) * 10000 + 0.5)/10000 AS x_prev_m,
        |  floor((mu + phi1 * (x_last - mu) + phi2 * (x_prev - mu))
        |    / CAST(1e6 AS DOUBLE) * 10000 + 0.5)/10000 AS forecast_m
        |FROM f""".stripMargin,
    "q432_newsvendor" ->
      """WITH daily AS (
        |  SELECT p.p_brand, CAST(l.l_shipdate AS DATE) AS d, sum(l.l_quantity) AS demand
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey GROUP BY 1, 2),
        |lv AS (
        |  SELECT p_brand,
        |    floor(quantile_cont(demand, CAST(0.75 AS DOUBLE)) * 10000 + 0.5)/10000 AS s_level
        |  FROM daily GROUP BY 1)
        |SELECT d.p_brand, count(*) AS n_days, max(lv.s_level) AS s_level,
        |  floor(avg(greatest(lv.s_level - d.demand, CAST(0.0 AS DOUBLE))) * 10000 + 0.5)/10000
        |    AS exp_leftover,
        |  floor(avg(greatest(d.demand - lv.s_level, CAST(0.0 AS DOUBLE))) * 10000 + 0.5)/10000
        |    AS exp_shortage,
        |  floor(avg(CASE WHEN d.demand <= lv.s_level THEN 1.0 ELSE 0.0 END) * 10000 + 0.5)/10000
        |    AS service_rate
        |FROM daily d JOIN lv ON d.p_brand = lv.p_brand
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q433_mediation" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE) AS m,
        |    sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS y,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 1.0 ELSE 0.0 END AS t
        |  FROM events GROUP BY user_id),
        |cv AS (
        |  SELECT count(*) AS n_users,
        |    var_samp(t) AS vt, var_samp(m) AS vm,
        |    covar_samp(t, m) AS ctm, covar_samp(t, y) AS cty, covar_samp(m, y) AS cmy
        |  FROM u),
        |f AS (
        |  SELECT *,
        |    CASE WHEN vt > 0 THEN ctm / vt END AS a,
        |    CASE WHEN abs(vm * vt - ctm * ctm) > CAST(1e-12 AS DOUBLE)
        |      THEN (cmy * vt - cty * ctm) / (vm * vt - ctm * ctm) END AS b,
        |    CASE WHEN abs(vm * vt - ctm * ctm) > CAST(1e-12 AS DOUBLE)
        |      THEN (cty * vm - cmy * ctm) / (vm * vt - ctm * ctm) END AS cp,
        |    CASE WHEN vt > 0 THEN cty / vt END AS tot
        |  FROM cv)
        |SELECT n_users,
        |  floor(a * 10000 + 0.5)/10000 AS a_t_to_m,
        |  floor(b * 10000 + 0.5)/10000 AS b_m_to_y,
        |  floor(cp * 10000 + 0.5)/10000 AS direct,
        |  floor(a * b * 10000 + 0.5)/10000 AS indirect,
        |  floor(tot * 10000 + 0.5)/10000 AS total,
        |  CASE WHEN abs(tot) > CAST(1e-9 AS DOUBLE)
        |    THEN floor(a * b / tot * 10000 + 0.5)/10000 END AS prop_mediated
        |FROM f""".stripMargin,
    "q434_fk_coverage" ->
      """WITH e(edge, ck, pk) AS (VALUES
        |  ('customer_nation', 'c', 'n'), ('lineitem_orders', 'lo', 'o'),
        |  ('lineitem_part', 'lp', 'p'), ('lineitem_supplier', 'ls', 's'),
        |  ('orders_customer', 'oc', 'cu'), ('supplier_nation', 'sn', 'n')),
        |ck AS (
        |  SELECT 'c' AS side, c_nationkey AS k, count(*) AS n FROM customer GROUP BY 2
        |  UNION ALL SELECT 'lo', l_orderkey, count(*) FROM lineitem GROUP BY 2
        |  UNION ALL SELECT 'lp', l_partkey, count(*) FROM lineitem GROUP BY 2
        |  UNION ALL SELECT 'ls', l_suppkey, count(*) FROM lineitem GROUP BY 2
        |  UNION ALL SELECT 'oc', o_custkey, count(*) FROM orders GROUP BY 2
        |  UNION ALL SELECT 'sn', s_nationkey, count(*) FROM supplier GROUP BY 2),
        |pk AS (
        |  SELECT 'n' AS side, k FROM (SELECT DISTINCT n_nationkey AS k FROM nation) t
        |  UNION ALL SELECT 'o', k FROM (SELECT DISTINCT o_orderkey AS k FROM orders) t
        |  UNION ALL SELECT 'p', k FROM (SELECT DISTINCT p_partkey AS k FROM part) t
        |  UNION ALL SELECT 's', k FROM (SELECT DISTINCT s_suppkey AS k FROM supplier) t
        |  UNION ALL SELECT 'cu', k FROM (SELECT DISTINCT c_custkey AS k FROM customer) t),
        |cs AS (
        |  SELECT e.edge, CAST(coalesce(sum(ck.n), 0) AS BIGINT) AS n_child,
        |    CAST(coalesce(sum(CASE WHEN pk.k IS NULL THEN ck.n ELSE 0 END), 0) AS BIGINT)
        |      AS n_orphan
        |  FROM e JOIN ck ON ck.side = e.ck
        |  LEFT JOIN pk ON pk.side = e.pk AND pk.k = ck.k
        |  GROUP BY 1),
        |ps AS (
        |  SELECT e.edge, count(*) AS n_parent,
        |    count(CASE WHEN ck.k IS NULL THEN 1 END) AS n_childless
        |  FROM e JOIN pk ON pk.side = e.pk
        |  LEFT JOIN ck ON ck.side = e.ck AND ck.k = pk.k
        |  GROUP BY 1),
        |stats AS (SELECT * FROM cs JOIN ps USING (edge))
        |SELECT edge, n_child, n_orphan,
        |  CASE WHEN n_child > 0 THEN
        |    floor(CAST(n_orphan AS DOUBLE)/n_child * 1000000 + 0.5)/1000000 END AS orphan_share,
        |  n_parent, n_childless,
        |  CASE WHEN n_parent > 0 THEN
        |    floor(CAST(n_childless AS DOUBLE)/n_parent * 1000000 + 0.5)/1000000 END
        |    AS childless_share
        |FROM stats ORDER BY edge""".stripMargin,
    "q435_fairness_slices" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |train AS (SELECT * FROM tok WHERE doc_id % 5 <> 0),
        |ctok AS (SELECT lang AS c, count(*) AS n_tok FROM train GROUP BY 1),
        |cdoc AS (SELECT lang AS c, count(*) AS n_doc FROM documents
        |         WHERE doc_id % 5 <> 0 GROUP BY 1),
        |nt AS (SELECT count(*) AS n_train FROM documents WHERE doc_id % 5 <> 0),
        |v AS (SELECT count(DISTINCT term) AS v FROM train),
        |cs AS (SELECT c, ln(CAST(n_doc AS DOUBLE)/n_train) AS log_prior,
        |         CAST(n_tok AS DOUBLE) + 1.0*v AS denom
        |       FROM ctok JOIN cdoc USING (c) CROSS JOIN nt CROSS JOIN v),
        |cnts AS (SELECT lang AS c, term, count(*) AS cnt FROM train GROUP BY 1, 2),
        |obs AS (SELECT c, term, ln((cnt + 1.0)/denom) AS logp
        |        FROM cnts JOIN cs USING (c)),
        |ttf AS (SELECT doc_id, lang AS true_lang, source, term, count(*) AS tf
        |        FROM tok WHERE doc_id % 5 = 0 GROUP BY 1, 2, 3, 4),
        |mt AS (SELECT ttf.doc_id, obs.c, sum(tf*logp) AS s_obs,
        |         CAST(sum(tf) AS BIGINT) AS m
        |       FROM ttf JOIN obs USING (term) GROUP BY 1, 2),
        |dt AS (SELECT doc_id, true_lang, source, CAST(sum(tf) AS BIGINT) AS t_d
        |       FROM ttf GROUP BY 1, 2, 3),
        |grid AS (SELECT dt.doc_id, dt.true_lang, dt.source, dt.t_d, l.c FROM dt
        |         CROSS JOIN (SELECT unnest(['de','en','es','fr','zh']) AS c) l),
        |sc AS (SELECT g.doc_id, g.true_lang, g.source, g.c,
        |         cs.log_prior + coalesce(mt.s_obs, 0.0)
        |         + (g.t_d - coalesce(mt.m, 0))*ln(1.0/cs.denom) AS score
        |       FROM grid g JOIN cs ON cs.c = g.c
        |       LEFT JOIN mt ON mt.doc_id = g.doc_id AND mt.c = g.c),
        |pred AS (SELECT doc_id, true_lang, source, c,
        |           row_number() OVER (PARTITION BY doc_id
        |             ORDER BY score DESC, c) AS rk
        |         FROM sc),
        |pr AS (SELECT source,
        |         CASE WHEN c = true_lang THEN 1.0 ELSE 0.0 END AS correct,
        |         CASE WHEN c = 'en' THEN 1.0 ELSE 0.0 END AS pred_en
        |       FROM pred WHERE rk = 1),
        |ov AS (SELECT avg(correct) AS overall_acc FROM pr)
        |SELECT source, count(*) AS n_docs,
        |  floor(avg(correct) * 10000 + 0.5)/10000 AS accuracy,
        |  floor(avg(pred_en) * 10000 + 0.5)/10000 AS en_share,
        |  floor((avg(correct) - max(overall_acc)) * 10000 + 0.5)/10000 AS acc_gap,
        |  (abs(floor((avg(correct) - max(overall_acc)) * 10000 + 0.5)/10000)
        |    > CAST(0.1 AS DOUBLE)) AS disparity_flag
        |FROM pr CROSS JOIN ov GROUP BY source ORDER BY source""".stripMargin,
    "q436_bass_diffusion" ->
      """WITH fd AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS day
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |daily AS (SELECT day, count(*) AS n_adopt FROM fd GROUP BY 1),
        |series AS (
        |  SELECT CAST(n_adopt AS DOUBLE) AS y,
        |    CAST(coalesce(sum(n_adopt) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) AS x1
        |  FROM daily),
        |s2 AS (SELECT y, x1, x1*x1 AS x2 FROM series),
        |cv AS (
        |  SELECT count(*) AS n_days, avg(y) AS my, avg(x1) AS m1, avg(x2) AS m2,
        |    var_samp(x1) AS v1, var_samp(x2) AS v2,
        |    covar_samp(x1, x2) AS c12, covar_samp(x1, y) AS c1y, covar_samp(x2, y) AS c2y
        |  FROM s2),
        |f AS (
        |  SELECT *,
        |    CASE WHEN abs(v1*v2 - c12*c12) > CAST(1e-6 AS DOUBLE)
        |      THEN (c1y*v2 - c2y*c12) / (v1*v2 - c12*c12) END AS b,
        |    CASE WHEN abs(v1*v2 - c12*c12) > CAST(1e-6 AS DOUBLE)
        |      THEN (c2y*v1 - c1y*c12) / (v1*v2 - c12*c12) END AS c
        |  FROM cv),
        |g AS (SELECT *, my - b*m1 - c*m2 AS a, b*b - 4.0*(my - b*m1 - c*m2)*c AS disc FROM f),
        |h AS (
        |  SELECT *,
        |    CASE WHEN c < CAST(-1e-9 AS DOUBLE) AND disc >= 0
        |      THEN (-b - sqrt(disc)) / (2.0 * c) END AS m
        |  FROM g)
        |SELECT n_days,
        |  floor(a * 10000 + 0.5)/10000 AS a,
        |  floor(b * 10000 + 0.5)/10000 AS b,
        |  floor(c * 1e6 * 10000 + 0.5)/10000 AS c_e6,
        |  floor(m / 1000.0 * 10000 + 0.5)/10000 AS m_k,
        |  CASE WHEN abs(m) > CAST(1e-9 AS DOUBLE)
        |    THEN floor(a / m * 10000 + 0.5)/10000 END AS p_innovation,
        |  floor(-c * m * 10000 + 0.5)/10000 AS q_imitation
        |FROM h""".stripMargin,
    "q437_switchback" ->
      """WITH b AS (
        |  SELECT CAST(floor(epoch_us(ts) / CAST(3600000000 AS DOUBLE)) AS BIGINT) AS block,
        |    sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS rev
        |  FROM events GROUP BY 1),
        |armed AS (
        |  SELECT rev,
        |    CASE WHEN substr(md5(CAST(block AS VARCHAR)), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm
        |  FROM b),
        |ag AS (
        |  SELECT
        |    count(CASE WHEN arm = 'A' THEN 1 END) AS n_blocks_a,
        |    count(CASE WHEN arm = 'B' THEN 1 END) AS n_blocks_b,
        |    avg(CASE WHEN arm = 'A' THEN rev END) AS ma,
        |    avg(CASE WHEN arm = 'B' THEN rev END) AS mb,
        |    var_samp(CASE WHEN arm = 'A' THEN rev END) AS va,
        |    var_samp(CASE WHEN arm = 'B' THEN rev END) AS vb
        |  FROM armed)
        |SELECT n_blocks_a, n_blocks_b,
        |  floor(ma * 10000 + 0.5)/10000 AS mean_rev_a,
        |  floor(mb * 10000 + 0.5)/10000 AS mean_rev_b,
        |  floor((ma - mb) * 10000 + 0.5)/10000 AS block_effect,
        |  CASE WHEN va / n_blocks_a + vb / n_blocks_b > 0 THEN
        |    floor((ma - mb) / sqrt(va / n_blocks_a + vb / n_blocks_b) * 10000 + 0.5)/10000 END
        |    AS t_stat
        |FROM ag""".stripMargin,
    "q438_equi_depth_hist" ->
      """WITH bounds AS (
        |  SELECT list_transform(
        |    quantile_cont(o_totalprice, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |    b -> floor(b * 10000 + 0.5)/10000) AS bs
        |  FROM orders),
        |assigned AS (
        |  SELECT o.o_totalprice,
        |    CAST(len(list_filter(b.bs, x -> o.o_totalprice > x)) AS INT) AS bucket
        |  FROM orders o CROSS JOIN bounds b)
        |SELECT bucket, count(*) AS n_rows,
        |  count(DISTINCT o_totalprice) AS n_distinct,
        |  floor(min(o_totalprice) * 10000 + 0.5)/10000 AS lo,
        |  floor(max(o_totalprice) * 10000 + 0.5)/10000 AS hi
        |FROM assigned GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q439_join_estimate_audit" ->
      """WITH e AS (
        |  SELECT 'lineitem_orders' AS edge,
        |    (SELECT count(*) FROM lineitem) AS n_left,
        |    (SELECT count(*) FROM orders) AS n_right,
        |    (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS ndv_left,
        |    (SELECT count(DISTINCT o_orderkey) FROM orders) AS ndv_right,
        |    (SELECT count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |      AS n_actual
        |  UNION ALL
        |  SELECT 'lineitem_part',
        |    (SELECT count(*) FROM lineitem), (SELECT count(*) FROM part),
        |    (SELECT count(DISTINCT l_partkey) FROM lineitem),
        |    (SELECT count(DISTINCT p_partkey) FROM part),
        |    (SELECT count(*) FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
        |  UNION ALL
        |  SELECT 'orders_customer',
        |    (SELECT count(*) FROM orders), (SELECT count(*) FROM customer),
        |    (SELECT count(DISTINCT o_custkey) FROM orders),
        |    (SELECT count(DISTINCT c_custkey) FROM customer),
        |    (SELECT count(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey))
        |SELECT edge, n_left, n_right, ndv_left, ndv_right, n_actual,
        |  floor(CAST(n_left AS DOUBLE) * n_right / greatest(ndv_left, ndv_right)
        |    * 10000 + 0.5)/10000 AS n_estimate,
        |  CASE WHEN n_actual > 0 THEN
        |    floor(CAST(n_left AS DOUBLE) * n_right / greatest(ndv_left, ndv_right) / n_actual
        |      * 10000 + 0.5)/10000 END AS err_ratio
        |FROM e ORDER BY edge""".stripMargin,
    "q440_design_effect" ->
      """WITH p AS (
        |  SELECT user_id, value FROM events WHERE event_type = 'purchase'),
        |pu AS (
        |  SELECT user_id, count(*) AS m, sum(value) AS s, avg(value) AS ybar
        |  FROM p GROUP BY 1),
        |g AS (
        |  SELECT count(*) AS k, CAST(sum(m) AS BIGINT) AS n,
        |    CAST(sum(m * m) AS BIGINT) AS sum_m2, sum(s) AS tot
        |  FROM pu),
        |sst AS (
        |  SELECT sum((value - g.tot/g.n) * (value - g.tot/g.n)) AS sst
        |  FROM p CROSS JOIN g),
        |ssb AS (
        |  SELECT sum(m * (ybar - g.tot/g.n) * (ybar - g.tot/g.n)) AS ssb
        |  FROM pu CROSS JOIN g),
        |f AS (
        |  SELECT g.k, g.n, g.sum_m2, ssb.ssb, sst.sst,
        |    ssb.ssb / (g.k - 1) AS msb,
        |    (sst.sst - ssb.ssb) / (g.n - g.k) AS msw,
        |    (g.n - CAST(g.sum_m2 AS DOUBLE) / g.n) / (g.k - 1) AS m0
        |  FROM g CROSS JOIN sst CROSS JOIN ssb),
        |h AS (
        |  SELECT *,
        |    CASE WHEN k > 1 AND n > k THEN
        |      CASE WHEN msb + (m0 - 1.0) * msw > 0
        |        THEN (msb - msw) / (msb + (m0 - 1.0) * msw) END END AS icc
        |  FROM f),
        |i AS (
        |  SELECT *, 1.0 + (m0 - 1.0) * greatest(coalesce(icc, 0.0), 0.0) AS deff FROM h)
        |SELECT k AS n_users, n AS n_purchases,
        |  floor(m0 * 10000 + 0.5)/10000 AS m0,
        |  floor(icc * 10000 + 0.5)/10000 AS icc,
        |  floor(deff * 10000 + 0.5)/10000 AS deff,
        |  floor(n / deff * 10000 + 0.5)/10000 AS n_effective
        |FROM i""".stripMargin,
    "q441_qte" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS rev,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm
        |  FROM events GROUP BY user_id),
        |q AS (
        |  SELECT
        |    quantile_cont(rev, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
        |      FILTER (WHERE arm = 'A') AS qa,
        |    quantile_cont(rev, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
        |      FILTER (WHERE arm = 'B') AS qb
        |  FROM pu)
        |SELECT
        |  floor(CAST(g.range + 1 AS DOUBLE) / CAST(10 AS DOUBLE) * 10000 + 0.5)/10000 AS p,
        |  floor(qa[CAST(g.range + 1 AS INT)] * 10000 + 0.5)/10000 AS q_a,
        |  floor(qb[CAST(g.range + 1 AS INT)] * 10000 + 0.5)/10000 AS q_b,
        |  floor((qa[CAST(g.range + 1 AS INT)] - qb[CAST(g.range + 1 AS INT)])
        |    * 10000 + 0.5)/10000 AS qte
        |FROM q CROSS JOIN range(0, 9) g ORDER BY p""".stripMargin,
    "q442_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, source, toks, CAST(len(toks) AS BIGINT) AS n_tok,
        |        unnest(generate_series(0, len(toks) - 1, 48)) AS start
        |      FROM t WHERE len(toks) > 0),
        |ch AS (
        |  SELECT doc_id, source,
        |    md5(array_to_string(
        |      list_slice(toks, start + 1, start + least(64, n_tok - start)), ' '))
        |      AS chunk_md5
        |  FROM s),
        |fp AS (
        |  SELECT chunk_md5, count(*) AS fp_n, count(DISTINCT doc_id) AS fp_docs
        |  FROM ch GROUP BY 1)
        |SELECT ch.source, count(*) AS n_chunks,
        |  count(DISTINCT ch.chunk_md5) AS n_distinct,
        |  floor(CAST(sum(CASE WHEN fp.fp_n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 10000 + 0.5)/10000 AS dup_share,
        |  floor(CAST(sum(CASE WHEN fp.fp_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 10000 + 0.5)/10000 AS cross_doc_share
        |FROM ch JOIN fp USING (chunk_md5)
        |GROUP BY 1 ORDER BY ch.source""".stripMargin,
    "q443_mixture_shift" ->
      """WITH k AS (
        |  SELECT doc_id, source,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |kk AS (
        |  SELECT source,
        |    CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS kept
        |  FROM k),
        |b AS (
        |  SELECT source, count(*) AS n_before, CAST(sum(kept) AS BIGINT) AS n_after
        |  FROM kk GROUP BY 1),
        |t AS (SELECT CAST(sum(n_before) AS BIGINT) AS tot_before,
        |             CAST(sum(n_after) AS BIGINT) AS tot_after FROM b)
        |SELECT source, n_before, n_after,
        |  floor(CAST(n_before AS DOUBLE)/tot_before * 10000 + 0.5)/10000 AS share_before,
        |  floor(CAST(n_after AS DOUBLE)/tot_after * 10000 + 0.5)/10000 AS share_after,
        |  floor((CAST(n_after AS DOUBLE)/tot_after - CAST(n_before AS DOUBLE)/tot_before)
        |    * 100 * 10000 + 0.5)/10000 AS delta_pp
        |FROM b CROSS JOIN t ORDER BY source""".stripMargin,
    "q444_engle_granger" ->
      """WITH seg AS (
        |  SELECT o.o_orderdate, o.o_totalprice, c.c_mktsegment
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |ya AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
        |  FROM seg WHERE c_mktsegment = 'AUTOMOBILE' GROUP BY 1),
        |xb AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        |  FROM seg WHERE c_mktsegment = 'BUILDING' GROUP BY 1),
        |bo AS (
        |  SELECT date_diff('day', DATE '1970-01-01', d) AS di, y, x
        |  FROM ya JOIN xb USING (d)),
        |ols AS (
        |  SELECT count(*) AS n_days, avg(y) AS my, avg(x) AS mx,
        |    var_samp(x) AS vx, covar_samp(x, y) AS cxy
        |  FROM bo),
        |ab AS (
        |  SELECT *, CASE WHEN vx > 0 THEN cxy / vx END AS b FROM ols),
        |ab2 AS (SELECT *, my - b * mx AS a FROM ab),
        |resid AS (
        |  SELECT bo.di, bo.y - ab2.a - ab2.b * bo.x AS e
        |  FROM bo CROSS JOIN ab2),
        |pairs AS (
        |  SELECT r1.e AS el, r2.e - r1.e AS de
        |  FROM resid r1 JOIN resid r2 ON r2.di = r1.di + 1),
        |df AS (
        |  SELECT count(*) AS n_pairs, sum(el * de) AS sed,
        |    sum(el * el) AS see, sum(de * de) AS sdd
        |  FROM pairs),
        |rh AS (SELECT *, CASE WHEN see > 0 THEN sed / see END AS rho FROM df),
        |tt AS (
        |  SELECT *,
        |    sqrt((sdd - rho * rho * see) / (n_pairs - 1) / see) AS se
        |  FROM rh),
        |fin AS (
        |  SELECT *, CASE WHEN se > 0
        |    THEN floor(rho / se * 10000 + 0.5)/10000 END AS tr FROM tt)
        |SELECT ols.n_days,
        |  floor(ab2.b * 10000 + 0.5)/10000 AS beta,
        |  floor(ab2.a / CAST(1e6 AS DOUBLE) * 10000 + 0.5)/10000 AS alpha_m,
        |  floor(fin.rho * 10000 + 0.5)/10000 AS rho,
        |  fin.tr AS eg_tstat,
        |  (fin.tr < -3.34) AS cointegrated
        |FROM ols CROSS JOIN ab2 CROSS JOIN fin""".stripMargin,
    "q445_abc_xyz" ->
      """WITH bw AS (
        |  SELECT p.p_brand,
        |    weekofyear(CAST(l.l_shipdate AS DATE)) AS wk,
        |    year(CAST(l.l_shipdate AS DATE)) AS yr,
        |    sum(l.l_quantity) AS demand,
        |    sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS rev
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2, 3),
        |brand AS (
        |  SELECT p_brand,
        |    CASE WHEN avg(demand) > 0 THEN
        |      floor(stddev_samp(demand) / avg(demand) * 10000 + 0.5)/10000 END AS cv,
        |    sum(rev) AS rev
        |  FROM bw GROUP BY 1),
        |tot AS (SELECT sum(rev) AS tot_rev FROM brand),
        |cl AS (
        |  SELECT p_brand, cv, rev, tot_rev,
        |    floor(CAST(sum(rev) OVER (ORDER BY rev DESC, p_brand
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      / CAST(tot_rev AS DOUBLE) * 10000 + 0.5)/10000 AS cum_share
        |  FROM brand CROSS JOIN tot),
        |cl2 AS (
        |  SELECT *,
        |    CASE WHEN cum_share <= 0.5 THEN 'A'
        |         WHEN cum_share <= 0.8 THEN 'B' ELSE 'C' END AS abc,
        |    CASE WHEN cv < 0.5 THEN 'X' WHEN cv < 1.0 THEN 'Y' ELSE 'Z' END AS xyz
        |  FROM cl)
        |SELECT abc, xyz, count(*) AS n_brands,
        |  floor(CAST(sum(rev) AS DOUBLE) / CAST(max(tot_rev) AS DOUBLE) * 100
        |    * 10000 + 0.5)/10000 AS rev_share_pct
        |FROM cl2 GROUP BY 1, 2 ORDER BY abc, xyz""".stripMargin,
  )

  /** q288's oracle: k-core peeling has no closed form, so the SQL
    * unrolls the fixpoint — 30 peel rounds (the operator's maxRounds;
    * rounds after convergence are no-ops), each one degree filter +
    * edge restriction over the previous round. CTEs are MATERIALIZED:
    * DuckDB otherwise inlines each multi-referenced round and the
    * expansion is exponential. */
  private def kcoreOracle: String = {
    val rounds = (1 to 30).map { i =>
      s"""k$i AS MATERIALIZED (SELECT src AS node FROM e${i - 1} GROUP BY src HAVING count(*) >= 2),
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
         |  WHERE e.src IN (SELECT node FROM k$i) AND e.dst IN (SELECT node FROM k$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |und AS MATERIALIZED (
       |  SELECT a.pk AS pa, b.pk AS pb FROM items a JOIN items b
       |    ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |e0 AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM und
       |  UNION ALL SELECT pb, pa FROM und),
       |$rounds
       |SELECT src AS node, count(*) AS core_degree FROM e30 GROUP BY 1 ORDER BY node""".stripMargin
  }
}
