package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PortableRound.{money, moneySum, oneRate, rate, round}

/** Relational/analytical operator suite (SURVEY.md §2 q01–q18).
  *
  * Pure DataFrame transformations — no UDFs, no RDDs — so every operator
  * stays inside Catalyst optimization and whole-stage codegen. Floating
  * aggregates are rounded to 4 decimals and results deterministically
  * ordered, because the correctness gate hash-compares against a DuckDB
  * oracle (sum-order float jitter must be absorbed).
  *
  * Scale notes are per-operator; the shared rule: dims are broadcast,
  * aggregations rely on partial (map-side) combine, and nothing collects
  * to the driver.
  */
object Relational {

  /** q01: TPC-H Q1-shaped pricing summary. One shuffle on a 2-key,
    * ~8-group aggregation — map-side combine reduces 100 TB to KBs. */
  def pricingSummary(lineitem: DataFrame): DataFrame = {
    // EXACT decimal money mass (the q200 discipline, promoted here by a
    // real failure, now centralized in PortableRound): at sf1 the
    // fact-wide double sums reach ~3e10 over 6M rows, where summation
    // ORDER moves the total by ~1e-4 — across engines (and across
    // Spark's own partitionings) the 4dp display rounding is no longer
    // stable. Inputs are 2dp money: cast once, sum exactly, divide
    // exactly, display as double at the end.
    val qty = money(col("l_quantity"))
    val price = money(col("l_extendedprice"))
    val disc = rate(col("l_discount"))
    val tax = rate(col("l_tax"))
    val one2 = oneRate
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(qty).cast("double"), 4).as("sum_qty"),
        round(sum(price).cast("double"), 4).as("sum_base_price"),
        round(sum(price * (one2 - disc)).cast("double"), 4).as("sum_disc_price"),
        round(sum(price * (one2 - disc) * (one2 + tax)).cast("double"), 4).as("sum_charge"),
        round(sum(qty).cast("double") / count(lit(1)), 4).as("avg_qty"),
        round(sum(price).cast("double") / count(lit(1)), 4).as("avg_price"),
        round(sum(disc).cast("double") / count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** q02: selective filter + narrow projection. The point at scale:
    * `.explain` must show PushedFilters + a 4-column ReadSchema, so the
    * scan never materializes unused columns. */
  def filterProject(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_quantity") >= 45 && col("l_shipdate") >= lit("2000-01-01"))
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_partkey"),
        round(col("l_quantity"), 4).as("qty"))
      .orderBy("l_orderkey", "l_linenumber")

  /** q03: global top-k. orderBy+limit planspace → TakeOrderedAndProject:
    * per-partition heap + driver merge of k rows, never a full sort. */
  def topkOrders(orders: DataFrame, k: Int = 50): DataFrame =
    orders
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        round(col("o_totalprice"), 4).as("total_price"))
      .orderBy(desc("total_price"), asc("o_orderkey"))
      .limit(k)

  /** q04: fact ⋈ small dim. Explicit broadcast — at 100 TB the fact side
    * must not shuffle for a bounded dimension. */
  def joinBroadcast(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      // exact decimal money mass (the q01 sf1 class, applied
      // PROACTIVELY: per-brand revenue reaches ~7e9 at sf1, one SF away
      // from the summation-order boundary the fixed queries crossed)
      .agg(
        round(sum(money(col("l_extendedprice")) * (oneRate - rate(col("l_discount"))))
          .cast("double"), 4).as("revenue"),
        round(moneySum(col("l_quantity")), 4).as("sum_qty"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")

  /** q05: TPC-H Q5-shaped 6-table star join → revenue per nation.
    * Every dim chain (region→nation→supplier, customer) broadcasts; only
    * orders⋈lineitem is a genuine big-big join, shuffled on orderkey. */
  def multiJoinAgg(
      region: DataFrame,
      nation: DataFrame,
      customer: DataFrame,
      orders: DataFrame,
      lineitem: DataFrame,
      supplier: DataFrame): DataFrame =
    lineitem
      .join(orders.filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(customer.select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      // exact decimal money mass (q01 class, proactive: ~1.2e10/nation at sf1)
      .agg(round(sum(money(col("l_extendedprice")) * (oneRate - rate(col("l_discount"))))
        .cast("double"), 4).as("revenue"))
      .orderBy("n_name")

  /** q06: TPC-H Q6-shaped tight filter + single sum — all predicates push
    * to the scan; result is one row. */
  def selectiveAgg(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(
        col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.06 && col("l_quantity") < 24)
      // exact decimal mass (q01 class, proactive: one fact-wide total)
      .agg(round(sum(money(col("l_extendedprice")) * rate(col("l_discount")))
        .cast("double"), 4).as("revenue"))

  /** q07: windowed ranking per customer. Single shuffle on the partition
    * key; tie-broken by orderkey so ranks are deterministic. */
  def windowRank(orders: DataFrame, topN: Int = 3): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    orders
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topN)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        col("rn"),
        round(col("o_totalprice"), 4).as("total_price"))
      .orderBy("o_custkey", "rn")
  }

  /** q08: exact distinct count per group (expands to a 2-phase partial
    * distinct aggregate — no full-row shuffle). */
  def distinctCount(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** q19: HyperLogLog approximate distinct — the 100 TB path beside
    * q08's exact count-distinct: constant memory per group, no
    * distinct-expansion shuffle, mergeable sketches. Rows-only check
    * (approximation is engine-specific). */
  def approxDistinct(events: DataFrame, rsd: Double = 0.02): DataFrame =
    events
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), rsd).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** q09: hierarchical ROLLUP — grouping-set expansion stays a single
    * shuffle in Spark (Expand + partial agg). */
  def rollupAgg(lineitem: DataFrame): DataFrame =
    lineitem
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 4).as("sum_qty"), count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"),
        col("n_rows"))
      .orderBy("rf", "ls")

  /** q10: LEFT SEMI (EXISTS) — customers holding at least one order above
    * a price floor. Semi-join keeps only the probe side's columns, so no
    * payload duplication at scale. */
  def semiJoin(customer: DataFrame, orders: DataFrame, minTotal: Double = 400000.0): DataFrame =
    customer
      .join(orders.filter(col("o_totalprice") > minTotal), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")

  /** q11: LEFT ANTI (NOT EXISTS) — customers with no order in a window. */
  def antiJoin(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders.filter(col("o_orderdate") >= lit("2000-01-01")), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy("c_custkey")

  /** q12: conditional aggregation — CASE WHEN folded into the aggregate,
    * one pass over the fact. */
  def caseAgg(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(
        round(sum(when(col("value") > 100, col("value")).otherwise(lit(0.0))), 4).as("high_value_sum"),
        count(when(col("value") > 100, lit(1))).as("high_value_cnt"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** q13: HAVING — post-aggregation filter evaluated after the (already
    * tiny) aggregate output. */
  def havingAgg(lineitem: DataFrame, minQty: Double = 350.0): DataFrame =
    lineitem
      .groupBy("l_partkey")
      .agg(round(sum("l_quantity"), 4).as("sum_qty"), count(lit(1)).as("n_items"))
      .filter(col("sum_qty") > minQty)
      .orderBy("l_partkey")

  /** q14: scalar subquery — parts priced above the global mean. The
    * 1-row aggregate is broadcast-cross-joined (no driver collect). */
  def scalarSubquery(part: DataFrame): DataFrame = {
    val avgPrice = part.agg(avg("p_retailprice").as("avg_price"))
    part
      .crossJoin(broadcast(avgPrice))
      .filter(col("p_retailprice") > col("avg_price"))
      .select(col("p_partkey"), col("p_brand"), round(col("p_retailprice"), 4).as("retail_price"))
      .orderBy("p_partkey")
  }

  /** q15: UNION ALL of filtered slices + aggregation — union is a no-op
    * at the physical layer (both children feed one aggregate). */
  def unionSlices(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase" && col("value") > 150)
    val signups   = events.filter(col("event_type") === "signup" && col("value") > 150)
    purchases
      .unionAll(signups)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .orderBy("event_type")
  }

  /** q16: exact interpolated percentiles (median/p95) per group. */
  def percentiles(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("median_value"),
        round(expr("percentile(value, 0.95)"), 4).as("p95_value"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** q123: winsorized statistics per group — the outlier-robust
    * cleaning pass (clip to [p05, p95], then aggregate) a metrics
    * pipeline runs over heavy-tailed measures. Per-group bounds are an
    * exact-percentile aggregate (group-cardinality rows), BROADCAST
    * back, and the clip is a pure map-side expression feeding one more
    * aggregate — two linear scans, no row-level shuffle. Bounds are
    * rounded to 4 decimals on BOTH engines before clipping so a value
    * landing within an ulp of a bound clips identically (the q90
    * pre-rounded-boundary discipline). */
  def winsorize(events: DataFrame): DataFrame = {
    val bounds = events
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.05)"), 4).as("lo"),
        round(expr("percentile(value, 0.95)"), 4).as("hi"))
    events
      .join(broadcast(bounds), Seq("event_type"))
      .withColumn("wv", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        round(avg("wv"), 4).as("wins_mean"),
        round(min("wv"), 4).as("wins_min"),
        round(max("wv"), 4).as("wins_max"))
      .orderBy("event_type")
  }

  /** q126: chi-square independence test over a contingency table
    * (lang × source — "is corpus language mix independent of source?",
    * the drift/balance check a curation pipeline monitors). The
    * contingency table is ONE groupBy (cells = |langs|×|sources|,
    * tiny); marginals and the grand total derive from the CELLS, not
    * the corpus, and every join from there is broadcast at
    * table-of-cells size. One corpus scan total. */
  def chiSquare(documents: DataFrame): DataFrame = {
    val cells = documents.groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy("lang").agg(sum("o").as("rt"))
    val colT = cells.groupBy("source").agg(sum("o").as("ct"))
    val tot  = cells.agg(sum("o").as("n"), countDistinct("lang").as("nl"), countDistinct("source").as("ns"))
    // densify: a (lang, source) combination with NO observed rows still
    // contributes (0−e)²/e — the grid is the marginals' product
    // (|langs|×|sources|, tiny), never the corpus
    rowT.crossJoin(broadcast(colT))
      .join(cells, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("e", col("rt") * col("ct") / col("n"))
      .agg(
        round(sum(pow(col("o") - col("e"), 2) / col("e")), 4).as("chi2"),
        ((first("nl") - 1) * (first("ns") - 1)).as("dof"),
        first("n").as("n_docs"))
  }

  /** q128: correlated-subquery decorrelation (the TPC-H Q17 shape:
    * "lineitems under half their part's average quantity"): the
    * per-row correlated scalar subquery becomes ONE per-part average
    * aggregate joined back on partkey — a data-proportional equi-join
    * (the per-part table is |parts|-sized; CBO/AQE broadcasts it when
    * it fits, shuffles otherwise — at 100 TB it shuffles, and that is
    * the right plan). The threshold is pre-rounded on both engines so
    * a quantity at exactly half-average compares identically (q90
    * boundary discipline). */
  def correlatedAvg(lineitem: DataFrame): DataFrame = {
    val pa = lineitem.groupBy("l_partkey").agg(round(avg("l_quantity"), 4).as("pa"))
    lineitem
      .join(pa, Seq("l_partkey"))
      .filter(col("l_quantity") < lit(0.5) * col("pa"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_below"),
        round(sum("l_quantity"), 4).as("qty_below"),
        round(avg("l_extendedprice"), 4).as("avg_price"))
      .orderBy("l_returnflag")
  }

  /** q139: WEIGHTED percentiles per group — each row counts `weight`
    * times (quantity-weighted price: "the median dollar", not the
    * median line). Spark's native `percentile(col, p, freq)` computes
    * the exact expanded-multiset percentile in ONE aggregate pass
    * without materializing the expansion. Rows-only: no portable ANSI
    * weighted quantile exists; the spec recounts by explicit
    * expansion at sf0.001. */
  def weightedPercentiles(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5, CAST(l_quantity AS INT))"), 4).as("wp50"),
        round(expr("percentile(l_extendedprice, 0.9, CAST(l_quantity AS INT))"), 4).as("wp90"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_unweighted"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** q142: market concentration per nation — Herfindahl–Hirschman index
    * (Σ shareᵢ²) and top-contributor share of customer revenue: the
    * concentration/diversity report (the revenue dual of q97's
    * source-cap audit). Per-customer revenue is the only
    * fact-proportional aggregate; nation totals join back BROADCAST at
    * nation cardinality and shares collapse in one more
    * group-cardinality pass. */
  def marketConcentration(orders: DataFrame, customer: DataFrame): DataFrame = {
    val rev = orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .groupBy("c_nationkey", "c_custkey")
      .agg(moneySum(col("o_totalprice")).as("rev"))
    val tot = rev.groupBy("c_nationkey").agg(sum("rev").as("tot"))
    rev
      .join(broadcast(tot), Seq("c_nationkey"))
      .withColumn("share", col("rev") / col("tot"))
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_customers"),
        round(sum(col("share") * col("share")), 4).as("hhi"),
        round(max("share"), 4).as("top_share"))
      .orderBy("c_nationkey")
  }

  /** q155: per-nation revenue trend — least-squares slope/fit of monthly
    * revenue over a month index, via the NATIVE `regr_slope`/`regr_r2`/
    * `regr_intercept` aggregates (the q117 discipline: no UDF, no
    * collect). The fact table collapses to (nation × month) cells in one
    * data-proportional shuffle; the regression inputs are
    * calendar-bounded per nation, and the regr aggregates partial-merge
    * like any other co-moment. */
  def revenueTrend(orders: DataFrame, customer: DataFrame): DataFrame = {
    val monthly = orders
      .join(customer.select("c_custkey", "c_nationkey"),
        orders("o_custkey") === col("c_custkey"))
      .groupBy(
        col("c_nationkey"),
        // months since Jan 1995 (the corpus epoch) — a small abscissa
        // keeps the intercept numerically tame: regr moments differ
        // between engines at ~1e-15 relative, and an x offset of ~24000
        // months amplifies that through slope·mean(x) past the 4-decimal
        // comparison boundary
        ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")))
          .cast("double").as("month_idx"))
      .agg(moneySum(col("o_totalprice")).as("rev"))
    monthly
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_months"),
        round(expr("regr_slope(rev, month_idx)"), 4).as("slope"),
        round(expr("regr_intercept(rev, month_idx)"), 4).as("intercept"),
        round(expr("regr_r2(rev, month_idx)"), 4).as("r2"))
      .orderBy("c_nationkey")
  }

  /** q156: top revenue supplier with ties (TPC-H Q15): quarter-filtered
    * per-supplier revenue (filter pushed to the scan, one
    * supplier-cardinality shuffle), the max attached via the 1-row
    * broadcast scalar idiom — never an unpartitioned `rank()` window —
    * and tie equality tested on identically-rounded revenue both
    * engines (the q134 discipline). */
  def topSupplier(lineitem: DataFrame, supplier: DataFrame): DataFrame = {
    val rev = lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("total_revenue"))
    val top = rev.agg(max("total_revenue").as("max_revenue"))
    rev
      .join(broadcast(top), col("total_revenue") === col("max_revenue"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** q171: hash-split A/B comparison with Welch's t — the
    * experimentation primitive: users deterministically bucketed by the
    * portable md5 parity (q55 idiom — the SAME users land in the same
    * arm on any engine or rerun), per-user revenue as the unit of
    * analysis (user-level aggregation first, so within-user correlation
    * never inflates n), then Welch's unequal-variance t statistic and
    * Satterthwaite degrees of freedom from ONE conditional aggregate
    * over the user table. Everything after the per-user rollup is a
    * single scalar row. */
  /** Deterministic md5-parity arm assignment shared by the whole
    * experimentation suite (q171/q223/q224) — one copy so every harness
    * buckets the SAME users identically on any engine or rerun. */
  private[graft] def hashArm(user: Column): Column =
    when(substring(md5(user.cast("string")), 1, 1)
      .isInCollection(Seq("0", "1", "2", "3", "4", "5", "6", "7")), "A").otherwise("B")

  /** Shared unit-of-analysis frame for the experimentation suite: one
    * row per user with their purchase revenue and md5-parity arm —
    * q171 (Welch) and q224 (power) MUST read the identical frame or
    * the test and its power analysis silently diverge. */
  private def perUserRevenueArm(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)).as("rev"))
      .withColumn("arm", hashArm(col("user_id")))

  def abTestWelch(events: DataFrame): DataFrame = {
    val perUser = perUserRevenueArm(events)
    val a = when(col("arm") === "A", col("rev"))
    val b = when(col("arm") === "B", col("rev"))
    perUser
      .agg(
        count(a).as("n_a"), count(b).as("n_b"),
        avg(a).as("ma"), avg(b).as("mb"),
        var_samp(a).as("va"), var_samp(b).as("vb"))
      .select(
        col("n_a"), col("n_b"),
        round(col("ma"), 4).as("mean_a"),
        round(col("mb"), 4).as("mean_b"),
        round(
          (col("ma") - col("mb")) /
            sqrt(col("va") / col("n_a") + col("vb") / col("n_b")), 4).as("t_stat"),
        round(
          pow(col("va") / col("n_a") + col("vb") / col("n_b"), 2) /
            (pow(col("va") / col("n_a"), 2) / (col("n_a") - 1) +
              pow(col("vb") / col("n_b"), 2) / (col("n_b") - 1)), 4).as("welch_df"))
  }

  /** q429: sample-ratio-mismatch (SRM) guardrail — the first check any
    * experiment readout must pass: per day, are the md5-parity arms
    * actually splitting active users 50/50? Unit = user-day (each
    * active user counts once per day), χ² against the expected even
    * split via the closed form (n_a−n_b)²/(n_a+n_b), flagged at the
    * p<0.001 boundary (10.8276). A flagged day means assignment or
    * logging is broken and every downstream q171/q394 readout on that
    * day is invalid — the guardrail that catches it BEFORE the t-test
    * is read. Scale shape: one distinct user-day aggregate (map-side
    * partial), then a ≤#days frame; the flag thresholds on the ROUNDED
    * χ² so both engines bucket identically. */
  def srmCheck(events: DataFrame): DataFrame = {
    val userDays = events
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .withColumn("arm", hashArm(col("user_id")))
    val chi2 = round(
      (col("n_a") - col("n_b")).cast("double") * (col("n_a") - col("n_b")).cast("double")
        / (col("n_a") + col("n_b")).cast("double"), 4)
    userDays
      .groupBy("day")
      .agg(
        count(when(col("arm") === "A", 1)).as("n_a"),
        count(when(col("arm") === "B", 1)).as("n_b"))
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_a"), col("n_b"),
        chi2.as("chi2"),
        (chi2 > lit(10.8276)).as("srm_flag"))
      .orderBy("day")
  }

  /** q437: SWITCHBACK experiment analysis — time-block randomization
    * for settings where user-level assignment leaks through shared
    * state (marketplaces, pricing, ranking): the md5 parity runs over
    * HOUR-BLOCK ids instead of users, every event in a block gets the
    * block's arm, and the effect is the block-level mean difference
    * with a Welch t over blocks (the block is the independence unit,
    * exactly as the user is in q171). One block-grain aggregate, then
    * a 1-row scalar; block revenue sums ride exact decimal-free event
    * values (~1e2 mass — far from the money-grain cliff). */
  def switchbackAnalysis(events: DataFrame, blockHours: Int = 1): DataFrame = {
    val blockUs = lit(blockHours.toLong * 3600L * 1000000L)
    val blocks = events
      .withColumn("block", floor(unix_micros(col("ts")) / blockUs))
      .groupBy("block")
      .agg(
        sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)).as("rev"),
        count(lit(1)).as("n_events"))
      .withColumn("arm", hashArm(col("block")))
    val a = when(col("arm") === "A", col("rev"))
    val b = when(col("arm") === "B", col("rev"))
    blocks
      .agg(
        count(a).as("n_blocks_a"), count(b).as("n_blocks_b"),
        avg(a).as("ma"), avg(b).as("mb"),
        var_samp(a).as("va"), var_samp(b).as("vb"))
      .select(
        col("n_blocks_a"), col("n_blocks_b"),
        round(col("ma"), 4).as("mean_rev_a"),
        round(col("mb"), 4).as("mean_rev_b"),
        round(col("ma") - col("mb"), 4).as("block_effect"),
        round(
          when(col("va") / col("n_blocks_a") + col("vb") / col("n_blocks_b") > 0,
            (col("ma") - col("mb")) /
              sqrt(col("va") / col("n_blocks_a") + col("vb") / col("n_blocks_b"))), 4)
          .as("t_stat"))
  }

  /** q394: Bayesian A/B on conversion — the "probability A actually
    * beats B" readout stakeholders ask for where q171/q231 hand back a
    * p-value: Jeffreys-smoothed posterior conversion rates
    * p̂ = (s+½)/(n+1) with var p̂(1−p̂)/(n+1), and
    * P(A>B) = Φ((p̂_A−p̂_B)/√(v_A+v_B)) through the same portable A&S
    * normal polynomial as q331 (no engine erf). The ship/hold decision
    * label thresholds on the ROUNDED posterior probability so both
    * engines bucket identically. */
  def bayesAb(events: DataFrame): DataFrame =
    bayesAbFromCounts(bayesArmCounts(events))

  /** One exposure/conversion count slice per arm — four ADDITIVE longs,
    * so slices of the events sum to exactly the full-corpus counts. */
  private[graft] def bayesArmCounts(events: DataFrame): DataFrame =
    events.withColumn("arm", hashArm(col("user_id")))
      .agg(
        count(when(col("arm") === "A", lit(1))).as("n_a"),
        count(when(col("arm") === "B", lit(1))).as("n_b"),
        count(when(col("arm") === "A" && col("event_type") === "purchase", lit(1))).as("s_a"),
        count(when(col("arm") === "B" && col("event_type") === "purchase", lit(1))).as("s_b"))

  /** Posterior P(A>B) from (possibly many) count slices — the q394
    * kernel: sum the counts, then the Jeffreys-normal arithmetic.
    *
    * Small-n caveat: P(A>B) uses a NORMAL approximation to the Beta
    * posterior difference, which misstates tail probabilities exactly
    * where the evidence is thinnest. The decision therefore carries a
    * minimum-exposure gate ([[BayesMinExposure]] per arm): below it the
    * report stays `inconclusive` no matter how extreme the approximate
    * posterior looks, so an early lucky streak cannot ship an arm. */
  private[graft] val BayesMinExposure = 100L

  private[graft] def bayesAbFromCounts(counts: DataFrame): DataFrame = {
    val agg = counts.agg(
      sum("n_a").as("n_a"), sum("n_b").as("n_b"),
      sum("s_a").as("s_a"), sum("s_b").as("s_b"))
      .withColumn("pa", (col("s_a") + 0.5) / (col("n_a") + 1))
      .withColumn("pb", (col("s_b") + 0.5) / (col("n_b") + 1))
      .withColumn("va", col("pa") * (lit(1.0) - col("pa")) / (col("n_a") + 1))
      .withColumn("vb", col("pb") * (lit(1.0) - col("pb")) / (col("n_b") + 1))
      .withColumn("zz",
        when(col("va") + col("vb") > 0.0,
          (col("pa") - col("pb")) / sqrt(col("va") + col("vb"))))
      .withColumn("prob",
        round(when(col("zz") >= 0, lit(1.0) - normUpperTail(abs(col("zz"))))
          .otherwise(normUpperTail(abs(col("zz")))), 4))
    agg.select(
      col("n_a"), col("n_b"), col("s_a"), col("s_b"),
      round(col("pa"), 4).as("conv_a"),
      round(col("pb"), 4).as("conv_b"),
      round(col("pa") - col("pb"), 4).as("lift"),
      col("prob").as("prob_a_beats_b"),
      when(col("n_a") < BayesMinExposure || col("n_b") < BayesMinExposure, "inconclusive")
        .when(col("prob") >= 0.95, "ship_a")
        .when(col("prob") <= 0.05, "ship_b")
        .otherwise("inconclusive").as("decision"))
  }

  /** q395: TOST equivalence test on the q171 per-user revenue frame —
    * the question a non-significant Welch CANNOT answer ("absence of
    * evidence ≠ evidence of absence"): are the arm means equivalent
    * within ±δ (δ = marginFrac × the grand mean)? Two one-sided normal
    * tests — z_L = (d+δ)/se against d ≤ −δ, z_U = (δ−d)/se against
    * d ≥ +δ — both p's through the portable A&S polynomial; equivalent
    * ⇔ max(p_L, p_U) < α on the ROUNDED p's (engine-stable). */
  def tostEquivalence(
      events: DataFrame,
      marginFrac: Double = 0.05,
      alpha: Double = 0.05): DataFrame = {
    val perUser = perUserRevenueArm(events)
    val a = when(col("arm") === "A", col("rev"))
    val b = when(col("arm") === "B", col("rev"))
    // 1 − Φ(z) for ANY sign of z, through the x ≥ 0 polynomial
    def upperP(z: Column): Column =
      when(z >= 0, normUpperTail(z)).otherwise(lit(1.0) - normUpperTail(-z))
    val agg = perUser
      .agg(
        count(a).as("n_a"), count(b).as("n_b"),
        avg(a).as("ma"), avg(b).as("mb"),
        var_samp(a).as("va"), var_samp(b).as("vb"),
        avg("rev").as("m_all"))
      .withColumn("d", col("ma") - col("mb"))
      .withColumn("se", sqrt(col("va") / col("n_a") + col("vb") / col("n_b")))
      .withColumn("delta", abs(col("m_all")) * lit(marginFrac))
      .withColumn("zl", when(col("se") > 0.0, (col("d") + col("delta")) / col("se")))
      .withColumn("zu", when(col("se") > 0.0, (col("delta") - col("d")) / col("se")))
      .withColumn("pl", round(upperP(col("zl")), 4))
      .withColumn("pu", round(upperP(col("zu")), 4))
    agg.select(
      col("n_a"), col("n_b"),
      round(col("ma"), 4).as("mean_a"),
      round(col("mb"), 4).as("mean_b"),
      round(col("delta"), 4).as("margin"),
      round(col("zl"), 4).as("z_lower"),
      round(col("zu"), 4).as("z_upper"),
      col("pl").as("p_lower"), col("pu").as("p_upper"),
      (greatest(col("pl"), col("pu")) < alpha).as("equivalent"))
  }

  /** q223: CUPED variance reduction for the q171 A/B harness — the
    * modern experimentation workhorse: each user's PRE-period revenue is
    * a covariate correlated with their post-period metric but
    * independent of assignment, so Y′ = Y − θ(X − X̄) with
    * θ = cov(X,Y)/var(X) keeps every arm mean unbiased while shrinking
    * variance by the squared correlation. Period split at the data
    * midpoint (1-row broadcast scalar — engine/rerun-stable), one
    * user-grain aggregate, then everything is a single scalar row of
    * co-moment aggregates. Zero-variance covariate degrades to θ = 0
    * (plain Welch), never a divide-by-null. */
  def cupedAb(events: DataFrame, preDays: Int = 15): DataFrame = {
    val start = events.agg(min(to_date(col("ts"))).as("d0"))
    val perUser = events
      .crossJoin(broadcast(start))
      .withColumn("is_pre", datediff(to_date(col("ts")), col("d0")) < preDays)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "purchase" && col("is_pre"), col("value"))
          .otherwise(0.0)).as("x"),
        sum(when(col("event_type") === "purchase" && !col("is_pre"), col("value"))
          .otherwise(0.0)).as("y"))
      .withColumn("arm", hashArm(col("user_id")))
    val moments = perUser.agg(
      covar_samp(col("x"), col("y")).as("cxy"),
      var_samp(col("x")).as("vx"),
      avg("x").as("mx"))
    val adj = perUser
      .crossJoin(broadcast(moments))
      // not when(vx>0, cxy/vx): ANSI codegen can hoist the division out
      // of the lazy branch and throw DIVIDE_BY_ZERO on the guarded path
      .withColumn("theta", coalesce(expr("try_divide(cxy, vx)"), lit(0.0)))
      .withColumn("y_adj", col("y") - col("theta") * (col("x") - col("mx")))
    val a = when(col("arm") === "A", col("y_adj"))
    val b = when(col("arm") === "B", col("y_adj"))
    adj.agg(
        max("theta").as("th"),
        var_samp(col("y")).as("var_raw"),
        var_samp(col("y_adj")).as("var_cuped"),
        count(a).as("n_a"), count(b).as("n_b"),
        avg(a).as("ma"), avg(b).as("mb"))
      .select(
        round(col("th"), 4).as("theta"),
        round(col("var_raw"), 4).as("var_raw"),
        round(col("var_cuped"), 4).as("var_cuped"),
        round((lit(1.0) - expr("try_divide(var_cuped, var_raw)")) * 100, 4)
          .as("var_reduction_pct"),
        col("n_a"), col("n_b"),
        round(col("ma"), 4).as("mean_adj_a"),
        round(col("mb"), 4).as("mean_adj_b"))
  }

  /** q224: power analysis for the q171 harness — the pre-registration
    * numbers every experiment needs: from the observed per-arm
    * variances, the minimum detectable effect at α=0.05 / power 0.8
    * (two-sided z approximation) and the per-arm sample size required
    * to detect the currently-observed lift. Pure closed-form algebra
    * over the same one-row conditional aggregate as q171 — the z
    * quantiles are literals, so the whole report is engine-exact. */
  def abPower(events: DataFrame): DataFrame = {
    val zA = 1.959963984540054 // z_{0.975}
    val zB = 0.8416212335729143 // z_{0.80}
    val perUser = perUserRevenueArm(events)
    val a = when(col("arm") === "A", col("rev"))
    val b = when(col("arm") === "B", col("rev"))
    perUser
      .agg(
        count(a).as("n_a"), count(b).as("n_b"),
        avg(a).as("ma"), avg(b).as("mb"),
        var_samp(a).as("va"), var_samp(b).as("vb"))
      .select(
        col("n_a"), col("n_b"),
        round(abs(col("ma") - col("mb")), 4).as("observed_lift"),
        round(lit(zA + zB) * sqrt(col("va") / col("n_a") + col("vb") / col("n_b")), 4)
          .as("mde_at_current_n"),
        when(abs(col("ma") - col("mb")) > 0,
          ceil(pow(lit(zA + zB), 2) * (col("va") + col("vb")) /
            pow(col("ma") - col("mb"), 2)).cast("double"))
          .otherwise(lit(null).cast("double")).as("n_per_arm_for_observed_lift"))
  }

  /** q231: two-proportion z-test on conversion — the binary-outcome
    * sibling of q171's Welch test (revenue is continuous, "did they
    * convert at all" is a proportion; testing a proportion with a
    * t-test on 0/1s misstates the variance): per-arm converted-user
    * counts from one user-grain aggregate, pooled-variance z =
    * (p̂_A−p̂_B)/√(p̂(1−p̂)(1/n_A+1/n_B)) as a scalar row. */
  def abProportionTest(events: DataFrame): DataFrame = {
    // outcome: heavy purchaser (above the corpus median purchase count)
    // — "did they purchase at all" saturates to 1.0 on any active corpus
    // and the z degenerates to 0/0; an in-query median threshold keeps
    // the proportion interior at every scale factor
    val counts = events
      .groupBy("user_id")
      .agg(sum((col("event_type") === "purchase").cast("int")).as("cnt"))
    val med = counts.agg(expr("percentile(cnt, 0.5)").as("med"))
    val perUser = counts
      .crossJoin(broadcast(med))
      .select(col("user_id"), (col("cnt") > col("med")).cast("int").as("converted"))
      .withColumn("arm", hashArm(col("user_id")))
    val a = when(col("arm") === "A", col("converted"))
    val b = when(col("arm") === "B", col("converted"))
    perUser
      .agg(
        count(a).as("n_a"), count(b).as("n_b"),
        sum(a).as("c_a"), sum(b).as("c_b"))
      .withColumn("p_a", col("c_a") / col("n_a"))
      .withColumn("p_b", col("c_b") / col("n_b"))
      .withColumn("p_pool", (col("c_a") + col("c_b")) / (col("n_a") + col("n_b")))
      .select(
        col("n_a"), col("n_b"),
        round(col("p_a"), 4).as("rate_a"),
        round(col("p_b"), 4).as("rate_b"),
        round(
          expr("try_divide(p_a - p_b, sqrt(p_pool*(1-p_pool)*(1.0/n_a + 1.0/n_b)))"),
          4).as("z"))
  }

  /** q233: k-anonymity audit over a quasi-identifier set — the privacy
    * pre-flight for any data release: every (nationkey, market
    * segment) equivalence class is counted in ONE
    * class-cardinality aggregate, and the report is the corpus
    * k-anonymity (smallest class), class count, and the share of rows
    * living in classes below the policy k — the rows a release would
    * need to generalize or suppress. Class cardinality is bounded by
    * the QI domain product, never by rows. */
  def kAnonymityAudit(customer: DataFrame, k: Int = 10): DataFrame =
    customer
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("class_size"))
      .agg(
        sum("class_size").as("n_rows"),
        count(lit(1)).as("n_classes"),
        min("class_size").as("k_anonymity"),
        round(
          sum(when(col("class_size") < k, col("class_size")).otherwise(0L))
            / sum("class_size").cast("double") * 100, 4).as("pct_rows_below_k"))

  /** q234: differentially-private counts with DETERMINISTIC Laplace
    * noise — the utility-audit harness for a DP release (true counts
    * ride along precisely BECAUSE this is the calibration table, not
    * the release): noise is Laplace(1/ε) via the inverse CDF
    * X = −(1/ε)·sgn(u−½)·ln(1−2|u−½|) with u derived from the
    * content-free md5 of the group key (the q105 A-ES idiom) — so
    * runs, engines and reruns draw the SAME noise and the whole table
    * is oracle-checkable. Per-group work is one aggregate plus
    * map-side noise arithmetic. */
  def dpCounts(events: DataFrame, epsilon: Double = 0.5, seed: String = "dp1"): DataFrame = {
    val u = (conv(substring(md5(concat(col("event_type"), lit(seed))), 1, 8), 16, 10)
      .cast("double") + 1.0) / 4294967297.0
    val noise = (lit(-1.0 / epsilon)) * signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    events
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_true"))
      .withColumn("noise", noise)
      .select(
        col("event_type"), col("n_true"),
        round(col("noise"), 4).as("noise"),
        round(col("n_true") + col("noise"), 4).as("n_noisy"),
        round(abs(col("noise")) / col("n_true") * 100, 4).as("pct_error"))
      .orderBy("event_type")
  }

  /** q236: key-sequence gap detection (the "did the upstream drop a
    * range" data-quality audit — registered over lineitem's orderkeys,
    * where orders without line items leave real holes): a global sort over all
    * keys would be a data-sized single reducer, so gaps split into two
    * disjoint families — IN-bucket gaps from a lag window partitioned
    * by the arithmetic range bucket key ⌊key/bucketSpan⌋ (distributed,
    * bounded partitions), and CROSS-bucket gaps from per-bucket
    * min/max aggregated to #buckets rows and lagged over that bounded
    * frame (empty buckets fall out naturally: the previous non-empty
    * bucket's max meets the next one's min). Top-20 largest gaps via
    * TakeOrdered. */
  def keyGapAudit(
      table: DataFrame,
      keyCol: String = "l_orderkey",
      bucketSpan: Long = 1000L,
      topK: Int = 20): DataFrame = {
    val keys = table.select(col(keyCol).as("k")).distinct()
      .withColumn("b", (col("k") / bucketSpan).cast("long"))
    val wIn = Window.partitionBy("b").orderBy("k")
    val inBucket = keys
      .withColumn("prev", lag("k", 1).over(wIn))
      .filter(col("prev").isNotNull && col("k") - col("prev") > 1)
      .select((col("prev") + 1).as("gap_start"), (col("k") - 1).as("gap_end"))
    val wB = Window.orderBy("b")
    val crossBucket = keys
      .groupBy("b")
      .agg(min("k").as("mn"), max("k").as("mx"))
      .withColumn("prev_mx", lag("mx", 1).over(wB))
      .filter(col("prev_mx").isNotNull && col("mn") - col("prev_mx") > 1)
      .select((col("prev_mx") + 1).as("gap_start"), (col("mn") - 1).as("gap_end"))
    inBucket.unionByName(crossBucket)
      .select(col("gap_start"), col("gap_end"),
        (col("gap_end") - col("gap_start") + 1).as("gap_len"))
      .orderBy(col("gap_len").desc, col("gap_start"))
      .limit(topK)
  }

  /** q237: l-diversity audit — q233's sensitive-attribute companion:
    * k-anonymity alone leaves a class where everyone shares one
    * sensitive value fully disclosed; l-diversity counts DISTINCT
    * sensitive values per quasi-identifier class. One two-level
    * aggregate (class × sensitive distinct, then class rollup),
    * reporting corpus l, class count, and how many classes sit below
    * the policy l. */
  def lDiversityAudit(customer: DataFrame, l: Int = 3): DataFrame =
    customer
      .groupBy("c_nationkey")
      .agg(countDistinct("c_mktsegment").as("l_div"), count(lit(1)).as("class_size"))
      .agg(
        count(lit(1)).as("n_classes"),
        min("l_div").as("l_diversity"),
        sum((col("l_div") < l).cast("int")).as("classes_below_l"),
        sum("class_size").as("n_rows"))

  /** q241: t-closeness audit — the third leg of the k-anonymity (q233) /
    * l-diversity (q237) privacy triad: per quasi-identifier class, the
    * total-variation distance between that class's sensitive-attribute
    * distribution and the GLOBAL one (l-diversity counts distinct values;
    * t-closeness catches a class that has them all but badly skewed).
    * Absent (class, value) combos contribute their full global share, so
    * the class×value grid is completed by a cross join of the CLASS list
    * with the VALUE list — both aggregate outputs, cardinality
    * #classes × #values, never data-sized — before the counts left-join
    * in. One scan, three tiny aggregates. */
  def tClosenessAudit(customer: DataFrame, t: Double = 0.2): DataFrame = {
    val cells = customer.groupBy("c_nationkey", "c_mktsegment").agg(count(lit(1)).as("n"))
    val classes = cells.groupBy("c_nationkey").agg(sum("n").as("class_size"))
    val global = cells.groupBy("c_mktsegment").agg(sum("n").as("gn"))
      .withColumn("g_total", sum(col("gn")).over(Window.partitionBy(lit(1))))
    val grid = classes.crossJoin(global)
      .join(cells, Seq("c_nationkey", "c_mktsegment"), "left")
      .withColumn("p_class", coalesce(col("n"), lit(0L)).cast("double") / col("class_size"))
      .withColumn("p_global", col("gn").cast("double") / col("g_total"))
    grid
      .groupBy("c_nationkey")
      .agg(
        first("class_size").as("class_size"),
        (sum(abs(col("p_class") - col("p_global"))) / 2).as("tvd"))
      .agg(
        count(lit(1)).as("n_classes"),
        round(max("tvd"), 4).as("t_closeness"),
        round(avg("tvd"), 4).as("avg_tvd"),
        sum((col("tvd") > t).cast("int")).as("classes_above_t"))
  }

  /** q172: shipping-SLA compliance by priority — delay distribution
    * (exact p50/p90) and the % of lines shipped within the SLA window,
    * per order priority. One fact join on orderkey (data-proportional),
    * priority-cardinality aggregate; the SLA test is a map-side integer
    * day comparison, so compliance aggregates with plain avg. */
  def slaCompliance(lineitem: DataFrame, orders: DataFrame, slaDays: Int = 30): DataFrame =
    lineitem
      .join(orders.select("o_orderkey", "o_orderpriority", "o_orderdate"),
        lineitem("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_days", datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        round(expr("percentile(delay_days, 0.5)"), 4).as("p50_delay"),
        round(expr("percentile(delay_days, 0.9)"), 4).as("p90_delay"),
        round(avg(when(col("delay_days") <= slaDays, 1.0).otherwise(0.0)) * 100, 4)
          .as("pct_within_sla"))
      .orderBy("o_orderpriority")

  /** q169: percent-of-parent contribution report (nation→region→global
    * hierarchy): each nation's revenue with its share of its region and
    * of the world — the drill-down share view q114 flattens to one
    * level. One fact-proportional aggregate to nation grain; region
    * totals re-aggregate FROM the nation table (never a second fact
    * pass) and ride back broadcast at region cardinality; the global
    * total uses the 1-row broadcast scalar idiom. Shares divide
    * pre-rounded revenue both engines (q90 discipline). */
  def revenueContribution(
      orders: DataFrame,
      customer: DataFrame,
      nation: DataFrame,
      region: DataFrame): DataFrame = {
    val natRev = orders
      .join(customer.select("c_custkey", "c_nationkey"),
        orders("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(round(moneySum(col("o_totalprice")), 4).as("revenue"))
      .join(broadcast(nation.select(
        col("n_nationkey").as("c_nationkey"), col("n_name"), col("n_regionkey"))),
        Seq("c_nationkey"))
    val regRev = natRev.groupBy("n_regionkey").agg(sum("revenue").as("region_revenue"))
    val total = natRev.agg(sum("revenue").as("global_revenue"))
    natRev
      .join(broadcast(regRev), Seq("n_regionkey"))
      .join(broadcast(total))
      .join(broadcast(region.select(col("r_regionkey").as("n_regionkey"), col("r_name"))),
        Seq("n_regionkey"))
      .select(
        col("r_name"), col("n_name"), col("revenue"),
        round(col("revenue") / col("region_revenue") * 100, 4).as("pct_of_region"),
        round(col("revenue") / col("global_revenue") * 100, 4).as("pct_of_global"))
      .orderBy("r_name", "n_name")
  }

  /** q162: audience overlap matrix — |A∩B|, per-audience sizes and
    * Jaccard for every pair of event types ("users who did A and also
    * B", the segment-overlap report behind every cross-sell dashboard).
    * The q92 basket idiom on per-user type sets: one distinct pass
    * collapses events to (user, type) — bounded at users × #types —
    * the self-join expands ≤ C(#types,2) rows per user (type-count-
    * bounded, never data²), audience totals ride back in at
    * #types cardinality broadcast. Two data-proportional shuffles
    * regardless of how many pairs are reported. */
  def audienceOverlap(events: DataFrame): DataFrame = {
    val ut = events.select("user_id", "event_type").distinct()
    val totals = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
    val a = ut.select(col("user_id"), col("event_type").as("type_a"))
    val b = ut.select(col("user_id"), col("event_type").as("type_b"))
    val pairs = a
      .join(b, Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(totals.select(col("event_type").as("type_a"), col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(totals.select(col("event_type").as("type_b"), col("n").as("n_b"))), Seq("type_b"))
      .select(
        col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        round(col("n_both") / (col("n_a") + col("n_b") - col("n_both")), 4).as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  /** q157: approximate group-by with error bars (BlinkDB-style AQP):
    * per-priority order counts/revenue estimated from a deterministic
    * 25% md5 sample (the q55 portable-sampling idiom — hex-prefix of
    * md5(key), identical row set on any engine), scaled by the
    * Horvitz–Thompson inverse-probability estimator with its
    * Bernoulli-sampling standard error (√[(1−p)/p² · Σx²] from sampled
    * rows only). The filter evaluates at the scan, so the shuffle
    * carries p of the table; persisted as a sample TABLE the SCAN is p
    * of the table too — that is the 100 TB interactive-dashboard path.
    * Estimator collapses to the exact answer at p = 1 (spec-asserted). */
  def approxGroupBy(orders: DataFrame, hexChars: Seq[String] = Seq("0", "1", "2", "3")): DataFrame =
    approxFromSample(
      orders.filter(hashSamplePredicate(col("o_orderkey"), hexChars)),
      hexChars.size / 16.0)

  /** Deterministic md5-prefix sample membership — the q55/q157 portable
    * sampling predicate: the same row set on any engine and layout. */
  def hashSamplePredicate(key: Column, hexChars: Seq[String]): Column =
    substring(md5(key.cast("string")), 1, 1).isInCollection(hexChars)

  /** q157's estimator half: Horvitz–Thompson estimates + standard error
    * from an ALREADY-MATERIALIZED p-sample (e.g. a persisted sample
    * table — then the scan itself is p of the data). */
  def approxFromSample(sample: DataFrame, p: Double): DataFrame = {
    sample
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_sampled"),
        round(count(lit(1)) / lit(p), 4).as("est_count"),
        round(moneySum(col("o_totalprice")) / lit(p), 4).as("est_revenue"),
        round(
          sqrt(sum(col("o_totalprice") * col("o_totalprice")) * lit((1 - p) / (p * p))),
          4).as("stderr_revenue"))
      .orderBy("o_orderpriority")
  }

  /** q158: NOT IN vs a NULLABLE subquery — the ANSI null-semantics trap
    * in its join form (q110 covered scalar/group null semantics).
    * `x NOT IN (set)` is three-valued: one NULL in the set makes the
    * predicate UNKNOWN for every non-member, so the raw form returns
    * ZERO rows; stripping nulls restores the intended "not among the
    * known values" query. Both variants run here and report side by
    * side. Scale note, load-bearing: Spark plans null-aware anti joins
    * ONLY as BroadcastNestedLoopJoin (the null check needs the whole
    * build side everywhere), so at 100 TB the null-stripped rewrite —
    * a plain shuffled LEFT ANTI equi-join — is not a style choice, it
    * is the only shape that scales. This operator uses the rewrite for
    * BOTH variants (null presence checked via a 1-row broadcast scalar),
    * and the spec pins it ≡ Spark's own NOT IN planning. */
  def notInNullable(customer: DataFrame, supplier: DataFrame): DataFrame = {
    // probe set: supplier nations, with nation 3 masked to NULL —
    // a planted nullable member the oracle reproduces exactly
    val probe = supplier.select(nullif(col("s_nationkey"), lit(3)).as("k"))
    val hasNull = probe.agg(max(col("k").isNull).as("has_null"))
    val stripped = probe.filter(col("k").isNotNull).distinct()
    val notAmong = customer
      .join(stripped, customer("c_nationkey") === stripped("k"), "left_anti")
    // ANSI completeness: a NULL probe value is also UNKNOWN against a
    // non-empty set (the probe here is never empty), so it can never
    // satisfy NOT IN — the anti join alone would keep it
    val ansi = notAmong
      .filter(col("c_nationkey").isNotNull)
      .join(broadcast(hasNull)).filter(!col("has_null"))
    Seq(("ansi_not_in", ansi), ("null_stripped", notAmong))
      .map { case (variant, df) =>
        df.agg(count(lit(1)).as("n_customers")).select(lit(variant).as("variant"), col("n_customers"))
      }
      .reduce(_.unionAll(_))
      .orderBy("variant")
  }

  /** q159: ordered string aggregation (LISTAGG / string_agg) — top-3
    * customers by balance per nation, names joined in rank order. The
    * rank filter plans the bounded Partial+Final WindowGroupLimit
    * (q07/q97 idiom), so the sort feeding the shuffle is top-k-bounded;
    * collect_list order is then made DETERMINISTIC by sorting (rank,
    * name) structs inside the row — never relying on row arrival
    * order, which no engine guarantees. */
  def topCustomerListagg(customer: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("c_nationkey").orderBy(desc("c_acctbal"), col("c_custkey"))
    customer
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_top"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("rnk"), col("c_name").as("name")))),
            x => x.getField("name")),
          ",").as("top_names"),
        round(sum("c_acctbal"), 4).as("top_balance"))
      .orderBy("c_nationkey")
  }

  /** q137: top-k WITH TIES per group — `rank() <= k` (every row tied at
    * the boundary survives; q07's row_number form cuts arbitrarily).
    * RANK also plans the native Partial+Final WindowGroupLimit (the
    * bounded pre-shuffle heap carries boundary peers), so the
    * tie-preserving semantic costs the same as the cutting one. */
  def topKWithTies(orders: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"))
    orders
      .withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(
        col("o_custkey"), col("o_orderkey"), col("rnk"),
        round(col("o_totalprice"), 4).as("price"))
      .orderBy("o_custkey", "rnk", "o_orderkey")
  }

  /** q132: customer order-count distribution (TPC-H Q13): LEFT join so
    * zero-order customers keep their 0 bucket, per-customer counts,
    * then the count-of-counts histogram. Two aggregates: the first
    * shuffles on custkey (fact-proportional — the honest cost), the
    * second is #distinct-counts-sized. */
  def orderCountDistribution(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left")
      .groupBy(customer("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(desc("n_customers"), desc("c_count"))

  /** q133: above-average-balance customers with NO high-value orders
    * (TPC-H Q22's NOT-EXISTS shape — "wealthy accounts we never closed
    * a big deal with"): two 1-row broadcast scalars (average balance,
    * 2× average order value), then an anti join against the distinct
    * set of high-value-order customers — data-proportional shuffle,
    * never a per-row NOT IN rescan — rolled up per nation. Thresholds
    * pre-rounded on both engines (q90 boundary discipline). */
  def richInactive(customer: DataFrame, orders: DataFrame): DataFrame = {
    val avgBal = customer
      .filter(col("c_acctbal") > 0)
      .agg(round(avg("c_acctbal"), 4).as("ab"))
    val bigCut = orders.agg(round(lit(2.0) * avg("o_totalprice"), 4).as("cut"))
    val bigBuyers = orders
      .crossJoin(broadcast(bigCut))
      .filter(col("o_totalprice") > col("cut"))
      .select(col("o_custkey").as("c_custkey"))
      .distinct()
    customer
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("ab"))
      .join(bigBuyers, Seq("c_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_customers"),
        round(sum("c_acctbal"), 4).as("total_bal"))
      .orderBy("c_nationkey")
  }

  /** q134: min-cost supplier per part (the TPC-H Q2 argmin-JOIN — the
    * whole winning ROW is needed, so `max_by`/`min_by` scalars (q17)
    * don't suffice): per-part minimum price is one aggregate, joined
    * back on (partkey, price) equality — raw stored doubles, no
    * arithmetic, so the equality is exact — then ties collapse to the
    * smallest suppkey and the supplier dim attaches by broadcast. Two
    * partkey-keyed shuffles + one broadcast, never a per-part sort. */
  def minCostSupplier(lineitem: DataFrame, supplier: DataFrame): DataFrame = {
    val mn = lineitem.groupBy("l_partkey").agg(min("l_extendedprice").as("best_price"))
    lineitem
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice").as("best_price"))
      .join(mn, Seq("l_partkey", "best_price"))
      .groupBy("l_partkey")
      .agg(min("l_suppkey").as("s_suppkey"), first("best_price").as("bp"))
      .join(broadcast(supplier.select("s_suppkey", "s_name")), Seq("s_suppkey"))
      .select(
        col("l_partkey"), col("s_suppkey"), col("s_name"),
        round(col("bp"), 4).as("best_price"))
      .orderBy("l_partkey")
  }

  /** q147: sole-delayed supplier (the TPC-H Q21 double-correlated
    * EXISTS / NOT-EXISTS shape — "which supplier alone held up
    * multi-supplier orders"): a line is late when it shipped more than
    * `lateDays` after the order date. The textbook form re-scans
    * lineitem twice per line (EXISTS another supplier in the order,
    * NOT EXISTS another LATE supplier); here both collapse into ONE
    * orderkey-keyed aggregate over the order's lines — distinct
    * suppliers, distinct late suppliers, the (unique-if-qualifying)
    * late supplier, and its late-line count — so qualification is a
    * filter on that aggregate, not a correlated rescan. One fact-sized
    * join (lineitem ⋈ 'F' orders on orderkey), one orderkey shuffle
    * (the two countDistincts share it via Expand), then a
    * supplier-cardinality rollup + broadcast name attach. */
  def waitingSupplier(
      lineitem: DataFrame, orders: DataFrame, supplier: DataFrame,
      lateDays: Int = 60): DataFrame = {
    val late = col("l_shipdate") >
      col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS")
    lineitem
      .join(
        orders.filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey")
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(late, col("l_suppkey"))).as("n_late_supp"),
        max(when(late, col("l_suppkey"))).as("late_supp"),
        count(when(late, lit(1))).as("late_lines"))
      .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
      .groupBy("late_supp")
      .agg(sum("late_lines").as("numwait"))
      .join(
        broadcast(supplier.select(col("s_suppkey").as("late_supp"), col("s_name"))),
        Seq("late_supp"))
      .select(col("s_name"), col("numwait"))
      .orderBy(desc("numwait"), col("s_name"))
      .limit(20)
  }

  /** q17: argmax/argmin per group via max_by/min_by — one aggregate pass,
    * no self-join-on-max anti-pattern. */
  def firstLast(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(
        expr("max_by(event_type, ts)").as("last_event_type"),
        expr("min_by(event_type, ts)").as("first_event_type"),
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
        date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")

  /** q24: running total per customer (rows-unbounded-preceding window).
    * One shuffle on the partition key; frame is incremental, not
    * recomputed per row. */
  def runningTotal(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        round(sum(money(col("o_totalprice"))).over(w).cast("double"), 4)
          .as("running_total"))
      .orderBy("o_custkey", "order_date", "o_orderkey")
  }

  /** q25: decile bucketing — scale-safe ntile.
    *
    * A bare `ntile(n) OVER (ORDER BY …)` funnels every row through ONE
    * reducer (`Exchange SinglePartition`): correct at sf0.1, dead at
    * 100×. Same result here with no global sort: value-range buckets
    * from one `approx_percentile` pass (a tiny driver-collected literal),
    * per-bucket ranks from a hash-partitioned window, global rank =
    * local rank + broadcast bucket offsets, then ntile's exact bucket
    * arithmetic applied to the global rank. Equal prices always share a
    * range bucket, so the (price DESC, orderkey ASC) total order is
    * preserved across buckets and the output is bit-identical to the
    * single-reducer ntile (asserted by the DuckDB oracle). */
  def ntileBuckets(orders: DataFrame, buckets: Int = 10, rangeParts: Int = 32): DataFrame = {
    val probs = (1 until rangeParts).map(i => i.toDouble / rangeParts)
    val boundsRow = orders
      .agg(expr(s"approx_percentile(o_totalprice, array(${probs.mkString(",")}), 10000)"))
      .head()
    val bounds: Seq[Double] =
      if (boundsRow.isNullAt(0)) Seq.empty else boundsRow.getSeq[Double](0)
    // pid = #boundaries ≥ price → pid 0 holds the highest prices,
    // matching the DESC global order; equal prices share one pid.
    val pidCol = bounds
      .foldLeft(lit(0)) { (acc, b) => acc + when(col("o_totalprice") <= lit(b), 1).otherwise(0) }
      .as("pid")
    val parted = orders.withColumn("pid", pidCol)
    val cnts = parted.groupBy("pid").agg(count(lit(1)).as("cnt")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = cnts.values.sum
    // rows ranked before each pid (the broadcast offset table, ≤ rangeParts entries)
    val offsets: Map[Int, Long] = {
      val sortedPids = cnts.keys.toSeq.sorted
      sortedPids.zip(sortedPids.scanLeft(0L)((acc, p) => acc + cnts(p))).toMap
    }
    val w    = Window.partitionBy("pid").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    val rank = row_number().over(w).cast("long") + element_at(typedlit(offsets), col("pid"))
    // ntile bucket arithmetic: first n%b buckets hold ⌈n/b⌉ rows, the rest ⌊n/b⌋
    val q = n / buckets
    val r = n % buckets
    val decile =
      if (q == 0L) rank
      else
        when(rank <= lit(r * (q + 1)), (rank - 1) / lit(q + 1))
          .otherwise(lit(r) + (rank - lit(r * (q + 1)) - 1) / lit(q)) + lit(1L)
    parted
      .withColumn("decile", decile.cast("long"))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_orders"),
        round(min("o_totalprice"), 4).as("min_price"),
        round(max("o_totalprice"), 4).as("max_price"))
      .orderBy("decile")
  }

  /** q26: LEFT OUTER join keeping zero-order customers (null-safe
    * aggregation over the preserved side). */
  def leftJoinAgg(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left")
      .groupBy(customer("c_custkey").as("c_custkey"), col("c_mktsegment"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(moneySum(col("o_totalprice")), lit(0.0)), 4).as("total_spend"))
      .orderBy("c_custkey")

  /** q37: approximate percentiles (KLL/GK-style sketch) — the 100 TB
    * path beside q16's exact interpolation: bounded memory, mergeable,
    * one pass. Rows-only (sketch is engine-specific); ScalaTest bounds
    * it against the exact value. */
  def approxPercentiles(events: DataFrame, accuracy: Int = 10000): DataFrame =
    events
      .groupBy("event_type")
      .agg(
        round(expr(s"approx_percentile(value, 0.5, $accuracy)"), 4).as("approx_median"),
        round(expr(s"approx_percentile(value, 0.95, $accuracy)"), 4).as("approx_p95"),
        round(expr("percentile(value, 0.5)"), 4).as("exact_median"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** q38: t-digest percentiles — the custom-sketch dual of q37's
    * built-in approx_percentile. [[graft.plans.TDigestQuantile]] is a
    * native `TypedImperativeAggregate`: per-partition digests are a few
    * KB, serialize into the partial-aggregation shuffle, and merge
    * associatively — constant memory at any scale, with k₁ sizing that
    * keeps tail percentiles (p95/p99) tight where training-data QC
    * actually reads them. Exact percentile rides along so the spec can
    * bound the sketch error. Rows-only (sketch output is
    * engine-specific). */
  def tdigestPercentiles(events: DataFrame, compression: Double = 200.0): DataFrame = {
    import graft.functions.SketchFunctions.tdigestQuantile
    events
      .groupBy("event_type")
      .agg(
        round(tdigestQuantile(col("value"), 0.5, compression), 4).as("td_median"),
        round(tdigestQuantile(col("value"), 0.95, compression), 4).as("td_p95"),
        round(tdigestQuantile(col("value"), 0.99, compression), 4).as("td_p99"),
        round(expr("percentile(value, 0.5)"), 4).as("exact_median"),
        round(expr("percentile(value, 0.95)"), 4).as("exact_p95"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  /** q49: navigation + distribution window suite — lead/lag neighbours
    * and percent_rank/cume_dist over per-customer order history. One
    * hash-partitioned window (customer), one shuffle; all five window
    * functions share a single sort. */
  def windowSuite(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cume"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q39: the sketch-TABLE pattern — percentiles over pre-aggregated
    * sketch columns. Stage 1 builds what a nightly job would persist:
    * one few-KB binary t-digest per (dt, event_type). Stage 2 answers
    * the percentile query by re-merging the stored sketches
    * (`tdigest_merge_quantile`) — it reads O(days × types) KB instead of
    * rescanning raw rows, which is how percentile dashboards stay
    * interactive over 100 TB of history. Exact percentiles ride along
    * from the raw data so the spec can bound the merged-sketch error. */
  def sketchTableRollup(events: DataFrame, compression: Double = 200.0): DataFrame = {
    import graft.functions.SketchFunctions.{tdigestMergeQuantile, tdigestSketch}
    val sketchTable = events
      .groupBy(date_format(col("ts"), "yyyyMMdd").as("dt"), col("event_type"))
      .agg(tdigestSketch(col("value"), compression).as("sk"), count(lit(1)).as("n"))
    val merged = sketchTable
      .groupBy("event_type")
      .agg(
        round(tdigestMergeQuantile(col("sk"), 0.5), 4).as("merged_median"),
        round(tdigestMergeQuantile(col("sk"), 0.95), 4).as("merged_p95"),
        sum("n").as("n_events"))
    val exact = events
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("exact_median"),
        round(expr("percentile(value, 0.95)"), 4).as("exact_p95"))
    merged.join(exact, "event_type").orderBy("event_type")
  }

  /** q54: the HLL sketch-TABLE pattern — distinct-count dashboards over
    * stored sketches. Stage 1 persists one Apache DataSketches HLL
    * binary per (dt, event_type) (`hll_sketch_agg`, a few KB each);
    * stage 2 answers "distinct users per type, all time" by unioning the
    * stored sketches (`hll_union_agg`) — O(days × types) KB re-read
    * instead of a 100 TB rescan, and the union is loss-free across
    * arbitrary partition groupings. Exact distinct rides along so the
    * spec can bound the estimate error. lgConfigK=14 → ~0.8% stderr. */
  def hllSketchRollup(events: DataFrame, lgConfigK: Int = 14): DataFrame = {
    val sketchTable = events
      .groupBy(date_format(col("ts"), "yyyyMMdd").as("dt"), col("event_type"))
      .agg(
        hll_sketch_agg(col("user_id"), lit(lgConfigK)).as("sk"),
        count(lit(1)).as("n"))
    val merged = sketchTable
      .groupBy("event_type")
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("approx_users"),
        sum("n").as("n_events"))
    val exact = events
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged
      .join(exact, "event_type")
      .select(
        col("event_type"),
        col("approx_users"),
        col("exact_users"),
        col("n_events"))
      .orderBy("event_type")
  }

  /** q101: join-size planning from sketches — estimate the distinct-key
    * overlap of a prospective join WITHOUT running it:
    * |A∩B| ≈ |A| + |B| − |A∪B| by inclusion–exclusion over HLL
    * sketches. One sketch aggregate per side (map-side partials, a
    * ~KB-sized sketch crosses the wire), one binary `hll_union` on the
    * driver-sized 1-row frames — at 100 TB this is how you decide
    * broadcast vs shuffle vs bloom *before* paying for the join. The
    * same stored sketches from q54's sketch table answer this for any
    * partition subset with no rescan. */
  def hllJoinEstimate(
      left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String,
      lgConfigK: Int = 14): DataFrame = {
    val l = left.agg(hll_sketch_agg(col(leftKey), lit(lgConfigK)).as("sk_l"))
    val r = right.agg(hll_sketch_agg(col(rightKey), lit(lgConfigK)).as("sk_r"))
    l.crossJoin(r) // 1 row × 1 row — the scalar-combine idiom
      .select(
        hll_sketch_estimate(col("sk_l")).as("est_left_keys"),
        hll_sketch_estimate(col("sk_r")).as("est_right_keys"),
        hll_sketch_estimate(hll_union(col("sk_l"), col("sk_r"), allowDifferentLgConfigK = false))
          .as("est_union_keys"))
      .withColumn(
        "est_matching_keys",
        greatest(col("est_left_keys") + col("est_right_keys") - col("est_union_keys"), lit(0L)))
  }

  /** q83: unpivot/melt — the inverse of q28's pivot: measure columns
    * fanned into (measure, value) rows. Spark's native `unpivot` expands
    * inside the scan projection (an Expand, no UDF, no shuffle); the
    * groupBy after it shuffles #measures rows. */
  def unpivotMeasures(lineitem: DataFrame): DataFrame =
    lineitem
      .unpivot(
        Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure",
        "v")
      // every unpivoted measure is 2-decimal by contract; integer-cents
      // aggregation keeps the fact-wide totals exact in any summation
      // order (the sf1 lesson — the raw-double sum drifted past 4dp at
      // 3e11 mass, and the money LINT can't see a generic `v` column)
      .select(col("measure"),
        (graft.functions.PortableRound.money(col("v")) * 100).cast("long").as("vc"))
      .groupBy("measure")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("vc")).cast("double") / lit(100.0), 4).as("total"),
        round(sum(col("vc")).cast("double") / lit(100.0) / count(lit(1)), 4).as("avg_v"))
      .orderBy("measure")

  /** q82: count-min heavy hitters — the third sketch-table member beside
    * t-digest (q39) and HLL (q54). CMS binaries are aggregated per (dt,
    * type) partition group exactly like a stored sketch table, merged
    * loss-free per type, and probed for candidate keys WITHOUT
    * re-scanning raw events: at 100 TB a "how often did key X appear in
    * period P" service answers from O(groups) KB-sized sketches. The
    * probe set here is the exact per-type top-k (deterministic oracle for
    * the spec); CMS guarantees est ≥ exact with ≤ eps·N overshoot at the
    * configured confidence. */
  def cmsHeavyHitters(events: DataFrame, topK: Int = 3, eps: Double = 0.001, conf: Double = 0.99): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = events.sparkSession
    import spark.implicits._
    // the sketch table: one CMS per (dt, type) group — what a service
    // would persist beside the sealed partitions
    val sketchTable = events
      .groupBy(date_format(col("ts"), "yyyyMMdd").as("dt"), col("event_type"))
      .agg(expr(s"count_min_sketch(user_id, ${eps}d, ${conf}d, 42)").as("cms"))
    // merge per type driver-side: sketches are KBs × #groups
    val merged = sketchTable.select("event_type", "cms").collect()
      .groupBy(_.getString(0))
      .map { case (tpe, rows) =>
        val sks = rows.map(r => org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1))))
        tpe -> sks.reduce((a, b) => { a.mergeInPlace(b); a })
      }
    // candidates: exact per-type top-k (ties broken by user_id)
    val w = Window.partitionBy("event_type").orderBy(desc("exact_n"), asc("user_id"))
    val candidates = events
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("exact_n"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select("event_type", "user_id", "exact_n")
      .as[(String, Long, Long)].collect()
    candidates.toSeq
      .map { case (tpe, user, exact) => (tpe, user, exact, merged(tpe).estimateCount(user)) }
      .toDF("event_type", "user_id", "exact_n", "est_n")
      .orderBy("event_type", "user_id")
  }

  /** q68: FULL OUTER join — customers×suppliers per nation, keeping
    * nations that have only one side. Null-safe coalesced counts; one
    * shuffle per side on the join key. */
  def fullOuterAgg(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val c = customer.groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("n_cust"))
    val s = supplier.groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("n_supp"))
    c.join(s, Seq("nationkey"), "full_outer")
      .select(
        col("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  /** q69: set operations — INTERSECT / EXCEPT between two order-key
    * slices (customers with urgent orders vs customers with large
    * orders). Spark plans both as aggregate-style joins (no sort): the
    * distinct shuffle IS the operator. */
  def setOps(orders: DataFrame): DataFrame = {
    val urgent = orders.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    val large  = orders.filter(col("o_totalprice") > 300000.0).select("o_custkey")
    val both       = urgent.intersect(large).withColumn("which", lit("both"))
    val urgentOnly = urgent.except(large).withColumn("which", lit("urgent_only"))
    both.unionAll(urgentOnly)
      .groupBy("which")
      .agg(count(lit(1)).as("n_custs"), min("o_custkey").as("min_cust"))
      .orderBy("which")
  }

  /** q27: CUBE aggregation — all grouping-set combinations in one
    * Expand + single shuffle. */
  def cubeAgg(lineitem: DataFrame): DataFrame =
    lineitem
      .cube("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 4).as("sum_qty"), count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"),
        col("n_rows"))
      .orderBy("rf", "ls")

  /** q28: pivot — event counts per day fanned into one column per type.
    * Explicit pivot values keep the plan single-pass (no distinct scan). */
  def pivotCounts(events: DataFrame): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = events
      .withColumn("dt", date_format(col("ts"), "yyyyMMdd"))
      .groupBy("dt")
      .pivot("event_type", types)
      .count()
    types.foldLeft(p)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L)))).orderBy("dt")
  }

  /** q29: statistical aggregates (stddev/variance/covariance/correlation)
    * — one-pass mergeable moments, so map-side partials hold at scale. */
  def statsAgg(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(
        round(stddev_samp(col("value")), 4).as("sd_value"),
        round(var_samp(col("value")), 4).as("var_value"),
        round(covar_samp(col("value"), col("user_id").cast("double")), 4).as("covar_vu"),
        round(corr(col("value"), col("user_id").cast("double")), 4).as("corr_vu"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** q18: JSON field extraction from a string column (the reference's
    * event `props`) — `get_json_object` is codegen'd, no UDF. */
  def eventsJson(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(
        round(avg("k"), 4).as("avg_k"),
        max("k").as("max_k"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** q79: equi-width histogram by floor-division binning — bin assignment
    * is pure map-side arithmetic, the shuffle carries only #bins rows. */
  def histogram(orders: DataFrame, binWidth: Double = 50000.0): DataFrame =
    orders
      .groupBy(floor(col("o_totalprice") / binWidth).cast("long").as("bin"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(min("o_totalprice"), 4).as("bin_min"),
        round(max("o_totalprice"), 4).as("bin_max"))
      .orderBy("bin")

  /** q438: equi-DEPTH histogram — the optimizer-statistics dual of
    * q79's equi-width bins: bucket bounds are the exact interpolated
    * deciles (what ANALYZE builds for selectivity estimation), so every
    * bucket holds ~10% of rows regardless of skew; per bucket the row
    * count, distinct-value count and value range. Bounds are ROUNDED
    * before assignment (q90 boundary discipline) and the bucket id is a
    * lazy higher-order `filter` over the broadcast bounds array — no
    * driver pull, no per-row UDF. One percentile aggregate + one
    * bucket-grain aggregate. */
  def equiDepthHistogram(orders: DataFrame, buckets: Int = 10): DataFrame = {
    val probs = (1 until buckets).map(p => p.toDouble / buckets)
    val boundsRow = orders.agg(
      expr(s"transform(percentile(o_totalprice, array(${probs.mkString(",")})), " +
        "b -> floor(b * 10000 + 0.5)/10000)").as("bounds"))
    orders
      .crossJoin(broadcast(boundsRow))
      .select(
        col("o_totalprice"),
        expr("size(filter(bounds, b -> o_totalprice > b))").as("bucket"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_totalprice")).as("n_distinct"),
        round(min("o_totalprice"), 4).as("lo"),
        round(max("o_totalprice"), 4).as("hi"))
      .orderBy("bucket")
  }

  /** q439: join-CARDINALITY estimate audit — the System-R independence
    * formula every cost-based optimizer leans on,
    * |A ⋈ B| ≈ |A|·|B| / max(ndv_A, ndv_B), checked against the ACTUAL
    * join size for the star's three fact edges. The error ratio is the
    * "can I trust the planner's row estimates on THIS data" readout
    * (uniformity violations show up as ratios far from 1). Exact NDVs
    * and one count-shaped join per edge — data-proportional. */
  def joinEstimateAudit(
      orders: DataFrame, customer: DataFrame,
      lineitem: DataFrame, part: DataFrame): DataFrame = {
    def edge(
        name: String,
        left: DataFrame, lk: String,
        right: DataFrame, rk: String): DataFrame = {
      val ls = left.agg(
        count(lit(1)).as("n_left"), countDistinct(col(lk)).as("ndv_left"))
      val rs = right.agg(
        count(lit(1)).as("n_right"), countDistinct(col(rk)).as("ndv_right"))
      val actual = left.select(col(lk).as("__k"))
        .join(right.select(col(rk).as("__k")), "__k")
        .agg(count(lit(1)).as("n_actual"))
      ls.crossJoin(broadcast(rs)).crossJoin(broadcast(actual))
        .select(
          lit(name).as("edge"),
          col("n_left"), col("n_right"), col("ndv_left"), col("ndv_right"),
          col("n_actual"),
          round(
            col("n_left").cast("double") * col("n_right")
              / greatest(col("ndv_left"), col("ndv_right")), 4).as("n_estimate"),
          round(
            when(col("n_actual") > 0,
              col("n_left").cast("double") * col("n_right")
                / greatest(col("ndv_left"), col("ndv_right")) / col("n_actual")), 4)
            .as("err_ratio"))
    }
    edge("lineitem_orders", lineitem, "l_orderkey", orders, "o_orderkey")
      .unionByName(edge("lineitem_part", lineitem, "l_partkey", part, "p_partkey"))
      .unionByName(edge("orders_customer", orders, "o_custkey", customer, "c_custkey"))
      .orderBy("edge")
  }

  /** q89: month-over-month revenue change. The lag window is global but
    * its INPUT is the already-aggregated month table — bounded by the
    * calendar, not the data — so the single-partition window that made
    * q25's original plan a scale bug is harmless here (and unavoidable:
    * consecutive months must meet). First month reports 0 change. */
  def monthOverMonth(orders: DataFrame): DataFrame = {
    val monthly = orders
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(moneySum(col("o_totalprice")).as("rev"))
    val w = Window.orderBy("month")
    monthly
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .select(
        col("month"),
        round(col("rev"), 4).as("revenue"),
        round(coalesce((col("rev") - col("prev")) / col("prev") * 100, lit(0.0)), 4)
          .as("pct_change"))
      .orderBy("month")
  }

  /** q250: association rules over the q92 pair counts — confidence
    * P(b|a) and lift P(ab)/(P(a)P(b)), the metrics that separate "sells
    * together because both are popular" from genuine affinity. Item
    * supports come from one item-cardinality aggregate of the distinct
    * (order, part) set; the corpus order count is a 1-row broadcast
    * scalar (q14 idiom). Both directions of each pair are emitted (the
    * rule a→b is not b→a); every ratio is integer-over-integer in
    * doubles, so engines compute bit-identical metrics, and top-k ties
    * break on integer keys. */
  def basketLift(lineitem: DataFrame, minSupport: Long = 2, topN: Int = 20): DataFrame = {
    // r11: canonical pair counts from one basket aggregation, emitted in
    // both rule directions map-side (c is symmetric) — same pairs as the
    // former a.pk =!= b.pk self-join; supports and the order count still
    // read the distinct (order, part) incidence
    val items = lineitem.select(col("l_orderkey").as("okey"), col("l_partkey").as("pk")).distinct()
    val canon = Baskets.pairCounts(
      lineitem.select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey")
      .filter(col("c") >= minSupport)
    val pairs = canon
      .select(col("pa").as("ant"), col("pb").as("cons"), col("c").as("c_ab"))
      .unionAll(canon.select(col("pb").as("ant"), col("pa").as("cons"), col("c").as("c_ab")))
    val support = items.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val nOrders = items.agg(countDistinct(col("okey")).as("n_orders"))
    pairs
      .join(support.select(col("pk").as("ant"), col("c").as("c_a")), "ant")
      .join(support.select(col("pk").as("cons"), col("c").as("c_b")), "cons")
      .crossJoin(broadcast(nOrders))
      .select(
        col("ant").as("part_a"), col("cons").as("part_b"), col("c_ab").as("n_together"),
        round(col("c_ab").cast("double") / col("c_a"), 4).as("confidence"),
        round(col("n_orders") * col("c_ab").cast("double") / (col("c_a") * col("c_b")), 4)
          .as("lift"))
      .orderBy(desc("lift"), desc("n_together"), asc("part_a"), asc("part_b"))
      .limit(topN)
  }

  /** q252: ABC inventory classification — parts bucketed A/B/C by
    * cumulative revenue share (top ~80% / next 15% / tail 5%), the
    * classic merchandising cut. Needs a GLOBAL revenue-ordered prefix
    * sum over the per-part aggregate; that rides the [[GlobalOrder]]
    * range-bucket scheme: in-bucket running sums are bucket-PARTITIONED
    * windows, only the ≤numBuckets bucket-total offsets cross buckets
    * (tiny unpartitioned frame). Ranking orders on the PRE-ROUNDED
    * per-part revenue with key tie-break, so both engines accumulate in
    * the identical order — and the accumulation itself runs in LONGS
    * (revenue scaled ×10⁴): the bucketed prefix sum associates
    * additions differently from the oracle's sequential one, which on
    * doubles could flip a part sitting ulps from the 80%/95% boundary;
    * integer prefix sums make the classification exactly
    * associativity-free on both engines. */
  def abcAnalysis(lineitem: DataFrame, numBuckets: Int = 32): DataFrame = {
    val perPart = lineitem
      .groupBy(col("l_partkey"))
      // exact: 2dp money × 10⁴ is integral in decimal, no rounding needed
      .agg((sum(money(col("l_extendedprice"))) * 10000).cast("long").as("revi"))
      .withColumn("rev", col("revi") / 10000.0)
    // range-bucket by revenue (descending processing order = ascending
    // bucket of -rev), mirroring GlobalOrder.withGlobalRowNumber
    val probs = (1 until numBuckets).map(i => i.toDouble / numBuckets)
    val keyed = perPart.withColumn("__bkey", -col("rev"))
    val boundsRow = keyed
      .agg(expr(s"approx_percentile(__bkey, array(${probs.mkString(",")}), 10000)"))
      .head()
    val bounds: Seq[Double] =
      if (boundsRow.isNullAt(0)) Seq.empty else boundsRow.getSeq[Double](0)
    val pid = bounds
      .foldLeft(lit(0)) { (acc, b) => acc + when(col("__bkey") > lit(b), 1).otherwise(0) }
    val withPid = keyed.withColumn("__pid", pid)
    val tiny = Window.orderBy("__pid")
    val offsets = withPid
      .groupBy("__pid").agg(sum("revi").as("brev"))
      .select(
        col("__pid"),
        coalesce(
          sum("brev").over(tiny.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("__offset"),
        sum("brev").over(tiny.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as("__grand"))
    val inBucket = Window.partitionBy("__pid")
      .orderBy(desc("revi"), asc("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withPid
      .join(offsets, "__pid")
      .withColumn("cum", col("__offset") + sum("revi").over(inBucket))
      // integer comparisons: cum/grand ≤ 0.80 ⇔ cum·100 ≤ grand·80.
      // Compared in DECIMAL, not LONG: grand is x10^4-scaled revenue, so
      // long grand·100 overflows Int64 once total revenue passes ~9.2e14
      // (ANSI Spark aborts with ARITHMETIC_OVERFLOW) — decimal(21,0)·100
      // = decimal(25,0) holds any Int64 input exactly at any corpus size.
      .withColumn("abc_class",
        when(col("cum").cast("decimal(21,0)") * 100 <=
             col("__grand").cast("decimal(21,0)") * 80, "A")
          .when(col("cum").cast("decimal(21,0)") * 100 <=
                col("__grand").cast("decimal(21,0)") * 95, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(
        count(lit(1)).as("n_parts"),
        round(sum("revi") / 10000.0, 2).as("class_revenue"),
        round((sum("revi") / 10000.0) / (first("__grand") / 10000.0), 4).as("revenue_share"))
      .orderBy("abc_class")
  }

  /** q92: co-purchase affinity (market-basket pair counts). The pair
    * self-join is keyed on the ORDER, so expansion is Θ(Σ basket²) —
    * bounded by the largest single basket (~7 lines in this schema),
    * never by table size; at 100 TB this stays a linear-cost shuffled
    * equi-join. distinct() first so duplicate part lines inside one
    * order don't inflate pair counts; the top-N is a TakeOrdered merge. */
  def coPurchase(lineitem: DataFrame, topN: Int = 20): DataFrame =
    // r11: single-shuffle basket aggregation + map-side pair emission
    // (Baskets.pairCounts) — same rows, 2 exchanges where the
    // distinct + self-join + count shape paid 4
    Baskets.pairCounts(
      lineitem.select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey")
      .select(col("pa").as("part_a"), col("pb").as("part_b"), col("c").as("n_orders"))
      .orderBy(desc("n_orders"), asc("part_a"), asc("part_b"))
      .limit(topN)

  /** q114: percent-of-total report — each nation's share of global
    * revenue. The share denominator is the 1-row grand total combined
    * via `crossJoin(broadcast(...))` (the q14 scalar-subquery idiom),
    * NOT an unpartitioned `sum over ()` window — same answer, and the
    * only window-free formulation that survives the PlanLint sweep at
    * any scale. Joins: fact ⋈ broadcast dims, one groupBy at nation
    * grain. */
  def revenueShare(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    val perNation = orders
      .join(broadcast(customer.select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      // exact decimal mass (q01 class, proactive: ~1.5e10/nation at sf1)
      .agg(moneySum(col("o_totalprice")).as("rev"))
    val total = perNation.agg(sum(col("rev")).as("tot"))
    perNation
      .crossJoin(broadcast(total))
      .select(
        col("nation"),
        round(col("rev"), 4).as("revenue"),
        round(col("rev") / col("tot") * 100, 4).as("pct_share"))
      .orderBy(desc("pct_share"), asc("nation"))
  }

  /** q110: ANSI null semantics, surfaced end-to-end on a derived
    * nullable key — the behaviors every engine must agree on exactly:
    * NULLs collapse into ONE group under groupBy, `count(col)` excludes
    * them while `count(*)` doesn't, and the null-safe equality operator
    * (`<=>` / IS NOT DISTINCT FROM) lets the NULL group join itself
    * where `=` would drop it. One aggregate + a #groups-row self-join. */
  def nullSemantics(events: DataFrame): DataFrame = {
    val keyed = events.withColumn(
      "k",
      when(col("value") < 10, lit(null).cast("string")).otherwise(col("event_type")))
    val agg = keyed.groupBy("k").agg(
      count(lit(1)).as("n_rows"),
      count(col("k")).as("n_nonnull_key"),
      countDistinct(col("user_id")).as("n_users"))
    val self = agg.select(col("k").as("k2"), col("n_rows").as("n2"))
    agg.join(self, col("k") <=> col("k2"))
      .select(
        col("k"), col("n_rows"), col("n_nonnull_key"), col("n_users"),
        col("n2").as("nullsafe_join_n"))
      .orderBy(asc_nulls_first("k"))
  }

  /** q106: frequent triple itemsets (the a-priori step past q92's
    * pairs). Triple enumeration is the order-keyed 3-way self-join —
    * Θ(Σ basket³/6), bounded by BASKET size like q92, never table
    * size. With `minSupport > 1` the a-priori prune applies before the
    * cubic expansion: a frequent triple's (a,b) sub-pair must be
    * frequent, so baskets semi-join the frequent-pair set first (small
    * by definition at any meaningful support — that's what "frequent"
    * means), and the prune provably never changes the answer. */
  def frequentTriples(lineitem: DataFrame, minSupport: Long = 1, topN: Int = 20): DataFrame =
    // r11: one basket aggregation + map-side Θ(basket³) triple emission
    // (Baskets.tripleCounts) replaces the distinct + three-way self-join
    // — same triples (order size bounds the emission exactly as it
    // bounded the join fan-out), and the a-priori pair-prune becomes
    // moot because no join ever materializes unpruned pairs
    Baskets.tripleCounts(
      lineitem.select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey")
      .select(
        col("pa").as("part_a"), col("pb").as("part_b"), col("pc").as("part_c"),
        col("c").as("n_orders"))
      .filter(col("n_orders") >= minSupport)
      .orderBy(desc("n_orders"), asc("part_a"), asc("part_b"), asc("part_c"))
      .limit(topN)

  /** q93: one-pass table profiling — null counts, exact distinct counts,
    * min/max per column, pivoted to one row per column via `stack` (no
    * second scan, no per-column jobs: ONE aggregate over the table
    * computes every column's stats; multiple exact distincts share the
    * scan through Spark's Expand). min/max surface as strings so one
    * schema covers heterogeneous column types; the oracle profiles the
    * string-stable types (integral + varchar — float/timestamp rendering
    * differs across engines, their stats belong in typed queries). */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    // r12: one scan, no sort, no cross-join — a per-column GROUPING SETS
    // aggregate (Expand ×cols + HashAggregate whose only buffer is a
    // mutable long count, so it never falls back to SortAggregate the
    // way a string-buffered min/max does) keeps (distinct value, row
    // count) per column; a second, Σ-distinct-values-sized global
    // aggregate then derives every stat: n_distinct = #non-null rows of
    // the column's branch, n_nulls = that branch's null-row count,
    // min/max = typed min/max over the branch, cast to string at the
    // end exactly as before. Values identical to the fused form.
    val n = cols.size
    def gidOf(i: Int): Long = (1L << n) - 1 - (1L << (n - 1 - i))
    val lvl1 = df
      .groupingSets(cols.map(c => Seq(col(c))), cols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), grouping_id().as("gid"))
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      val isC = col("gid") === lit(gidOf(i))
      Seq(
        coalesce(sum(when(isC && col(c).isNull, col("cnt"))), lit(0L)).as(s"${c}__nulls"),
        count(when(isC && col(c).isNotNull, lit(1))).as(s"${c}__distinct"),
        min(when(isC, col(c))).cast("string").as(s"${c}__min"),
        max(when(isC, col(c))).cast("string").as(s"${c}__max"))
    }
    val stackArgs = cols
      .map(c => s"'$c', `${c}__nulls`, `${c}__distinct`, `${c}__min`, `${c}__max`")
      .mkString(", ")
    lvl1.agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"stack(${cols.size}, $stackArgs) AS (column_name, n_nulls, n_distinct, min_value, max_value)")
      .orderBy("column_name")
  }

  /** q90: robust outlier detection — per-group median/MAD scoring, the
    * heavy-tail-safe alternative to mean±σ. Two exact-percentile
    * aggregates over the fact table (mergeable sketch-free percentiles;
    * at 100 TB swap `percentile` for the t-digest aggregate q38 already
    * provides) joined back via a broadcast of the #groups-row stats
    * table. The boundary test compares pre-rounded scores so both
    * engines flag the identical row set. */
  def robustOutliers(events: DataFrame, k: Double = 3.0): DataFrame = {
    val stats = events
      .groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val withDev = events.join(broadcast(stats), "event_type")
      .withColumn("absdev", abs(col("value") - col("med")))
    val mad = withDev
      .groupBy("event_type")
      .agg(expr("percentile(absdev, 0.5)").as("madv"), max("med").as("med"))
    withDev.drop("med").join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(
        count(when(round(col("absdev"), 4) > round(lit(k * 1.4826) * col("madv"), 4), lit(1)))
          .as("n_outliers"),
        count(lit(1)).as("n_events"),
        round(max(col("med")), 4).as("median_value"),
        round(max(col("madv")), 4).as("mad_value"))
      .orderBy("event_type")
  }

  /** q199: ANSI ordered-set aggregates — `percentile_cont` /
    * `percentile_disc` (WITHIN GROUP) side by side, plus the mode. The
    * mode is computed DETERMINISTICALLY (count desc, value asc rank
    * over value-count cells — a bounded per-group window over distinct
    * values) rather than the built-in `mode`, whose tie choice no
    * engine pins down. Disc-vs-cont on the same column is the
    * interpolation-semantics check every SQL migration trips over. */
  def medianModes(lineitem: DataFrame): DataFrame = {
    val stats = lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_lines"),
        round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)"), 4)
          .as("median_cont"),
        round(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)"), 4)
          .as("median_disc"))
    val w = Window.partitionBy("l_returnflag").orderBy(col("cnt").desc, col("l_quantity").asc)
    val modes = lineitem
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
        col("cnt").as("mode_count"))
    stats.join(modes, "l_returnflag").orderBy("l_returnflag")
  }

  /** q206: ROLLUP with GROUPING() provenance flags — the metadata that
    * disambiguates "NULL because subtotal" from "NULL because the data
    * was NULL" (the q110 three-valued-logic discipline applied to
    * grouping sets). `grouping()` per dim plus the composite
    * `grouping_id` let a report consumer route each row to its grain
    * without nullable-key heuristics. Same one-Expand plan as q09. */
  def rollupGroupingId(lineitem: DataFrame): DataFrame =
    lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_lines"),
        // exact decimal mass (sf1: rollup totals at 5e10 are order-dependent)
        round(moneySum(col("l_extendedprice")), 4).as("revenue"),
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  /** q207: value-RANGE window frame — trailing 30-day revenue per
    * customer computed with a RANGE frame over the epoch-day key (not a
    * ROWS frame: multiple orders on one day and calendar gaps are
    * handled by VALUE distance, the semantics a ROWS frame silently
    * gets wrong). Partitioned by customer — bounded by per-customer
    * history, lint-clean at any scale. */
  def trailingRangeRevenue(orders: DataFrame, days: Int = 30): DataFrame = {
    val epochDay = datediff(col("o_orderdate"), to_date(lit("1970-01-01"))).cast("long")
    val w = Window.partitionBy("o_custkey").orderBy("day_idx")
      .rangeBetween(-days, Window.currentRow)
    orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"), epochDay.as("day_idx"))
      .withColumn("trailing_rev",
        round(sum(money(col("o_totalprice"))).over(w).cast("double"), 4))
      .withColumn("n_in_window", count(lit(1)).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        round(col("o_totalprice"), 4).as("o_totalprice"),
        col("trailing_rev"), col("n_in_window"))
      .orderBy("o_custkey", "order_date", "o_orderkey")
  }

  /** q200: exact DECIMAL money aggregation — the accounting-grade path
    * beside the double sums every other query rounds: order totals cast
    * to DECIMAL(18,2) sum WITHOUT float drift (Spark's decimal
    * aggregate widens precision, never loses cents), emitted as
    * canonical strings so the oracle compare is representation-exact;
    * the double sum rides along to document the contrast. */
  def exactMoney(orders: DataFrame): DataFrame = {
    val dec = money(col("o_totalprice"))
    orders
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec).cast("string").as("sum_exact"),
        min(dec).cast("string").as("min_exact"),
        max(dec).cast("string").as("max_exact"),
        // the double leg DEMONSTRATES representation drift — which is
        // itself summation-order-dependent, so its display is 2dp (cent
        // grain): at sf1 the cross-engine order difference is ~1e-4 on a
        // 7.5e10 mass, invisible at cents, unbounded at 4dp
        round(sum(col("o_totalprice")), 2).as("sum_double")) // lint:raw-money-sum-ok (the demo column)
      .orderBy("o_orderpriority")
  }

  /** q220: sketch-estimated audience overlap — the 100 TB path under
    * q162's exact matrix: the exact form shuffles every distinct
    * (user, type) pair and self-joins on user; here ONE pass builds a
    * KB-sized HLL user sketch per type (partial-merging aggregate),
    * and every pair statistic is algebra over sketches —
    * |A∩B| ≈ |A|+|B|−|A∪B| by inclusion–exclusion, Jaccard from the
    * same three estimates. The pair frame is #types² rows of KB
    * sketches crossed on the driver-broadcast side (q101's scalar-
    * combine idiom, bounded by the type alphabet, never by users).
    * Accuracy vs the exact q162 matrix is spec-asserted (≤5%). */
  def sketchOverlap(events: DataFrame, lgConfigK: Int = 14): DataFrame = {
    val sk = events.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id"), lit(lgConfigK)).as("sk"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"))
    a.crossJoin(broadcast(b))
      .filter(col("type_a") < col("type_b"))
      .select(
        col("type_a"), col("type_b"),
        hll_sketch_estimate(col("sk_a")).as("est_a"),
        hll_sketch_estimate(col("sk_b")).as("est_b"),
        hll_sketch_estimate(
          hll_union(col("sk_a"), col("sk_b"), allowDifferentLgConfigK = false)).as("est_union"))
      .withColumn("est_both", greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L)))
      .withColumn("jaccard_est", round(col("est_both") / col("est_union"), 4))
      .orderBy("type_a", "type_b")
  }

  /** q229: leave-one-out peer z-score per order — ANSI's
    * `EXCLUDE CURRENT ROW` window frame, which Spark does not implement,
    * bridged by moment algebra: from per-customer windowed Σy and Σy²
    * the current row's own contribution subtracts out exactly —
    * μ₋ᵢ = (Σ−x)/(n−1), peers' sample variance from (Σy²−x²) minus
    * (n−1)μ₋ᵢ². "Is this order out of line FOR THIS CUSTOMER, judged
    * only by their other orders" — the self-inclusion bias of a plain
    * per-customer z-score (q90's family) removed. One partitioned
    * window, then a global TakeOrdered top-20; DuckDB's native EXCLUDE
    * CURRENT ROW frame validates the semantics, the oracle ships the
    * same algebra for bit parity. */
  def looPeerZscore(orders: DataFrame, topK: Int = 20): DataFrame = {
    val w = Window.partitionBy("o_custkey")
    val x = col("o_totalprice")
    orders
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", sum(x).over(w))
      .withColumn("s2", sum(x * x).over(w))
      .filter(col("n") >= 3)
      .withColumn("loo_mean", (col("s1") - x) / (col("n") - 1))
      .withColumn("loo_var",
        ((col("s2") - x * x) - (col("n") - 1) * col("loo_mean") * col("loo_mean"))
          / (col("n") - 2))
      .filter(col("loo_var") > 0)
      .withColumn("z", (x - col("loo_mean")) / sqrt(col("loo_var")))
      .select(
        col("o_orderkey"), col("o_custkey"), round(x, 4).as("o_totalprice"),
        round(col("loo_mean"), 4).as("peer_mean"), round(col("z"), 4).as("z"))
      .orderBy(abs(col("z")).desc, col("o_orderkey"))
      .limit(topK)
  }

  /** q230: universe-sampled join estimate (VerdictDB-style join AQP —
    * the q157 single-table estimator's join-safe big sibling):
    * independent row samples of two join sides meet with probability
    * p² and the estimate collapses; sampling the KEY UNIVERSE instead —
    * the same deterministic md5 predicate (q55/q157 idiom) on the JOIN
    * KEY of BOTH sides — keeps every join partner of a sampled key, so
    * the join is complete within the universe and one 1/p scaling is
    * unbiased. Both scans carry p of their table; the join and
    * aggregate shapes are unchanged. Collapses to the exact answer at
    * p = 1 (spec-asserted). */
  def universeJoinSample(
      orders: DataFrame,
      customer: DataFrame,
      hexChars: Seq[String] = Seq("0", "1", "2", "3")): DataFrame = {
    val p = hexChars.size / 16.0
    orders.filter(hashSamplePredicate(col("o_custkey"), hexChars))
      .join(
        customer.filter(hashSamplePredicate(col("c_custkey"), hexChars))
          .select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_sampled"),
        round(count(lit(1)) / p, 4).as("est_orders"),
        round(moneySum(col("o_totalprice")) / p, 4).as("est_revenue"))
      .orderBy("c_nationkey")
  }

  /** q210: running-peak drawdown per nation — the finance-style "how far
    * below the best month so far" metric: monthly revenue (one
    * fact-proportional shuffle to the calendar-bounded month table),
    * running MAX window per nation over months (the extreme-value
    * sibling of q24's running sum; input is the aggregate, never the
    * fact table), drawdown = (peak − rev)/peak, then the per-nation
    * worst case. Every window partition is #months-sized. */
  def revenueDrawdown(customer: DataFrame, orders: DataFrame): DataFrame = {
    val monthly = orders
      .join(customer.select("c_custkey", "c_nationkey"),
        orders("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(moneySum(col("o_totalprice")).as("rev"))
    val w = Window.partitionBy("c_nationkey").orderBy("month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .withColumn("peak", max("rev").over(w))
      .withColumn("dd", (col("peak") - col("rev")) / col("peak"))
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_months"),
        round(max("peak"), 4).as("peak_rev"),
        round(max("dd"), 4).as("max_drawdown"))
      .orderBy("c_nationkey")
  }

  /** q211: Pythagorean means per group — arithmetic, geometric
    * (exp∘avg∘ln, so the product never overflows and the aggregate
    * stays a partial-merging avg) and harmonic (n / Σ 1/x) means of the
    * order totals. One map-side-combining aggregate; the log/reciprocal
    * transforms are per-row projections inside codegen. Geometric and
    * harmonic means are the right central tendency for ratio-like and
    * rate-like quantities where the arithmetic mean overstates. */
  def pythagoreanMeans(orders: DataFrame): DataFrame =
    orders
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        round(avg("o_totalprice"), 4).as("arith_mean"),
        round(exp(avg(log(col("o_totalprice")))), 4).as("geo_mean"),
        round(count(lit(1)) / sum(lit(1.0) / col("o_totalprice")), 4).as("harm_mean"))
      .orderBy("o_orderpriority")

  /** q212: leave-one-out peer benchmark per nation — each nation's
    * revenue against the average of the OTHER nations, computed without
    * any per-group rescan: the naive form is a correlated "average over
    * everyone but me" subquery (O(n) rescans); here the grand total and
    * group count attach via the 1-row broadcast scalar idiom and the
    * peer average is pure algebra, (total − mine)/(n − 1). The same
    * decorrelation family as q128/q160. */
  def leaveOneOut(customer: DataFrame, orders: DataFrame): DataFrame = {
    val nationRev = orders
      .join(customer.select("c_custkey", "c_nationkey"),
        orders("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      // rev stays DECIMAL through the grand total: the second-level sum
      // of per-nation doubles re-introduced the summation-order drift
      // the first level just removed (measured: 1 ulp at the 4dp
      // boundary on peer_avg) — subtract exactly, go double only for
      // the final division
      .agg(sum(money(col("o_totalprice"))).as("rev"))
    val tot = nationRev.agg(sum("rev").as("tot_rev"), count(lit(1)).as("n_nations"))
    val peerAvg =
      (col("tot_rev") - col("rev")).cast("double") / (col("n_nations") - lit(1))
    nationRev
      .crossJoin(broadcast(tot))
      .select(
        col("c_nationkey"),
        round(col("rev").cast("double"), 4).as("revenue"),
        round(peerAvg, 4).as("peer_avg"),
        round(col("rev") / peerAvg, 4).as("vs_peers"))
      .orderBy("c_nationkey")
  }

  /** q330: DELTA-METHOD confidence interval for a RATIO metric
    * (revenue per event) — the experimentation gap q171's Welch test
    * leaves open: most business metrics are ratios of two user-level
    * sums (revenue/session, clicks/impression), and treating the ratio
    * of averages as an average of user ratios misstates both the point
    * estimate and the variance. Per arm: R̂ = x̄/ȳ and
    * Var(R̂) ≈ (σ_x² − 2R̂σ_xy + R̂²σ_y²)/(n·ȳ²) — the first-order
    * Taylor (delta-method) expansion, the industry-standard ratio CI.
    *
    * Scale shape: one user-grain aggregate (numerator, denominator per
    * user), then a 2-row conditional-moment aggregate (mean/var/cov per
    * arm) — everything after the per-user rollup is bounded. ȳ ≥ 1 by
    * construction (a user in the frame has ≥1 event), so the divisions
    * are total; singleton arms produce null variance and are left null
    * rather than fabricated. */
  def abDeltaMethodRatio(events: DataFrame): DataFrame = {
    val z = 1.959963984540054 // z_{0.975}
    val perUser = events
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)).as("x"),
        count(lit(1)).cast("double").as("y"))
      .withColumn("arm", hashArm(col("user_id")))
    perUser
      .groupBy("arm")
      .agg(
        count(lit(1)).as("n_users"),
        avg(col("x")).as("mx"), avg(col("y")).as("my"),
        var_samp(col("x")).as("vx"), var_samp(col("y")).as("vy"),
        covar_samp(col("x"), col("y")).as("cxy"))
      .withColumn("ratio", col("mx") / col("my"))
      .withColumn("se",
        sqrt((col("vx") - lit(2.0) * col("ratio") * col("cxy") +
          col("ratio") * col("ratio") * col("vy")) / col("n_users")) / col("my"))
      .select(
        col("arm"), col("n_users"),
        round(col("ratio"), 4).as("rev_per_event"),
        round(col("se"), 4).as("se"),
        round(col("ratio") - lit(z) * col("se"), 4).as("ci_lo"),
        round(col("ratio") + lit(z) * col("se"), 4).as("ci_hi"))
      .orderBy("arm")
  }

  /** Upper-tail standard normal probability 1−Φ(x) for x ≥ 0 —
    * Abramowitz & Stegun 26.2.17 polynomial (|ε| < 7.5e-8), built from
    * exp + polynomials only so BOTH engines evaluate the identical
    * closed form (no engine erf, whose libm implementations differ).
    * Callers pass |z| and double for two-sided p. */
  private def normUpperTail(x: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * x)
    val pdf = exp(lit(-0.5) * x * x) * lit(0.3989422804014327) // 1/√(2π)
    pdf * (lit(0.319381530) * t
      + lit(-0.356563782) * t * t
      + lit(1.781477937) * t * t * t
      + lit(-1.821255978) * t * t * t * t
      + lit(1.330274429) * t * t * t * t * t)
  }

  /** q331: Benjamini–Hochberg FDR correction across a FAMILY of A/B
    * tests — the multiple-testing layer a metrics dashboard needs: one
    * Welch z per event type (per-type value mean between the q171
    * arms), two-sided p from the A&S normal polynomial
    * ([[normUpperTail]] — portable across engines where erf is not),
    * then BH step-up: p_adj(i) = min_{j≥i}(p(j)·m/j) ∧ 1, significant
    * at the q=0.10 FDR level. Testing 5 metrics at raw α inflates the
    * family error ~5×; BH is the standard fix that stays powerful.
    *
    * Scale shape: one conditional-moment aggregate at (event_type)
    * grain — #types rows; the BH suffix-min window runs over that
    * bounded frame (never data-sized). Zero-variance degenerate types
    * surface as null z/p rather than dividing by zero (ANSI-safe). */
  def abFdrBh(events: DataFrame, fdrQ: Double = 0.10): DataFrame = {
    val perType = events
      .withColumn("arm", hashArm(col("user_id")))
      .groupBy("event_type")
      .agg(
        count(when(col("arm") === "A", lit(1))).as("n_a"),
        count(when(col("arm") === "B", lit(1))).as("n_b"),
        avg(when(col("arm") === "A", col("value"))).as("ma"),
        avg(when(col("arm") === "B", col("value"))).as("mb"),
        var_samp(when(col("arm") === "A", col("value"))).as("va"),
        var_samp(when(col("arm") === "B", col("value"))).as("vb"))
      .withColumn("sev", col("va") / col("n_a") + col("vb") / col("n_b"))
      .withColumn("z",
        when(col("sev") > 0, (col("ma") - col("mb")) / sqrt(col("sev"))))
      .withColumn("p", lit(2.0) * normUpperTail(abs(col("z"))))
    // BH step-up over the #types-row frame: rank ascending by p, then
    // suffix-min of p·m/rank (rows current → end), capped at 1
    val m = Window.orderBy(col("p"), col("event_type"))
    val suffix = Window.orderBy(col("p"), col("event_type"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    perType
      .withColumn("m_tests", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("rnk", row_number().over(m))
      .withColumn("p_adj",
        least(min(col("p") * col("m_tests") / col("rnk")).over(suffix), lit(1.0)))
      .select(
        col("event_type"), col("n_a"), col("n_b"),
        round(col("z"), 4).as("z"),
        round(col("p"), 4).as("p_value"),
        round(col("p_adj"), 4).as("p_adj"),
        (col("p_adj") <= fdrQ).as("significant"))
      .orderBy("event_type")
  }

  /** q332: DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimator
    * for when assignment isn't randomized per user-period: the treated
    * arm's pre→post change minus the control arm's pre→post change
    * cancels both the group baseline gap and the common time trend.
    * Periods split at the exact midpoint of the observed time range
    * (integer epoch-µs arithmetic — engine-exact); cells are user-period
    * revenue so within-user correlation never inflates the cell n; SE is
    * the four-cell pooled normal approximation √Σ(σ²/n), z = DiD/SE.
    *
    * Scale shape: 1-row broadcast min/max scalar, one (user, period)
    * aggregate, then a 4-cell conditional-moment aggregate — everything
    * after the user-period rollup is a single scalar row. */
  def abDiffInDiff(events: DataFrame): DataFrame = {
    // floor, not cast-truncate: DuckDB CAST(double AS BIGINT) rounds while
    // Spark's truncates — floor() agrees in both engines (sum < 2^53, exact)
    val mid = events.agg(
      floor((min(unix_micros(col("ts"))) + max(unix_micros(col("ts")))) / lit(2L))
        .cast("long").as("mid_us"))
    val cell = events
      .crossJoin(broadcast(mid))
      .withColumn("period", when(unix_micros(col("ts")) >= col("mid_us"), "post").otherwise("pre"))
      .groupBy("user_id", "period")
      .agg(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)).as("rev"))
      .withColumn("arm", hashArm(col("user_id")))
    def cellAgg(arm: String, period: String, f: (Column => Column)): Column =
      f(when(col("arm") === arm && col("period") === period, col("rev")))
    cell
      .agg(
        cellAgg("A", "pre", avg).as("m_ctrl_pre"),
        cellAgg("A", "post", avg).as("m_ctrl_post"),
        cellAgg("B", "pre", avg).as("m_treat_pre"),
        cellAgg("B", "post", avg).as("m_treat_post"),
        cellAgg("A", "pre", var_samp).as("v_cp"),
        cellAgg("A", "post", var_samp).as("v_cq"),
        cellAgg("B", "pre", var_samp).as("v_tp"),
        cellAgg("B", "post", var_samp).as("v_tq"),
        cellAgg("A", "pre", count).as("n_cp"),
        cellAgg("A", "post", count).as("n_cq"),
        cellAgg("B", "pre", count).as("n_tp"),
        cellAgg("B", "post", count).as("n_tq"))
      .withColumn("did",
        (col("m_treat_post") - col("m_treat_pre")) - (col("m_ctrl_post") - col("m_ctrl_pre")))
      .withColumn("se",
        sqrt(col("v_cp") / col("n_cp") + col("v_cq") / col("n_cq") +
          col("v_tp") / col("n_tp") + col("v_tq") / col("n_tq")))
      .select(
        round(col("m_ctrl_pre"), 4).as("ctrl_pre"),
        round(col("m_ctrl_post"), 4).as("ctrl_post"),
        round(col("m_treat_pre"), 4).as("treat_pre"),
        round(col("m_treat_post"), 4).as("treat_post"),
        round(col("did"), 4).as("did"),
        round(col("se"), 4).as("se"),
        round(when(col("se") > 0, col("did") / col("se")), 4).as("z"))
  }

  /** q333: mSPRT ALWAYS-VALID p-value — the peeking-safe sequential
    * test the q171 fixed-horizon Welch test is not: a dashboard read
    * daily is a sequential test, and fixed-horizon p-values peeked at
    * repeatedly inflate false positives severalfold. The mixture SPRT
    * (normal mixture over effect sizes, variance τ²) gives
    * ln Λ = ½ln(V/(V+τ²)) + Δ̂²τ²/(2V(V+τ²)) and p_always =
    * min(1, e^{−ln Λ}) — valid at EVERY look, no alpha-spending
    * schedule. τ²=0.25 is a binary-exact literal; ln Λ is reported
    * instead of Λ so a decisive experiment never overflows.
    *
    * Scale shape: identical to q171 — one user-grain aggregate, then a
    * 1-row conditional-moment scalar; pure closed-form algebra after. */
  def abAlwaysValid(events: DataFrame, tau2: Double = 0.25): DataFrame = {
    val perUser = perUserRevenueArm(events)
    val a = when(col("arm") === "A", col("rev"))
    val b = when(col("arm") === "B", col("rev"))
    perUser
      .agg(
        count(a).as("n_a"), count(b).as("n_b"),
        avg(a).as("ma"), avg(b).as("mb"),
        var_samp(a).as("va"), var_samp(b).as("vb"))
      .withColumn("v", col("va") / col("n_a") + col("vb") / col("n_b"))
      .withColumn("log_lambda",
        when(col("v") > 0,
          lit(0.5) * log(col("v") / (col("v") + lit(tau2))) +
            (col("ma") - col("mb")) * (col("ma") - col("mb")) * lit(tau2) /
              (lit(2.0) * col("v") * (col("v") + lit(tau2)))))
      .select(
        col("n_a"), col("n_b"),
        round(col("ma") - col("mb"), 4).as("lift"),
        round(col("log_lambda"), 4).as("log_lambda"),
        round(least(lit(1.0), exp(-col("log_lambda"))), 4).as("p_always_valid"))
  }

  /** q340: arbitrary GROUPING SETS — the grain mix neither q09's rollup
    * (hierarchical prefixes) nor q27's cube (every combination) can
    * express: exactly {(returnflag), (linestatus), ()} — two
    * independent single-dimension breakdowns plus the grand total in
    * ONE pass. Same single-Expand plan family as rollup/cube (the scan
    * is shared; each row expands to its 3 grains map-side), with
    * grouping_id() disambiguating subtotal NULLs (q206 discipline). */
  def groupingSetsMix(lineitem: DataFrame): DataFrame =
    lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_lines"),
        // exact decimal mass (the q01/q206 sf1 lesson: grand totals at
        // 1.6e11 are summation-order-dependent past the 4dp display)
        round(moneySum(col("l_extendedprice")), 4).as("revenue"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  /** q349: SUBSTITUTE detection — the complement of q92's complements:
    * parts the SAME customers buy but never in the SAME order (high
    * customer co-ownership + zero basket co-occurrence is the classic
    * substitute signature; q92's co-purchase finds things bought
    * together, which substitutes by definition are not). Candidate =
    * customer-grain pair with ≥ `minCustomers` shared owners, anti-
    * joined against the order-grain pair set.
    *
    * Scale shape: the basket-grain pair expansion is the q92 bounded
    * form (order size is naturally small); the CUSTOMER-grain expansion
    * is NOT naturally bounded — a whale customer owning 50k popular
    * parts would expand to ~1.25B pairs inside one shuffle task — so
    * the owned set is capped at `maxPartsPerCustomer` deterministic
    * hash-ranked parts per customer ([[Skew.capPerKey]], the maxBucket
    * discipline). The default cap (1000) is ~10× the measured max
    * degree at sf0.1 (105), so results are exact on real data; a
    * binding cap approximates whale customers only, and the boundary
    * is explicit in the API. Degree prefilter + anti-join unchanged;
    * top-k via rounded-free integer ordering (counts are exact). */
  def substituteParts(
      orders: DataFrame,
      lineitem: DataFrame,
      minCustomers: Long = 3,
      topN: Int = 20,
      maxPartsPerCustomer: Int = 1000): DataFrame = {
    val lines = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("part"))
    val owned0 = lines
      .join(orders.select(col("o_orderkey").as("ok"), col("o_custkey").as("cust")), "ok")
      .select("cust", "part").distinct()
    // degree prefilter BEFORE the quadratic expansion: a part owned by
    // fewer than `minCustomers` customers cannot appear in any
    // qualifying pair, so pruning it is exact — and it is the lever
    // that keeps Θ(Σ per-customer parts²) in check at scale (the long
    // tail of rarely-bought parts never enters the self-join)
    val popular = owned0.groupBy("part")
      .agg(count(lit(1)).as("__own"))
      .filter(col("__own") >= minCustomers)
      .select("part")
    // r12 (guide §2.2/§2.5): the self-join below FANS OUT ~25× (5 MB of
    // (cust, part) incidence → ~120 MB of pairs at sf0.1) — AQE sizes
    // the join's shuffle by its INPUT bytes and coalesced it to ~6
    // tasks, serializing ~10 cpu-s of pair emission onto 6 cores
    // (measured wall 2.5 s of a 6 s query). An explicit cust-keyed
    // repartition at the session's shuffle parallelism pins the
    // emission stage's width (user-specified N opts out of AQE
    // coalescing), and the self-join reuses this one exchange for both
    // sides, so no shuffle is added — the join's own exchange is
    // replaced. Parallelism follows spark.sql.shuffle.partitions, the
    // cluster-scale knob, not a local constant.
    val owned = Skew.capPerKey(
      owned0.join(popular, Seq("part"), "left_semi"),
      key = "cust", item = "part", cap = maxPartsPerCustomer)
      .repartition(lineitem.sparkSession.sessionState.conf.numShufflePartitions, col("cust"))
    // r11: the ORDER-grain expansion uses the Baskets single-shuffle
    // form (baskets are ≤ ~7 items — map-side emission wins); the
    // CUSTOMER-grain expansion deliberately KEEPS the shuffled
    // self-join: customer part-sets run to ~100 items (cap 1000), and
    // the interpreted higher-order-function pair emission on arrays
    // that size measured 3× slower than the join (8.2 s vs 2.7 s at
    // sf0.1) — codegen'd join fan-out beats boxed per-element lambda
    // eval once baskets are large
    val custPairs = owned.as("a")
      .join(owned.as("b"), col("a.cust") === col("b.cust") && col("a.part") < col("b.part"))
      .groupBy(col("a.part").as("pa"), col("b.part").as("pb"))
      .agg(count(lit(1)).as("n_shared_customers"))
      .filter(col("n_shared_customers") >= minCustomers)
    val basketPairs = Baskets.pairCounts(lines, "ok", "part")
      .select("pa", "pb")
    custPairs
      .join(basketPairs, Seq("pa", "pb"), "left_anti")
      .orderBy(desc("n_shared_customers"), asc("pa"), asc("pb"))
      .limit(topN)
  }

  /** q360: LASPEYRES / PAASCHE / FISHER price indices between the last
    * two shipping years — the econometrician's answer to q353's
    * accounting bridge ("how much did PRICES move, holding the basket
    * fixed"): Laspeyres weights by base-year quantities, Paasche by
    * current-year, Fisher is their geometric mean. Per-part unit
    * prices are revenue-weighted (Σrev/Σqty, the q353 convention);
    * only parts traded in BOTH years enter (the matched basket).
    *
    * Scale shape: one (part, year) fact aggregate, a 1-row max-year
    * scalar, a self-join of two year slices on part (catalog-bounded),
    * three ratio aggregates — no window, no data-sized frame. */
  def priceIndex(lineitem: DataFrame): DataFrame = {
    val by = lineitem
      .groupBy(col("l_partkey").as("part"), year(col("l_shipdate")).as("yr"))
      .agg(
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"),
        sum(col("l_quantity")).as("qty"))
      .filter(col("qty") > 0)
      .withColumn("p", col("rev") / col("qty"))
    val maxYr = by.agg(max(col("yr")).as("y2")) // 1 row
    val two = by.crossJoin(broadcast(maxYr)).filter(col("yr") >= col("y2") - 1)
    val base = two.filter(col("yr") === col("y2") - 1)
      .select(col("part"), col("p").as("p0"), col("qty").as("q0"))
    val cur = two.filter(col("yr") === col("y2"))
      .select(col("part"), col("p").as("p1"), col("qty").as("q1"), col("y2"))
    base.join(cur, "part")
      .agg(
        count(lit(1)).as("n_parts"),
        max(col("y2") - 1).cast("long").as("base_year"),
        max(col("y2")).cast("long").as("cur_year"),
        sum(col("p1") * col("q0")).as("l_num"),
        sum(col("p0") * col("q0")).as("l_den"),
        sum(col("p1") * col("q1")).as("p_num"),
        sum(col("p0") * col("q1")).as("p_den"))
      .select(
        col("base_year"), col("cur_year"), col("n_parts"),
        round(col("l_num") / col("l_den"), 4).as("laspeyres"),
        round(col("p_num") / col("p_den"), 4).as("paasche"),
        round(sqrt((col("l_num") / col("l_den")) * (col("p_num") / col("p_den"))), 4)
          .as("fisher"))
  }

  /** q353: PRICE-VOLUME-MIX decomposition — the merchandising bridge
    * that explains a revenue change ("did we sell more, or charge
    * more?"): per brand, ΔR between the last two shipping years splits
    * exactly into price effect (Δp·q₁), volume effect (Δq·p₁) and the
    * cross term (Δp·Δq), with p = revenue-weighted unit price Σrev/Σqty.
    * The three terms sum to ΔR by construction — conservation asserted
    * in the spec.
    *
    * Scale shape: one (brand, year) fact aggregate, a 1-row max-year
    * scalar, a self-join of the 2-year slices on brand (catalog-
    * bounded), closed-form algebra. */
  def priceVolumeMix(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val by = lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"), year(col("l_shipdate")).as("yr"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("rev"),
        round(sum(col("l_quantity")), 4).as("qty"))
    val maxYr = by.agg(max(col("yr")).as("y2")) // 1 row
    val two = by.crossJoin(broadcast(maxYr)).filter(col("yr") >= col("y2") - 1)
    val cur = two.filter(col("yr") === col("y2"))
      .select(col("brand"), col("rev").as("rev2"), col("qty").as("qty2"))
    val prev = two.filter(col("yr") === col("y2") - 1)
      .select(col("brand"), col("rev").as("rev1"), col("qty").as("qty1"))
    cur.join(prev, "brand")
      .withColumn("p1", col("rev1") / col("qty1"))
      .withColumn("p2", col("rev2") / col("qty2"))
      .select(
        col("brand"),
        round(col("rev1"), 4).as("rev_prev"),
        round(col("rev2"), 4).as("rev_cur"),
        round(col("rev2") - col("rev1"), 4).as("delta_rev"),
        round((col("p2") - col("p1")) * col("qty1"), 4).as("price_effect"),
        round((col("qty2") - col("qty1")) * col("p1"), 4).as("volume_effect"),
        round((col("p2") - col("p1")) * (col("qty2") - col("qty1")), 4).as("mix_effect"))
      .orderBy("brand")
  }

  /** q422: COLD-START COVERAGE — the catalog-side dead-stock audit
    * (q11's anti-join asks "which parts never sold"; this prices the
    * answer per brand for the buyer who owns the catalog): per brand,
    * parts listed, parts ever ordered (semi-join against lineitem),
    * never-ordered share, and the dead tail's retail value. Anti/semi
    * joins broadcast nothing fact-sized; aggregation keys are
    * catalog-bounded. */
  def coldStartCoverage(part: DataFrame, lineitem: DataFrame): DataFrame = {
    val ordered = lineitem.select(col("l_partkey")).distinct()
    part
      .join(ordered, col("p_partkey") === col("l_partkey"), "left")
      .groupBy(col("p_brand").as("brand"))
      .agg(
        count(lit(1)).as("n_parts"),
        sum(when(col("l_partkey").isNotNull, 1L).otherwise(0L)).as("n_ordered"),
        round(avg(when(col("l_partkey").isNull, 1.0).otherwise(0.0)), 4).as("dead_share"),
        round(sum(when(col("l_partkey").isNull, col("p_retailprice")).otherwise(lit(0.0))), 4)
          .as("dead_retail_value"))
      .orderBy("brand")
  }
}
