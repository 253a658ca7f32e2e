package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PortableRound.{moneySum, round}

/** Time-partition analytics over the event stream (SURVEY.md §2 q20–q22).
  *
  * These are the batch duals of the reference sink's core job: bucketing
  * an event flow into Hive time partitions (`dt=yyyyMMdd/hr=HH`) and
  * aggregating per bucket. The same `dt`/`hr` derivation feeds
  * [[graft.streaming.HiveBatchSink]].
  */
object EventAnalytics {

  /** Hive-style partition key columns from an event timestamp. */
  def withPartitionKeys(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .withColumn("dt", date_format(col(tsCol), "yyyyMMdd"))
      .withColumn("hr", date_format(col(tsCol), "HH"))

  /** q20: event-time tumbling hourly rollup per type — the aggregation the
    * reference's downstream Hive jobs run per closed partition. Group keys
    * are (hour-bucket × type): low cardinality, map-side combine shrinks
    * the shuffle to ~nothing at any scale. */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        // 6dp-exact metric mass: hourly groups reach ~1.4k doubles at
        // sf1, where avg/sum accumulation order crosses the 4dp display
        round(sum(col("value").cast("decimal(24,6)")).cast("double"), 4).as("sum_value"),
        round((sum(col("value").cast("decimal(24,6)")).cast("double") / count(lit(1))), 4)
          .as("avg_value"))
      .orderBy("hour", "event_type")

  /** q143: calendar-grain GROUPING SETS rollup — hour, day, and month
    * revenue rollups maintained by ONE scan. GROUPING SETS plans a
    * single Expand over the source (each row emitted once per grain),
    * so all three grains partial-aggregate map-side and share the scan
    * — the batch build of the calendar MV family
    * ([[graft.plans.CalendarRollup]] then ROUTES single-grain queries
    * to the persisted hourly rollup, whose hour string prefixes
    * re-merge loss-free into day and month). `gid` is `grouping_id()`
    * (bit per key, 1 = aggregated-away), identical bit order in both
    * engines; within a gid bucket only that grain's key is non-null,
    * so the ORDER BY never compares NULLs across engines. */
  def calendarRollup(events: DataFrame): DataFrame = {
    val e = events.select(
      date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("h"),
      date_format(col("ts"), "yyyy-MM-dd").as("d"),
      date_format(col("ts"), "yyyy-MM").as("m"),
      col("value"))
    e.groupingSets(Seq(Seq(col("h")), Seq(col("d")), Seq(col("m"))), col("h"), col("d"), col("m"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("revenue"))
      .select(col("gid"), col("h").as("hour"), col("d").as("day"), col("m").as("month"),
        col("n_events"), col("revenue"))
      .orderBy("gid", "hour", "day", "month")
  }

  /** q21: the sink's partition layout — row counts per (dt, hr). */
  def partitionLayout(events: DataFrame): DataFrame =
    withPartitionKeys(events)
      .groupBy("dt", "hr")
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("event_type")).as("n_types"))
      .orderBy("dt", "hr")

  /** q260: partition completeness / freshness report — the per-day
    * health check an on-call reads over the sink's dt/hr layout: hours
    * present (vs 24), total and min/max hourly volume, and a gap-risk
    * flag when any hour ran below `riskFraction` of the day's mean
    * hourly rate (the signature of an upstream stall that did not quite
    * zero an hour — a missing-hours count alone never fires on it).
    * Two stacked calendar-bounded aggregates (hour grain → day grain),
    * one scan, day-cardinality output. */
  def partitionCompleteness(events: DataFrame, riskFraction: Double = 0.2): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
      .groupBy("day")
      .agg(
        count(lit(1)).as("hours_present"),
        (lit(24) - count(lit(1))).cast("long").as("missing_hours"),
        sum("n").as("n_events"),
        min("n").as("min_hourly"),
        max("n").as("max_hourly"))
      .withColumn("gap_risk",
        col("missing_hours") > 0 ||
          col("min_hourly") < col("n_events").cast("double") / 24.0 * riskFraction)
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("hours_present"), col("missing_hours"), col("n_events"),
        col("min_hourly"), col("max_hourly"), col("gap_risk"))
      .orderBy("day")

  /** q45: windowed attribution range join — per user, the (click,
    * purchase) pairs where the purchase falls in [click, click + W).
    *
    * One scan and one `user_id` shuffle: each purchase counts the clicks
    * in its user's RANGE frame [p − (W − 1µs), p] over integer
    * microseconds, so no pair is ever materialised and the frame state
    * per task is one user's sliding window. `n_pairs` sums those counts;
    * `n_purchases` counts the distinct purchase ids with at least one
    * click. The equi-join's rules hold: rows with a null `user_id` or `ts`
    * drop out, a click at the purchase's µs counts (RANGE peers), and a
    * purchase exactly W after a click does not. */
  def attributionRangeJoin(events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    val winUs = windowMinutes.toLong * 60L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("us").rangeBetween(1L - winUs, Window.currentRow)
    events
      .filter(col("event_type").isin("click", "purchase") && col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("n_clicks", count(when(col("event_type") === "click", 1)).over(w))
      .filter(col("event_type") === "purchase" && col("n_clicks") > 0)
      .groupBy("user_id")
      .agg(sum("n_clicks").as("n_pairs"), countDistinct(col("event_id")).as("n_purchases"))
      .orderBy("user_id")
  }

  /** q135: LINEAR multi-touch attribution — each purchase's value is
    * split equally across ALL of the user's clicks in the preceding
    * window (q45 gives the pair existence; first/last-touch give one
    * winner; linear is the ad-tech revenue-sharing model). Pairs come
    * from a banded range equi-join: a click's window [c, c+W) overlaps
    * at most two W-sized bins, so clicks explode to ≤2 (user, bin) rows
    * and each purchase joins on its one bin (never a per-key quadratic
    * post-filter, no dedup pass); the per-purchase click count is a window
    * partitioned by purchase (bounded by clicks-per-window, never
    * table-wide); credit aggregates per click day. Conservation law
    * (spec): attributed revenue ≡ Σ value of attributed purchases. */
  def linearAttribution(events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    val winUs = windowMinutes.toLong * 60L * 1000000L
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
    val buys = events
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"), unix_micros(col("ts")).as("p_us"),
        col("event_id").as("purchase_id"), col("value"))
    val clickBins = clicks.withColumn(
      "bin",
      explode(array(floor(col("c_us") / winUs), floor(col("c_us") / winUs) + 1)))
    val buyBins = buys.withColumn("bin", floor(col("p_us") / winUs))
    val pairs = clickBins
      .join(buyBins, Seq("user_id", "bin"))
      .filter(col("p_us") >= col("c_us") && col("p_us") < col("c_us") + winUs)
    val perPurchase = Window.partitionBy("purchase_id")
    pairs
      .withColumn("n_clicks", count(lit(1)).over(perPurchase))
      .withColumn("credit", col("value") / col("n_clicks"))
      .groupBy(date_format(timestamp_micros(col("c_us")), "yyyy-MM-dd").as("click_day"))
      .agg(
        count(lit(1)).as("n_touches"),
        countDistinct(col("purchase_id")).as("n_purchases"),
        round(sum("credit"), 4).as("attributed_revenue"))
      .orderBy("click_day")
  }

  /** q287: POSITION-BASED (U-shaped) multi-touch attribution — the
    * standard 40/20/40 model completing the family (q135 equal-split,
    * q152 time-decay, q219 Markov removal, q257 exact Shapley): the
    * FIRST and LAST click before a purchase each earn 40% of its value,
    * the middle clicks share the remaining 20%; one click takes 100%,
    * two split 50/50 (the degenerate-case conventions every martech
    * implementation agrees on). Same banded range equi-join as
    * q135 (pair expansion bounded per user-window, never
    * quadratic); position comes from ONE row_number window partitioned
    * by purchase (bounded by clicks-per-window), tie-broken on
    * (timestamp, click id) so simultaneous clicks order identically in
    * both engines. */
  def positionAttribution(events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    val winUs = windowMinutes.toLong * 60L * 1000000L
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"),
        col("event_id").as("click_id"))
    val buys = events
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"), unix_micros(col("ts")).as("p_us"),
        col("event_id").as("purchase_id"), col("value"))
    val clickBins = clicks.withColumn(
      "bin",
      explode(array(floor(col("c_us") / winUs), floor(col("c_us") / winUs) + 1)))
    val buyBins = buys.withColumn("bin", floor(col("p_us") / winUs))
    val pairs = clickBins
      .join(buyBins, Seq("user_id", "bin"))
      .filter(col("p_us") >= col("c_us") && col("p_us") < col("c_us") + winUs)
    val perPurchase = Window.partitionBy("purchase_id")
    val byPos = perPurchase.orderBy(col("c_us"), col("click_id"))
    pairs
      .withColumn("n_clicks", count(lit(1)).over(perPurchase))
      .withColumn("pos", row_number().over(byPos))
      .withColumn("weight",
        when(col("n_clicks") === 1, lit(1.0))
          .when(col("n_clicks") === 2, lit(0.5))
          .when(col("pos") === 1 || col("pos") === col("n_clicks"), lit(0.4))
          .otherwise(lit(0.2) / (col("n_clicks") - 2)))
      .withColumn("credit", col("value") * col("weight"))
      .groupBy(date_format(timestamp_micros(col("c_us")), "yyyy-MM-dd").as("click_day"))
      .agg(
        count(lit(1)).as("n_touches"),
        countDistinct(col("purchase_id")).as("n_purchases"),
        round(sum("credit"), 4).as("attributed_revenue"))
      .orderBy("click_day")
  }

  /** q152: TIME-DECAY multi-touch attribution — each purchase's value
    * splits across the user's preceding-window clicks proportionally to
    * `0.5^(Δt / halfLife)`, so the click nearest the purchase earns the
    * most credit (the standard decay model between q135's equal split
    * and last-touch's winner-take-all). Same banded range equi-join as
    * q135 — pair expansion bounded per (user, window), never
    * quadratic; the normalizing weight sum is a window partitioned by
    * purchase (bounded by clicks-per-window). Weights use integer
    * microsecond deltas over a double power — engine-portable, and the
    * conservation law (Σ credit = Σ attributed purchase value) is
    * spec-asserted. */
  def timeDecayAttribution(
      events: DataFrame,
      windowMinutes: Int = 60,
      halfLifeMinutes: Int = 15): DataFrame = {
    val winUs = windowMinutes.toLong * 60L * 1000000L
    val halfLifeUs = halfLifeMinutes.toDouble * 60e6
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
    val buys = events
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"), unix_micros(col("ts")).as("p_us"),
        col("event_id").as("purchase_id"), col("value"))
    val clickBins = clicks.withColumn(
      "bin",
      explode(array(floor(col("c_us") / winUs), floor(col("c_us") / winUs) + 1)))
    val buyBins = buys.withColumn("bin", floor(col("p_us") / winUs))
    val pairs = clickBins
      .join(buyBins, Seq("user_id", "bin"))
      .filter(col("p_us") >= col("c_us") && col("p_us") < col("c_us") + winUs)
      .withColumn("w", pow(lit(0.5), (col("p_us") - col("c_us")) / lit(halfLifeUs)))
    val perPurchase = Window.partitionBy("purchase_id")
    pairs
      .withColumn("credit", col("value") * col("w") / sum("w").over(perPurchase))
      .groupBy(date_format(timestamp_micros(col("c_us")), "yyyy-MM-dd").as("click_day"))
      .agg(
        count(lit(1)).as("n_touches"),
        countDistinct(col("purchase_id")).as("n_purchases"),
        round(sum("credit"), 4).as("attributed_revenue"))
      .orderBy("click_day")
  }

  /** q164: cumulative sum with CONDITIONAL RESETS — per-user spend
    * accumulated between purchases ("how much browsing value preceded
    * each conversion"). The reset-cumsum idiom: a running count of
    * reset events (purchases) partitions each user's timeline into
    * epochs, and the inner cumulative sum is per (user, epoch) — two
    * stacked user-partitioned windows, both data-proportional, no
    * cross-user state. Output collapses to epoch grain: events per
    * epoch, value accumulated, whether the epoch closed with a
    * purchase. */
  def spendBetweenPurchases(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val epoch = sum(when(col("event_type") === "purchase", 1).otherwise(0))
      .over(byUser.rowsBetween(Window.unboundedPreceding, -1))
    events
      .withColumn("epoch", coalesce(epoch, lit(0L)))
      .groupBy("user_id", "epoch")
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(when(col("event_type") =!= "purchase", col("value")).otherwise(0.0)), 4)
          .as("browse_value"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).cast("int").as("converted"))
      .orderBy("user_id", "epoch")
  }

  /** q167: group-wise LINEAR INTERPOLATION over a sparse series — every
    * event gets the purchase-value linearly blended between the user's
    * surrounding purchase knots (q84 forward-fills; interpolation needs
    * BOTH neighbors). The neighbor scan is two ignore-nulls window
    * passes per user (last-before / first-after), so cost is two sorts
    * of each user partition — data-proportional, no self-join, no
    * as-of machinery; edges degrade to the one existing neighbor.
    * Integer-µs time deltas keep the blend engine-portable. Output
    * collapses to user grain: knots, interpolated rows, mean
    * interpolated value. */
  def interpolatePurchaseValue(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val before = w.rowsBetween(Window.unboundedPreceding, -1)
    val after = w.rowsBetween(1, Window.unboundedFollowing)
    val knotV = when(col("event_type") === "purchase", col("value"))
    val knotUs = when(col("event_type") === "purchase", col("us"))
    val withNbrs = events
      .select(
        col("user_id"), col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_v", last(knotV, ignoreNulls = true).over(before))
      .withColumn("prev_us", last(knotUs, ignoreNulls = true).over(before))
      .withColumn("next_v", first(knotV, ignoreNulls = true).over(after))
      .withColumn("next_us", first(knotUs, ignoreNulls = true).over(after))
    val interp = when(col("prev_v").isNotNull && col("next_v").isNotNull,
      col("prev_v") + (col("next_v") - col("prev_v")) *
        ((col("us") - col("prev_us")) / (col("next_us") - col("prev_us"))))
      .otherwise(coalesce(col("prev_v"), col("next_v")))
    withNbrs
      .withColumn("interp", when(col("event_type") =!= "purchase", interp))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === "purchase", 1)).as("n_knots"),
        count(col("interp")).as("n_interpolated"),
        round(avg(col("interp")), 4).as("avg_interp"))
      .filter(col("n_knots") > 0)
      .orderBy("user_id")
  }

  /** q168: smoothed Markov next-event matrix — q85 counts ADJACENT
    * transitions; this is the dense conditional-probability view with
    * add-one smoothing over the full K×K grid, so unseen transitions
    * get mass and every row is a proper distribution (Σ_dst p = 1,
    * spec law). Transition counts are one lag pass + a K²-bounded
    * aggregate; densification crosses the two K-sized type lists
    * (bounded broadcast grid, q126 idiom). */
  def markovMatrix(events: DataFrame, alpha: Double = 1.0): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = events
      .withColumn("dst", lead(col("event_type"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("c"))
    // the type alphabet is bounded (it keys every downstream grid), so
    // ONE distinct scan collects it — the grid is then a literal frame,
    // not two more fact-table scans
    val spark = events.sparkSession
    import spark.implicits._
    val typeList = events.select(col("event_type")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val k = typeList.length.toLong
    val grid = typeList.flatMap(a => typeList.map(b => (a, b))).toDF("src", "dst")
    val dense = grid
      .join(trans, Seq("src", "dst"), "left")
      .withColumn("n", coalesce(col("c"), lit(0L)))
    val srcTotals = dense.groupBy("src").agg(sum("n").as("tot"))
    dense
      .join(broadcast(srcTotals), Seq("src"))
      .select(
        col("src"), col("dst"), col("n"),
        round((col("n") + lit(alpha)) / (col("tot") + lit(alpha) * k), 4).as("p"))
      .orderBy("src", "dst")
  }

  /** q165: day-over-day audience churn — users gained, lost and
    * retained between consecutive ACTIVE days (the daily dual of q78's
    * weekly cohorts). One distinct pass to (day, user) cells, then the
    * same cells joined to themselves shifted by one calendar day —
    * a (day,user)-keyed equi-join, never a set-diff over collected
    * sets — and a day-grain rollup. Day spine comes from the data;
    * days with no yesterday row count everything as gained. */
  def dailyChurn(events: DataFrame): DataFrame = {
    val du = events.select(
      date_format(col("ts"), "yyyy-MM-dd").as("day"),
      to_date(col("ts")).as("d"),
      col("user_id")).distinct()
    val today = du.select(col("day"), col("d"), col("user_id"))
    val yday = du.select(date_add(col("d"), 1).as("yd"), col("user_id").as("y_user"))
    val joined = today.join(
      yday,
      today("d") === yday("yd") && today("user_id") === yday("y_user"),
      "full_outer")
    joined
      .withColumn("day_key", coalesce(col("day"), date_format(col("yd"), "yyyy-MM-dd")))
      .groupBy(col("day_key").as("day"))
      .agg(
        count(when(col("user_id").isNotNull && col("y_user").isNotNull, 1)).as("retained"),
        count(when(col("user_id").isNotNull && col("y_user").isNull, 1)).as("gained"),
        count(when(col("user_id").isNull && col("y_user").isNotNull, 1)).as("lost"))
      .orderBy("day")
  }

  /** q136: trailing 7-day moving average of daily revenue — the
    * smoothed dashboard series. Events collapse FIRST to one row per
    * day (the aggregate output is calendar-bounded); the trailing
    * frame then runs over that tiny table — the unpartitioned window
    * is over #days rows by construction (the q89 bounded-aggregate
    * idiom), never over events. Also emits the day count actually in
    * frame so edges (first 6 days) are honest. */
  def movingAvgRevenue(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val daily = events
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum("value").as("revenue"))
    val w = Window.orderBy("day").rowsBetween(-(windowDays - 1), Window.currentRow)
    daily
      .withColumn("ma", avg("revenue").over(w))
      .withColumn("days_in_frame", count(lit(1)).over(w))
      .select(
        col("day"),
        round(col("revenue"), 4).as("revenue"),
        round(col("ma"), 4).as(s"ma_${windowDays}d"),
        col("days_in_frame"))
      .orderBy("day")
  }

  /** q138: session bounce rate per day — fraction of sessions with a
    * single event (the engagement-quality metric beside q118's
    * concurrency). Reuses the q22 session intervals; a session bounces
    * iff its span is a point AND it has one event, so count via the
    * (user, sid) aggregate directly. Day-cardinality output. */
  def bounceRate(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val sess = sessionIntervals(events, gapMinutes)
    sess
      .groupBy(date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .select(
        col("day"), col("n_sessions"), col("n_bounces"),
        round(col("n_bounces").cast("double") / col("n_sessions"), 4).as("bounce_rate"))
      .orderBy("day")
  }

  /** q22: gap-based sessionization (30-min inactivity) via window lag +
    * running sum. Integer microsecond math (`unix_micros`) keeps the gap
    * test exact and engine-portable. One shuffle on user_id; at scale the
    * same result comes from the streaming path's state-store sessionizer. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val gapUs  = gapMinutes.toLong * 60L * 1000000L
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn(
        "new_session",
        col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > gapUs)
      .groupBy("user_id")
      .agg(
        count(when(col("new_session"), lit(1))).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** q84: time-series gap fill with forward fill — resample each type's
    * hourly aggregate onto a dense hour spine, carrying the most recent
    * actual value across gaps. Composed from verified pieces: the spine
    * is `sequence()` over broadcast global bounds (map-side explode), the
    * forward fill IS the one-shuffle [[AsOfJoin]], and the is_actual flag
    * a broadcast-able join back to the sparse hourly table. Oracle:
    * DuckDB's native ASOF LEFT JOIN over a generate_series spine. */
  def gapFill(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(round(sum("value"), 4).as("hour_sum"))
    val bounds = events.agg(
      date_trunc("hour", min("ts")).as("lo"),
      date_trunc("hour", max("ts")).as("hi"))
    val spine = events.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(
        col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hour"))
    val filled = AsOfJoin.asofJoin(spine, hourly, "event_type", "hour", "hour_sum", "filled_sum")
    filled
      .join(hourly.withColumn("is_actual", lit(1L)).drop("hour_sum"), Seq("event_type", "hour"), "left")
      .select(
        col("event_type"),
        unix_timestamp(col("hour")).as("hour_ts"),
        round(coalesce(col("filled_sum"), lit(0.0)), 4).as("filled_sum"),
        coalesce(col("is_actual"), lit(0L)).as("is_actual"))
      .orderBy("event_type", "hour_ts")
  }

  /** q81: hopping (sliding) window aggregation — 1-hour windows every 15
    * minutes. Spark's native `window()` expression expands each event
    * into its window/slide ratio (4) windows inside codegen, then a
    * normal partial-agg shuffle on (window, type): the shuffle carries
    * #windows × #types rows, never the events. The missing sibling of
    * q20's tumbling rollup. */
  def hoppingWindow(events: DataFrame): DataFrame =
    events
      .groupBy(
        window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(
        unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** q76: ordered conversion funnel view → click → purchase, in one scan
    * and one `user_id` shuffle. Chained windows over each user's events
    * give the first view, the first click at or after it and the first
    * purchase at or after that click; a per-user max and a count finish.
    * The null-user group counts as a viewer, as its GROUP BY does, and
    * never as a clicker or buyer, as the stages' equi-joins drop it.
    * Scale trade-off: the table's three narrow event columns (user,
    * type, ts) are shuffled once, where a join per stage re-read every
    * hour file five times. */
  def funnel(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    def firstAfter(tpe: String, after: Column) =
      min(when(col("event_type") === tpe && col("ts") >= after, col("ts"))).over(w)
    events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select("user_id", "event_type", "ts")
      .withColumn("v_ts", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("c_ts", firstAfter("click", col("v_ts")))
      .withColumn("p_ts", firstAfter("purchase", col("c_ts")))
      .groupBy("user_id")
      .agg(max(col("event_type") === "view").as("viewed"), max("c_ts").as("c_ts"), max("p_ts").as("p_ts"))
      .agg(
        count(when(col("viewed"), 1)).as("n_view_users"),
        count(when(col("user_id").isNotNull, col("c_ts"))).as("n_click_users"),
        count(when(col("user_id").isNotNull, col("p_ts"))).as("n_purchase_users"))
  }

  /** q77: per-event trailing 1-hour activity via a RANGE window over
    * epoch seconds (integer frame bounds keep the window arithmetic
    * portable and exact). One shuffle on user_id; frame state per task is
    * bounded by the densest single hour of one user. */
  def rollingWindow(events: DataFrame, windowSeconds: Long = 3600L): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("epoch_s"))
      .rangeBetween(-(windowSeconds - 1), Window.currentRow)
    events
      .withColumn("epoch_s", col("ts").cast("long"))
      .withColumn("cnt_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", round(sum("value").over(w), 4))
      .select("event_id", "user_id", "cnt_1h", "sum_1h")
      .orderBy("event_id")
  }

  /** q85: event-type transition matrix — the Markov-chain view of user
    * behavior. One lag window per user (same shuffle as sessionize), then
    * a (prev, next) groupBy whose key space is #types², so map-side
    * combine collapses the second shuffle to ~nothing at any scale.
    * Deterministic tie-break on event_id makes the total order (and so
    * the lag) engine-portable. */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy("prev_type", "next_type")
  }

  /** q304: sequence-rule audit — per-user transitions checked against
    * an explicit allowed-transition whitelist (the state-machine
    * contract an instrumented product flow is supposed to obey: e.g. a
    * purchase only after a click or view). The violating pairs with
    * counts and corpus share are the data-quality report that catches
    * broken instrumentation (events firing out of order) and bot
    * traffic (impossible flows) — the sequence sibling of q96's row
    * constraint audit.
    *
    * Scale: the q85 transition cells (≤ #types², map-side combinable);
    * the whitelist is a literal broadcast frame; share is a 1-row
    * scalar combine. */
  def transitionRuleAudit(
      events: DataFrame,
      allowed: Seq[(String, String)] = Seq(
        "signup" -> "view", "signup" -> "click", "signup" -> "error",
        "view" -> "view", "view" -> "click", "view" -> "error",
        "click" -> "view", "click" -> "click", "click" -> "purchase",
        "click" -> "error",
        "purchase" -> "view", "purchase" -> "click",
        "error" -> "view", "error" -> "signup")): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cells = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val wl = allowed.toDF("prev_type", "next_type")
    val total = cells.agg(sum("n").as("n_total"))
    cells
      .join(broadcast(wl), Seq("prev_type", "next_type"), "left_anti")
      .crossJoin(broadcast(total)) // 1-row scalar
      .select(
        col("prev_type"), col("next_type"), col("n").as("n_violations"),
        round(col("n").cast("double") / col("n_total"), 4).as("share_of_transitions"))
      .orderBy("prev_type", "next_type")
  }

  /** q297: next-event predictability — the conditional entropy
    * H(next | current) per current event type, over the SAME per-user
    * (ts, event_id)-ordered transition pairs as q85's matrix. Low
    * entropy = the stream is mechanical after this event (a redirect, a
    * bot loop); entropy near log₂(#types) = anything can follow. The
    * top next-step and its share ride along, so the row reads as "after
    * X: usually Y (p), surprise H bits".
    *
    * Scale: the transition groupBy collapses to ≤ #types² cells (map-
    * side combinable); entropy, ranking, and shares are arithmetic and
    * a #types-bounded window on that cell frame. ln 2 is the hardcoded
    * IEEE literal shared with the oracle. */
  def nextEventEntropy(events: DataFrame): DataFrame = {
    val ln2 = 0.6931471805599453
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cells = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("c"))
    val wp = Window.partitionBy("prev_type")
    val wr = Window.partitionBy("prev_type")
      .orderBy(col("c").desc, col("next_type"))
    cells
      .withColumn("tot", sum("c").over(wp))
      .withColumn("rk", row_number().over(wr))
      .groupBy(col("prev_type"), col("tot"))
      .agg(
        // H = ln(tot) − Σ c·ln c / tot, in bits (q291's one-pass form)
        ((log(col("tot")) - sum(col("c") * log(col("c"))) / col("tot")) / lit(ln2))
          .as("h"),
        max(when(col("rk") === 1, col("next_type"))).as("top_next"),
        max(when(col("rk") === 1, col("c"))).as("top_c"),
        countDistinct(col("next_type")).as("n_next_types"))
      .select(
        col("prev_type"), col("tot").as("n_transitions"), col("n_next_types"),
        round(col("h"), 4).as("entropy_bits"),
        col("top_next"),
        round(col("top_c").cast("double") / col("tot"), 4).as("top_share"))
      .orderBy("prev_type")
  }

  /** q86: top daily user paths — the first `pathLen` event types of each
    * (user, day), joined into a path string, counted corpus-wide. The
    * per-user-day truncation bounds both the window state and the path
    * string; the path groupBy key space is ≤ #types^pathLen. Ordered
    * assembly is a sort_array over (ts, event_id, type) structs — tiny
    * arrays (≤ pathLen), so the interpreted HOF cost is irrelevant. */
  def topPaths(events: DataFrame, pathLen: Int = 5, topN: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"), to_date(col("ts"))).orderBy("ts", "event_id")
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= pathLen)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x("event_type")),
          ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_user_days"))
      .orderBy(desc("n_user_days"), asc("path"))
      .limit(topN)
  }

  /** q87: seasonal anomaly detection — each (day, hour) bucket's event
    * count scored against that hour-of-day's cross-day baseline
    * (avg ± stddev). Two aggregates over a bucket-cardinality frame
    * (#days × 24 rows after the first groupBy — trivial at any scale)
    * and a broadcast join back on the 24-row baseline. Emits every
    * bucket with its z-score so the oracle compares the full surface,
    * not a boundary-sensitive flag set. */
  def seasonalAnomaly(events: DataFrame): DataFrame = {
    val hourly = events.groupBy(
        date_format(col("ts"), "yyyyMMdd").as("dt"),
        date_format(col("ts"), "HH").as("hr"))
      .agg(count(lit(1)).as("n_events"))
    val baseline = hourly.groupBy("hr")
      .agg(avg("n_events").as("mu"), stddev_samp("n_events").as("sigma"))
    hourly.join(broadcast(baseline), "hr")
      .select(
        col("dt"), col("hr"), col("n_events"),
        round((col("n_events") - col("mu")) / col("sigma"), 4).as("z"))
      .orderBy("dt", "hr")
  }

  /** q91: leakage-free train/validation split — every USER (not event)
    * lands in exactly one split, decided by a deterministic content hash
    * of the user id, so re-runs, engines, and cluster layouts all agree
    * and no user's history straddles the boundary (the leak that inflates
    * eval numbers). Pure map-side: the split is a hash expression, no
    * shuffle until the audit aggregate. */
  def leakageSplit(events: DataFrame, valChars: Seq[String] = Seq("0", "1", "2")): DataFrame =
    events
      .withColumn(
        "split",
        when(substring(md5(col("user_id").cast("string")), 1, 1).isin(valChars: _*),
          lit("val")).otherwise(lit("train")))
      .groupBy("split", "event_type")
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("split", "event_type")

  /** q78: cohort retention — users grouped by first-activity day, counted
    * per day-offset of later activity. The cohort map is one per-user
    * aggregate (user-cardinality, broadcast at any realistic scale);
    * activity is pre-collapsed to distinct (user, day) before the join,
    * so the shuffled volume is days×users, not raw events. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val activity = events.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val cohort = activity.groupBy("user_id").agg(min("d").as("cohort_d"))
    activity.join(broadcast(cohort), "user_id")
      .groupBy(
        date_format(col("cohort_d"), "yyyy-MM-dd").as("cohort"),
        datediff(col("d"), col("cohort_d")).cast("long").as("day_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort", "day_offset")
  }

  /** q103: conversion latency — the funnel's time dimension: for every
    * user whose first click later converts, the delay from first click
    * to first subsequent purchase, summarized per first-click day
    * (conversion count + exact median/p90 latency). Both stage tables
    * are user-cardinality min-aggregates (map-side combined), the join
    * is user-keyed, and the percentile input is exact integer
    * microseconds divided only AFTER the percentile — the same
    * float-association discipline as q95. At 100 TB swap `percentile`
    * for the q38 t-digest aggregate; the shape is otherwise unchanged. */
  def conversionLatency(events: DataFrame): DataFrame =
    conversionPairs(events)
      .groupBy("day")
      .agg(
        count(lit(1)).as("n_conversions"),
        round(expr("percentile(lat_us, 0.5)") / lit(1e6), 4).as("median_latency_s"),
        round(expr("percentile(lat_us, 0.9)") / lit(1e6), 4).as("p90_latency_s"))
      .orderBy("day")

  /** Shared stage tables for q103/q145: (user, first-click day, exact
    * integer-µs latency) per converting user. */
  private[graft] def conversionPairs(events: DataFrame): DataFrame = {
    val firstClick = events.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min("ts").as("fc"))
    events.filter(col("event_type") === "purchase")
      .join(firstClick, "user_id")
      .filter(col("ts") >= col("fc"))
      .groupBy(col("user_id"), col("fc"))
      .agg(min("ts").as("fp"))
      .withColumn("lat_us", unix_micros(col("fp")) - unix_micros(col("fc")))
      .withColumn("day", date_format(col("fc"), "yyyy-MM-dd"))
  }

  /** q145: q103's documented 100 TB path made concrete — the same
    * conversion-pair stage tables, but per-day latency percentiles
    * answered by the q38 t-digest aggregate instead of exact
    * `percentile`. Exact `percentile` buffers every group member before
    * sorting (per-day × conversions rows held on one reducer); the
    * digest is a few KB per day, partial-aggregates map-side, and
    * merges associatively — constant memory at any conversion volume.
    * Rows-only (sketch answers are approximate); the spec bounds every
    * day's digest percentile within 2% of exact q103. */
  def conversionLatencySketch(events: DataFrame, compression: Double = 200.0): DataFrame = {
    import graft.functions.SketchFunctions.tdigestQuantile
    conversionPairs(events)
      .groupBy("day")
      .agg(
        count(lit(1)).as("n_conversions"),
        round(tdigestQuantile(col("lat_us").cast("double"), 0.5, compression) / lit(1e6), 4)
          .as("median_latency_s"),
        round(tdigestQuantile(col("lat_us").cast("double"), 0.9, compression) / lit(1e6), 4)
          .as("p90_latency_s"))
      .orderBy("day")
  }

  /** q108: SCD Type-2 dimension build — turn a change-event stream into
    * a slowly-changing dimension with validity intervals: each purchase
    * sets the user's current tier (its value), valid from its own
    * timestamp until the NEXT change (open-ended for the latest). One
    * lead window per user (the q22 shuffle), pure map-side otherwise;
    * the result is exactly what the one-shuffle as-of join (q44)
    * consumes for point-in-time lookups. Validity bounds surface as
    * integer epoch-µs (engine-portable; no timestamp rendering). */
  def scd2Build(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .filter(col("event_type") === "purchase")
      .withColumn("valid_from_us", unix_micros(col("ts")))
      .withColumn("valid_to_us", lead(unix_micros(col("ts")), 1).over(w))
      .select(
        col("user_id"),
        round(col("value"), 4).as("tier"),
        col("valid_from_us"),
        col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy("user_id", "valid_from_us")
  }

  /** q121: DAU / trailing-7-day WAU ("stickiness") — the engagement
    * rollup every growth dashboard runs, in one scan: raw events collapse
    * FIRST to distinct (user, day) activity (users × days, orders of
    * magnitude under event count); each activity row fans out to the 7
    * window days it contributes to (a bounded explode, map-side), flagged
    * active on its own day. After one row per (user, window day), each
    * window day's `dau` counts the active flags and `wau` the rows; the
    * shuffles carry those activity rows, never events. Days without
    * activity are dropped (a trailing window with no anchor day reports
    * nothing), and so are rows without a `ts`; a null user counts as one
    * user. */
  def dauWau(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .select(col("user_id"), col("day"), explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"))
      .groupBy("user_id", "wday")
      .agg(max(col("wday") === col("day")).as("active"))
      .groupBy("wday")
      .agg(count(when(col("active"), 1)).as("dau"), count(lit(1)).as("wau"))
      .filter(col("dau") > 0)
      .select(
        date_format(col("wday"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 4).as("stickiness"))
      .orderBy("day")

  /** q129: sketch-table WAU — the 100 TB path under q121: per-day HLL
    * user sketches (a few KB each) are built ONCE from one event scan;
    * every trailing-7-day distinct count is then a loss-free union of
    * ≤7 stored sketches — no raw re-scan, no exact distinct over a
    * week of events, and the same stored sketches answer any other
    * window length. Estimates carry HLL error (spec pins ≤5% of the
    * exact q121 WAU); q121 remains the exact oracle-checked form. */
  def wauSketch(events: DataFrame, lgConfigK: Int = 12): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgConfigK)).as("sk"))
    val days = daily.select(col("day").as("wday"))
    daily
      .select(col("sk"), explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"))
      .join(days, Seq("wday"), "left_semi")
      .groupBy("wday")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).cast("long").as("wau_approx"))
      .select(date_format(col("wday"), "yyyy-MM-dd").as("day"), col("wau_approx"))
      .orderBy("day")
  }

  /** scd2_merge: INCREMENTAL SCD2 maintenance — apply a new batch of
    * change events to an existing dimension without rebuilding
    * untouched users. Affected users (distinct in the batch — batch-
    * cardinality, so the semi/anti joins broadcast) have their
    * existing rows read back as change events and re-windowed together
    * with the batch; every other user's rows pass through byte-
    * identical via an anti join. Late/out-of-order changes are handled
    * by construction (the affected user's history is re-derived from
    * the union, not appended to). Cost: Θ(batch + affected users'
    * history) — never a full-dimension rebuild; the spec pins
    * merge ≡ [[scd2Build]] on the unioned event set. Assumes
    * (user_id, ts) unique within the change stream (the purchase
    * stream's contract; q108's event_id tie-break exists for raw
    * event ingest, where duplicates are possible). */
  def scd2Merge(dim: DataFrame, newEvents: DataFrame): DataFrame = {
    val changes = newEvents
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"), round(col("value"), 4).as("tier"),
        unix_micros(col("ts")).as("valid_from_us"))
    val touched   = changes.select("user_id").distinct()
    val untouched = dim.join(touched, Seq("user_id"), "left_anti")
    // a batch change at the SAME (user, instant) as an existing dim row
    // is a correction: the batch row wins (deterministically), instead
    // of leaving two equal-timestamp rows whose window order is
    // unspecified
    val oldChanges = dim
      .join(touched, Seq("user_id"), "left_semi")
      .join(changes.select("user_id", "valid_from_us"), Seq("user_id", "valid_from_us"), "left_anti")
      .select(col("user_id"), col("tier"), col("valid_from_us"))
    val w = Window.partitionBy("user_id").orderBy("valid_from_us")
    val rebuilt = oldChanges
      .unionByName(changes)
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      .select(
        col("user_id"), col("tier"), col("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
    untouched.unionByName(rebuilt).orderBy("user_id", "valid_from_us")
  }

  /** q112: point-in-time join — every event labeled with the user's
    * tier AS OF its own timestamp (the lookup an SCD2 dimension
    * exists for, and the leakage-free feature-join every training
    * pipeline needs: an event must never see a FUTURE attribute).
    * Composes two verified pieces: the q108 dimension (rounded tier at
    * each purchase) probed through the one-shuffle [[AsOfJoin]];
    * events before a user's first purchase fall out as tier −1.
    * Integer-µs event time; tier rounded at the SOURCE so both engines
    * group identical keys. */
  def pointInTimeJoin(events: DataFrame): DataFrame = {
    val probe = events.select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("t_us"))
    val dim = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"), round(col("value"), 4).as("tier"))
    AsOfJoin.asofJoin(probe, dim, "user_id", "t_us", "tier", "tier_at_event")
      .groupBy(col("event_type"), coalesce(col("tier_at_event"), lit(-1.0)).as("tier_bucket"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("event_type", "tier_bucket")
  }

  /** q95: gap sessionization via Spark's NATIVE `session_window` — the
    * declarative dual of q22's lag-window formulation. One groupBy
    * (user × session-window) does the merge inside the aggregation
    * operator (no per-user window sort feeding a second groupBy, and the
    * same construct runs unchanged under `readStream` with
    * watermark-driven state eviction). Session span excludes the
    * trailing gap that session_window's `end` carries (end = last event
    * + gap), so the numbers line up with the lag/cumsum definition
    * exactly. */
  def sessionWindowNative(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val sessions = events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("user_id"),
        col("n"),
        // exact integer µs per session; divide AFTER the sum so both
        // engines round the identical double (float sums associate
        // differently and flip the 4th decimal at the boundary)
        (unix_micros(col("sw.end")) - unix_micros(col("sw.start")) - gapUs).as("span_us"))
    sessions
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum("n").as("n_events"),
        round(sum("span_us") / lit(1e6), 4).as("total_span_s"),
        round(max("span_us") / lit(1e6), 4).as("max_span_s"))
      .orderBy("user_id")
  }

  /** Session intervals (user, start_us, end_us) from the q22 gap rule —
    * shared by [[peakConcurrency]] and its naive-form spec twin. */
  private def sessionIntervals(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    events
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(Window.partitionBy("user_id").orderBy("us")))
      .withColumn(
        "ns",
        (col("prev_us").isNull || col("us") - col("prev_us") > gapUs).cast("long"))
      .withColumn("sid", sum(col("ns")).over(byUser))
      .groupBy(col("user_id"), col("sid"))
      .agg(min("us").as("start_us"), max("us").as("end_us"), count(lit(1)).as("n_events"))
  }

  /** Net concurrency deltas per (day, instant): each session emits +1 at
    * its start and −1 one µs after its (inclusive) end; both deltas carry
    * the session's START day (day-scoped semantics: "peak concurrent
    * sessions among sessions started that day"). Grouping to net deltas
    * per instant makes tie handling atomic — no start-before-end
    * ordering convention is ever needed. */
  private def concurrencyDeltas(sess: DataFrame): DataFrame = {
    val day = date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd").as("day")
    sess.select(day, col("start_us").as("t"), lit(1L).as("d"))
      .unionAll(sess.select(day, (col("end_us") + 1).as("t"), lit(-1L).as("d")))
      .groupBy("day", "t")
      .agg(sum("d").as("delta"))
  }

  /** q118: peak session concurrency per day (capacity-planning view of
    * the sessionized stream): the classic +1/−1 interval sweep, but
    * decomposed PARTIAL+FINAL like the skyline — a per-(day, hour)
    * local sweep (running sum + local max over that hour's boundary
    * instants) followed by a per-day combine over 24 hourly summaries
    * (carry-in = exclusive prefix of hourly delta sums; peak = max of
    * carry-in + local max). No day-wide single-task sort ever happens:
    * the widest window is one hour of boundary instants, and the final
    * window is 24 rows per day. The naive day-wide-window form is the
    * spec twin ([[peakConcurrencyNaive]]), asserted identical. */
  def peakConcurrency(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val sess = sessionIntervals(events, gapMinutes)
    val net  = concurrencyDeltas(sess)
      .withColumn("hour", floor(col("t") / (3600L * 1000000L)))
    val wLocal = Window.partitionBy("day", "hour").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hourly = net
      .withColumn("run", sum("delta").over(wLocal))
      .groupBy("day", "hour")
      .agg(sum("delta").as("hsum"), max("run").as("hmax"))
    val wDay = Window.partitionBy("day").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peaks = hourly
      .withColumn("carry", sum("hsum").over(wDay) - col("hsum"))
      .groupBy("day")
      .agg(max(col("carry") + col("hmax")).as("peak_concurrency"))
    val counts = sess
      .groupBy(date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_sessions"))
    counts
      .join(peaks, Seq("day"))
      .select(col("day"), col("n_sessions"), col("peak_concurrency"))
      .orderBy("day")
  }

  /** Spec twin of [[peakConcurrency]]: the textbook day-wide running-sum
    * window (one task per day at scale — kept OUT of the registered
    * surface; exists to prove the decomposition exact). */
  private[graft] def peakConcurrencyNaive(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val sess = sessionIntervals(events, gapMinutes)
    val wDay = Window.partitionBy("day").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peaks = concurrencyDeltas(sess)
      .withColumn("run", sum("delta").over(wDay))
      .groupBy("day")
      .agg(max("run").as("peak_concurrency"))
    sess
      .groupBy(date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_sessions"))
      .join(peaks, Seq("day"))
      .select(col("day"), col("n_sessions"), col("peak_concurrency"))
      .orderBy("day")
  }

  /** q208: growth accounting — per day: active users, NEW users (first
    * ever seen that day), returning = active − new, and the cumulative
    * user base. First-seen day is ONE user-grain aggregate; daily
    * actives and daily firsts are day-grain; the cumulative sum runs
    * over the calendar-bounded day frame (q89/q136 idiom). This is the
    * product-growth report (new/retained split) that q121's DAU/WAU
    * counts don't decompose. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val day = to_date(col("ts"))
    val active = events
      .select(day.as("d"), col("user_id"))
      .distinct()
      .groupBy("d").agg(count(lit(1)).as("dau"))
    val firsts = events
      .groupBy(col("user_id"))
      .agg(min(day).as("d"))
      .groupBy("d").agg(count(lit(1)).as("new_users"))
    val w = Window.partitionBy(lit(1)).orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active
      .join(firsts, Seq("d"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("returning", col("dau") - col("new_users"))
      .withColumn("cumulative_users", sum(col("new_users")).over(w))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("dau"), col("new_users"), col("returning"), col("cumulative_users"))
      .orderBy("day")
  }

  /** q209: inter-purchase gap distribution — days between consecutive
    * purchases per user (the lag window partitions by USER — bounded by
    * per-user history), then the corpus-level gap distribution: count,
    * mean, exact p50/p90, the inputs to any churn-definition or
    * next-purchase model. */
  def purchaseGaps(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .withColumn("gap_hours",
        (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) / lit(3600.0))
      .agg(
        count(lit(1)).as("n_gaps"),
        round(avg(col("gap_hours")), 4).as("mean_gap_hours"),
        round(expr("percentile(gap_hours, 0.5)"), 4).as("p50_gap_hours"),
        round(expr("percentile(gap_hours, 0.9)"), 4).as("p90_gap_hours"),
        round(max(col("gap_hours")), 4).as("max_gap_hours"))
  }

  /** q257: Shapley-value channel attribution — the game-theoretic
    * attribution that neither first/last-touch (q135), decay (q152) nor
    * Markov removal (q219) gives: each channel's average marginal
    * contribution to the conversion rate over all orderings of the
    * channel coalition. Tractable EXACTLY here because the game is over
    * the CHANNEL SET, not users: one user-grain aggregate folds each
    * user to a channel bitmask + converted flag, a mask-cardinality
    * (2^n-row) coalition table carries v(S) = conversion rate of users
    * holding exactly coalition S, and the Shapley sum is a self-join of
    * that tiny table on S → S∪{i} with closed-form factorial weights
    * s!(n−1−s)!/n!. Unobserved coalitions contribute v=0 on BOTH
    * engines (grid densification, q126 idiom). n channels is fixed by
    * the event taxonomy, so 2^n is a constant — at 100 TB the only
    * data-sized pass is the user fold. */
  def shapleyAttribution(events: DataFrame): DataFrame = {
    val channels = Seq("click", "error", "signup", "view") // sorted, purchase excluded
    val n = channels.size
    val maskCol = channels.zipWithIndex
      .map { case (c, i) =>
        (max((col("event_type") === c).cast("int")) * (1 << i)).cast("int")
      }
      .reduce(_ + _)
    val users = events
      .groupBy("user_id")
      .agg(
        maskCol.as("mask"),
        max((col("event_type") === "purchase").cast("int")).as("conv"))
    val observed = users.groupBy("mask")
      .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
    val spark = events.sparkSession
    import spark.implicits._
    val grid = (0 until (1 << n)).toDF("mask")
      .join(observed, Seq("mask"), "left")
      .select(
        col("mask"),
        coalesce(col("n_conv").cast("double") / col("n_users"), lit(0.0)).as("v"))
    def fact(k: Int): Double = (1 to k).product.toDouble
    val wBySize = (0 until n).map(s => fact(s) * fact(n - 1 - s) / fact(n))
    val weight = (0 until n)
      .foldLeft(lit(wBySize(0))) { (acc, s) =>
        when(bit_count(col("s.mask")) === s, lit(wBySize(s))).otherwise(acc)
      }
    val contrib = channels.zipWithIndex.map { case (c, i) =>
      val bit = 1 << i
      grid.as("s")
        .join(grid.as("t"),
          (col("s.mask").bitwiseAND(bit) === 0) &&
            (col("t.mask") === col("s.mask").bitwiseOR(bit)))
        .select(lit(c).as("channel"), (weight * (col("t.v") - col("s.v"))).as("phi"))
    }.reduce(_ unionByName _)
    contrib
      .groupBy("channel")
      .agg(round(sum("phi"), 4).as("shapley"))
      .orderBy("channel")
  }

  /** q254: inter-arrival burstiness per event type — CV = σ/μ of the
    * gap distribution and Goh–Barabási B = (σ−μ)/(σ+μ): B≈0 is a
    * Poisson stream, B→1 heavy bursts, B<0 pacemaker-regular. The
    * capacity-planning signal behind rate limits and autoscaling
    * thresholds. Gaps are differenced at microsecond resolution with
    * (ts, event_id) ordering so both engines pair the same neighbors;
    * the lag is day-bucketed (see inline note) so no partition is ever
    * data-sized, and the moments are one type-cardinality aggregate. */
  def burstiness(events: DataFrame): DataFrame = {
    // a lag window partitioned by event_type alone would put an entire
    // type's stream in ONE partition — with a handful of types that is a
    // data-sized reducer at 100 TB. The gap sequence decomposes exactly
    // instead (the q236 bucketed-lag scheme, DAY as the bucket): in-day
    // gaps from (type, day)-partitioned windows, plus one boundary gap
    // per adjacent day pair from a lag over the per-(type, day)
    // first/last frame — #types × #days rows, calendar-bounded. The
    // union of the two gap sets IS the sequential gap list.
    val e = events
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"), to_date(col("ts")).as("day"))
    val inDay = Window.partitionBy("event_type", "day").orderBy("us", "event_id")
    val within = e
      .withColumn("prev_us", lag(col("us"), 1).over(inDay))
      .filter(col("prev_us").isNotNull)
      .select(col("event_type"), ((col("us") - col("prev_us")) / lit(1e6)).as("gap_s"))
    val perDay = e
      .groupBy("event_type", "day")
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    val dayFrame = Window.partitionBy("event_type").orderBy("day")
    val boundary = perDay
      .withColumn("prev_last", lag(col("last_us"), 1).over(dayFrame))
      .filter(col("prev_last").isNotNull)
      .select(col("event_type"), ((col("first_us") - col("prev_last")) / lit(1e6)).as("gap_s"))
    within.unionByName(boundary)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_gaps"),
        round(avg(col("gap_s")), 4).as("mean_gap_s"),
        round(stddev_samp(col("gap_s")) / avg(col("gap_s")), 4).as("cv"),
        round((stddev_samp(col("gap_s")) - avg(col("gap_s")))
          / (stddev_samp(col("gap_s")) + avg(col("gap_s"))), 4).as("burstiness"))
      // moments need ≥2 gaps: Spark's single-sample stddev is NaN where
      // DuckDB's is NULL — degenerate types drop on BOTH engines
      .filter(col("n_gaps") > 1)
      .orderBy("event_type")
  }

  /** q198: per-user EWMA of purchase value — the recency-weighted
    * "customer value" feature. The recurrence
    * s ← α·v + (1−α)·s unrolls per user to the closed-form weighted
    * sum over that user's ordered purchases: weights come from the
    * per-user rank/count windows (both PARTITIONED by user — bounded by
    * per-user activity, lint-clean at any scale), then one aggregate
    * back to user grain. No truncation: per-user purchase counts are
    * activity-bounded, so the result is exact. */
  def userEwma(events: DataFrame, alpha: Double = 0.3): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    val ordered = byUser.orderBy("ts", "event_id")
    events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(ordered))
      .withColumn("n", count(lit(1)).over(byUser))
      .withColumn("wgt",
        when(col("rn") === 1, pow(lit(1 - alpha), col("n") - col("rn")))
          .otherwise(lit(alpha) * pow(lit(1 - alpha), col("n") - col("rn"))))
      .groupBy("user_id")
      .agg(
        round(sum(col("wgt") * col("value")), 4).as("ewma_value"),
        count(lit(1)).as("n_obs"))
      .orderBy("user_id")
  }

  /** q197: time-bounded window funnel (the ClickHouse `windowFunnel`
    * semantic, the timed refinement of q76's ordered funnel): per user,
    * the deepest view→click→purchase chain where the WHOLE chain fits
    * inside `windowExpr` of its starting view. Every view opens a
    * candidate window; step 2 is the EARLIEST later click inside it,
    * step 3 the earliest purchase after that click still inside it
    * (earliest-next-step is the standard greedy semantic — and taking
    * the min cannot forfeit a reachable step 3 that some later click
    * would allow only if the purchase precedes that click, which the
    * ordering forbids). Each step is a user-keyed equi-join with the
    * range as residual predicate — never a time-cross-join — and
    * per-user fan-out is (views × clicks-in-window), bounded by
    * per-user activity density, not table size. Funnel levels collapse
    * to a 3-row report. */
  def windowFunnel(events: DataFrame, windowExpr: String = "INTERVAL 1 DAY"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("eid"), col("ts").as("t1"))
      .withColumn("deadline", col("t1") + expr(windowExpr))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("tc"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("tp"))
    val step2 = views
      .join(clicks,
        col("cu") === col("user_id") && col("tc") > col("t1") && col("tc") <= col("deadline"),
        "left")
      .groupBy(col("user_id"), col("eid"), col("t1"), col("deadline"))
      .agg(min(col("tc")).as("t2"))
    val step3 = step2
      .join(purchases,
        col("pu") === col("user_id") && col("t2").isNotNull &&
          col("tp") > col("t2") && col("tp") <= col("deadline"),
        "left")
      .groupBy(col("user_id"), col("eid"), col("t2"))
      .agg(min(col("tp")).as("t3"))
    step3
      .groupBy(col("user_id"))
      .agg(max(
        lit(1) + when(col("t2").isNotNull, 1).otherwise(0)
          + when(col("t3").isNotNull, 1).otherwise(0)).as("level"))
      .groupBy("level")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("level")
  }

  /** q213: longest consecutive-active-day streak per user (the
    * gaps-and-islands idiom): distinct (user, day) activity, island key
    * = day − row_number (consecutive runs share it — pure per-partition
    * window arithmetic, no self-join), island lengths, per-user max,
    * then the user-count distribution. Every window/aggregate is
    * partitioned by user over their distinct DAYS (calendar-bounded),
    * so no stage exceeds activity cardinality. */
  def activityStreaks(events: DataFrame): DataFrame = {
    val activity = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    activity
      .withColumn("rn", row_number().over(w))
      .withColumn("island", expr("date_sub(day, rn)"))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max("len").as("longest_streak"))
      .groupBy("longest_streak")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("longest_streak")
  }

  /** q214: debounce audit — how much of each event type is rapid-fire
    * repetition: a row opens a new burst when it is the first of its
    * (user, type) or arrives more than `gapSeconds` after its
    * predecessor (the q22 session-boundary rule applied per type);
    * kept/total per type is the dedup headroom a debouncing ingest
    * would win. One lag window partitioned by (user, type), then a
    * map-side-combining rollup — no burst table is materialized. */
  def debounce(events: DataFrame, gapSeconds: Int = 300): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    events
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("opens_burst",
        (col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapSeconds).cast("int"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum("opens_burst").as("n_kept"),
        round(sum("opens_burst") / count(lit(1)).cast("double"), 4).as("keep_ratio"))
      .orderBy("event_type")
  }

  /** q216: time-weighted average value per user (the TWAP/telemetry
    * aggregate — each reading counts for as long as it was current, so
    * bursts don't dominate the mean the way they do a plain avg): lead
    * window per user gives each event its holding time, weighted mean =
    * Σ v·w / Σ w over intervals. The last event of a user has no
    * successor and is dropped (open interval). Users whose events all
    * share one second carry zero total weight and are excluded rather
    * than divided by zero. */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // value is 2-decimal by contract: aggregate in integer CENTS so the
    // sums are exact in ANY accumulation order (the sf1 lesson: an
    // avg-of-doubles can land 1 ulp either side of a 4dp rounding
    // boundary depending on partitioning, and one flipped cell reorders
    // the whole replica-heavy result set)
    val cents = (graft.functions.PortableRound.money(col("value")) * 100).cast("long")
    events
      .select(col("user_id"), col("ts"), col("event_id"), cents.as("cents"))
      .withColumn("next_ts", lead("ts", 1).over(w))
      .filter(col("next_ts").isNotNull)
      .withColumn("wt", unix_timestamp(col("next_ts")) - unix_timestamp(col("ts")))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_intervals"),
        sum("wt").as("total_wt"),
        round(sum(col("cents")).cast("double") / lit(100.0) / count(lit(1)), 4)
          .as("plain_avg"),
        round(
          sum(col("cents") * col("wt")).cast("double") / lit(100.0) / sum(col("wt")), 4)
          .as("twap"))
      .filter(col("total_wt") > 0)
      .select(col("user_id"), col("n_intervals"),
        round(col("total_wt").cast("double"), 4).as("total_wt"),
        col("plain_avg"), col("twap"))
      .orderBy("user_id")
  }

  /** q217: ordered sequence match with an exclusion (the ClickHouse
    * `sequenceMatch('(?1)(?2)')`-with-negation shape): purchases that
    * complete a view → purchase pair with NO error in between. The
    * naive form is a per-purchase correlated EXISTS/NOT-EXISTS rescan;
    * here ONE running window per user (rows preceding, ordered by
    * ts + event_id) carries the latest prior view and error timestamps
    * past every row, and the pattern is a pure filter: a view exists,
    * and the latest error (if any) predates it. Same decorrelation
    * family as q147 — the event stream is scanned once. */
  def sequenceMatch(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("last_view_ts", max(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("last_error_ts", max(when(col("event_type") === "error", col("ts"))).over(w))
      .filter(col("event_type") === "purchase" && col("last_view_ts").isNotNull &&
        (col("last_error_ts").isNull || col("last_error_ts") < col("last_view_ts")))
      .agg(
        count(lit(1)).as("n_clean_purchases"),
        countDistinct("user_id").as("n_users"))
  }

  /** q238: cohort LTV curve — cumulative revenue per user by cohort
    * age (the revenue sibling of q78's retention counts; the curve
    * every acquisition decision reads): cohort = first-activity week
    * (weeks from the broadcast corpus-start scalar — engine/rerun
    * stable), age = activity week − cohort week; purchase revenue
    * rolls to (cohort, age) cells, cohort sizes attach broadcast, and
    * the running LTV is a window over the ≤#weeks frame per cohort.
    * Every stage is cohort-grid-sized after the first user-grain
    * aggregate. */
  def cohortLtv(events: DataFrame): DataFrame = {
    val start = events.agg(min(to_date(col("ts"))).as("d0"))
    val wk = events
      .crossJoin(broadcast(start))
      .select(
        col("user_id"), col("event_type"), col("value"),
        floor(datediff(to_date(col("ts")), col("d0")) / lit(7.0)).cast("long").as("wi"))
    val cohorts = wk.groupBy("user_id").agg(min("wi").as("cw"))
    val sizes = cohorts.groupBy("cw").agg(count(lit(1)).as("n_users"))
    val cells = wk
      .filter(col("event_type") === "purchase")
      .join(cohorts, Seq("user_id"))
      .groupBy(col("cw"), (col("wi") - col("cw")).as("age_weeks"))
      .agg(sum("value").as("rev"))
    val w = Window.partitionBy("cw").orderBy("age_weeks")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .join(broadcast(sizes), Seq("cw"))
      .withColumn("cum_rev", sum("rev").over(w))
      .select(
        col("cw").as("cohort_week"), col("age_weeks"), col("n_users"),
        round(col("rev"), 4).as("week_revenue"),
        round(col("cum_rev") / col("n_users"), 4).as("ltv_per_user"))
      .orderBy("cohort_week", "age_weeks")
  }

  /** q225: interval union / coverage (the "how much wall-clock was the
    * user actually active" measure — summing padded event durations
    * OVERCOUNTS wherever bursts overlap): each event padded to
    * ±`padSeconds`, overlapping intervals merged by the running-max
    * sweep (an interval opens an island when its start clears every
    * earlier end — one per-user window, no self-join), then island
    * spans sum to exact covered seconds. The q213 islands idiom lifted
    * from days to real intervals; per-user windows keep every stage
    * activity-bounded. */
  def intervalUnion(events: DataFrame, padSeconds: Int = 150): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("s", "event_id")
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"),
        (unix_timestamp(col("ts")) - padSeconds).as("s"),
        (unix_timestamp(col("ts")) + padSeconds).as("e"))
      .withColumn("opens", (col("s") > coalesce(max("e").over(wPrev), lit(Long.MinValue))).cast("int"))
      .withColumn("island", sum("opens").over(wCum))
      .groupBy("user_id", "island")
      .agg(min("s").as("i_start"), max("e").as("i_end"), count(lit(1)).as("n_ev"))
      .groupBy("user_id")
      .agg(
        sum("n_ev").as("n_events"),
        count(lit(1)).as("n_intervals"),
        sum(col("i_end") - col("i_start")).as("covered_s"))
      .orderBy("user_id")
  }

  /** q219: Markov removal-effect attribution (the data-driven
    * alternative to q135's positional and q152's decay heuristics):
    * each user's pre-conversion touch sequence becomes a chain
    * START → touches → CONV/NULL; a channel's credit is its REMOVAL
    * EFFECT — how much total conversion probability disappears when
    * every path through it is cut — normalized to shares.
    *
    * Distributed part: touch extraction (one per-user window over
    * events), transition counts (one groupBy over the bounded
    * (types+2)² grid) — both data-proportional. Driver part: the
    * absorbing-chain solve, (I−Q)x = b by Gaussian elimination over
    * ≤(#types+1) unknowns — the SAME bounded-alphabet argument as
    * q168's collected type list; at any corpus scale this matrix is
    * a few doubles. One solve per channel for the removal runs. */
  def markovAttribution(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val conv = events.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"))).as("fc"))
      .select(col("user_id"), col("fc.ts").as("conv_ts"), col("fc.event_id").as("conv_id"))
    val touches = events.filter(col("event_type") =!= "purchase")
      .join(conv, Seq("user_id"), "left")
      .filter(col("conv_ts").isNull ||
        struct(col("ts"), col("event_id")) < struct(col("conv_ts"), col("conv_id")))
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        col("conv_ts").isNotNull.as("converts"))
    val wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val steps = touches
      .withColumn("prev", lag("event_type", 1).over(wt))
      .withColumn("next", lead("event_type", 1).over(wt))
    val chain = steps.select(
      coalesce(col("prev"), lit("START")).as("src"), col("event_type").as("dst"))
    val terminal = steps.filter(col("next").isNull).select(
      col("event_type").as("src"),
      when(col("converts"), lit("CONV")).otherwise(lit("NULL")).as("dst"))
    // converters with zero prior touches jump START → CONV directly
    val directConv = conv.join(
      touches.select("user_id").distinct(), Seq("user_id"), "left_anti").count()
    val counts = chain.unionByName(terminal)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val full = (if (directConv > 0)
      counts.updated(("START", "CONV"), counts.getOrElse(("START", "CONV"), 0L) + directConv)
    else counts)

    val channels = full.keysIterator.flatMap { case (s, d) => Seq(s, d) }
      .filterNot(Set("START", "CONV", "NULL")).toSeq.distinct.sorted
    // absorbing-chain conversion probability with `removed` channels
    // treated as NULL (their inbound mass is lost, their rows dropped)
    def pConv(removed: Set[String]): Double = {
      val transient = "START" +: channels.filterNot(removed)
      val idx = transient.zipWithIndex.toMap
      val k = transient.length
      val a = Array.tabulate(k, k + 1) { (_, _) => 0.0 }
      transient.zipWithIndex.foreach { case (s, i) =>
        val out = full.collect { case ((`s`, d), n) => d -> n }
        val tot = out.map(_._2).sum.toDouble
        a(i)(i) = 1.0
        if (tot > 0) out.foreach { case (d, n) =>
          val p = n / tot
          if (d == "CONV") a(i)(k) += p
          else idx.get(d).foreach(j => a(i)(j) -= p)
        }
      }
      // Gaussian elimination with partial pivoting on the k×k system
      (0 until k).foreach { c =>
        val piv = (c until k).maxBy(r => math.abs(a(r)(c)))
        val t = a(c); a(c) = a(piv); a(piv) = t
        if (math.abs(a(c)(c)) > 1e-12) {
          ((c + 1) until k).foreach { r =>
            val f = a(r)(c) / a(c)(c)
            (c to k).foreach(j => a(r)(j) -= f * a(c)(j))
          }
        }
      }
      val x = new Array[Double](k)
      ((k - 1) to 0 by -1).foreach { r =>
        val s = a(r)(k) - ((r + 1) until k).map(j => a(r)(j) * x(j)).sum
        x(r) = if (math.abs(a(r)(r)) > 1e-12) s / a(r)(r) else 0.0
      }
      x(idx("START"))
    }

    val pFull = pConv(Set.empty)
    // zero-conversion corpus: nothing to attribute — every removal
    // effect is 0 (the ratio defaults to 1, never to 0, which would
    // have credited every channel with full effect)
    val effects = channels.map(c => c -> math.max(0.0, 1.0 - {
      if (pFull > 0) pConv(Set(c)) / pFull else 1.0
    }))
    val totalEffect = effects.map(_._2).sum
    effects.map { case (c, re) =>
      (c, re, if (totalEffect > 0) re / totalEffect else 0.0, pFull)
    }
      .toDF("channel", "removal_effect", "share", "p_conv_full")
      .select(col("channel"),
        round(col("removal_effect"), 4).as("removal_effect"),
        round(col("share"), 4).as("share"),
        round(col("p_conv_full"), 4).as("p_conv_full"))
      .orderBy("channel")
  }

  /** q284: ordered-pair sequence support — for every event-type pair
    * (a, b), how many users did a STRICTLY BEFORE ever doing b, and
    * what share of the user base that is (the support table sequential
    * pattern mining starts from; q85 counts ADJACENT transitions, this
    * counts any-gap precedence). One (user, type) first-occurrence
    * aggregate collapses the stream to ≤|types| rows per user, the
    * pair expansion is a per-user self-join on that collapsed frame —
    * Θ(users·|types|²) with |types| a small constant, never an
    * event-grain self-join; the user-base total is the 1-row broadcast
    * scalar. Strict `<` on exact timestamps keeps ties out
    * deterministically in both engines. */
  def sequenceSupport(events: DataFrame): DataFrame = {
    val firstTs = events
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts")).as("first_ts"))
    val total = events.agg(countDistinct(col("user_id")).as("n_total"))
    firstTs.as("a")
      .join(firstTs.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") =!= col("b.event_type") &&
          col("a.first_ts") < col("b.first_ts"))
      .groupBy(col("a.event_type").as("step_a"), col("b.event_type").as("step_b"))
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(total))
      .withColumn("support",
        round(col("n_users").cast("double") / col("n_total"), 4))
      .drop("n_total")
      .orderBy("step_a", "step_b")
  }

  /** q285: cumulative customer reach — per month, how many DISTINCT
    * customers have ever ordered by then and what share of the final
    * base that is (the "total customers acquired" growth curve; q208
    * slices month-over-month accounting, this is the running union).
    * A cumulative COUNT DISTINCT is not window-expressible at scale —
    * but reach(m) = customers whose FIRST order ≤ m, so ONE
    * customer-grain min aggregate + a month-grain count + a prefix sum
    * over the calendar-bounded month frame (the q89/q183 idiom)
    * compute it exactly with no distinct-state windows. */
  def cumulativeReach(orders: DataFrame): DataFrame = {
    val firstMonth = orders
      .groupBy(col("o_custkey"))
      .agg(min(date_format(col("o_orderdate"), "yyyy-MM")).as("month"))
    val perMonth = firstMonth.groupBy("month").agg(count(lit(1)).as("new_customers"))
    val wCum = Window.orderBy("month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = perMonth.agg(sum(col("new_customers")).as("n_total"))
    perMonth
      .withColumn("cumulative_customers", sum(col("new_customers")).over(wCum))
      .crossJoin(broadcast(total))
      .withColumn("reach_share",
        round(col("cumulative_customers").cast("double") / col("n_total"), 4))
      .drop("n_total")
      .orderBy("month")
  }

  /** q328: HBOS — histogram-based outlier score over event features
    * (hour-of-day, day-of-week, value decile): score = Σ −ln(density),
    * the linear-time unsupervised anomaly screen that complements q87's
    * per-type z-score (HBOS is feature-joint and needs no per-key
    * baseline window). Events sitting in rare (hour × dow × value-bin)
    * cells float to the top.
    *
    * Scale shape: three BOUNDED density tables (24 / 7 / 10 rows) from
    * one scan family, broadcast back onto the fact — no data-sized
    * shuffle; day-of-week comes from epoch-day arithmetic (exact
    * integers, no engine calendar disagreements); the value bin uses
    * 1-row broadcast min/max with the max==min degenerate range guarded
    * lazily; top-k rides TakeOrdered on the ROUNDED score with event-id
    * tie-break. Observed-bin densities are never zero (each event
    * witnesses its own bin), so the logs are total. */
  def hbosOutliers(events: DataFrame, topN: Int = 20): DataFrame = {
    val featured = events.select(
      col("event_id"), col("event_type"), col("value"),
      hour(col("ts")).cast("long").as("f_hour"),
      (datediff(to_date(col("ts")), to_date(lit("1970-01-01"))) % 7).cast("long").as("f_dow"))
    val vrange = featured.agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val binned = featured
      .crossJoin(broadcast(vrange))
      .withColumn("f_vbin",
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(
            floor((col("value") - col("vmin")) * 10 / (col("vmax") - col("vmin"))),
            lit(9L))))
      .drop("vmin", "vmax")
    val total = featured.agg(count(lit(1)).as("n_total"))
    def density(key: String) = binned
      .groupBy(key).agg(count(lit(1)).as(s"c_$key"))
      .crossJoin(broadcast(total))
      .select(col(key), (col(s"c_$key").cast("double") / col("n_total")).as(s"d_$key"))
    binned
      .join(broadcast(density("f_hour")), "f_hour")
      .join(broadcast(density("f_dow")), "f_dow")
      .join(broadcast(density("f_vbin")), "f_vbin")
      .select(
        col("event_id"), col("event_type"),
        col("f_hour"), col("f_dow"), col("f_vbin"),
        round(-(log(col("d_f_hour")) + log(col("d_f_dow")) + log(col("d_f_vbin"))), 4)
          .as("hbos_score"))
      .orderBy(desc("hbos_score"), asc("event_id"))
      .limit(topN)
  }

  /** q337: SLO error-budget BURN-RATE readout — the SRE alerting
    * arithmetic (multi-window burn-rate alerts) over the event stream:
    * with availability SLO 75% the error budget is a 25% error rate;
    * burn = observed-rate / budget-rate, and a page fires only when the
    * FAST window burns hot (1-day > 2×) AND the SLOW window confirms
    * (trailing 7-day > 1×) — the two-window AND is what keeps pages
    * from flapping on a single bad hour while still catching sustained
    * burns early.
    *
    * Scale shape: one fact-proportional daily aggregate; the trailing
    * window is a RANGE frame over the integer epoch day on the
    * calendar-bounded daily frame (gap-correct where a rows-frame would
    * misalign across missing days); budget 0.25 is binary-exact. */
  def sloBurnRate(events: DataFrame, budget: Double = 0.25): DataFrame =
    burnReport(dailyErrorCounts(events), budget)

  /** The daily (eday, day, n_events, n_errors) frame q337 scores. */
  def dailyErrorCounts(events: DataFrame): DataFrame = events
    .groupBy(
      datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).as("eday"),
      date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
    .agg(
      count(lit(1)).as("n_events"),
      sum((col("event_type") === "error").cast("long")).as("n_errors"))

  /** Burn-rate scoring over a daily count frame (bounded by calendar). */
  def burnReport(daily: DataFrame, budget: Double = 0.25): DataFrame = {
    val w7 = Window.orderBy("eday").rangeBetween(-6, 0)
    daily
      .withColumn("e7", sum(col("n_errors")).over(w7))
      .withColumn("n7", sum(col("n_events")).over(w7))
      .withColumn("rate", col("n_errors") / col("n_events"))
      .withColumn("burn1", col("rate") / lit(budget))
      .withColumn("burn7", col("e7") / col("n7") / lit(budget))
      .select(
        col("day"), col("n_events"), col("n_errors"),
        round(col("rate"), 4).as("error_rate"),
        round(col("burn1"), 4).as("burn_1d"),
        round(col("burn7"), 4).as("burn_7d"),
        (col("burn1") > lit(2.0) && col("burn7") > lit(1.0)).as("page"))
      .orderBy("day")
  }

  /** q345: funnel BY EXPERIMENT ARM with a step-conversion z-test —
    * the readout an A/B test of a checkout flow actually ships: q76's
    * ordered view→click→purchase funnel computed per md5-parity arm,
    * plus a pooled two-proportion z (q231 discipline) on the
    * click→purchase conversion CONDITIONED on reaching click (testing
    * the unconditioned rate would mix upstream effects into the step
    * under test). One row per arm carries the funnel; the z repeats on
    * both rows (a 2-row frame has no better home for a scalar).
    *
    * Scale shape: three per-user min-timestamp aggregates (user-
    * cardinality frames, each smaller than the last), 2-row arm
    * aggregate, closed-form z. */
  def funnelByArm(events: DataFrame): DataFrame = {
    val armOf = graft.operators.Relational.hashArm(col("user_id"))
    def stage(tpe: String) = events.filter(col("event_type") === tpe).select("user_id", "ts")
    val v = stage("view").groupBy("user_id").agg(min("ts").as("v_ts"))
    val c = stage("click").join(broadcast(v), "user_id")
      .filter(col("ts") >= col("v_ts"))
      .groupBy("user_id").agg(min("ts").as("c_ts"))
    val p = stage("purchase").join(broadcast(c), "user_id")
      .filter(col("ts") >= col("c_ts"))
      .groupBy("user_id").agg(min("ts").as("p_ts"))
    val perArm = v.select(col("user_id"))
      .join(c.select(col("user_id"), lit(1).as("clicked")), Seq("user_id"), "left")
      .join(p.select(col("user_id"), lit(1).as("purchased")), Seq("user_id"), "left")
      .withColumn("arm", armOf)
      .groupBy("arm")
      .agg(
        count(lit(1)).as("n_view"),
        count(col("clicked")).as("n_click"),
        count(col("purchased")).as("n_purchase"))
    // pooled two-proportion z on purchase|click between the two arms
    val a = perArm.filter(col("arm") === "A")
      .select(col("n_click").as("ca"), col("n_purchase").as("pa"))
    val b = perArm.filter(col("arm") === "B")
      .select(col("n_click").as("cb"), col("n_purchase").as("pb"))
    val z = a.crossJoin(broadcast(b))
      .withColumn("ra", col("pa") / col("ca"))
      .withColumn("rb", col("pb") / col("cb"))
      .withColumn("rp", (col("pa") + col("pb")) / (col("ca") + col("cb")))
      .select(round(expr(
        "try_divide(ra - rb, sqrt(rp*(1-rp)*(1.0/ca + 1.0/cb)))"), 4).as("step_z"))
    perArm.crossJoin(broadcast(z))
      .select(
        col("arm"), col("n_view"), col("n_click"), col("n_purchase"),
        round(col("n_click") / col("n_view").cast("double"), 4).as("view_to_click"),
        round(col("n_purchase") / col("n_click").cast("double"), 4).as("click_to_purchase"),
        col("step_z"))
      .orderBy("arm")
  }

  /** q347: CART ABANDONMENT over 30-minute sessions — the
    * conversion-leak readout between q22 (session counts) and q76
    * (user-lifetime funnel): per session, did the user show intent
    * (click) and did the SAME session convert (purchase)? Lifetime
    * funnels overstate conversion (a purchase next week still counts);
    * the session cut is what checkout UX work is measured on.
    *
    * Scale shape: the q22 discipline — per-user lag + running-sum
    * windows assign session ids (user-partitioned, never data-sized in
    * one task), one (user, session) aggregate, then a scalar report.
    * (ts, event_id) ordering makes same-timestamp rows deterministic
    * in both engines. */
  def cartAbandonment(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val sess = events
      .select(col("user_id"), col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(
        Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))))
      .withColumn("new_sess",
        when(col("prev").isNull || col("us") - col("prev") > gapUs, 1).otherwise(0))
      .withColumn("sid", sum(col("new_sess")).over(
        Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(
        max(when(col("event_type") === "click", 1).otherwise(0)).as("intent"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchased"),
        count(lit(1)).as("n_events"))
    sess.agg(
      count(lit(1)).as("n_sessions"),
      sum(col("intent")).cast("long").as("n_intent"),
      sum(col("intent") * col("purchased")).cast("long").as("n_converted"),
      round(avg(col("n_events")), 4).as("avg_events_per_session"))
      .select(
        col("n_sessions"), col("n_intent"), col("n_converted"),
        col("avg_events_per_session"),
        round(lit(1.0) - col("n_converted") / col("n_intent").cast("double"), 4)
          .as("abandonment_rate"))
  }

  /** q351: NET REVENUE RETENTION by month — the SaaS-grade revenue
    * metric q208's growth accounting (user counts) does not give:
    * NRR(m) = revenue in m from customers who ALSO bought in m−1,
    * divided by those same customers' m−1 revenue — expansion and
    * contraction of the retained base, insulated from new-customer
    * noise (which a plain m/m−1 revenue ratio mixes in).
    *
    * Scale shape: one (customer, month) revenue aggregate, a month-
    * shifted self equi-join on (customer, month) — both sides the same
    * customer-month grain — then a #months-frame report. Month index
    * is integer year*12+month arithmetic (no engine date-diff
    * disagreements). */
  def netRevenueRetention(orders: DataFrame): DataFrame = {
    val cm = orders
      .groupBy(
        col("o_custkey").as("cust"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("mi"))
      .agg(round(moneySum(col("o_totalprice")), 4).as("rev"))
    val prev = cm.select(
      col("cust"), (col("mi") + 1).as("mi"), col("rev").as("prev_rev"))
    val joined = cm.join(prev, Seq("cust", "mi"))
    joined
      .groupBy("mi")
      .agg(
        count(lit(1)).as("n_retained_customers"),
        round(sum(col("rev")), 4).as("retained_rev"),
        round(sum(col("prev_rev")), 4).as("base_rev"))
      .select(
        concat(
          floor(col("mi") / 12).cast("long").cast("string"), lit("-"),
          lpad((pmod(col("mi"), lit(12)) + 1).cast("string"), 2, "0")).as("month"),
        col("n_retained_customers"), col("retained_rev"), col("base_rev"),
        round(col("retained_rev") / col("base_rev"), 4).as("nrr"))
      .orderBy("month")
  }

  /** q392: INTERVAL-OVERLAP self-join — which customers juggle orders
    * whose fulfillment windows (first→last shipment) overlap in time?
    * The interval×interval sibling of q45's point-in-interval range
    * join. The pair expansion is keyed on the CUSTOMER (an equi-join,
    * never a cartesian) and rides [[Skew.capPerKey]]: per-customer
    * order sets are naturally small, but a B2B whale with 10⁵ orders
    * would expand quadratically inside one task — the deterministic
    * hash-ranked cap (chosen far above any real per-customer degree, so
    * the result is exact at every tested SF; a binding cap is a
    * documented whale-only approximation, the q349 discipline) bounds
    * every task. Output is all-integer (engine-stable top-k). */
  def overlappingOrders(
      orders: DataFrame,
      lineitem: DataFrame,
      cap: Int = 1000,
      topN: Int = 50): DataFrame = {
    val win = lineitem.groupBy("l_orderkey")
      .agg(min("l_shipdate").as("s"), max("l_shipdate").as("e"))
    val ow = orders
      .join(win, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("o_orderkey").as("o"), col("s"), col("e"))
    val capped = Skew.capPerKey(ow, "cust", "o", cap)
    val pairs = capped.as("a").join(capped.as("b"),
      col("a.cust") === col("b.cust") && col("a.o") < col("b.o")
        && col("a.s") <= col("b.e") && col("b.s") <= col("a.e"))
    val perCust = pairs.groupBy(col("a.cust").as("o_custkey"))
      .agg(count(lit(1)).as("n_overlap_pairs"))
    val counts = ow.groupBy(col("cust").as("ck")).agg(count(lit(1)).as("n_orders"))
    perCust
      .join(counts, col("o_custkey") === col("ck"))
      .select(col("o_custkey"), col("n_orders"), col("n_overlap_pairs"))
      .orderBy(desc("n_overlap_pairs"), asc("o_custkey"))
      .limit(topN)
  }

  /** q417: cohort RETENTION TRIANGLE — the classic cohort ×
    * periods-since matrix (WEEK grain — the events table spans weeks,
    * and the week/month choice is one `trunc` argument) (q208's growth accounting nets flows; q238's
    * LTV sums money; this is the SHAPE of decay itself, the first chart
    * every growth review opens with): cohort = month of a user's first
    * event, one row per (cohort, weeks_since ≤ `maxWeeks`) with
    * active users and retention share. Shuffles: one distinct on
    * (user, month) — map-side combinable — a min-aggregate for cohort
    * assignment, a broadcast-sized cohort join (≤ #users keys on the
    * user-keyed side, cohort sizes ≤ #months rows), a final ≤
    * #months×maxMonths frame. */
  def retentionTriangle(events: DataFrame, maxWeeks: Int = 5): DataFrame = {
    val am = events
      .select(col("user_id"), trunc(col("ts").cast("date"), "week").as("am"))
      .distinct()
    val cohort = am.groupBy("user_id").agg(min("am").as("cm"))
    val sizes = cohort.groupBy("cm").agg(count(lit(1)).as("cohort_users"))
    am.join(cohort, Seq("user_id"))
      // both dates are Monday-truncated, so the day diff is an exact
      // multiple of 7 — integer weeks, no boundary convention to argue
      .withColumn("weeks_since", (datediff(col("am"), col("cm")) / 7).cast("long"))
      .filter(col("weeks_since") <= maxWeeks)
      .groupBy("cm", "weeks_since")
      .agg(count(lit(1)).as("active_users"))
      .join(broadcast(sizes), Seq("cm")) // ≤ #calendar-weeks rows
      .select(
        date_format(col("cm"), "yyyy-MM-dd").as("cohort_week"),
        col("weeks_since"),
        col("active_users"),
        col("cohort_users"),
        round(col("active_users") / col("cohort_users").cast("double"), 4).as("retention"))
      .orderBy("cohort_week", "weeks_since")
  }

  /** q421: AUDIENCE-OVERLAP MATRIX — q162 generalized from one pair to
    * the full event-type grid (the segmentation sanity check a growth
    * team reads as a heatmap: which behaviors share users, which are
    * disjoint populations): per ordered type pair, user jaccard =
    * |A∩B|/|A∪B| and the conditional p(b|a). Distinct (type, user)
    * incidence first (map-side combinable), then a user-keyed
    * self-join — data-proportional in incidence, never a user cross
    * join; the output frame is ≤ #types² rows (catalog-bounded). */
  def audienceMatrix(events: DataFrame): DataFrame = {
    val tu = events.select(col("event_type").as("t"), col("user_id").as("u")).distinct()
    val sizes = tu.groupBy("t").agg(count(lit(1)).as("n"))
    tu.select(col("t").as("t_a"), col("u"))
      .join(tu.select(col("t").as("t_b"), col("u")), Seq("u"))
      .filter(col("t_a") < col("t_b"))
      .groupBy("t_a", "t_b")
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(sizes.select(col("t").as("t_a"), col("n").as("n_a"))), Seq("t_a"))
      .join(broadcast(sizes.select(col("t").as("t_b"), col("n").as("n_b"))), Seq("t_b"))
      .select(col("t_a"), col("t_b"), col("n_a"), col("n_b"), col("n_both"),
        round(col("n_both") / (col("n_a") + col("n_b") - col("n_both")).cast("double"), 4)
          .as("jaccard"),
        round(col("n_both") / col("n_a").cast("double"), 4).as("p_b_given_a"))
      .orderBy("t_a", "t_b")
  }
}
