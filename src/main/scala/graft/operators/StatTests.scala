package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PortableRound.{money, moneySum, round}

/** Statistical-inference and time-series diagnostics over warehouse
  * tables — the "is this distribution what I think it is" toolkit that
  * sits next to the A/B harness (q171) in any experimentation or
  * data-quality stack:
  *
  *  - rank statistics (Gini, Kolmogorov–Smirnov, Mann–Whitney) ride the
  *    [[GlobalOrder]] range-bucket ranking, so the global sort every
  *    textbook formula assumes never plans a data-sized single reducer;
  *  - time-series diagnostics (ACF, EWMA, day-of-week seasonality)
  *    operate on the DAILY aggregate — a calendar-bounded frame (≤ a few
  *    thousand rows regardless of corpus size), where single-partition
  *    windows are the documented bounded idiom (q89/q136) and carry
  *    PlanSpec allowlist entries citing the bound;
  *  - Benford first-digit audit: a 9-row aggregate + expected-frequency
  *    comparison, the classic fraud/corruption screen.
  *
  * Every query has a DuckDB oracle; ranks order on raw stored doubles
  * (bit-identical across engines) or pre-rounded aggregates, with key
  * tie-breaks, so rankings are engine-stable.
  */
object StatTests {

  // "over the whole frame" — the literal partition key FOLDS AWAY in
  // Catalyst, so this plans as an unpartitioned window: only legal here
  // because every input is bounded by construction (9 digits, 7
  // weekdays, #calendar-days rows), never data-sized
  private val one = Window.partitionBy(lit(1))

  /** q181: autocorrelation of daily revenue at the given day lags. The
    * lag pairing is an equi-join of the daily aggregate with itself on
    * `day_index + lag` (day index from a fixed epoch, so calendar gaps
    * pair correctly) — no window, no cross join; `corr` is the one-pass
    * Pearson aggregate in both engines. */
  def autocorrelation(orders: DataFrame, lags: Seq[Int] = Seq(1, 2, 3, 7)): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(moneySum(col("o_totalprice")).as("rev"))
      .withColumn("di", datediff(col("d"), to_date(lit("1970-01-01"))))
    val lagged = daily
      .select(col("di"), col("rev").as("x"))
      .withColumn("lag", explode(array(lags.map(lit): _*)))
      .withColumn("jk", col("di") + col("lag"))
    lagged
      .join(daily.select(col("di").as("di_b"), col("rev").as("y")),
        col("jk") === col("di_b"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"), round(corr(col("x"), col("y")), 4).as("acf"))
      .orderBy("lag")
  }

  /** q182: Benford first-significant-digit audit of order totals — the
    * observed digit frequencies against log10(1+1/d), with the χ²
    * contribution per digit. One 9-row aggregate; the grand total rides
    * a constant-partitioned window over those 9 rows. */
  def benfordAudit(orders: DataFrame): DataFrame = {
    val expected = log10(lit(1.0) + lit(1.0) / col("digit"))
    orders
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("total", sum(col("n_orders")).over(one))
      .select(
        col("digit"), col("n_orders"),
        round(col("n_orders") / col("total") * 100, 4).as("pct_obs"),
        round(expected * 100, 4).as("pct_benford"),
        round(pow(col("n_orders") - col("total") * expected, 2)
          / (col("total") * expected), 4).as("chi_term"))
      .orderBy("digit")
  }

  /** q183: Gini coefficient of per-customer revenue — inequality of the
    * customer book. Needs every customer's global rank by revenue; that
    * rank comes from the [[GlobalOrder]] range-bucket scheme (no
    * single-reducer sort), then one scalar aggregate applies
    * G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n. Ranks order on the pre-rounded
    * revenue with key tie-break, so both engines rank identically. */
  def giniRevenue(orders: DataFrame): DataFrame = {
    val perCust = orders
      .groupBy(col("o_custkey"))
      .agg(round(moneySum(col("o_totalprice")), 4).as("rev"))
    GlobalOrder
      .withGlobalRowNumber(perCust, col("rev"), Seq("rev", "o_custkey"), "rn", "__tot")
      .agg(
        count(lit(1)).as("n_customers"),
        // exact 4dp-decimal mass (sf1: 3.75e11 double sum is order-dependent)
        round(sum(col("rev").cast("decimal(28,4)")).cast("double"), 4).as("total_revenue"),
        round(lit(2.0) * sum(col("rn") * col("rev")) / (count(lit(1)) * sum(col("rev")))
          - (count(lit(1)) + lit(1.0)) / count(lit(1)), 4).as("gini"))
  }

  /** q184: two-sample Kolmogorov–Smirnov statistic between the order
    * totals of two customer segments. D = max |F̂₁−F̂₂| evaluated at
    * every sample point via rank algebra over ONE merged ordering (the
    * q160 identity): rank the union, rank each side, then
    * "#other ≤ row" = rn_all − rn_side — three bucketed rankings and a
    * scalar max, no per-row correlated rescan. Values are raw stored
    * doubles, so the orderings agree bit-for-bit across engines. */
  def ksTest(
      orders: DataFrame,
      customer: DataFrame,
      segA: String = "BUILDING",
      segB: String = "MACHINERY"): DataFrame = {
    val seg = customer
      .filter(col("c_mktsegment").isInCollection(Seq(segA, segB)))
      .select(col("c_custkey"), when(col("c_mktsegment") === segA, 0).otherwise(1).as("side"))
    val vals = orders
      .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"), col("side"))
    // r11: one fused ranking pass (GlobalOrder.withCumSides) — for a
    // side-s row the old rn_s equals cum_s and __ns equals n_s, so the
    // per-row gap |cum_a/n_a − cum_b/n_b| is the identical value the
    // three-ranking form computed from either side (IEEE |x−y| = |y−x|)
    GlobalOrder.withCumSides(vals, col("v"), Seq("v", "side", "k"), "side")
      .select(col("n_a"), col("n_b"),
        abs(col("cum_a") / col("n_a") - col("cum_b") / col("n_b")).as("gap"))
      .agg(
        max(col("n_a")).as("n_a"),
        max(col("n_b")).as("n_b"),
        round(max(col("gap")), 4).as("ks_stat"))
  }

  /** q185: Mann–Whitney U (rank-sum) test between two order
    * priorities. Mid-ranks come from the union's global row numbers
    * averaged within each exact value (a window PARTITIONED by value —
    * tie groups only), then U and its normal-approximation z are one
    * scalar aggregate. */
  def mannWhitney(
      orders: DataFrame,
      prioA: String = "1-URGENT",
      prioB: String = "5-LOW"): DataFrame = {
    val vals = orders
      .filter(col("o_orderpriority").isInCollection(Seq(prioA, prioB)))
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"),
        when(col("o_orderpriority") === prioA, 0).otherwise(1).as("side"))
    val ranked = GlobalOrder.withGlobalRowNumber(
      vals, col("v"), Seq("v", "side", "k"), "rn", "__tot")
    val n1 = sum(when(col("side") === 0, 1L).otherwise(0L))
    val n2 = sum(when(col("side") === 1, 1L).otherwise(0L))
    val r1 = sum(when(col("side") === 0, col("mid")).otherwise(0.0))
    val u = r1 - n1 * (n1 + lit(1.0)) / 2
    ranked
      .withColumn("mid", avg(col("rn")).over(Window.partitionBy("v")))
      .agg(
        n1.as("n_a"), n2.as("n_b"),
        round(u, 4).as("u_stat"),
        round((u - n1 * n2 / lit(2.0))
          / sqrt(n1 * n2 * (n1 + n2 + lit(1.0)) / lit(12.0)), 4).as("z_stat"))
  }

  /** q186: day-of-week seasonality index — average order value per
    * weekday against the overall average (×100). Dow is emitted on the
    * DuckDB convention (0 = Sunday) so both engines bucket identically;
    * the overall average rides the constant-partitioned window over the
    * 7-row aggregate. */
  def dowSeasonality(orders: DataFrame): DataFrame =
    orders
      .groupBy((dayofweek(to_date(col("o_orderdate"))) - 1).as("dow"))
      // exact decimal mass (sf1: per-dow double sums at 5e10 are
      // summation-order-dependent past the 4dp display); the window
      // algebra below runs on the identical-everywhere double cast
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("revenue"))
      .withColumn("overall",
        sum(col("revenue")).over(one) / sum(col("n_orders")).over(one))
      .select(
        col("dow"), col("n_orders"),
        round(col("revenue"), 4).as("revenue"),
        round(col("revenue") / col("n_orders") / col("overall") * 100, 4)
          .as("seasonality_idx"))
      .orderBy("dow")

  /** q194: additive seasonal decomposition of daily revenue (the
    * classical-decomposition core of STL): trend = centered 29-day
    * moving average over the calendar-bounded daily frame (edge days
    * average their partial frame — identical convention in the oracle),
    * seasonal = per-weekday mean of the detrended series, residual =
    * observed − trend − seasonal. The trend window is the bounded
    * q89/q136 idiom; the seasonal window partitions by weekday. The
    * residual is the de-noised anomaly signal q87 thresholds. */
  def stlDecompose(orders: DataFrame, halfWindow: Int = 14): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(moneySum(col("o_totalprice")).as("rev"))
    val trendW = Window.orderBy("d").rowsBetween(-halfWindow, halfWindow)
    val dowW = Window.partitionBy("dow")
    daily
      .withColumn("trend", avg(col("rev")).over(trendW))
      .withColumn("dow", dayofweek(col("d")) - 1)
      .withColumn("seasonal", avg(col("rev") - col("trend")).over(dowW))
      .select(
        date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("dow"),
        round(col("rev"), 4).as("rev"),
        round(col("trend"), 4).as("trend"),
        round(col("seasonal"), 4).as("seasonal"),
        round(col("rev") - col("trend") - col("seasonal"), 4).as("residual"))
      .orderBy("day")
  }

  /** q204: STL-residual anomaly days — the de-noised dual of q87's raw
    * z-score: after q194's decomposition removes trend and weekday
    * seasonality, a day is anomalous when its residual sits more than
    * `zThresh`σ from the residual mean. Trend/seasonality that would
    * mask (or fake) anomalies in the raw series are already gone, which
    * is the whole point of testing the residual. The residual moments
    * ride the bounded-frame window over the calendar-days table. */
  def stlAnomalies(orders: DataFrame, zThresh: Double = 3.0, halfWindow: Int = 14): DataFrame = {
    val decomposed = stlDecompose(orders, halfWindow)
    decomposed
      .withColumn("mu", avg(col("residual")).over(one))
      .withColumn("sigma", stddev_samp(col("residual")).over(one))
      .withColumn("z", (col("residual") - col("mu")) / col("sigma"))
      .filter(abs(col("z")) > zThresh)
      .select(col("day"), col("rev"), col("residual"), round(col("z"), 4).as("z"))
      .orderBy("day")
  }

  /** q196: Poisson-bootstrap confidence interval for the mean order
    * total — THE scalable bootstrap: independent Poisson(1) resample
    * weights replace the multinomial draw (which needs global
    * coordination), so every replicate is a weighted mean computable in
    * the SAME map-side pass. Weights come from a deterministic
    * per-(row, replicate) hash uniform pushed through the Poisson(1)
    * inverse CDF (a literal CASE ladder — P(k>7) < 1e-5 truncates), so
    * reruns and engines agree bit-for-bit. The uniform is the md5
    * idiom (first 8 hex chars of md5("orderkey-replicate") → [0,2³²)),
    * the same replayable source q105/q234 oracle — which is what makes
    * this query ORACLE-CHECKABLE: DuckDB replays the identical weights,
    * so the whole resample is cross-engine deterministic. The replicate
    * fan-out is map-side (explode → partial agg); the shuffle carries
    * `b` moment rows, never b× the data. */
  def bootstrapCi(orders: DataFrame, b: Int = 200): DataFrame = {
    // Poisson(1) inverse CDF thresholds: cumulative e^{-1}·Σ 1/k!
    val cum = {
      val e = math.exp(-1.0)
      var acc = 0.0; var fact = 1.0
      (0 to 7).map { k =>
        if (k > 0) fact *= k
        acc += e / fact
        acc
      }
    }
    val u = (conv(substring(md5(concat_ws("-",
      col("o_orderkey").cast("string"), col("r").cast("string"))), 1, 8), 16, 10)
      .cast("double") + 0.5) / 4294967296.0
    // CASE ladder must test the SMALLEST threshold first → fold the
    // thresholds largest-first so k=0's test ends up outermost
    val weight = cum.zipWithIndex.reverse.foldLeft(lit(8)) { case (acc, (c, k)) =>
      when(u < c, k).otherwise(acc)
    }
    val replicates = orders
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("r", explode(sequence(lit(1), lit(b))))
      .withColumn("w", weight.cast("double"))
      .groupBy("r")
      .agg((sum(col("w") * col("o_totalprice")) / sum(col("w"))).as("boot_mean"))
    val base = orders.agg(
      count(lit(1)).as("n"),
      avg(col("o_totalprice")).as("mean"),
      (stddev_samp(col("o_totalprice")) / sqrt(count(lit(1)))).as("se_analytic"))
    replicates
      .agg(
        count(lit(1)).as("n_replicates"),
        stddev_samp(col("boot_mean")).as("se_boot"),
        expr("percentile(boot_mean, 0.025)").as("ci_lo"),
        expr("percentile(boot_mean, 0.975)").as("ci_hi"))
      .crossJoin(base)
      .select(
        col("n"), col("n_replicates"),
        round(col("mean"), 4).as("mean"),
        round(col("se_analytic"), 4).as("se_analytic"),
        round(col("se_boot"), 4).as("se_boot"),
        round(col("ci_lo"), 4).as("ci_lo"),
        round(col("ci_hi"), 4).as("ci_hi"))
  }

  /** q281: Holt linear-trend smoothing (double exponential smoothing)
    * of daily revenue, with the one-step-ahead forecast and its error —
    * the trend-aware upgrade of q187's level-only EWMA and the model
    * q243's seasonal-naive backtest is usually compared against.
    * Recurrence (standard Holt): ℓₜ = α·yₜ + (1−α)(ℓₜ₋₁+bₜ₋₁),
    * bₜ = β(ℓₜ−ℓₜ₋₁) + (1−β)bₜ₋₁, forecast fₜ = ℓₜ₋₁+bₜ₋₁; init
    * ℓ₁ = y₁, b₁ = 0, f₁ = y₁.
    *
    * Scale shape: the day table is CALENDAR-bounded (a century is
    * ~36.5k rows at any corpus size), so after the one fact-proportional
    * daily aggregate the coupled recurrence runs driver-side — the
    * q119/q191 bounded-driver-math discipline; the two recurrences are
    * NOT window-expressible and their closed form (2×2 matrix powers)
    * is float-divergent across engines, while the sequential form is
    * bit-reproducible: α and β are exact binary fractions (0.25, 0.125)
    * so `1−α` is exactly representable and the DuckDB recursive-CTE
    * oracle replays the identical IEEE operation sequence. Daily revenue
    * is 4-decimal-rounded BEFORE the recurrence (summation-order
    * discipline); state stays unrounded, outputs round. */
  def holtForecast(orders: DataFrame, alpha: Double = 0.25, beta: Double = 0.125): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(round(moneySum(col("o_totalprice")), 4).as("rev"))
      .orderBy("d")
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"), col("rev"))
      .as[(String, Double)].collect()
    var l = 0.0
    var b = 0.0
    val rows = daily.zipWithIndex.map { case ((day, y), i) =>
      val fc = if (i == 0) y else l + b
      if (i == 0) { l = y; b = 0.0 }
      else {
        val lNew = alpha * y + (1.0 - alpha) * (l + b)
        val bNew = beta * (lNew - l) + (1.0 - beta) * b
        l = lNew; b = bNew
      }
      (day, y, r4(l), r4(b), r4(fc), r4(y - fc))
    }
    rows.toSeq.toDF("day", "rev", "level", "trend", "forecast", "err").orderBy("day")
  }

  /** q298: additive Holt–Winters (triple exponential smoothing) of
    * daily revenue with a weekly season — the seasonal completion of
    * the forecasting family: q187 smooths level, q281 adds trend, this
    * adds the 7-day cycle that retail/traffic series actually carry
    * (and that q243's seasonal-naive backtest uses as its baseline).
    * Recurrence: fₜ = ℓ+b+s₍ₜ₋₇₎; ℓ' = α(yₜ−s₍ₜ₋₇₎)+(1−α)(ℓ+b);
    * b' = β(ℓ'−ℓ)+(1−β)b; s' = γ(yₜ−ℓ')+(1−γ)s₍ₜ₋₇₎. Init over the
    * first week: ℓ = mean(y₁..y₇) summed left-to-right, b = 0,
    * sᵢ = yᵢ−ℓ; emission starts at day 8.
    *
    * Scale/portability: q281's discipline exactly — the daily frame is
    * calendar-bounded so the coupled recurrence folds driver-side;
    * α,β,γ are exact binary fractions (0.25, 0.125, 0.25) so 1−α is
    * representable and the DuckDB recursive-CTE oracle (carrying the
    * 7-slot seasonal ring as a LIST) replays the identical IEEE
    * sequence. Daily revenue is 4dp-rounded BEFORE the fold; state
    * stays unrounded; outputs round. */
  def holtWinters(
      orders: DataFrame,
      alpha: Double = 0.25,
      beta: Double = 0.125,
      gamma: Double = 0.25,
      period: Int = 7): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(round(moneySum(col("o_totalprice")), 4).as("rev"))
      .orderBy("d")
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"), col("rev"))
      .as[(String, Double)].collect()
    if (daily.length <= period) {
      Seq.empty[(String, Double, Double, Double, Double, Double, Double)]
        .toDF("day", "rev", "level", "trend", "seasonal", "forecast", "err")
    } else {
      // left-to-right week sum, mirrored term-by-term in the oracle
      var l = daily.take(period).map(_._2).foldLeft(0.0)(_ + _) / period.toDouble
      var b = 0.0
      var ring = daily.take(period).map(_._2 - l).toVector
      val rows = daily.drop(period).map { case (day, y) =>
        val sHead = ring.head
        val fc = l + b + sHead
        val lNew = alpha * (y - sHead) + (1.0 - alpha) * (l + b)
        val bNew = beta * (lNew - l) + (1.0 - beta) * b
        val sNew = gamma * (y - lNew) + (1.0 - gamma) * sHead
        l = lNew; b = bNew; ring = ring.tail :+ sNew
        (day, y, r4(lNew), r4(bNew), r4(sNew), r4(fc), r4(y - fc))
      }
      rows.toSeq.toDF("day", "rev", "level", "trend", "seasonal", "forecast", "err")
        .orderBy("day")
    }
  }

  /** q315: split-conformal prediction intervals for the Holt forecast
    * (q281) — the distribution-free calibration layer every deployed
    * forecaster needs: on a calibration window the |error| order
    * statistic at rank ⌈0.9·(n+1)⌉ becomes the half-width q̂ with a
    * FINITE-SAMPLE ≥90% coverage guarantee (no normality assumption —
    * exactly what revenue series violate), then the held-out tail
    * reports observed coverage. The order statistic is an exact integer
    * rank (no quantile interpolation), so both engines select the
    * identical calibration error.
    *
    * Scale: rides q281's calendar-bounded daily frame — every window
    * here is over ≤ #days rows (the q89/q136 bounded idiom); the split
    * sizes and q̂ are 1-row scalars. */
  def conformalForecast(
      orders: DataFrame,
      calFrac: Double = 0.6,
      target: Double = 0.9): DataFrame = {
    val hf = holtForecast(orders) // day, rev, level, trend, forecast, err (4dp)
    val withRn = hf.withColumn("rn", row_number().over(one.orderBy("day")))
    val nn = hf.agg(count(lit(1)).as("n"))
    val kk = nn
      .withColumn("ncal", floor(lit(calFrac) * (col("n") - 1)).cast("long"))
      .withColumn("k", ceil(lit(target) * (col("ncal") + 1)).cast("long"))
    val sized = withRn.crossJoin(broadcast(kk)) // 1-row split-size scalar
    // calibration: days 2..ncal+1 (day 1's forecast is the trivial init)
    val cal = sized
      .filter(col("rn") >= 2 && col("rn") <= col("ncal") + 1)
      .select(abs(col("err")).as("s"), col("day"), col("k"))
    val qhat = cal
      .withColumn("rk", row_number().over(one.orderBy("s", "day")))
      .filter(col("rk") === col("k"))
      .select(col("s").as("qhat"))
    sized
      .filter(col("rn") > col("ncal") + 1)
      .crossJoin(broadcast(qhat)) // 1-row scalar
      .agg(
        max("n").as("n_days"),
        max("ncal").as("n_cal"),
        count(lit(1)).as("n_test"),
        round(max("qhat"), 4).as("qhat"),
        round(count(when(abs(col("err")) <= col("qhat"), lit(1)))
          .cast("double") / count(lit(1)), 4).as("coverage"))
  }

  /** q318: metric correlation matrix — pairwise Pearson correlation of
    * the DAILY COUNT series of every event-type pair (which product
    * metrics move together / which decouple — the first screen before
    * any causal story, and the generalization of q232's single rolling
    * pair to the full matrix). Day-aligned via a dense (day × type)
    * pivot with zero-fill — a missing day is a 0-count day, not a
    * missing observation (dropping it would bias every correlation
    * toward busy days).
    *
    * Scale: one fact-proportional groupBy to the (day, type) frame,
    * dense-filled against the bounded day×type grid, then #types²/2
    * corr aggregates over the calendar-bounded frame. */
  def metricCorrMatrix(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val days = daily.select("d").distinct()
    val types = daily.select("event_type").distinct()
    val dense = days.crossJoin(types) // calendar × #types: bounded grid
      .join(daily, Seq("d", "event_type"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val pairs = dense.as("a")
      .join(dense.as("b"),
        col("a.d") === col("b.d") && col("a.event_type") < col("b.event_type"))
    pairs
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(
        count(lit(1)).as("n_days"),
        round(corr(col("a.n"), col("b.n")), 4).as("pearson_r"))
      .orderBy("type_a", "type_b")
  }

  /** q319: per-brand return rates with Wilson score intervals — the
    * ranking-safe proportion CI (the naive Wald interval collapses at
    * small n and p near 0, exactly where return-rate outliers live, and
    * ranking brands by raw share crowns whoever has the least data):
    * per part brand, the returned-line share (`l_returnflag = 'R'`)
    * with 95% Wilson bounds, z = 1.96 — rank by `wilson_lo` for an
    * under-the-noise-floor-safe "worst brands" list. One broadcast dim
    * join + one bounded aggregate + closed-form algebra. */
  def wilsonReturnRates(lineitem: DataFrame, part: DataFrame, z: Double = 1.96): DataFrame = {
    val agg = lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        count(when(col("l_returnflag") === "R", lit(1))).as("k"))
    val p = col("k").cast("double") / col("n")
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / col("n")
    val center = p + z2 / (lit(2.0) * col("n"))
    val spread = lit(z) * sqrt(p * (lit(1.0) - p) / col("n")
      + z2 / (lit(4.0) * col("n") * col("n")))
    agg.select(
      col("p_brand"), col("n"), col("k"),
      round(p, 4).as("share"),
      round((center - spread) / denom, 4).as("wilson_lo"),
      round((center + spread) / denom, 4).as("wilson_hi"))
      .orderBy("p_brand")
  }

  /** q187: exponentially weighted moving average of daily revenue
    * (α = 0.1), the smoothing dual of q136's flat moving average. The
    * recurrence sₜ = αxₜ + (1−α)sₜ₋₁ unrolls to a closed-form weighted
    * sum over a bounded `horizon` of prior days (weights beyond 80 days
    * are < 2·10⁻⁴ of a term and are truncated IDENTICALLY in the
    * oracle); the pairing is an equi-join of the calendar-bounded daily
    * frame with itself on `day_rank − offset`, offsets exploded — no
    * non-equi join, no quadratic window. */
  def ewmaDaily(orders: DataFrame, alpha: Double = 0.1, horizon: Int = 80): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      // exact daily feed: the recursion's INPUTS must be bit-identical
      // across engines or every downstream term inherits the drift
      .agg(round(moneySum(col("o_totalprice")), 4).as("rev"))
      .withColumn("rn", row_number().over(one.orderBy("d")))
    val decay = pow(lit(1.0 - alpha), col("o"))
    val weight = when(col("jk") === 1, decay).otherwise(lit(alpha) * decay)
    daily
      .withColumn("o", explode(sequence(lit(0), least(lit(horizon), col("rn") - 1))))
      .withColumn("jk", col("rn") - col("o"))
      .join(daily.select(col("rn").as("rn_b"), col("rev").as("x")),
        col("jk") === col("rn_b"))
      .withColumn("term", weight * col("x"))
      .groupBy(col("d"), col("rev"))
      // ≤81 identical double terms, folded EXACTLY so group-hash
      // iteration order can't move the 4dp display (sf1 lesson)
      .agg(round(sum(col("term").cast("decimal(30,12)")).cast("double"), 4).as("ewma"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"), col("rev"), col("ewma"))
      .orderBy("day")
  }

  /** q221: Kaplan–Meier survival curve over customer lifetimes — the
    * censoring-aware answer to "how long do customers stay" that a
    * plain lifetime histogram gets wrong (customers still active at the
    * corpus edge haven't finished their lifetime; treating them as
    * complete biases the curve down). Lifetime = first→last order in
    * 30-day months; death = churn (last order more than `churnDays`
    * before the corpus end), still-recent customers are CENSORED at
    * their observed lifetime.  S(t) = Π_{u≤t} (1 − d_u/n_u), computed
    * as exp∘Σ∘ln over the cumulative frame with an explicit zero-factor
    * guard (ln(0) diverges between engines).
    *
    * Scale shape: one customer-grain aggregate (fact-proportional),
    * 1-row broadcast corpus-end and total scalars, then every window
    * runs over the ≤#months frame — calendar-bounded, the q89/q183
    * idiom. */
  def kaplanMeier(orders: DataFrame, churnDays: Int = 365): DataFrame = {
    val u = orders.groupBy("o_custkey")
      .agg(min("o_orderdate").as("f"), max("o_orderdate").as("l"))
    val endd = orders.agg(max("o_orderdate").as("endd"))
    val life = u.crossJoin(broadcast(endd))
      .select(
        floor(datediff(col("l"), col("f")) / lit(30.0)).cast("long").as("t"),
        (datediff(col("endd"), col("l")) > churnDays).cast("int").as("churned"))
    val byT = life.groupBy("t").agg(count(lit(1)).as("n_t"), sum("churned").as("d"))
    val total = byT.agg(sum("n_t").as("n_users"))
    val wPrev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .crossJoin(broadcast(total))
      .withColumn("at_risk", col("n_users") - coalesce(sum("n_t").over(wPrev), lit(0L)))
      .withColumn("factor", lit(1.0) - col("d") / col("at_risk"))
      .withColumn("survival",
        when(min("factor").over(wCum) === 0.0, lit(0.0))
          .otherwise(round(exp(sum(log(col("factor"))).over(wCum)), 4)))
      .select(
        col("t").as("lifetime_months"), col("at_risk"),
        col("d").as("n_churned"), (col("n_t") - col("d")).as("n_censored"),
        col("survival"))
      .orderBy("lifetime_months")
  }

  /** q222: CUSUM mean-shift monitor on daily revenue (the
    * control-chart sibling of q87's z-scores and q204's STL residuals —
    * CUSUM accumulates small persistent drifts a per-day threshold
    * never sees). The textbook recursion S_t = max(0, S_{t-1} + x_t −
    * μ − k) is sequential, but it has the closed form
    * S_t = C_t − min(0, min_{u≤t} C_u) with C the plain cumulative sum
    * of (x − μ − k) — two running windows over the calendar-day frame,
    * fully parallel. Slack k = σ/2 and alarm h = 4σ are the standard
    * tuning. Reported per month (max excursion + alarm flag) so the
    * output is a bounded, never-empty monitor table. */
  def cusumDrift(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(moneySum(col("o_totalprice")).as("x"))
    val stats = daily.agg(
      avg("x").as("mu"), stddev_samp(col("x")).as("sigma"))
    val wCum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .crossJoin(broadcast(stats))
      .withColumn("c", sum(col("x") - col("mu") - col("sigma") / 2).over(wCum))
      .withColumn("s", col("c") - least(lit(0.0), min("c").over(wCum)))
      .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
      .agg(
        count(lit(1)).as("n_days"),
        round(max(col("s") / col("sigma")), 4).as("max_excursion_sigmas"),
        max((col("s") > col("sigma") * 4).cast("int")).as("alarm"))
      .orderBy("month")
  }

  /** q226: one-way ANOVA variance decomposition — how much of the daily
    * revenue variance the weekday explains (η² = SSB/SST) with the F
    * statistic, the quantitative follow-up to q186's per-weekday means
    * ("weekday matters" becomes a number). Day-grain aggregate first,
    * then the sums of squares combine from 7 per-group moment rows and
    * a 1-row broadcast grand mean — textbook SSW = Σ(nᵍ−1)·varᵍ,
    * SSB = Σ nᵍ(meanᵍ−x̄)², never a second pass over days. Weekday
    * numbering differs across engines but any 1:1 labeling partitions
    * the days identically, so the decomposition is engine-exact. */
  def weekdayAnova(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(moneySum(col("o_totalprice")).as("x"))
      .withColumn("wd", dayofweek(col("day")))
    val grand = daily.agg(avg("x").as("gm"), count(lit(1)).as("n"))
    daily
      .groupBy("wd")
      .agg(count(lit(1)).as("ng"), avg("x").as("mg"), var_samp(col("x")).as("vg"))
      .crossJoin(broadcast(grand))
      .agg(
        max("n").as("n_days"),
        count(lit(1)).as("k"),
        sum((col("ng") - 1) * col("vg")).as("ssw"),
        sum(col("ng") * pow(col("mg") - col("gm"), 2)).as("ssb"))
      .select(
        col("n_days"), col("k"),
        round(col("ssb") / (col("ssb") + col("ssw")), 4).as("eta_sq"),
        // try_divide: an exact-constant weekday (SSW = 0) must degrade
        // to null, not an ANSI divide-by-zero abort
        round(expr("try_divide(ssb/(k-1), ssw/(n_days-k))"), 4).as("f_stat"))
  }

  /** q356: Weibull lead-time fit per order priority — the reliability
    * engineer's view of fulfillment ("is slow shipping a heavy tail or
    * a shifted mode"): shape k < 1 means lead times front-load with a
    * long tail, k > 1 means a characteristic delay. Fit by MEDIAN-RANK
    * REGRESSION (Benard's approximation), the standard closed-form
    * Weibull estimator: F_i = (i − 0.3)/(n + 0.4) at the cumulative
    * rank, then OLS of ln(−ln(1−F)) on ln(t) — slope = shape, scale =
    * exp(−intercept/slope).
    *
    * Scale shape: lead times are CALENDAR-BOUNDED integers (days), so
    * the fit collapses to VALUE GRAIN first — one (priority, t) count
    * aggregate, then a ≤#distinct-days window per priority (bounded
    * frame, the q89 idiom) for cumulative ranks, then a closed-form
    * weighted OLS per priority. No row-grain ranking is ever planned;
    * the last-rank convention per distinct t (cum count) with weight =
    * count is the grouped-data median-rank form. */
  def weibullLeadTime(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val t = lineitem.select(col("l_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        col("o_orderpriority").as("prio"),
        (datediff(col("l_shipdate"), col("o_orderdate")) + 1).cast("double").as("t"))
      .filter(col("t") >= 1.0) // ln needs t > 0; same-day ships land at t=1
    val grouped = t.groupBy("prio", "t").agg(count(lit(1)).as("nt"))
    val totals = grouped.groupBy("prio").agg(sum("nt").as("n"))
    val w = Window.partitionBy("prio").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = grouped
      .join(broadcast(totals), "prio") // #priorities rows
      .withColumn("cum", sum("nt").over(w))
      .withColumn("fr", (col("cum") - lit(0.3)) / (col("n") + lit(0.4)))
      .withColumn("x", log(col("t")))
      .withColumn("y", log(-log(lit(1.0) - col("fr"))))
    pts.groupBy("prio")
      .agg(
        max(col("n")).as("n"),
        sum("nt").as("sw"),
        sum(col("nt") * col("x")).as("swx"),
        sum(col("nt") * col("y")).as("swy"),
        sum(col("nt") * col("x") * col("x")).as("swxx"),
        sum(col("nt") * col("y") * col("y")).as("swyy"),
        sum(col("nt") * col("x") * col("y")).as("swxy"))
      .withColumn("sxx", col("swxx") - col("swx") * col("swx") / col("sw"))
      .withColumn("syy", col("swyy") - col("swy") * col("swy") / col("sw"))
      .withColumn("sxy", col("swxy") - col("swx") * col("swy") / col("sw"))
      // a single distinct lead time (sxx = 0) can't identify a shape —
      // lazy CaseWhen, never an ANSI divide-by-zero
      .withColumn("shape", when(col("sxx") === 0.0, lit(null))
        .otherwise(col("sxy") / col("sxx")))
      .withColumn("intercept", (col("swy") - col("shape") * col("swx")) / col("sw"))
      .select(
        col("prio").as("o_orderpriority"),
        col("n"),
        round(col("shape"), 4).as("shape_k"),
        round(when(col("shape").isNull || col("shape") === 0.0, lit(null))
          .otherwise(exp(-col("intercept") / col("shape"))), 4).as("scale_days"),
        round(when(col("syy") === 0.0 || col("sxx") === 0.0, lit(null))
          .otherwise(col("sxy") * col("sxy") / (col("sxx") * col("syy"))), 4).as("r2"))
      .orderBy("o_orderpriority")
  }

  /** q357: Kruskal–Wallis rank test — "do order priorities draw from
    * the same price distribution" without normality assumptions (the
    * nonparametric one-way ANOVA; q226 is its parametric sibling).
    * Global AVERAGE ranks ride [[GlobalOrder.withGlobalRowNumber]]
    * (range-bucketed — no data-sized single-reducer sort) with tie
    * groups collapsed to min(rn) + (cnt−1)/2 by one aggregate on the
    * tie key (the q321 discipline); H gets the standard tie correction
    * 1 − Σ(t³−t)/(N³−N). */
  def kruskalWallis(orders: DataFrame): DataFrame = {
    val ranked = GlobalOrder.withGlobalRowNumber(
      orders.select(col("o_orderpriority").as("grp"), col("o_totalprice").as("v"), col("o_orderkey")),
      col("v"), Seq("v", "o_orderkey"), rnCol = "rn", totalCol = "tot")
    val tieAvg = ranked.groupBy("v")
      .agg(min("rn").as("mn"), count(lit(1)).as("cnt"))
      .select(col("v"),
        (col("mn") + (col("cnt") - 1) / lit(2.0)).as("avgrank"),
        col("cnt"))
    val perGroup = ranked.join(tieAvg, "v")
      .groupBy("grp")
      .agg(count(lit(1)).as("ng"), sum("avgrank").as("rg"))
    val ties = tieAvg.agg(
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie3"))
    perGroup
      .agg(
        sum("ng").as("n"),
        count(lit(1)).as("k"),
        sum(col("rg") * col("rg") / col("ng")).as("srq"))
      .crossJoin(broadcast(ties)) // 1-row scalar
      .withColumn("h",
        lit(12.0) / (col("n") * (col("n") + 1)) * col("srq") - lit(3.0) * (col("n") + 1))
      .withColumn("c",
        lit(1.0) - col("tie3") / (col("n") * col("n") * col("n") - col("n")))
      .select(
        col("n"), col("k"),
        round(col("h"), 4).as("h"),
        round(when(col("c") === 0.0, lit(null)).otherwise(col("h") / col("c")), 4)
          .as("h_tie_corrected"))
  }

  /** q358: Brown–Forsythe test — "do order priorities have the same
    * price SPREAD" (variance homogeneity, the precondition q226's ANOVA
    * quietly assumes): one-way ANOVA on z = |x − group median|. The
    * median variant (vs Levene's mean) is the robust standard. One
    * exact-percentile aggregate per group (#groups rows, broadcast
    * back), then the q226 ssb/ssw algebra on z. */
  def brownForsythe(orders: DataFrame): DataFrame = {
    val meds = orders.groupBy(col("o_orderpriority").as("grp"))
      .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
    val z = orders.select(col("o_orderpriority").as("grp"), col("o_totalprice").as("x"))
      .join(broadcast(meds), "grp")
      .withColumn("z", abs(col("x") - col("med")))
    val grand = z.agg(avg("z").as("gm"), count(lit(1)).as("n"))
    z.groupBy("grp")
      .agg(count(lit(1)).as("ng"), avg("z").as("mg"), var_samp(col("z")).as("vg"))
      .crossJoin(broadcast(grand))
      .agg(
        max("n").as("n"),
        count(lit(1)).as("k"),
        sum((col("ng") - 1) * col("vg")).as("ssw"),
        sum(col("ng") * pow(col("mg") - col("gm"), 2)).as("ssb"))
      .select(
        col("n"), col("k"),
        round(expr("try_divide(ssb/(k-1), ssw/(n-k))"), 4).as("f_stat"))
  }

  /** q361: GUMBEL block-extremes fit over daily maxima — "what order
    * value should we expect once a month / once a year" (capacity
    * planning for the fraud/large-order review queue; the
    * extreme-value complement of q355's in-distribution fences):
    * method-of-moments Gumbel fit (β = s√6/π, μ = m − γβ) over the
    * daily-max frame, with return levels μ − β·ln(−ln(1−1/T)).
    * Calendar-bounded: one (day, max) aggregate, one moment pass —
    * the q89/q181 daily-frame idiom. */
  def gumbelExtremes(orders: DataFrame): DataFrame = {
    val gamma = 0.5772156649015329 // Euler–Mascheroni
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(max("o_totalprice").as("mx"))
    daily
      .agg(count(lit(1)).as("n_days"), avg("mx").as("m"), stddev_samp(col("mx")).as("s"))
      .withColumn("beta", col("s") * math.sqrt(6.0) / math.Pi)
      .withColumn("mu", col("m") - lit(gamma) * col("beta"))
      .select(
        col("n_days"),
        round(col("mu"), 4).as("mu"),
        round(col("beta"), 4).as("beta"),
        round(col("mu") - col("beta") * log(-log(lit(1.0) - lit(1.0 / 30))), 4)
          .as("rl_30d"),
        round(col("mu") - col("beta") * log(-log(lit(1.0) - lit(1.0 / 100))), 4)
          .as("rl_100d"),
        round(col("mu") - col("beta") * log(-log(lit(1.0) - lit(1.0 / 365))), 4)
          .as("rl_365d"))
  }

  /** q363: LJUNG–BOX portmanteau test on daily revenue — "is there ANY
    * autocorrelation left" in one number (q181 shows the per-lag
    * picture; this is the gate a forecast-residual check needs):
    * Q = n(n+2) Σ_{k≤m} ρ̂k²/(n−k) with the CLASSICAL fixed-mean ACF
    * ρ̂k = Σ(x_t−x̄)(x_{t+k}−x̄)/Σ(x_t−x̄)² (q181's pairwise corr is a
    * different estimator — documented, not interchangeable). Day-index
    * equi-join per lag over the calendar-bounded daily frame; the
    * global mean/variance attach via the 1-row broadcast scalar. */
  def ljungBox(orders: DataFrame, maxLag: Int = 7): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(moneySum(col("o_totalprice")).as("rev"))
      .withColumn("di", datediff(col("day"), lit("1970-01-01").cast("date")))
    // two-pass: mean first (1 row), then the centered series
    val mean = daily.agg(avg("rev").as("xbar"), count(lit(1)).as("n"))
    val centered = daily.crossJoin(broadcast(mean))
      .select(col("di"), (col("rev") - col("xbar")).as("c"), col("n"))
    val denom = centered.agg(sum(col("c") * col("c")).as("ss"), max("n").as("nd"))
    val lagDf = daily.sparkSession.range(1, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    centered.as("a")
      .crossJoin(broadcast(lagDf))
      .join(centered.as("b"), col("a.di") + col("lag") === col("b.di"))
      .groupBy("lag")
      .agg(sum(col("a.c") * col("b.c")).as("num"))
      .crossJoin(broadcast(denom)) // 1-row scalar
      .select(col("lag"), (col("num") / col("ss")).as("rho"), col("nd"))
      .agg(
        max("nd").as("n_days"),
        count(lit(1)).as("m_lags"),
        sum(col("rho") * col("rho") / (col("nd") - col("lag"))).as("srho"),
        max("nd").as("nn"))
      .select(
        col("n_days"),
        col("m_lags"),
        round(col("nn") * (col("nn") + 2) * col("srho"), 4).as("q_stat"))
  }

  /** q365: COCHRAN–ARMITAGE trend test — "does the return RATE rise
    * with order size" (a dose-response question chi-square can't
    * answer: q126 detects ANY association, this detects the ordered
    * trend, with more power when the trend is real). Doses = quantity
    * buckets ⌈q/10⌉ scored by their index; Z = Σwᵢ(rᵢ − nᵢp̄) /
    * √(p̄(1−p̄)(Σwᵢ²nᵢ − (Σwᵢnᵢ)²/N)). One (bucket) contingency
    * aggregate (≤5 rows), closed form — the q126/q331 family shape. */
  def cochranArmitage(lineitem: DataFrame): DataFrame = {
    val g = lineitem
      .select(
        ceil(col("l_quantity") / 10.0).cast("long").as("w"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"))
      .groupBy("w")
      .agg(count(lit(1)).as("n"), sum("y").as("r"))
    g.agg(
      sum("n").as("nn"),
      count(lit(1)).as("k"),
      sum("r").as("rr"),
      sum(col("w") * (col("r"))).as("swr"),
      sum(col("w") * col("n")).as("swn"),
      sum(col("w") * col("w") * col("n")).as("swwn"))
      .withColumn("pbar", col("rr") / col("nn"))
      .withColumn("num", col("swr") - col("pbar") * col("swn"))
      .withColumn("den2",
        col("pbar") * (lit(1.0) - col("pbar")) *
          (col("swwn") - col("swn") * col("swn") / col("nn")))
      .select(
        col("nn").as("n"), col("k").as("k_doses"),
        round(col("pbar"), 4).as("overall_rate"),
        round(when(col("den2") <= 0.0, lit(null))
          .otherwise(col("num") / sqrt(col("den2"))), 4).as("z_trend"))
  }

  /** q366: THEIL inequality index of customer revenue per nation — the
    * decomposable cousin of q183's Gini ("how concentrated is revenue
    * within each market"): T = mean((x/μ)·ln(x/μ)) over per-customer
    * revenue, 0 = perfectly equal, ln(n) = one customer has it all.
    * One customer-grain aggregate, per-nation means broadcast back
    * (#nations rows), one closed-form aggregate. */
  def theilIndex(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    val custRev = orders.groupBy(col("o_custkey").as("ck"))
      .agg(moneySum(col("o_totalprice")).as("x"))
      .filter(col("x") > 0)
      .join(customer.select(col("c_custkey").as("ck"), col("c_nationkey")), "ck")
      .join(broadcast(nation.select(col("n_nationkey").as("c_nationkey"),
        col("n_name"))), "c_nationkey")
    val means = custRev.groupBy("n_name")
      .agg(avg("x").as("mu"), count(lit(1)).as("n_customers"))
    custRev
      .join(broadcast(means), "n_name")
      .groupBy(col("n_name").as("nation"))
      .agg(
        max("n_customers").as("n_customers"),
        round(avg((col("x") / col("mu")) * log(col("x") / col("mu"))), 4).as("theil"),
        round(max("mu"), 4).as("mean_revenue"))
      .orderBy("nation")
  }

  /** q232: rolling correlation between two event streams — trailing
    * 7-day Pearson correlation of daily purchase vs error activity (the
    * co-movement monitor: a correlation regime change flags incidents
    * that per-stream monitors miss). Day-grain conditional counts
    * first, then `corr` as a WINDOW aggregate over the trailing frame —
    * the calendar-bounded q89/q136 idiom, never a window over events.
    * Partial leading windows and zero-variance weeks (corr undefined —
    * engines disagree on NULL vs NaN) are filtered on BOTH engines by
    * the same full-window + positive-stddev predicate. */
  def rollingCorrelation(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        sum((col("event_type") === "purchase").cast("int")).as("p"),
        sum((col("event_type") === "error").cast("int")).as("e"))
    val w = Window.orderBy("day").rowsBetween(-(windowDays - 1), Window.currentRow)
    daily
      .withColumn("n_in_window", count(lit(1)).over(w))
      .withColumn("sd_p", stddev_samp(col("p")).over(w))
      .withColumn("sd_e", stddev_samp(col("e")).over(w))
      .withColumn("c", corr(col("p"), col("e")).over(w))
      .filter(col("n_in_window") === windowDays && col("sd_p") > 0 && col("sd_e") > 0)
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("p").as("purchases"), col("e").as("errors"),
        round(col("c"), 4).as("corr_7d"))
      .orderBy("day")
  }

  /** q240: Population Stability Index — the standard model-monitoring
    * drift score — between a baseline period and the current period, for
    * three featurized columns of the order stream (price decile-bucket,
    * priority, status). One scan builds the long (feature, value, period)
    * frame via `stack`; counts aggregate map-side to ≤ (Σ feature
    * cardinalities) rows, so the whole comparison is feature-bounded, not
    * data-bounded — the 100 TB shape. Proportions are Laplace-smoothed
    * (+0.5 per cell) so buckets empty on one side stay finite; PSI =
    * Σ (p_cur − p_base)·ln(p_cur/p_base). Buckets are pure integer
    * arithmetic (`floor(price/50000)`), never data-derived quantiles, so
    * both engines bin identically. */
  def psiDrift(orders: DataFrame, cutDate: String = "1998-01-01"): DataFrame = {
    val long = featurizeOrders(orders)
      .withColumn("period",
        when(to_date(col("o_orderdate")) < to_date(lit(cutDate)), lit("baseline"))
          .otherwise(lit("current")))
    val cells = long
      .groupBy("feature", "value")
      .agg(
        sum((col("period") === "baseline").cast("long")).as("nb"),
        sum((col("period") === "current").cast("long")).as("nc"))
    psiFromCells(cells)
  }

  /** The q240 featurization: one row per (feature, value) per order, via
    * `stack`. Keeps `o_orderdate` so callers can attach period labels. */
  private[graft] def featurizeOrders(orders: DataFrame): DataFrame =
    orders
      .select(
        col("o_orderdate"),
        floor(col("o_totalprice") / 50000).cast("string").as("pb"),
        col("o_orderpriority").as("pri"),
        col("o_orderstatus").as("st"))
      .select(col("o_orderdate"),
        expr("stack(3, 'price_bucket', pb, 'priority', pri, 'status', st) AS (feature, value)"))

  /** PSI per feature from (feature, value, nb, nc) count cells — q240's
    * smoothing and Σ(p_c−p_b)·ln(p_c/p_b). */
  private[graft] def psiFromCells(cells: DataFrame): DataFrame = {
    val totals = cells.groupBy("feature")
      .agg(sum("nb").as("tb"), sum("nc").as("tc"), count(lit(1)).as("k_buckets"))
    cells.join(totals, "feature")
      .withColumn("p_b", (col("nb") + 0.5) / (col("tb") + col("k_buckets") * 0.5))
      .withColumn("p_c", (col("nc") + 0.5) / (col("tc") + col("k_buckets") * 0.5))
      .groupBy(col("feature"))
      .agg(
        first("k_buckets").as("k_buckets"),
        first("tb").as("n_baseline"),
        first("tc").as("n_current"),
        round(sum((col("p_c") - col("p_b")) * log(col("p_c") / col("p_b"))), 4).as("psi"))
      .orderBy("feature")
  }

  /** q242: lead/lag cross-correlation between two daily event series
    * (views vs purchase revenue) across a window of lags — "does traffic
    * lead revenue, and by how many days". Same join-on-day-index idiom
    * as q181's ACF (no window, no cross join over data): the daily frame
    * is calendar-bounded, each lag is one equi-join probe of it, and
    * `corr` is the one-pass Pearson aggregate in both engines. Lags with
    * a degenerate overlap (constant series → corr undefined, engines
    * disagree on NULL/NaN) are excluded by a stddev predicate computed
    * identically on both sides. */
  def xcorrLag(events: DataFrame, maxLag: Int = 7): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("d"))
      .agg(
        sum((col("event_type") === "view").cast("long")).as("views"),
        sum(when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0))).as("rev"))
      .withColumn("di", datediff(col("d"), to_date(lit("1970-01-01"))))
    val lags = (-maxLag to maxLag).map(i => lit(i))
    daily
      .select(col("di"), col("views"))
      .withColumn("lag", explode(array(lags: _*)))
      .join(daily.select(col("di").as("di_b"), col("rev")),
        col("di") + col("lag") === col("di_b"))
      .groupBy("lag")
      .agg(
        count(lit(1)).as("n_days"),
        stddev_samp(col("views")).as("sv"),
        stddev_samp(col("rev")).as("sr"),
        corr(col("views"), col("rev")).as("c"))
      // NaN guard matters: Spark's stddev_samp of a single row is NaN and
      // NaN > 0 is TRUE in Spark's ordering, while DuckDB's NULL > 0
      // filters — without it a one-day overlap emits a row only in Spark
      .filter(col("sv") > 0 && col("sr") > 0 && !isnan(col("sv")) && !isnan(col("sr")))
      .select(col("lag").cast("long").as("lag"), col("n_days"), round(col("c"), 4).as("xcorr"))
      .orderBy("lag")
  }

  /** q243: seasonal-naive forecast backtest of daily revenue — forecast
    * each day with the value one season (7 days) earlier, and score MAE,
    * sMAPE, and MASE (MAE over the MAE of the lag-1 naive, the standard
    * scale-free benchmark any real forecaster must beat). Both the
    * seasonal and the naive reference pair by day-index equi-join (the
    * q181 idiom — calendar gaps pair correctly, no unpartitioned window
    * over data), and the whole backtest reduces to one single-row
    * aggregate over the calendar-bounded daily frame. */
  def seasonalBacktest(orders: DataFrame, season: Int = 7): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(moneySum(col("o_totalprice")).as("rev"))
      .withColumn("di", datediff(col("d"), to_date(lit("1970-01-01"))))
    daily
      .join(daily.select((col("di")).as("di_s"), col("rev").as("rev_s")),
        col("di") - season === col("di_s"))
      .join(daily.select((col("di")).as("di_1"), col("rev").as("rev_1")),
        col("di") - 1 === col("di_1"))
      .agg(
        count(lit(1)).as("n_days"),
        round(avg(abs(col("rev") - col("rev_s"))), 4).as("mae"),
        round(avg(lit(2.0) * abs(col("rev") - col("rev_s"))
          / (abs(col("rev")) + abs(col("rev_s")))), 4).as("smape"),
        round(avg(abs(col("rev") - col("rev_s"))) / avg(abs(col("rev") - col("rev_1"))), 4)
          .as("mase"))
  }

  /** q246: Theil–Sen robust trend — the median of all pairwise slopes of
    * the daily ORDER-COUNT series (counts, not sums: slopes are exact
    * rationals, so both engines compute bit-identical inputs to the
    * median). The pair set is days², calendar-bounded (≈ 2900² at a
    * decade of history — a few million rows regardless of corpus size),
    * built by one self-equi-… inequality join of the tiny daily frame;
    * the exact `percentile_cont` over it is the documented
    * bounded-aggregate idiom. OLS slope rides the same frame for
    * comparison — the robust/classical gap is the outlier signal. */
  def theilSenTrend(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("di", datediff(col("d"), to_date(lit("1970-01-01"))))
    val a = daily.select(col("di").as("ia"), col("cnt").as("ca"))
    val b = daily.select(col("di").as("ib"), col("cnt").as("cb"))
    val slopes = a.join(b, col("ia") < col("ib"))
      .select(((col("cb") - col("ca")).cast("double") / (col("ib") - col("ia"))).as("slope"))
    val ts = slopes.agg(
      count(lit(1)).as("n_pairs"),
      round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY slope)"), 4).as("theil_sen"))
    val ols = daily.agg(
      round(covar_samp(col("di").cast("double"), col("cnt").cast("double"))
        / var_samp(col("di").cast("double")), 4).as("ols_slope"))
    ts.crossJoin(ols)
  }

  /** q258: decile Lorenz curve of per-customer revenue — the curve
    * behind q183's Gini number (which share of customers produces which
    * share of revenue, the concentration picture an account team reads):
    * exact global deciles via [[GlobalOrder.withExactNtile]] (range-
    * bucketed, no data-sized single reducer; ordered on PRE-ROUNDED
    * revenue with key tie-break), then cumulative shares over the
    * 10-row decile frame. */
  def lorenzCurve(orders: DataFrame): DataFrame = {
    val perCust = orders
      .groupBy(col("o_custkey"))
      .agg(round(moneySum(col("o_totalprice")), 4).as("rev"))
    val byDecile = GlobalOrder
      .withExactNtile(perCust, col("rev"), Seq("rev", "o_custkey"), 10, "decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("rev").as("drev"))
    val cumW = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .withColumn("cum_n", sum("n_customers").over(cumW))
      .withColumn("cum_rev", sum("drev").over(cumW))
      .withColumn("tot_n", sum("n_customers").over(one))
      .withColumn("tot_rev", sum("drev").over(one))
      .select(
        col("decile").cast("long").as("decile"),
        col("n_customers"),
        round(col("cum_n").cast("double") / col("tot_n"), 4).as("cum_pop_share"),
        round(col("cum_rev") / col("tot_rev"), 4).as("cum_rev_share"))
      .orderBy("decile")
  }

  /** q259: Shewhart X–mR control chart over daily revenue — the classic
    * SPC individuals chart (center line ± 2.66·mR̄, the moving-range
    * estimate of short-term variation) complementing q222's CUSUM (slow
    * drifts) and q204's STL residuals (seasonality-aware): limits from
    * two scalar aggregates over the calendar-day frame, violations by a
    * 1-row broadcast of the limits back over the days (q14 idiom). */
  def spcChart(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(moneySum(col("o_totalprice")).as("rev"))
    val lagW = Window.orderBy("d")
    val withMr = daily.withColumn("mr", abs(col("rev") - lag(col("rev"), 1).over(lagW)))
    val limits = withMr.agg(
      count(lit(1)).as("n_days"),
      avg(col("rev")).as("cl"),
      avg(col("mr")).as("mrbar"))
    daily
      .crossJoin(broadcast(limits))
      .withColumn("ucl", col("cl") + lit(2.66) * col("mrbar"))
      .withColumn("lcl", col("cl") - lit(2.66) * col("mrbar"))
      .agg(
        first("n_days").as("n_days"),
        round(first("cl"), 4).as("center"),
        round(first("ucl"), 4).as("ucl"),
        round(first("lcl"), 4).as("lcl"),
        // coalesce: a single-day series has NULL limits, and summing
        // all-NULL comparisons yields NULL where the oracle's
        // CASE...ELSE 0 yields 0
        sum(coalesce((col("rev") > col("ucl") || col("rev") < col("lcl")).cast("int"), lit(0)))
          .as("n_out_of_control"))
  }

  /** q256: trend / seasonal strength (Hyndman's F-measures) over q194's
    * decomposition — the one-row summary that says whether the series is
    * trend-driven, weekday-driven, or noise: F = max(0, 1 −
    * Var(R)/Var(C+R)) for component C. Aggregates the PRE-ROUNDED q194
    * columns, so both engines feed identical values into `var_samp` and
    * the strengths match to the rounding grid; one extra scalar pass
    * over the calendar-day frame. */
  def seasonalityStrength(orders: DataFrame, halfWindow: Int = 14): DataFrame = {
    val dec = stlDecompose(orders, halfWindow)
    dec.agg(
      count(lit(1)).as("n_days"),
      var_samp(col("residual")).as("vr"),
      var_samp(col("seasonal") + col("residual")).as("vsr"),
      var_samp(col("trend") + col("residual")).as("vtr"))
      .select(
        col("n_days"),
        round(greatest(lit(0.0), lit(1.0) - col("vr") / col("vsr")), 4).as("seasonal_strength"),
        round(greatest(lit(0.0), lit(1.0) - col("vr") / col("vtr")), 4).as("trend_strength"))
  }

  /** q248: single best mean-shift changepoint in the daily order-count
    * series (binary-segmentation step 1 — the offline complement of
    * q222's CUSUM monitor): for every candidate split the pooled SSE of
    * the two segments comes from PREFIX sums (Σx, Σx² running over the
    * calendar-day frame — the q89 bounded-window idiom), so the whole
    * scan of N−1 candidates is one window pass + one TakeOrdered(1),
    * never N segment re-aggregations. Counts (exact integers) keep the
    * prefix sums engine-exact, so the argmin is deterministic; ties
    * break on the earlier day. */
  def changepoint(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).cast("double").as("x"))
    val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefixed = daily
      .withColumn("i", row_number().over(Window.orderBy("d")).cast("long"))
      .withColumn("s", sum(col("x")).over(w))
      .withColumn("ss", sum(col("x") * col("x")).over(w))
      .withColumn("n", count(lit(1)).over(one))
      .withColumn("st", sum(col("x")).over(one))
      .withColumn("sst", sum(col("x") * col("x")).over(one))
    prefixed
      .filter(col("i") < col("n"))
      .select(
        col("d"), col("i"), col("n"), col("s"), col("st"),
        (col("ss") - col("s") * col("s") / col("i")
          + (col("sst") - col("ss"))
          - (col("st") - col("s")) * (col("st") - col("s")) / (col("n") - col("i"))).as("sse"),
        (col("sst") - col("st") * col("st") / col("n")).as("tss"))
      .orderBy(asc("sse"), asc("d"))
      .limit(1)
      .select(
        date_format(col("d"), "yyyy-MM-dd").as("split_day"),
        col("i").as("n_left"),
        (col("n") - col("i")).as("n_right"),
        round(col("s") / col("i"), 4).as("mean_left"),
        round((col("st") - col("s")) / (col("n") - col("i")), 4).as("mean_right"),
        round(col("tss") - col("sse"), 4).as("sse_reduction"))
  }

  /** q251: log-log price elasticity of demand per brand — the grouped
    * regression ε = cov(ln q, ln p)/var(ln p) over unit price (the
    * q247 covariance-normal-equation recipe, grouped): lineitem joins
    * the part dim on its key (broadcast), then ONE brand-cardinality
    * aggregate carries the co-moments; no per-group passes. Degenerate
    * brands (zero price variance) are excluded by the same predicate
    * both engines. */
  def priceElasticity(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val lnQ = log(col("l_quantity").cast("double"))
    val lnP = log(col("l_extendedprice") / col("l_quantity"))
    lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_lines"),
        var_samp(lnP).as("vp"),
        covar_samp(lnQ, lnP).as("cqp"),
        round(avg(col("l_extendedprice") / col("l_quantity")), 4).as("avg_unit_price"))
      // !isnan: Spark's var_samp of a single row is NaN (NaN > 0 is
      // true), DuckDB's is NULL (filtered) — a singleton brand must
      // drop on BOTH engines
      .filter(col("vp") > 0 && !isnan(col("vp")))
      .select(
        col("p_brand"), col("n_lines"), col("avg_unit_price"),
        round(col("cqp") / col("vp"), 4).as("elasticity"))
      .orderBy("p_brand")
  }

  /** q247: two-feature OLS (extended price on quantity and discount) via
    * the covariance normal equations — `var_samp`/`covar_samp` are
    * numerically-stable one-pass aggregates in BOTH engines, so the 2×2
    * solve is six shared-scan aggregates plus closed-form arithmetic
    * (Cramer's rule), no iteration, no driver-side data. Centering via
    * covariances (rather than raw Σx², Σxy sums) keeps the system
    * well-conditioned: raw power sums of 10⁵-scale prices lose the
    * significant digits the betas live in. The same recipe extends to k
    * features as a k×k driver-side solve over a k²-cell aggregate. */
  def olsTwoFeature(lineitem: DataFrame): DataFrame = {
    val x1 = col("l_quantity").cast("double")
    val x2 = col("l_discount").cast("double")
    val y = col("l_extendedprice").cast("double")
    lineitem
      .agg(
        count(lit(1)).as("n"),
        var_samp(x1).as("s11"), covar_samp(x1, x2).as("s12"), var_samp(x2).as("s22"),
        covar_samp(x1, y).as("s1y"), covar_samp(x2, y).as("s2y"), var_samp(y).as("syy"),
        avg(x1).as("m1"), avg(x2).as("m2"), avg(y).as("my"))
      .withColumn("det", col("s11") * col("s22") - col("s12") * col("s12"))
      .withColumn("b1", (col("s22") * col("s1y") - col("s12") * col("s2y")) / col("det"))
      .withColumn("b2", (col("s11") * col("s2y") - col("s12") * col("s1y")) / col("det"))
      .select(
        col("n"),
        round(col("my") - col("b1") * col("m1") - col("b2") * col("m2"), 4).as("beta0"),
        round(col("b1"), 4).as("beta_quantity"),
        round(col("b2"), 4).as("beta_discount"),
        round((col("b1") * col("s1y") + col("b2") * col("s2y")) / col("syy"), 4).as("r2"))
  }

  /** q300: Kendall τ-b between quantity and extended price on a
    * BOUNDED deterministic sample — the robust concordance measure
    * whose exact form is O(n²) pairs: the scale answer is a fixed-size
    * uniform sample (the N smallest md5 hashes of the row key — a
    * hash-order top-N, so the sample is the SAME rows at any corpus
    * size and any engine, and stays N as data grows, unlike a rate
    * sample). All pair counts (concordant / discordant / ties) are
    * exact INTEGER arithmetic over the N²/2 bounded pairs; only the
    * final τ-b normalization touches floats. Spearman (q289) is the
    * rank-correlation fast path; this is the tie-robust cross-check.
    *
    * Scale: the sample selection is a TakeOrdered over the fact table
    * (no window, no global sort materialization); the pair expansion is
    * a bounded N×N self-join of a driver-small frame. */
  def kendallTau(lineitem: DataFrame, sampleN: Int = 500): DataFrame = {
    val keyed = lineitem.select(
      md5(concat_ws("#", col("l_orderkey").cast("string"),
        col("l_linenumber").cast("string"))).as("h"),
      col("l_quantity").cast("double").as("x"),
      col("l_extendedprice").cast("double").as("y"))
    // deterministic bounded sample: N smallest hashes. The fact table
    // may hold FULL-duplicate rows (the synthetic lineitem does), so
    // the hash is not unique — pair on a row_number over hash order
    // instead: tied hashes are identical rows, so any tie order yields
    // the same (x, y) multiset and the same pair counts. The window
    // runs on the POST-LIMIT ≤N-row frame, never the fact table.
    val sample = keyed.orderBy("h", "x", "y").limit(sampleN)
      .withColumn("rn", row_number().over(Window.orderBy("h", "x", "y")))
    val pairs = sample.as("a")
      .join(sample.as("b"), col("a.rn") < col("b.rn")) // bounded N²/2
      .select(
        (col("a.x") - col("b.x")).as("dx"),
        (col("a.y") - col("b.y")).as("dy"))
    pairs
      .agg(
        count(lit(1)).as("n_pairs"),
        count(when(col("dx") * col("dy") > 0, lit(1))).as("concordant"),
        count(when(col("dx") * col("dy") < 0, lit(1))).as("discordant"),
        count(when(col("dx") === 0 && col("dy") =!= 0, lit(1))).as("ties_x"),
        count(when(col("dx") =!= 0 && col("dy") === 0, lit(1))).as("ties_y"),
        count(when(col("dx") === 0 && col("dy") === 0, lit(1))).as("ties_xy"))
      .select(
        col("n_pairs"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"), col("ties_xy"),
        // degenerate all-ties axis → τ undefined; report 0 (lazy when
        // guard: ANSI mode throws on the /0, CaseWhen branches don't
        // evaluate untaken arms)
        round(
          when((col("n_pairs") - col("ties_x") - col("ties_xy")) > 0 &&
            (col("n_pairs") - col("ties_y") - col("ties_xy")) > 0,
            (col("concordant") - col("discordant")).cast("double")
              / sqrt((col("n_pairs") - col("ties_x") - col("ties_xy")).cast("double")
                * (col("n_pairs") - col("ties_y") - col("ties_xy"))))
            .otherwise(lit(0.0)),
          4).as("tau_b"))
  }

  /** q289: Spearman rank correlation between quantity and discount per
    * return flag — the monotone-association screen that Pearson (q128,
    * q181's corr) misses when the relationship is nonlinear, and the
    * robust choice when either variable is heavy-tailed.
    *
    * Ranks are AVERAGE ranks (the ties-correct textbook definition:
    * tied values share the mean of the positions they span), computed
    * WITHOUT ranking the fact table: one fact-proportional
    * `groupBy(flag, value).count()` collapses to the distinct-value
    * frame — BOUNDED for these graded variables (≤50 quantities × ≤11
    * discounts per flag regardless of corpus size) — where a cumulative
    * window yields `below + (cnt+1)/2`. The per-value rank table then
    * broadcast-joins back to the fact rows and `corr` over the rank
    * pairs is a one-pass aggregate. No data-sized sort, no per-group
    * single reducer: the only window runs on the distinct-value frame.
    * Pearson on the raw values rides the same scan for contrast. */
  def spearmanCorr(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    val base = lineitem.select(
      col("l_returnflag").as("flag"),
      col("l_quantity").cast("double").as("x"),
      col("l_discount").cast("double").as("y"))

    // average rank of each distinct value within its flag group:
    // below(v) = #rows with value < v; avg_rank(v) = below + (cnt+1)/2
    def avgRanks(valueCol: String, rankName: String): DataFrame = {
      val w = Window.partitionBy("flag").orderBy(valueCol)
        .rowsBetween(Window.unboundedPreceding, -1)
      base.groupBy(col("flag"), col(valueCol))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("below", coalesce(sum(col("cnt")).over(w), lit(0L)))
        .select(
          col("flag"), col(valueCol),
          (col("below") + (col("cnt") + lit(1)) / lit(2.0)).as(rankName))
    }
    base
      .join(bcast(avgRanks("x", "rx")), Seq("flag", "x"))
      .join(bcast(avgRanks("y", "ry")), Seq("flag", "y"))
      .groupBy(col("flag").as("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(corr(col("rx"), col("ry")), 4).as("spearman_rho"),
        round(corr(col("x"), col("y")), 4).as("pearson_r"))
      .orderBy("l_returnflag")
  }

  /** q290: Cramér's V association matrix over the event stream's
    * categorical features (event type, day-of-week, 6-hour bucket) —
    * the normalized chi-square that answers "which features move
    * together" on a 0..1 scale, comparable across tables of any size
    * (raw chi-square grows with n; V does not). The bias-corrected
    * variant is deliberately not used: plain V is the cross-engine-
    * stable formula.
    *
    * Scale shape: ONE fact-proportional pass per pair builds the
    * contingency counts (map-side partial aggregation into ≤ types×7
    * cells), and everything after — marginals, expected counts,
    * chi-square, V — is arithmetic on the bounded cell frame. The
    * pair list is a compile-time constant (3 pairs), so the full
    * matrix is 3 bounded aggregates over a shared scan. */
  def cramersV(events: DataFrame): DataFrame = {
    val feat = events.select(
      col("event_type"),
      (dayofweek(col("ts")) - lit(1)).cast("string").as("dow"),
      concat(lit("h"), floor(hour(col("ts")) / lit(6)).cast("string")).as("hour_bucket"))

    def pair(a: String, b: String): DataFrame = {
      val cells = feat.groupBy(col(a).as("va"), col(b).as("vb"))
        .agg(count(lit(1)).as("o"))
      val wa = Window.partitionBy("va")
      val wb = Window.partitionBy("vb")
      cells
        .withColumn("row_tot", sum("o").over(wa))
        .withColumn("col_tot", sum("o").over(wb))
        .withColumn("n", sum("o").over(Window.partitionBy(lit(1))))
        .withColumn("e", col("row_tot") * col("col_tot") / col("n").cast("double"))
        // sparse-correct chi-square: the cell frame only holds OBSERVED
        // pairs, so Σ(o−e)²/e would miss zero cells' e-mass. The
        // algebraic identity chi² = Σ o²/e − n needs only observed
        // cells (a zero cell's o²/e term is 0), so it is exact here.
        // o cast to double BEFORE squaring: a 100 TB cell count squared
        // overflows long (ANSI would throw)
        .withColumn("term", (col("o").cast("double") * col("o")) / col("e"))
        .agg(
          first(lit(a)).as("feature_a"),
          first(lit(b)).as("feature_b"),
          max("n").as("n"),
          countDistinct("va").as("r"),
          countDistinct("vb").as("c"),
          (sum("term") - max("n")).as("chi2"))
        .select(
          col("feature_a"), col("feature_b"), col("n"), col("r"), col("c"),
          round(col("chi2"), 4).as("chi2"),
          // degenerate single-valued feature → V undefined; report 0
          // (guard mirrored in the oracle; ANSI mode would throw on /0)
          round(
            when(least(col("r"), col("c")) > 1,
              sqrt(col("chi2") / (col("n") * (least(col("r"), col("c")) - lit(1)))))
              .otherwise(lit(0.0)),
            4).as("cramers_v"))
    }
    pair("event_type", "dow")
      .unionByName(pair("event_type", "hour_bucket"))
      .unionByName(pair("dow", "hour_bucket"))
      .orderBy("feature_a", "feature_b")
  }

  /** q291: mutual-information feature ranking — how predictive each
    * categorical feature (day-of-week, 6-hour bucket, log-value
    * bucket) is of the event type, in bits: IG = H(type) − H(type|f),
    * plus the normalized information-gain ratio IG/H(f) that penalizes
    * high-cardinality features (the classic decision-tree split
    * criterion, and the screen that catches target leakage — a feature
    * with IG ≈ H(type) IS the label).
    *
    * Scale: per feature one fact-proportional groupBy into
    * (feature_value × type) cells — bounded, map-side combinable —
    * then entropies are sums over the cell frame. log2 via ln/ln2,
    * identical IEEE ops in the DuckDB oracle. */
  def infoGain(events: DataFrame): DataFrame = {
    // hardcoded IEEE double for ln 2: the oracle uses the same literal,
    // removing any dependence on libm-vs-JVM log(2.0) rounding
    val ln2 = 0.6931471805599453
    val feat = events.select(
      col("event_type"),
      (dayofweek(col("ts")) - lit(1)).cast("string").as("dow"),
      concat(lit("h"), floor(hour(col("ts")) / lit(6)).cast("string")).as("hour_bucket"),
      concat(lit("v"), floor(log10(col("value") + lit(1.0))).cast("int").cast("string"))
        .as("value_bucket"))

    // H(type) over the whole frame — one bounded aggregate, shared
    val hTarget = feat.groupBy("event_type").agg(count(lit(1)).as("c"))
      .agg((-sum(col("c") * log(col("c"))) / sum(col("c")) / lit(ln2)
        + log(sum(col("c"))) / lit(ln2)).as("h_target"))

    def perFeature(f: String): DataFrame = {
      val cells = feat.groupBy(col(f).as("v"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val wv = Window.partitionBy("v")
      // H(type|f) = Σ_v p(v) H(type|v); entropy via the Σ c·ln c form
      // (one pass, no per-cell division before the sum)
      val cond = cells
        .withColumn("cv", sum("c").over(wv))
        .groupBy(col("v"), col("cv"))
        .agg(sum(col("c") * log(col("c"))).as("s"))
        .agg(
          ((sum(col("cv") * log(col("cv"))) - sum(col("s"))) / sum(col("cv"))
            / lit(ln2)).as("h_cond"),
          (-sum(col("cv") * log(col("cv"))) / sum(col("cv")) / lit(ln2)
            + log(sum(col("cv"))) / lit(ln2)).as("h_feature"),
          countDistinct(col("v")).as("cardinality"))
      cond.select(lit(f).as("feature"), col("cardinality"), col("h_cond"), col("h_feature"))
    }
    Seq("dow", "hour_bucket", "value_bucket")
      .map(perFeature)
      .reduce(_ unionByName _)
      .crossJoin(hTarget) // 1-row broadcast scalar
      .select(
        col("feature"), col("cardinality"),
        round(col("h_target"), 4).as("h_target_bits"),
        round(col("h_cond"), 4).as("h_cond_bits"),
        round(col("h_target") - col("h_cond"), 4).as("info_gain_bits"),
        // constant feature → H(f)=0, ratio undefined; report 0 (oracle
        // mirrors; ANSI mode would throw on the 0/0)
        round(
          when(col("h_feature") > 0,
            (col("h_target") - col("h_cond")) / col("h_feature"))
            .otherwise(lit(0.0)), 4).as("gain_ratio"))
      .orderBy("feature")
  }

  /** q324: Croston's method for INTERMITTENT demand — the forecasting
    * family member (q187 EWMA / q281 Holt / q298 Holt–Winters) that the
    * others get wrong on sparse series: averaging zero weeks into a
    * level underestimates demand when it arrives, so Croston smooths
    * the nonzero demand SIZES and the inter-demand INTERVALS as two
    * separate EWMAs and forecasts their ratio (expected demand per
    * period).
    *
    * Both recurrences unroll to the q187 closed form — weight
    * α(1−α)^(J−j) per event (the first event carries the remaining
    * (1−α)^(J−1) mass), so each part's state is two weighted SUMS: one
    * groupBy over the demand-event table, no iteration, no recursion,
    * no per-part driver work. α = 0.25 is binary-exact so the weights
    * agree bit-for-bit across engines; event indexing and intervals
    * ride per-part windows (data-proportional partitions). Ranked by
    * the ROUNDED rate with key tie-break. */
  def crostonDemand(
      lineitem: DataFrame,
      alpha: Double = 0.25,
      minEvents: Int = 6,
      topN: Int = 20): DataFrame = {
    val om = 1.0 - alpha
    // demand events: weeks with any shipment, per part (zero weeks are
    // BETWEEN events — Croston never materializes them)
    val weekly = lineitem
      .select(col("l_partkey").as("part"),
        floor(datediff(to_date(col("l_shipdate")), to_date(lit("1970-01-01"))) / 7).as("wi"),
        col("l_quantity"))
      .groupBy("part", "wi")
      .agg(sum(col("l_quantity")).as("q"))
    val w = Window.partitionBy("part").orderBy("wi")
    val seq = weekly
      .withColumn("j", row_number().over(w).cast("long"))
      .withColumn("iv", (col("wi") - lag(col("wi"), 1).over(w)).cast("double"))
      .withColumn("jmax", count(lit(1)).over(Window.partitionBy("part")))
    seq
      .filter(col("jmax") >= minEvents)
      .groupBy(col("part"), col("jmax").as("n_events"))
      .agg(
        // size EWMA: w_j = α(1−α)^(J−j), first event absorbs (1−α)^(J−1)
        sum(
          when(col("j") === 1, pow(lit(om), col("jmax") - 1))
            .otherwise(lit(alpha) * pow(lit(om), col("jmax") - col("j"))) * col("q"))
          .as("z_raw"),
        // interval EWMA over j≥2 (the first interval is undefined);
        // event 2's interval absorbs the (1−α)^(J−2) init mass
        sum(
          when(col("j") === 2, pow(lit(om), col("jmax") - 2))
            .when(col("j") > 2, lit(alpha) * pow(lit(om), col("jmax") - col("j")))
            .otherwise(lit(0.0)) * col("iv"))
          .as("p_raw"))
      .select(
        col("part"), col("n_events"),
        round(col("z_raw"), 4).as("size_ewma"),
        round(col("p_raw"), 4).as("interval_ewma"),
        // intervals are ≥1 week by construction, so p_raw ≥ (1−α)-mass > 0
        round(col("z_raw") / col("p_raw"), 4).as("demand_rate"))
      .orderBy(desc("demand_rate"), asc("part"))
      .limit(topN)
  }

  /** q329: forecast TOURNAMENT — the model-selection readout that sits
    * on top of the forecasting family: naive, seasonal-naive(7), EWMA
    * (α=0.25) and Holt (q281's exact recurrence) each produce one-step-
    * ahead walk-forward forecasts of daily revenue; the held-out tail
    * (last quarter of days) scores them with MAE, RMSE, MAPE and MASE
    * (scaled by the in-sample naive MAE — the scale-free metric that
    * makes "is this model better than just repeating yesterday"
    * explicit). One row per model, best first.
    *
    * Scale/portability: the q281/q298 discipline — the daily frame is
    * calendar-bounded, so the four coupled recurrences fold driver-side
    * over the SAME 4dp-pre-rounded series; α, β are exact binary
    * fractions and the DuckDB oracle replays the identical IEEE
    * sequence (recursive CTE for the smoothers, lags for the naives).
    * Error aggregates round at 4dp. */
  def forecastTournament(
      orders: DataFrame,
      alpha: Double = 0.25,
      beta: Double = 0.125,
      period: Int = 7): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(round(moneySum(col("o_totalprice")), 4).as("rev"))
      .orderBy("d")
      .select(col("rev")).as[Double].collect()
    val n = daily.length
    val nTest = n / 4
    val testFrom = n - nTest // first test index

    // walk-forward one-step forecasts; fc(model)(t) defined for t >= 1
    // (>= period for snaive) — the model sees actuals up to t-1
    val fcNaive = Array.tabulate(n)(t => if (t >= 1) daily(t - 1) else Double.NaN)
    val fcSnaive = Array.tabulate(n)(t => if (t >= period) daily(t - period) else Double.NaN)
    val fcEwma = {
      val out = Array.fill(n)(Double.NaN)
      var s = 0.0
      for (t <- 0 until n) {
        if (t >= 1) out(t) = s
        s = if (t == 0) daily(0) else alpha * daily(t) + (1.0 - alpha) * s
      }
      out
    }
    val fcHolt = {
      val out = Array.fill(n)(Double.NaN)
      var l = 0.0; var b = 0.0
      for (t <- 0 until n) {
        if (t >= 1) out(t) = l + b
        if (t == 0) { l = daily(0); b = 0.0 }
        else {
          val lN = alpha * daily(t) + (1.0 - alpha) * (l + b)
          b = beta * (lN - l) + (1.0 - beta) * b
          l = lN
        }
      }
      out
    }
    // MASE denominator: IN-SAMPLE naive MAE (t in 1 .. testFrom-1)
    val scaleMae = (1 until testFrom).map(t => math.abs(daily(t) - daily(t - 1))).sum /
      (testFrom - 1).toDouble

    def scoreOf(name: String, fc: Array[Double]) = {
      val errs = (testFrom until n).map(t => daily(t) - fc(t))
      val mae = errs.map(math.abs).sum / nTest
      val rmse = math.sqrt(errs.map(e => e * e).sum / nTest)
      val mape = (testFrom until n).map(t => math.abs(daily(t) - fc(t)) / daily(t)).sum /
        nTest * 100.0
      (name, nTest.toLong, r4(mae), r4(rmse), r4(mape), r4(mae / scaleMae))
    }
    Seq(
      scoreOf("naive", fcNaive), scoreOf("snaive7", fcSnaive),
      scoreOf("ewma", fcEwma), scoreOf("holt", fcHolt))
      .toDF("model", "n_test", "mae", "rmse", "mape_pct", "mase")
      .orderBy("mae", "model")
  }

  /** q336: exponential FIT of inter-purchase gaps + one-sample KS — the
    * model-fit step on top of q209's gap distribution: fit
    * Exp(λ = 1/mean-gap) by maximum likelihood and measure
    * D = sup|F̂_n − F_λ| against the fitted CDF (the memorylessness
    * check behind "is a Poisson-process assumption defensible for this
    * purchase stream"). Both one-sided gaps are evaluated
    * (D⁺ = rn/n − F, D⁻ = F − (rn−1)/n), so ties and staircase jumps
    * are handled exactly.
    *
    * Scale shape: per-customer lag window (customer-partitioned — never
    * data-sized), 1-row broadcast mean scalar, ECDF ranks from
    * [[GlobalOrder.withGlobalRowNumber]] (range-bucketed, no
    * single-reducer sort — the q184 discipline), one scalar max. */
  def interPurchaseExpFit(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), to_date(col("prev"))).cast("double").as("gap"))
    val m = gaps.agg(avg(col("gap")).as("mean_gap"))
    val ranked = GlobalOrder.withGlobalRowNumber(
      gaps, col("gap"), Seq("gap", "o_custkey", "o_orderkey"), "rn", "__tot")
    ranked
      .crossJoin(broadcast(m))
      .withColumn("fx",
        when(col("mean_gap") > 0, lit(1.0) - exp(-col("gap") / col("mean_gap")))
          .otherwise(lit(0.0)))
      .agg(
        max(col("__tot")).as("n_gaps"),
        round(max(col("mean_gap")), 4).as("mean_gap"),
        round(when(max(col("mean_gap")) > 0, lit(1.0) / max(col("mean_gap"))), 4)
          .as("lambda"),
        round(max(greatest(
          col("rn") / col("__tot") - col("fx"),
          col("fx") - (col("rn") - 1) / col("__tot"))), 4).as("ks_stat"))
  }

  /** q338: GRANGER causality (lag-1) between two event-type daily count
    * series — "do clicks help predict tomorrow's purchases beyond
    * purchases' own history?": unrestricted OLS y_t ~ y_{t−1} + x_{t−1}
    * vs restricted y_t ~ y_{t−1}, F = (SSE_r − SSE_u)(n−3)/SSE_u. The
    * q247 covariance-normal-equation discipline: var_samp/covar_samp
    * one-pass aggregates (numerically stable in BOTH engines), Cramer's
    * 2×2 solve, the (n−1) scale cancelling inside F — no raw power
    * sums, no iteration, no driver data.
    *
    * Scale shape: one fact-proportional daily aggregate, lag windows
    * over the calendar-bounded day frame, then a 1-row moment scalar. */
  def grangerLag1(
      events: DataFrame,
      causeType: String = "click",
      effectType: String = "purchase"): DataFrame = {
    val daily = events
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(
        sum((col("event_type") === causeType).cast("long")).cast("double").as("x"),
        sum((col("event_type") === effectType).cast("long")).cast("double").as("y"))
    val wd = Window.orderBy("day")
    val lagged = daily
      .withColumn("ylag", lag(col("y"), 1).over(wd))
      .withColumn("xlag", lag(col("x"), 1).over(wd))
      .filter(col("ylag").isNotNull)
    lagged
      .agg(
        count(lit(1)).as("n"),
        var_samp(col("ylag")).as("s11"), covar_samp(col("ylag"), col("xlag")).as("s12"),
        var_samp(col("xlag")).as("s22"),
        covar_samp(col("ylag"), col("y")).as("s1y"), covar_samp(col("xlag"), col("y")).as("s2y"),
        var_samp(col("y")).as("syy"))
      .withColumn("det", col("s11") * col("s22") - col("s12") * col("s12"))
      .withColumn("b1", (col("s22") * col("s1y") - col("s12") * col("s2y")) / col("det"))
      .withColumn("b2", (col("s11") * col("s2y") - col("s12") * col("s1y")) / col("det"))
      .withColumn("rssu", col("syy") - col("b1") * col("s1y") - col("b2") * col("s2y"))
      .withColumn("rssr", col("syy") - col("s1y") * col("s1y") / col("s11"))
      .select(
        col("n").as("n_days"),
        round(col("b1"), 4).as("beta_ylag"),
        round(col("b2"), 4).as("beta_xlag"),
        round(when(col("rssu") > 0,
          (col("rssr") - col("rssu")) * (col("n") - 3) / col("rssu")), 4).as("granger_f"),
        round((col("b1") * col("s1y") + col("b2") * col("s2y")) / col("syy"), 4).as("r2_u"))
  }

  /** q339: Poisson OVERDISPERSION diagnostic of per-user daily event
    * counts, per event type — the count-model pre-flight ("is a Poisson
    * assumption defensible, or do we need negative-binomial / zero-
    * inflated"): index of dispersion D = Var/λ (Poisson ⇒ 1) and the
    * observed zero share vs the Poisson-implied e^{−λ}.
    *
    * The zeros are the scale trick: a user-day with no events has no
    * row, and materializing the #users × #days zero grid is exactly the
    * explosion that dies at 100 TB — instead N = n_users·n_days is a
    * 1-row scalar, zeros = N − observed rows, and the moments of the
    * zero-inflated distribution come from Σc, Σc² over the NONZERO rows
    * alone (zeros contribute nothing to either sum). */
  def dispersionAudit(events: DataFrame, threshold: Double = 1.25): DataFrame = {
    val totals = events.agg(
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(to_date(col("ts"))).as("n_days"))
    val nz = events
      .groupBy(col("event_type"), col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("m_nonzero"),
        sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("sc2"))
    nz.crossJoin(broadcast(totals))
      .withColumn("nn", col("n_users") * col("n_days"))
      .withColumn("lam", col("sc") / col("nn"))
      .withColumn("v", col("sc2") / col("nn") - col("lam") * col("lam"))
      .withColumn("disp", col("v") / col("lam"))
      .select(
        col("event_type"),
        col("m_nonzero"),
        round(col("lam"), 4).as("lambda"),
        round(col("disp"), 4).as("dispersion"),
        round((col("nn") - col("m_nonzero")) / col("nn").cast("double"), 4)
          .as("zero_share_obs"),
        round(exp(-col("lam")), 4).as("zero_share_poisson"),
        (col("disp") > lit(threshold)).as("overdispersed"))
      .orderBy("event_type")
  }

  /** q341: time-series k-NN — which nations' daily revenue curves move
    * together (the "similar series" primitive behind matrix-profile /
    * motif tooling, run at entity grain): per-nation daily revenue on a
    * ZERO-FILLED calendar grid (quiet days count as 0 — dropping them
    * silently aligns unrelated dates), per-nation z-normalization
    * (guarded at σ=0), then z-normalized squared Euclidean distance per
    * pair and the top `k` neighbors per nation.
    *
    * Scale shape: the grid is #nations × #days — calendar-bounded, not
    * corpus-bounded; the pair join is day-keyed (grid × #nations rows),
    * the distance aggregate lands on the #nations² frame, and ranking
    * windows partition by nation. */
  def seriesKnn(orders: DataFrame, customer: DataFrame, k: Int = 3): DataFrame = {
    val daily = orders
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey").as("nation"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("nation"), to_date(col("o_orderdate")).as("d"))
      // 4dp pre-round: the grid feeds moments in BOTH engines, so the
      // inputs must already be bit-equal (sum order differs across them)
      .agg(round(moneySum(col("o_totalprice")), 4).as("rev"))
    val grid = daily.select("nation").distinct()
      .crossJoin(daily.select("d").distinct())
      .join(daily, Seq("nation", "d"), "left")
      .withColumn("rev", coalesce(col("rev"), lit(0.0)))
    val stats = grid.groupBy("nation")
      .agg(avg(col("rev")).as("mu"), stddev_samp(col("rev")).as("sd"))
    val z = grid.join(broadcast(stats), "nation")
      .select(col("nation"), col("d"),
        when(col("sd") > 0, (col("rev") - col("mu")) / col("sd")).otherwise(lit(0.0)).as("z"))
    val dist = z.as("a")
      .join(z.as("b"), col("a.d") === col("b.d") && col("a.nation") < col("b.nation"))
      .groupBy(col("a.nation").as("na"), col("b.nation").as("nb"))
      .agg(round(sum((col("a.z") - col("b.z")) * (col("a.z") - col("b.z"))), 4).as("ssd"))
    val sym = dist.unionAll(
      dist.select(col("nb").as("na"), col("na").as("nb"), col("ssd")))
    val w = Window.partitionBy("na").orderBy(asc("ssd"), asc("nb"))
    sym
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("na").as("nation"), col("rk"), col("nb").as("neighbor"), col("ssd"))
      .orderBy("nation", "rk")
  }

  /** q342: trailing 7-day rolling MEDIAN of daily revenue — the robust
    * smoother the q136 moving AVERAGE is not (one flash-sale day drags
    * a mean for a week; the median shrugs): exact percentile as a
    * WINDOW aggregate over a RANGE frame on the integer epoch day
    * (gap-correct, q337 discipline). The window input is the
    * calendar-bounded daily frame — the percentile state is ≤7 values
    * per row, never data-sized. */
  def rollingMedian(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(
        datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01"))).as("eday"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM-dd").as("day"))
      .agg(round(moneySum(col("o_totalprice")), 4).as("rev"))
    val w7 = Window.orderBy("eday").rangeBetween(-6, 0)
    daily
      .withColumn("med7", expr("percentile(rev, 0.5)").over(w7))
      .withColumn("avg7", avg(col("rev")).over(w7))
      .select(
        col("day"), col("rev"),
        round(col("med7"), 4).as("median_7d"),
        round(col("avg7"), 4).as("mean_7d"),
        round(col("rev") - col("med7"), 4).as("vs_median"))
      .orderBy("day")
  }

  /** q346: PEAK detection over daily revenue — the "which days spiked"
    * readout feeding alert triage and promo post-mortems: a peak is a
    * STRICT local maximum (rev > both calendar neighbors — strictness
    * makes plateaus peakless identically in both engines) whose
    * prominence over the trailing 7-day median (the q342 robust
    * baseline) exceeds `minProminence`. Prominence-over-median, not
    * over-mean: one spike inflates a mean baseline and masks the next
    * spike a week long.
    *
    * Scale shape: calendar-bounded daily frame; lag/lead and the RANGE
    * median are windows over that frame (q337/q342 discipline). */
  def revenuePeaks(orders: DataFrame, minProminence: Double = 1.25): DataFrame = {
    val daily = orders
      .groupBy(
        datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01"))).as("eday"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM-dd").as("day"))
      .agg(round(moneySum(col("o_totalprice")), 4).as("rev"))
    val wd = Window.orderBy("eday")
    val w7 = Window.orderBy("eday").rangeBetween(-6, 0)
    daily
      .withColumn("prev", lag(col("rev"), 1).over(wd))
      .withColumn("next", lead(col("rev"), 1).over(wd))
      .withColumn("med7", expr("percentile(rev, 0.5)").over(w7))
      .filter(
        col("prev").isNotNull && col("next").isNotNull &&
          col("rev") > col("prev") && col("rev") > col("next") &&
          col("rev") > col("med7") * lit(minProminence))
      .select(
        col("day"), col("rev"),
        round(col("med7"), 4).as("baseline_med7"),
        round(col("rev") / col("med7"), 4).as("prominence"))
      .orderBy("day")
  }

  /** q348: EMPIRICAL-BAYES shrinkage of per-brand return rates — the
    * ranking-safe companion to q319's Wilson interval: Wilson widens
    * small-n uncertainty, shrinkage MOVES small-n estimates toward the
    * prior so a 2-line brand can't top (or bottom) a leaderboard on
    * luck. Beta prior by method of moments over the brand rate frame
    * (α+β = m(1−m)/v − 1, α = m(α+β) — the standard closed form; v≥
    * m(1−m) degenerate prior guarded to no-shrinkage), posterior mean
    * (k+α)/(n+α+β) per brand.
    *
    * Scale shape: one fact aggregate to the #brands frame, a 1-row
    * moment scalar, closed-form algebra — the q319 anatomy. */
  def empiricalBayesReturns(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val rates = lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(
        count(lit(1)).as("n"),
        sum((col("l_returnflag") === "R").cast("long")).as("k"))
      .withColumn("rate", col("k") / col("n").cast("double"))
    val prior = rates.agg(avg(col("rate")).as("m"), var_samp(col("rate")).as("v"))
      .withColumn("valid", col("v") > 0 && col("v") < col("m") * (lit(1.0) - col("m")))
      .withColumn("ab",
        when(col("valid"), col("m") * (lit(1.0) - col("m")) / col("v") - lit(1.0)))
      .select(
        col("m"), col("valid"),
        when(col("valid"), col("m") * col("ab")).as("alpha"),
        when(col("valid"), (lit(1.0) - col("m")) * col("ab")).as("beta"))
    rates
      .crossJoin(broadcast(prior))
      .select(
        col("brand"), col("n"), col("k"),
        round(col("rate"), 4).as("raw_rate"),
        round(when(col("valid"),
          (col("k") + col("alpha")) / (col("n") + col("alpha") + col("beta")))
          .otherwise(col("rate")), 4).as("shrunk_rate"),
        round(col("m"), 4).as("prior_mean"))
      .orderBy("brand")
  }

  /** q352: classical SEASONAL INDEX (ratio-to-moving-average) — the
    * 12-row month-of-year profile behind every "deseasonalized" number:
    * monthly revenue over a centered 13-month moving average gives a
    * per-month ratio; averaging ratios by month-of-year and normalizing
    * to mean 1 yields the index (q194 decomposes one series; this is
    * the reusable multiplicative profile). Interior months only (the
    * centered window must be full, or edge months bias their index).
    *
    * Scale shape: one monthly aggregate (calendar-bounded), a rows
    * ±6 window on that frame, a 12-row aggregate; month arithmetic is
    * integer (year*12+month). */
  def seasonalIndex(orders: DataFrame): DataFrame = {
    val monthly = orders
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("mi"))
      .agg(round(moneySum(col("o_totalprice")), 4).as("rev"))
    val w = Window.orderBy("mi").rowsBetween(-6, 6)
    val ratio = monthly
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("ma", avg(col("rev")).over(w))
      .filter(col("n_win") === 13) // full centered window only
      // long: DuckDB's year() arithmetic lands BIGINT and the driver's
      // value hash is dtype-sensitive
      .select((pmod(col("mi"), lit(12)) + 1).cast("long").as("month_of_year"),
        (col("rev") / col("ma")).as("ratio"))
    val idx = ratio.groupBy("month_of_year")
      .agg(avg(col("ratio")).as("raw_idx"), count(lit(1)).as("n_years"))
    val norm = idx.agg(avg(col("raw_idx")).as("mean_idx"))
    idx.crossJoin(broadcast(norm))
      .select(
        col("month_of_year"), col("n_years"),
        round(col("raw_idx"), 4).as("raw_index"),
        round(col("raw_idx") / col("mean_idx"), 4).as("seasonal_index"))
      .orderBy("month_of_year")
  }

  /** q354: Wald–Wolfowitz RUNS test on daily revenue — "is the series
    * random around its median, or does it trend/oscillate?": days sign
    * as above/below the median (exact-median days dropped, the standard
    * convention), R = number of runs, and the normal approximation
    * z = (R − μ_R)/σ_R with μ_R = 2n₊n₋/n + 1. Too FEW runs ⇒
    * trending/clustered (the q222/q248 regime), too MANY ⇒
    * oscillation — the cheap first screen before either.
    *
    * Scale shape: calendar-bounded daily frame; the median is the exact
    * percentile on that bounded frame, runs count from one lag window,
    * the z from a 1-row scalar. */
  def runsTest(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(
        datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01"))).as("eday"))
      .agg(round(moneySum(col("o_totalprice")), 4).as("rev"))
    val med = daily.agg(expr("percentile(rev, 0.5)").as("med")) // 1 row
    val signed = daily
      .crossJoin(broadcast(med))
      .filter(col("rev") =!= col("med"))
      .withColumn("sgn", when(col("rev") > col("med"), 1).otherwise(0))
    val wd = Window.orderBy("eday")
    val runs = signed
      .withColumn("prev_sgn", lag(col("sgn"), 1).over(wd))
      .agg(
        sum(when(col("prev_sgn").isNull || col("sgn") =!= col("prev_sgn"), 1L)
          .otherwise(0L)).as("n_runs"),
        sum(col("sgn")).cast("long").as("n_pos"),
        count(lit(1)).as("n"))
    runs
      .withColumn("n_neg", col("n") - col("n_pos"))
      .withColumn("mu", lit(2.0) * col("n_pos") * col("n_neg") / col("n") + lit(1.0))
      .withColumn("sigma2",
        (col("mu") - lit(1.0)) * (col("mu") - lit(2.0)) / (col("n") - lit(1.0)))
      .select(
        col("n").as("n_days"), col("n_pos"), col("n_neg"), col("n_runs"),
        round(col("mu"), 4).as("expected_runs"),
        round(when(col("sigma2") > 0,
          (col("n_runs") - col("mu")) / sqrt(col("sigma2"))), 4).as("z"))
  }

  /** q355: TUKEY boxplot fences per order priority — the third robust
    * outlier convention beside q90's MAD-z and q123's winsorization
    * (the boxplot is what ships on the dashboard): exact Q1/Q3 per
    * group, IQR fences at 1.5×, and the count + share of rows outside
    * them. Exact percentiles — both engines interpolate identically on
    * the same stored doubles.
    *
    * Scale shape: one grouped percentile aggregate (#groups bounded by
    * the priority alphabet), fences broadcast back onto the fact by the
    * group key, one conditional count. */
  def tukeyFences(orders: DataFrame, k: Double = 1.5): DataFrame = {
    val q = orders
      .groupBy(col("o_orderpriority").as("prio"))
      .agg(
        expr("percentile(o_totalprice, 0.25)").as("q1"),
        expr("percentile(o_totalprice, 0.75)").as("q3"))
      .withColumn("lo", col("q1") - lit(k) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(k) * (col("q3") - col("q1")))
    orders
      .join(broadcast(q), col("o_orderpriority") === col("prio"))
      .groupBy("prio")
      .agg(
        count(lit(1)).as("n"),
        max(col("q1")).as("mq1"), max(col("q3")).as("mq3"),
        max(col("lo")).as("mlo"), max(col("hi")).as("mhi"),
        sum(when(col("o_totalprice") < col("lo") || col("o_totalprice") > col("hi"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(
        col("prio").as("o_orderpriority"), col("n"),
        round(col("mq1"), 4).as("q1"),
        round(col("mq3"), 4).as("q3"),
        round(col("mlo"), 4).as("fence_lo"),
        round(col("mhi"), 4).as("fence_hi"),
        col("n_outliers"),
        round(col("n_outliers") / col("n").cast("double"), 4).as("outlier_share"))
      .orderBy("o_orderpriority")
  }

  /** q367: 1-D Wasserstein-1 (earth-mover's) distance between the order
    * price distributions of two customer segments — the metric answer to
    * "HOW different are these two distributions" where KS (q184) only
    * says "are they different". Exact, not binned: over the pooled
    * sample sorted by value, W1 = Σ |F_A(x) − F_B(x)|·(x_{i+1} − x_i).
    * The pooled sort rides [[GlobalOrder]] range buckets (never one
    * task); per-row cumulative counts come from the q184 identity
    * (own-side rank, and "other side ≤ row" = rn − rn_side, valid under
    * the deterministic total order); the x_{i+1} lookup is an equi-join
    * on rn+1 (the q181/q363 lag idiom), not a data-sized window. */
  def wasserstein(
      orders: DataFrame,
      customer: DataFrame,
      segA: String = "BUILDING",
      segB: String = "MACHINERY"): DataFrame = {
    val seg = customer
      .filter(col("c_mktsegment").isInCollection(Seq(segA, segB)))
      .select(col("c_custkey"), when(col("c_mktsegment") === segA, 0).otherwise(1).as("side"))
    val vals = orders
      .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"), col("side"))
    // r11: one fused ranking pass (GlobalOrder.withCumSides) — cum_a and
    // cum_b are exactly the per-row values the three-ranking union
    // reconstructed (rn_s for the row's own side, rn − rn_s for the other),
    // and n_a/n_b are the same side counts the separate 1-row agg computed
    val cum = GlobalOrder.withCumSides(vals, col("v"), Seq("v", "side", "k"), "side")
      .select(col("rn"), col("v"), col("cum_a"), col("cum_b"), col("n_a"), col("n_b"))
    val nxt = cum.select((col("rn") - 1).as("rnp"), col("v").as("v_next"))
    // the last pooled point has no next value — and needs none: both CDFs are 1 there
    cum.join(nxt, col("rn") === col("rnp"))
      .agg(
        max("n_a").as("na"), max("n_b").as("nb"),
        // ANSI guard: one empty side makes the CDF ill-defined — emit a
        // null distance (DuckDB's x/0 → NULL does the same), don't throw
        sum(when(col("n_a") > 0 && col("n_b") > 0,
          abs(col("cum_a") / col("n_a") - col("cum_b") / col("n_b"))
            * (col("v_next") - col("v")))).as("w"))
      .select(
        col("na").as("n_a"), col("nb").as("n_b"),
        round(col("w"), 4).as("w1"))
      // a global .agg on empty input emits one all-null row; the oracle's
      // GROUP BY form emits zero — drop the null row so an empty segment
      // degenerates identically in both engines
      .filter(col("n_a").isNotNull)
  }

  /** q368: Cliff's delta — the rank-based EFFECT SIZE companion to the
    * Mann–Whitney test (q185): δ = P(a > b) − P(a < b) ∈ [−1, 1],
    * computed from the same mid-rank sum as U (δ = 2U/(n₁n₂) − 1), so
    * it reuses the bucketed global ranking verbatim. The conventional
    * magnitude label thresholds (0.147/0.33/0.474) are applied to the
    * ROUNDED |δ| so both engines bucket identically. */
  def cliffsDelta(
      orders: DataFrame,
      prioA: String = "1-URGENT",
      prioB: String = "5-LOW"): DataFrame = {
    val vals = orders
      .filter(col("o_orderpriority").isInCollection(Seq(prioA, prioB)))
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"),
        when(col("o_orderpriority") === prioA, 0).otherwise(1).as("side"))
    val ranked = GlobalOrder.withGlobalRowNumber(
      vals, col("v"), Seq("v", "side", "k"), "rn", "__tot")
    val n1 = sum(when(col("side") === 0, 1L).otherwise(0L))
    val n2 = sum(when(col("side") === 1, 1L).otherwise(0L))
    val r1 = sum(when(col("side") === 0, col("mid")).otherwise(0.0))
    val u = r1 - n1 * (n1 + lit(1.0)) / 2
    ranked
      .withColumn("mid", avg(col("rn")).over(Window.partitionBy("v")))
      .agg(n1.as("n_a"), n2.as("n_b"),
        round(lit(2.0) * u / (n1 * n2) - 1, 4).as("delta"))
      .withColumn("magnitude",
        when(abs(col("delta")) < 0.147, "negligible")
          .when(abs(col("delta")) < 0.33, "small")
          .when(abs(col("delta")) < 0.474, "medium")
          .otherwise("large"))
  }

  /** q369: Mood's median test — do the order-priority groups share a
    * common median price? The global median is PERCENTILE_DISC-style
    * (the value at global rank ⌈n/2⌉ under the deterministic
    * (value, key) order — an exact rank pick via [[GlobalOrder]], never
    * an interpolated average, so both engines agree bit-for-bit), then
    * one broadcast scalar splits every group into above/not-above and
    * the χ² statistic folds over the ≤5-row contingency aggregate. */
  def moodMedian(orders: DataFrame): DataFrame = {
    val vals = orders.select(
      col("o_orderkey").as("k"), col("o_totalprice").as("v"),
      col("o_orderpriority").as("grp"))
    val ranked = GlobalOrder.withGlobalRowNumber(
      vals, col("v"), Seq("v", "k"), "rn", "__tot")
    val med = ranked
      .filter(col("rn") === floor((col("__tot") + 1) / 2).cast("long"))
      .select(col("v").as("med"))
    val g = vals.crossJoin(broadcast(med)) // 1-row scalar
      .groupBy("grp")
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") > col("med"), 1L).otherwise(0L)).as("n_above"))
    g // ≤5-row aggregate: the constant-partition window folds away
      .withColumn("ta", sum("n_above").over(one))
      .withColumn("tn", sum("n").over(one))
      .withColumn("ea", col("n").cast("double") * col("ta") / col("tn"))
      .withColumn("eb", col("n").cast("double") * (col("tn") - col("ta")) / col("tn"))
      .withColumn("cell",
        (col("n_above") - col("ea")) * (col("n_above") - col("ea")) / col("ea")
          + (col("n") - col("n_above") - col("eb"))
          * (col("n") - col("n_above") - col("eb")) / col("eb"))
      .select(
        col("grp").as("o_orderpriority"), col("n"), col("n_above"),
        round(col("ea"), 4).as("exp_above"),
        round(sum("cell").over(one), 4).as("chi2"))
      .orderBy("o_orderpriority")
  }

  /** q375: inverse-propensity-weighted treatment effect over the events
    * stream — arm = user-id parity (a deterministic hash arm), outcome =
    * event value, confounder = event type. Propensity ê(x) is the
    * per-stratum treated share (one tiny aggregate, broadcast back);
    * the Hájek/stabilized estimator normalizes each arm by its summed
    * weights. Reports the naive difference next to the IPW one so the
    * confounding correction is visible in the output. */
  def ipwAte(events: DataFrame): DataFrame = {
    val e = events.select(
      (col("user_id") % 2).cast("int").as("t"),
      col("value").as("y"), col("event_type").as("x"))
    val prop = e.groupBy("x").agg(avg(col("t").cast("double")).as("eh"))
    e.join(broadcast(prop), "x")
      .agg(
        count(lit(1)).as("n_events"),
        avg(when(col("t") === 1, col("y"))).as("naive1"),
        avg(when(col("t") === 0, col("y"))).as("naive0"),
        (sum(when(col("t") === 1, col("y") / col("eh")))
          / sum(when(col("t") === 1, lit(1.0) / col("eh")))).as("mu1"),
        (sum(when(col("t") === 0, col("y") / (lit(1.0) - col("eh"))))
          / sum(when(col("t") === 0, lit(1.0) / (lit(1.0) - col("eh"))))).as("mu0"))
      .select(
        col("n_events"),
        round(col("naive1") - col("naive0"), 4).as("ate_naive"),
        round(col("mu1") - col("mu0"), 4).as("ate_ipw"),
        round(col("mu1"), 4).as("mu_treated"),
        round(col("mu0"), 4).as("mu_control"))
  }

  /** q376: Friedman test — the nonparametric repeated-measures ANOVA:
    * blocks = order months, treatments = order priorities, measure =
    * the block-treatment mean price. Ranks are per block over the
    * ≤(blocks×treatments)-row aggregate (a bounded window, the q89
    * calendar idiom), ordered by the PRE-ROUNDED mean (4 dp) with the
    * treatment label as tie-break so both engines rank identically;
    * Q = 12/(bk(k+1))·ΣR_j² − 3b(k+1) folds over the k-row rank sums. */
  def friedman(orders: DataFrame): DataFrame = {
    val cell = orders
      .groupBy(month(to_date(col("o_orderdate"))).as("block"),
        col("o_orderpriority").as("treat"))
      .agg(round(avg("o_totalprice"), 4).as("m"))
    val w = Window.partitionBy("block").orderBy(col("m"), col("treat"))
    val sums = cell
      .withColumn("r", row_number().over(w))
      .groupBy("treat")
      .agg(sum(col("r").cast("double")).as("rank_sum"),
        count(lit(1)).as("n_blocks"))
    sums // k-row aggregate: constant-partition window folds away
      .withColumn("k", count(lit(1)).over(one))
      .withColumn("b", max("n_blocks").over(one))
      .withColumn("bmin", min("n_blocks").over(one))
      // the Q formula is only valid for COMPLETE blocks (every block
      // ranks all k treatments); an incomplete grid would silently skew
      // the rank sums — report null Q instead of a wrong statistic
      .withColumn("q",
        when(col("bmin") === col("b"),
          lit(12.0) / (col("b") * col("k") * (col("k") + 1))
            * sum(col("rank_sum") * col("rank_sum")).over(one)
            - lit(3.0) * col("b") * (col("k") + 1)))
      .select(
        col("treat").as("o_orderpriority"),
        col("rank_sum"), col("n_blocks"),
        round(col("q"), 4).as("q_stat"))
      .orderBy("o_orderpriority")
  }

  /** q377: negative-binomial fit of per-customer order counts, by
    * market segment — the count-model companion to q339's Poisson
    * dispersion audit. Zero-order customers ENTER the fit (left join
    * from the customer dimension; `count(o_orderkey)` skips nulls, so
    * they contribute 0 — no dense grid). Method-of-moments NB2:
    * r = m²/(v−m), p = m/v; an underdispersed segment reports a
    * negative r, which is the audit signal (NB doesn't fit). */
  def negBinFit(orders: DataFrame, customer: DataFrame): DataFrame =
    customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("c"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("n_cust"),
        avg(col("c").cast("double")).as("m"),
        var_samp(col("c").cast("double")).as("v"))
      .select(
        col("segment"), col("n_cust"),
        round(col("m"), 4).as("mean_orders"),
        round(col("v"), 4).as("var_orders"),
        // equidispersed (v = m) or degenerate (v = 0 / m = 0) segments
        // have no NB fit — report null, never divide (ANSI-safe)
        round(when(col("v") =!= col("m"), col("m") * col("m") / (col("v") - col("m"))), 4)
          .as("nb_r"),
        round(when(col("v") =!= 0.0, col("m") / col("v")), 4).as("nb_p"),
        round(when(col("m") =!= 0.0, col("v") / col("m")), 4).as("dispersion"))
      .orderBy("segment")

  /** q379: two-sample Cramér–von Mises statistic between two customer
    * segments' order prices — the whole-distribution companion to KS
    * (q184, max gap) and Wasserstein (q367, integrated gap):
    * T = nm/(n+m)² · Σ_k (F_A(z_k) − F_B(z_k))² over the pooled order
    * statistics. Same [[GlobalOrder]] scaffold as q367 (the q184
    * own-side-rank identity gives both CDFs at every pooled row), no
    * lead lookup needed — the sum is over rows, not intervals. */
  def cramerVonMises(
      orders: DataFrame,
      customer: DataFrame,
      segA: String = "BUILDING",
      segB: String = "MACHINERY"): DataFrame = {
    val seg = customer
      .filter(col("c_mktsegment").isInCollection(Seq(segA, segB)))
      .select(col("c_custkey"), when(col("c_mktsegment") === segA, 0).otherwise(1).as("side"))
    val vals = orders
      .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"), col("side"))
    // r11: one fused ranking pass (GlobalOrder.withCumSides) — cum_a and
    // cum_b are exactly the values the three-ranking union reconstructed
    // per row (rn_s for the row's own side, rn − rn_s for the other)
    GlobalOrder.withCumSides(vals, col("v"), Seq("v", "side", "k"), "side")
      .select(col("rn"), col("cum_a"), col("cum_b"), col("n_a"), col("n_b"))
      .agg(
        max("n_a").as("na"), max("n_b").as("nb"),
        // ANSI guard: one empty side → null statistic, not DIVIDE_BY_ZERO
        // (DuckDB's x/0 → NULL degenerates the same way)
        sum(when(col("n_a") > 0 && col("n_b") > 0,
          (col("cum_a") / col("n_a") - col("cum_b") / col("n_b"))
            * (col("cum_a") / col("n_a") - col("cum_b") / col("n_b")))).as("s"))
      .select(
        col("na").as("n_a"), col("nb").as("n_b"),
        round(col("na").cast("double") * col("nb")
          / ((col("na") + col("nb")) * (col("na") + col("nb"))) * col("s"), 4).as("t_stat"))
      // empty-input degeneracy: match the oracle's zero-row form (q367 note)
      .filter(col("n_a").isNotNull)
  }

  /** q381: IPW weight diagnostics for the q375 estimator — the health
    * check every propensity analysis needs BEFORE trusting the point
    * estimate: per arm, Kish's effective sample size (Σw)²/Σw², its
    * ratio to the raw n (1.0 = perfectly balanced, →0 = a few huge
    * weights dominate), the max weight and the weight CV. Same
    * stratum-propensity broadcast as q375, one grouped aggregate. */
  def ipwDiagnostics(events: DataFrame): DataFrame = {
    val e = events.select(
      (col("user_id") % 2).cast("int").as("t"),
      col("event_type").as("x"))
    val prop = e.groupBy("x").agg(avg(col("t").cast("double")).as("eh"))
    e.join(broadcast(prop), "x")
      .withColumn("w",
        when(col("t") === 1, lit(1.0) / col("eh"))
          .otherwise(lit(1.0) / (lit(1.0) - col("eh"))))
      .groupBy(col("t").as("arm"))
      .agg(
        count(lit(1)).as("n"),
        round(sum("w"), 4).as("sum_w"),
        round(sum("w") * sum("w") / sum(col("w") * col("w")), 4).as("ess"),
        round(sum("w") * sum("w") / sum(col("w") * col("w")) / count(lit(1)), 4)
          .as("ess_ratio"),
        round(max("w"), 4).as("max_w"),
        round(stddev_samp(col("w")) / avg(col("w")), 4).as("cv_w"))
      .orderBy("arm")
  }

  /** q382: log-rank test — do two market segments share a survival
    * curve? Lifetimes and censoring follow q221's conventions
    * (30-day months, churn = last order > churnDays before corpus
    * end). Per distinct lifetime t the (t × side) grid is DENSIFIED
    * (bounded: ≤#months × 2 — the q241/q318 grid idiom) so each side's
    * at-risk count exists even at the other side's event times; then
    * O−E and the hypergeometric variance fold over the bounded frame:
    * χ² = (ΣO_A − ΣE_A)²/ΣV. Scale shape: one customer-grain
    * aggregate, broadcast scalars, bounded-frame windows. */
  def logRank(
      orders: DataFrame,
      customer: DataFrame,
      segA: String = "BUILDING",
      segB: String = "MACHINERY",
      churnDays: Int = 365): DataFrame = {
    val seg = customer
      .filter(col("c_mktsegment").isInCollection(Seq(segA, segB)))
      .select(col("c_custkey"), when(col("c_mktsegment") === segA, 0).otherwise(1).as("side"))
    val endd = orders.agg(max("o_orderdate").as("endd"))
    val life = orders
      .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "side")
      .agg(min("o_orderdate").as("f"), max("o_orderdate").as("l"))
      .crossJoin(broadcast(endd)) // 1-row corpus-end scalar
      .select(col("side"),
        floor(datediff(col("l"), col("f")) / lit(30.0)).cast("long").as("t"),
        (datediff(col("endd"), col("l")) > churnDays).cast("long").as("churned"))
    val byTS = life.groupBy("t", "side")
      .agg(count(lit(1)).as("n_t"), sum("churned").as("d"))
    val grid = byTS.select("t").distinct()
      .withColumn("side", explode(array(lit(0), lit(1))))
    val totals = life.groupBy("side").agg(count(lit(1)).as("n_users"))
    val wPrev = Window.partitionBy("side").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val dense = grid
      .join(byTS, Seq("t", "side"), "left")
      .na.fill(0L, Seq("n_t", "d"))
      .join(broadcast(totals), "side")
      .withColumn("at_risk", col("n_users") - coalesce(sum("n_t").over(wPrev), lit(0L)))
    val perT = dense.groupBy("t").agg(
      max(when(col("side") === 0, col("at_risk"))).as("ra"),
      max(when(col("side") === 1, col("at_risk"))).as("rb"),
      max(when(col("side") === 0, col("d"))).as("da"),
      max(when(col("side") === 1, col("d"))).as("db"))
      .withColumn("nn", col("ra") + col("rb"))
      .withColumn("dd", col("da") + col("db"))
      .withColumn("e_a", col("dd").cast("double") * col("ra") / col("nn"))
      .withColumn("v",
        when(col("nn") > 1,
          col("dd").cast("double") * (col("ra").cast("double") / col("nn"))
            * (lit(1.0) - col("ra").cast("double") / col("nn"))
            * (col("nn") - col("dd")) / (col("nn") - 1))
          .otherwise(lit(0.0)))
    perT
      .agg(
        sum("da").as("o_a"), sum("e_a").as("ea"), sum("v").as("vv"),
        count(lit(1)).as("n_times"))
      .select(
        col("n_times"), col("o_a"),
        round(col("ea"), 4).as("e_a"),
        round(when(col("vv") > 0.0,
          (col("o_a") - col("ea")) * (col("o_a") - col("ea")) / col("vv")), 4).as("chi2"),
        round(when(col("vv") > 0.0,
          (col("o_a") - col("ea")) / sqrt(col("vv"))), 4).as("z_stat"))
  }

  /** q384: two-sample Poisson rate-ratio test between two event types
    * over the same observation window — "are purchases arriving at the
    * same rate as errors?" The conditional test: given c_a + c_b
    * events, RR = c_a/c_b with z = ln(RR)/√(1/c_a + 1/c_b). One
    * full-scan aggregate; zero-count sides report null statistics
    * instead of dividing (ANSI-safe). */
  def rateRatio(
      events: DataFrame,
      typeA: String = "purchase",
      typeB: String = "error"): DataFrame =
    events
      .agg(
        sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("c_a"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("c_b"),
        countDistinct(to_date(col("ts"))).as("n_days"))
      .select(
        col("c_a"), col("c_b"), col("n_days"),
        round(col("c_a") / col("n_days").cast("double"), 4).as("rate_a"),
        round(col("c_b") / col("n_days").cast("double"), 4).as("rate_b"),
        round(when(col("c_b") > 0, col("c_a") / col("c_b").cast("double")), 4)
          .as("rate_ratio"),
        round(when(col("c_a") > 0 && col("c_b") > 0,
          log(col("c_a") / col("c_b").cast("double"))
            / sqrt(lit(1.0) / col("c_a") + lit(1.0) / col("c_b"))), 4).as("z_stat"))

  /** q385: Yuen's trimmed-mean test between two order priorities — the
    * heavy-tail-robust alternative to q171's Welch t (a single whale
    * order can swamp a mean comparison; trimming removes it, Winsorized
    * variance prices the removal honestly). Per side: trim
    * g = ⌊n·trim⌋ ranks from each tail of the [[GlobalOrder]] ranking,
    * trimmed mean over the middle h = n − 2g, variance of the
    * WINSORIZED sample (tails clamped to the g+1 / n−g rank values —
    * two 1-row rank picks, broadcast), d = s²_w(n−1)/(h(h−1)),
    * t = (m̄₁ − m̄₂)/√(d₁ + d₂). */
  def yuenTrimmed(
      orders: DataFrame,
      prioA: String = "1-URGENT",
      prioB: String = "5-LOW",
      trim: Double = 0.1): DataFrame = {
    def sideStats(prio: String): DataFrame = {
      val vals = orders.filter(col("o_orderpriority") === prio)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      val ranked = GlobalOrder.withGlobalRowNumber(
        vals, col("v"), Seq("v", "k"), "rn", "__ns")
        .withColumn("g", floor(col("__ns") * lit(trim)).cast("long"))
      val lo = ranked.filter(col("rn") === col("g") + 1).select(col("v").as("vlo"))
      val hi = ranked.filter(col("rn") === col("__ns") - col("g")).select(col("v").as("vhi"))
      ranked
        .crossJoin(broadcast(lo)).crossJoin(broadcast(hi)) // 1-row rank picks
        .agg(
          max("__ns").as("ns"), max("g").as("g"),
          avg(when(col("rn") > col("g") && col("rn") <= col("__ns") - col("g"),
            col("v"))).as("tm"),
          var_samp(least(greatest(col("v"), col("vlo")), col("vhi"))).as("s2w"))
        .withColumn("h", col("ns") - lit(2) * col("g"))
        .withColumn("dd",
          when(col("h") > 1,
            col("s2w") * (col("ns") - 1) / (col("h") * (col("h") - 1))))
    }
    val a = sideStats(prioA)
    val b = sideStats(prioB).select(
      col("ns").as("ns_b"), col("h").as("h_b"), col("tm").as("tm_b"), col("dd").as("dd_b"))
    a.crossJoin(broadcast(b)) // 1-row × 1-row
      .select(
        col("ns").as("n_a"), col("ns_b").as("n_b"),
        col("h").as("h_a"), col("h_b"),
        round(col("tm"), 4).as("tm_a"),
        round(col("tm_b"), 4).as("tm_b"),
        round(when(col("dd") + col("dd_b") > 0.0,
          (col("tm") - col("tm_b")) / sqrt(col("dd") + col("dd_b"))), 4).as("t_stat"))
  }

  /** q386: first-order partial correlation over the daily frame — does
    * revenue track order COUNT once the average ticket size is held
    * fixed? r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) from the
    * three pairwise Pearson aggregates on (revenue, n_orders,
    * avg_price) per day; degenerate |r| = 1 controls report null. */
  def partialCorr(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(
        moneySum(col("o_totalprice")).as("x"),
        count(lit(1)).cast("double").as("y"),
        avg("o_totalprice").as("z"))
    daily
      .agg(
        count(lit(1)).as("n_days"),
        corr(col("x"), col("y")).as("rxy"),
        corr(col("x"), col("z")).as("rxz"),
        corr(col("y"), col("z")).as("ryz"))
      .select(
        col("n_days"),
        round(col("rxy"), 4).as("r_rev_cnt"),
        round(col("rxz"), 4).as("r_rev_ticket"),
        round(col("ryz"), 4).as("r_cnt_ticket"),
        round(when(col("rxz") * col("rxz") < 1.0 && col("ryz") * col("ryz") < 1.0,
          (col("rxy") - col("rxz") * col("ryz"))
            / sqrt((lit(1.0) - col("rxz") * col("rxz"))
              * (lit(1.0) - col("ryz") * col("ryz")))), 4).as("partial_r"))
  }

  /** q387: two-way ANOVA main-effects decomposition (month × priority
    * on order value) — the factorial view where q226 is one-way and
    * q376 is rank-based. Sums of squares from three tiny aggregates
    * (per-month, per-priority, per-cell) + the 1-row grand totals;
    * SS_inter falls out by subtraction; output is F ratios and η²
    * SHARES (never raw SS — at warehouse magnitudes the raw sums of
    * squares carry float jitter past 4 dp; the ratios are stable).
    * Unbalanced cells are handled by the observed-cell df convention
    * (df_error = N − #cells). */
  def twoWayAnova(orders: DataFrame): DataFrame = {
    val keyed = orders.select(
      month(to_date(col("o_orderdate"))).as("ma"),
      col("o_orderpriority").as("pb"),
      col("o_totalprice").as("v"))
    val tot = keyed.agg(
      count(lit(1)).as("n"), sum("v").as("s"), sum(col("v") * col("v")).as("ss"))
    val byA = keyed.groupBy("ma").agg(count(lit(1)).as("na"), sum("v").as("sa"))
      .agg(count(lit(1)).as("a_levels"),
        sum(col("sa") * col("sa") / col("na")).as("pa"))
    val byB = keyed.groupBy("pb").agg(count(lit(1)).as("nb"), sum("v").as("sb"))
      .agg(count(lit(1)).as("b_levels"),
        sum(col("sb") * col("sb") / col("nb")).as("pb2"))
    val byC = keyed.groupBy("ma", "pb").agg(count(lit(1)).as("nc"), sum("v").as("sc"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("sc") * col("sc") / col("nc")).as("pc"))
    tot.crossJoin(broadcast(byA)).crossJoin(broadcast(byB)).crossJoin(broadcast(byC))
      .withColumn("sst", col("ss") - col("s") * col("s") / col("n"))
      .withColumn("ssa", col("pa") - col("s") * col("s") / col("n"))
      .withColumn("ssb", col("pb2") - col("s") * col("s") / col("n"))
      .withColumn("sse", col("ss") - col("pc"))
      .withColumn("ssab", col("sst") - col("ssa") - col("ssb") - col("sse"))
      .withColumn("dfa", col("a_levels") - 1)
      .withColumn("dfb", col("b_levels") - 1)
      .withColumn("dfab", col("n_cells") - col("a_levels") - col("b_levels") + 1)
      .withColumn("dfe", col("n") - col("n_cells"))
      .select(
        col("n").as("n_orders"), col("a_levels"), col("b_levels"),
        col("dfa"), col("dfb"), col("dfab"), col("dfe"),
        round(when(col("dfa") > 0 && col("dfe") > 0 && col("sse") > 0.0,
          col("ssa") / col("dfa") / (col("sse") / col("dfe"))), 4).as("f_month"),
        round(when(col("dfb") > 0 && col("dfe") > 0 && col("sse") > 0.0,
          col("ssb") / col("dfb") / (col("sse") / col("dfe"))), 4).as("f_prio"),
        round(when(col("dfab") > 0 && col("dfe") > 0 && col("sse") > 0.0,
          col("ssab") / col("dfab") / (col("sse") / col("dfe"))), 4).as("f_inter"),
        round(when(col("sst") > 0.0, col("ssa") / col("sst")), 4).as("eta2_month"),
        round(when(col("sst") > 0.0, col("ssb") / col("sst")), 4).as("eta2_prio"),
        round(when(col("sst") > 0.0, col("ssab") / col("sst")), 4).as("eta2_inter"))
  }

  /** q389: Nelson–Aalen hazard table over customer lifetimes — the
    * HAZARD view of q221's Kaplan–Meier (S(t) says who's left; h(t)
    * says when the churn risk actually spikes, the input to any
    * intervention-timing decision): per lifetime month, h = d/at-risk,
    * cumulative hazard H(t) = Σ h(u), and the Nelson–Aalen survival
    * exp(−H) next to it. Same lifetime/censoring conventions and the
    * same calendar-bounded frame as q221. */
  def nelsonAalen(orders: DataFrame, churnDays: Int = 365): DataFrame = {
    val u = orders.groupBy("o_custkey")
      .agg(min("o_orderdate").as("f"), max("o_orderdate").as("l"))
    val endd = orders.agg(max("o_orderdate").as("endd"))
    val life = u.crossJoin(broadcast(endd))
      .select(
        floor(datediff(col("l"), col("f")) / lit(30.0)).cast("long").as("t"),
        (datediff(col("endd"), col("l")) > churnDays).cast("long").as("churned"))
    val byT = life.groupBy("t").agg(count(lit(1)).as("n_t"), sum("churned").as("d"))
    val total = byT.agg(sum("n_t").as("n_users"))
    val wPrev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .crossJoin(broadcast(total)) // 1-row scalar
      .withColumn("at_risk", col("n_users") - coalesce(sum("n_t").over(wPrev), lit(0L)))
      .withColumn("h", col("d") / col("at_risk").cast("double"))
      .withColumn("hh", sum("h").over(wCum))
      .select(
        col("t").as("lifetime_months"), col("at_risk"),
        col("d").as("n_churned"),
        round(col("h"), 4).as("hazard"),
        round(col("hh"), 4).as("cum_hazard"),
        round(exp(-col("hh")), 4).as("na_survival"))
      .orderBy("lifetime_months")
  }

  /** q390: event study around the PEAK revenue day — the
    * pre/post-window readout behind any launch/incident review ("was
    * the spike a one-day blip or a level shift?"): marker = the
    * highest-revenue day (ordering on the PRE-ROUNDED daily revenue
    * with the day as tie-break, so both engines pick the same marker),
    * then each offset in [−k, +k] reports its revenue relative to the
    * OUT-OF-WINDOW baseline average. 1-row marker + 1-row baseline
    * scalars; the offset lookup is a day-index equi-range filter on the
    * calendar-bounded daily frame. */
  def eventStudy(orders: DataFrame, k: Int = 7): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(round(moneySum(col("o_totalprice")), 4).as("rev"))
      .withColumn("di", datediff(col("day"), lit("1970-01-01").cast("date")))
    val marker = daily.orderBy(desc("rev"), asc("day")).limit(1)
      .select(col("di").as("mdi"), col("day").as("marker_day"))
    val withOff = daily.crossJoin(broadcast(marker)) // 1-row marker scalar
      .withColumn("offset", (col("di") - col("mdi")).cast("long"))
    val baseline = withOff
      .filter(abs(col("offset")) > k)
      .agg(avg("rev").as("base"))
    withOff
      .filter(abs(col("offset")) <= k)
      .crossJoin(broadcast(baseline)) // 1-row baseline scalar
      .select(
        col("offset"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("rev"),
        round(when(col("base") > 0.0, col("rev") / col("base")), 4).as("rel_to_baseline"))
      .orderBy("offset")
  }

  /** q391: unit-price dispersion per part — the pricing-QA screen over
    * the catalog ("which parts are quoted all over the map?"): per
    * part, the coefficient of variation of the line-level unit price
    * (extended/qty), minimum support, top-N by the ROUNDED CV with the
    * part key as tie-break (engine-stable top-k on a catalog-bounded
    * aggregate). */
  def priceDispersion(
      lineitem: DataFrame,
      minLines: Int = 5,
      topN: Int = 20): DataFrame =
    lineitem
      .filter(col("l_quantity") > 0)
      .select(col("l_partkey"), (col("l_extendedprice") / col("l_quantity")).as("p"))
      .groupBy("l_partkey")
      .agg(
        count(lit(1)).as("n_lines"),
        avg("p").as("m"),
        stddev_samp(col("p")).as("sd"))
      .filter(col("n_lines") >= minLines && col("m") > 0.0)
      .select(
        col("l_partkey"), col("n_lines"),
        round(col("m"), 4).as("avg_unit_price"),
        round(col("sd") / col("m"), 4).as("cv"))
      .orderBy(desc("cv"), asc("l_partkey"))
      .limit(topN)

  /** q397: Mann–Kendall trend test on daily revenue — the
    * nonparametric "is there a monotone trend" screen (q246's Theil–Sen
    * gives the slope; this gives the significance): S = Σ_{i<j}
    * sign(x_j − x_i) over the PRE-ROUNDED daily series (sign flips are
    * engine-stable), tie-corrected variance, continuity-corrected z.
    * The pair expansion is days² on the calendar-bounded frame — the
    * q246 idiom, never data-sized. */
  def mannKendall(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(round(moneySum(col("o_totalprice")), 4).as("rev"))
      .withColumn("di", datediff(col("day"), lit("1970-01-01").cast("date")))
    val s = daily.as("a").join(daily.as("b"), col("a.di") < col("b.di"))
      .agg(sum(signum(col("b.rev") - col("a.rev"))).cast("long").as("s_stat"))
    val ties = daily.groupBy("rev").agg(count(lit(1)).as("t"))
      .agg(
        sum(col("t")).as("n"),
        sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)).as("tie_term"))
    s.crossJoin(broadcast(ties)) // 1-row scalars
      .withColumn("var_s",
        (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) - col("tie_term")) / lit(18.0))
      .withColumn("z",
        when(col("var_s") > 0.0,
          (col("s_stat") - signum(col("s_stat").cast("double"))) / sqrt(col("var_s"))))
      .withColumn("zr", round(col("z"), 4))
      .select(
        col("n").as("n_days"), col("s_stat"),
        round(col("var_s"), 4).as("var_s"),
        col("zr").as("z_stat"),
        when(col("zr") > 1.96, "increasing")
          .when(col("zr") < -1.96, "decreasing")
          .otherwise("no_trend").as("trend"))
  }

  /** q398: exponentially-decayed customer lifetime value by segment —
    * the recency-weighted CLV every retention model starts from: each
    * order contributes value·2^(−age/halfLife) (age to the corpus-end
    * scalar), summed per customer, then segment-level mean and exact
    * percentile summary. One fact pass + a customer-grain aggregate. */
  def decayedClv(
      orders: DataFrame,
      customer: DataFrame,
      halfLifeDays: Double = 180.0): DataFrame = {
    val endd = orders.agg(max("o_orderdate").as("endd"))
    val perCust = orders
      .crossJoin(broadcast(endd)) // 1-row corpus-end scalar
      .select(col("o_custkey"),
        (col("o_totalprice")
          * exp(lit(-math.log(2.0) / halfLifeDays)
            * datediff(col("endd"), col("o_orderdate")))).as("dv"))
      .groupBy("o_custkey")
      .agg(sum("dv").as("clv"))
    perCust
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("n_customers"),
        round(avg("clv"), 4).as("avg_clv"),
        round(expr("percentile(clv, 0.5)"), 4).as("median_clv"),
        round(expr("percentile(clv, 0.9)"), 4).as("p90_clv"))
      .orderBy("segment")
  }

  /** q399: Syntetos–Boylan demand classification — the forecasting
    * router that decides WHICH model each part deserves (smooth →
    * exponential smoothing q187, intermittent/lumpy → Croston q324):
    * per part, the average inter-demand interval from min/max/count
    * (NO per-part sort — (last−first)/(n−1) needs only three
    * aggregates) and the squared CV of demand sizes; the conventional
    * 1.32 / 0.49 cutoffs applied to the ROUNDED metrics so both
    * engines classify identically. Output is the per-class census. */
  def demandClasses(lineitem: DataFrame): DataFrame = {
    val perPart = lineitem
      .groupBy("l_partkey")
      .agg(
        count(lit(1)).as("n"),
        min(to_date(col("l_shipdate"))).as("f"),
        max(to_date(col("l_shipdate"))).as("l"),
        avg("l_quantity").as("mq"),
        var_samp(col("l_quantity")).as("vq"))
      .filter(col("n") >= 2 && col("mq") > 0.0)
      .select(
        round(datediff(col("l"), col("f")) / (col("n") - 1).cast("double"), 4).as("adi"),
        round(col("vq") / (col("mq") * col("mq")), 4).as("cv2"))
    perPart
      .select(
        when(col("adi") < 1.32,
          when(col("cv2") < 0.49, "smooth").otherwise("erratic"))
          .otherwise(
            when(col("cv2") < 0.49, "intermittent").otherwise("lumpy")).as("demand_class"),
        col("adi"), col("cv2"))
      .groupBy("demand_class")
      .agg(
        count(lit(1)).as("n_parts"),
        round(avg("adi"), 4).as("avg_adi"),
        round(avg("cv2"), 4).as("avg_cv2"))
      .orderBy("demand_class")
  }

  /** q400: SECOND-digit Benford audit on order values — the harder
    * fraud screen (first digits (q182) survive naive rounding fraud;
    * second digits rarely do): expected P(d) = Σ_{k=1..9}
    * log₁₀(1 + 1/(10k+d)) for d = 0..9, observed from the second
    * character of the integer part (values ≥ 10 only), χ² over the
    * 10-row frame. The frame is DENSIFIED to all ten digits before the
    * χ² — groupBy only emits observed digits, and a digit with zero
    * rows still owes its (0−e)²/e = e contribution; dropping it would
    * understate χ² exactly on the sparse data a fraud screen most
    * needs to flag. */
  def benfordSecondDigit(orders: DataFrame): DataFrame = {
    val observed = orders
      .filter(col("o_totalprice") >= 10.0)
      .select(substring(floor(col("o_totalprice")).cast("string"), 2, 1)
        .cast("int").as("d"))
      .groupBy("d").agg(count(lit(1)).as("n0"))
    val digits = orders.sparkSession.range(0, 10)
      .select(col("id").cast("int").as("d"))
      .join(observed, Seq("d"), "left")
      .select(col("d"), coalesce(col("n0"), lit(0L)).as("n"))
    val expected = (0 to 9).map { d =>
      (d, (1 to 9).map(k => math.log10(1.0 + 1.0 / (10 * k + d))).sum)
    }.foldLeft(lit(null).cast("double")) { case (acc, (d, p)) =>
      when(col("d") === d, lit(p)).otherwise(acc)
    }
    digits
      .withColumn("total", sum("n").over(one)) // 10-row frame
      .withColumn("p_exp", expected)
      .withColumn("e", col("p_exp") * col("total"))
      .select(
        col("d").as("digit"), col("n"),
        round(col("n") / col("total").cast("double"), 4).as("p_observed"),
        round(col("p_exp"), 4).as("p_expected"),
        round(sum((col("n") - col("e")) * (col("n") - col("e")) / col("e"))
          .over(one), 4).as("chi2"))
      .orderBy("digit")
  }

  /** q401: price-CHANGE frequency per part — the menu-cost view of the
    * catalog (q391 says how dispersed quotes are; this says how OFTEN
    * the quoted level moves): per part, walk the shipment sequence in a
    * deterministic total order and count level changes of the ROUNDED
    * unit price (engine-stable); report the per-change-count census.
    * The walk is a per-part window — partitions are catalog-key-sized
    * (the q209 per-user idiom), never data-sized. */
  def priceChangeFrequency(lineitem: DataFrame): DataFrame = {
    val w = Window.partitionBy("l_partkey")
      .orderBy(col("sd"), col("up"), col("l_orderkey"), col("l_linenumber"))
    val seq = lineitem
      .filter(col("l_quantity") > 0)
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        to_date(col("l_shipdate")).as("sd"),
        round(col("l_extendedprice") / col("l_quantity"), 4).as("up"))
      .withColumn("prev", lag("up", 1).over(w))
    seq
      .groupBy("l_partkey")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("prev").isNotNull && col("up") =!= col("prev"), 1L)
          .otherwise(0L)).as("n_changes"))
      .groupBy("n_changes")
      .agg(count(lit(1)).as("n_parts"),
        round(avg(col("n_lines").cast("double")), 4).as("avg_lines"))
      .orderBy("n_changes")
  }

  /** q402: repeat-purchase profile by segment — the one-glance loyalty
    * readout (share of customers who came back, and how hard): repeat
    * share, mean orders per customer, mean orders among repeaters;
    * zero-order customers enter via the dimension left join (the q377
    * convention). */
  def repeatPurchase(orders: DataFrame, customer: DataFrame): DataFrame =
    customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("c"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_repeat"),
        round(avg(col("c").cast("double")), 4).as("avg_orders"),
        round(sum(when(col("c") >= 2, 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 4).as("repeat_share"),
        round(when(sum(when(col("c") >= 2, 1L).otherwise(0L)) > 0,
          sum(when(col("c") >= 2, col("c")).otherwise(0L))
            / sum(when(col("c") >= 2, 1L).otherwise(0L)).cast("double")), 4)
          .as("orders_per_repeater"))
      .orderBy("segment")

  /** q383: per-decile quantile-shift table between two customer
    * segments — the QQ-plot data behind the q184/q367/q379 scalars:
    * for each decile d, the EXACT d-th decile of each side
    * (PERCENTILE_DISC at rank ⌈n·d/10⌉ — a rank pick, engine-stable on
    * raw doubles), their difference and ratio. The boundary ranks land
    * via an equi-join of the [[GlobalOrder]]-ranked rows against a
    * broadcast 2×10-row (side, decile → target rank) table — no
    * data-sized window, no per-row decile arithmetic. */
  def quantileShift(
      orders: DataFrame,
      customer: DataFrame,
      segA: String = "BUILDING",
      segB: String = "MACHINERY"): DataFrame = {
    val seg = customer
      .filter(col("c_mktsegment").isInCollection(Seq(segA, segB)))
      .select(col("c_custkey"), when(col("c_mktsegment") === segA, 0).otherwise(1).as("side"))
    val vals = orders
      .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"), col("side"))
    val ranked = Seq(0, 1).map { s =>
      GlobalOrder.withGlobalRowNumber(
        vals.filter(col("side") === s), col("v"), Seq("v", "k"), "rn", "__ns")
    }.reduce(_ unionByName _)
    val counts = vals.groupBy("side").agg(count(lit(1)).as("ns"))
    val bounds = counts
      .withColumn("decile", explode(array((1L to 10L).map(lit): _*)))
      .select(col("side"), col("decile"),
        ceil(col("ns") * col("decile") / lit(10.0)).cast("long").as("trank"))
    ranked
      .join(broadcast(bounds),
        ranked("side") === bounds("side") && col("rn") === col("trank"))
      .groupBy("decile")
      .agg(
        max(when(ranked("side") === 0, col("v"))).as("q_a"),
        max(when(ranked("side") === 1, col("v"))).as("q_b"))
      .select(
        col("decile"), col("q_a"), col("q_b"),
        round(col("q_b") - col("q_a"), 4).as("shift"),
        round(when(col("q_a") =!= 0.0, col("q_b") / col("q_a")), 4).as("ratio"))
      .orderBy("decile")
  }

  /** 1 − Φ(x) for x ≥ 0 via the Abramowitz–Stegun polynomial — the
    * portable normal tail (same constants as Relational's copy and the
    * SQL oracles; no engine erf). */
  private def normTail(x: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * x)
    val pdf = exp(lit(-0.5) * x * x) * lit(0.3989422804014327)
    pdf * (lit(0.319381530) * t
      + lit(-0.356563782) * t * t
      + lit(1.781477937) * t * t * t
      + lit(-1.821255978) * t * t * t * t
      + lit(1.330274429) * t * t * t * t * t)
  }

  /** q403: GRUBBS max-outlier test on daily revenue — "is the single
    * most extreme day statistically an outlier", the formal follow-up
    * to q90's fence counting and q259's control limits (both flag; this
    * attaches a p-value to the WORST point). G = max|x−μ|/s over the
    * calendar-day frame; significance via the Bonferroni normal bound
    * p ≤ 2n·(1−Φ(G)) (the A&S polynomial both engines share — exact t
    * quantiles are not portable, and the normal bound is conservative:
    * it never flags MORE than the exact test). The argmax day resolves
    * ties by date so both engines pick the same row; the flag
    * thresholds on the ROUNDED p. */
  def grubbs(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(moneySum(col("o_totalprice")).as("x"))
    val stats = daily.agg(
      count(lit(1)).as("n_days"), avg("x").as("mu"), stddev_samp(col("x")).as("s"))
    val wTop = Window.orderBy(desc("dev"), col("day")) // ≤calendar-bounded frame
    daily
      .crossJoin(broadcast(stats))
      // ANSI guard: a zero-variance series has no outlier (and no G)
      .withColumn("dev", when(col("s") > 0.0, abs(col("x") - col("mu")) / col("s")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .withColumn("p",
        round(least(lit(1.0), lit(2.0) * col("n_days") * normTail(col("dev"))), 4))
      .select(
        col("n_days"),
        round(col("mu"), 4).as("mean_rev"),
        round(col("s"), 4).as("sd_rev"),
        date_format(col("day"), "yyyy-MM-dd").as("worst_day"),
        round(col("x"), 4).as("x_worst"),
        round(col("dev"), 4).as("g_stat"),
        col("p").as("p_bonferroni"),
        (col("p") < 0.05).as("outlier"))
  }

  /** q404: PAGE–HINKLEY drift monitor on daily revenue — the
    * running-mean counterpart of q222's fixed-baseline CUSUM: CUSUM
    * asks "has the level left the HISTORICAL mean", PH asks "is the
    * level drifting away from its OWN evolving baseline", which keeps
    * alarming power after a legitimate regime change q222 would
    * permanently alarm on. m_t = Σ_{i≤t}(x_i − x̄_i − band) with x̄_i
    * the running prefix mean and band = δ·global-mean (a relative
    * dead-band, scale-free across SFs); excursion PH_t = m_t − min
    * prefix m (the q222 closed-form trick — two running windows over
    * the calendar-day frame, no sequential recursion). Reported per
    * month in global-σ units. */
  def pageHinkley(orders: DataFrame, delta: Double = 0.005): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(moneySum(col("o_totalprice")).as("x"))
    val stats = daily.agg(avg("x").as("gmu"), stddev_samp(col("x")).as("sigma"))
    val wCum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .crossJoin(broadcast(stats))
      .withColumn("rbar", avg("x").over(wCum)) // running prefix mean
      .withColumn("m", sum(col("x") - col("rbar") - lit(delta) * col("gmu")).over(wCum))
      .withColumn("ph", col("m") - least(lit(0.0), min("m").over(wCum)))
      .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
      .agg(
        count(lit(1)).as("n_days"),
        // ANSI guard: a zero-variance series has no σ scale (ph is 0
        // there anyway — the dead-band absorbs a constant series)
        round(max(when(col("sigma") > 0.0, col("ph") / col("sigma"))), 4)
          .as("max_excursion_sigmas"),
        max((col("ph") > col("sigma") * 4).cast("int")).as("alarm"))
      .orderBy("month")
  }

  /** q408: HURST exponent of daily revenue via rescaled-range (R/S)
    * analysis — the long-range-dependence diagnostic (H ≈ 0.5 random
    * walk, H → 1 trending/persistent, H → 0 mean-reverting) that says
    * whether q187/q281's smoothing horizon or q222/q404's drift
    * monitors face short- or long-memory demand. Convention: for each
    * block size s ∈ `sizes`, split the day sequence into FULL blocks,
    * R = max−min of within-block cumulative deviations from the block
    * mean (t = 1..s range), S = population stddev; H = OLS slope of
    * ln(mean R/S) on ln(s) over the ≤|sizes|-row frame. All windows
    * are block-partitioned over the calendar-bounded daily frame; the
    * slope folds over ≤4 rows. */
  def hurst(orders: DataFrame, sizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(moneySum(col("o_totalprice")).as("x"))
      .withColumn("rn", row_number().over(Window.orderBy("day"))) // calendar frame
    val sized = daily
      .withColumn("size", explode(lit(sizes.toArray)))
      .withColumn("block", floor((col("rn") - 1) / col("size")))
    val wBlock = Window.partitionBy("size", "block")
    val wSeq = wBlock.orderBy("rn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blocks = sized
      .withColumn("bn", count(lit(1)).over(wBlock))
      .filter(col("bn") === col("size")) // full blocks only
      .withColumn("mu", avg("x").over(wBlock))
      .withColumn("sd", stddev_pop("x").over(wBlock))
      .withColumn("cum", sum(col("x") - col("mu")).over(wSeq))
      .groupBy("size", "block")
      .agg((max("cum") - min("cum")).as("r"), max("sd").as("s"))
      .select(col("size"),
        when(col("s") > 0.0, col("r") / col("s")).as("rs")) // flat block: no scale
    blocks
      .groupBy("size")
      .agg(count(col("rs")).as("n_blocks"), avg("rs").as("mean_rs"))
      // a size whose every block was flat (mean_rs null) must drop out
      // of the OLS ENTIRELY: null v already skips avg(v)/avg(u*v), so u
      // is nulled on the same condition — otherwise its u still enters
      // avg(u)/avg(u*u) and skews the slope's denominator
      .withColumn("u", when(col("mean_rs").isNotNull, log(col("size").cast("double"))))
      .withColumn("v", log(col("mean_rs")))
      .withColumn("h", // OLS slope over the ≤|sizes|-row frame
        (avg(col("u") * col("v")).over(one)
          - avg("u").over(one) * avg("v").over(one))
          / (avg(col("u") * col("u")).over(one)
            - avg("u").over(one) * avg("u").over(one)))
      .select(col("size"), col("n_blocks"),
        round(col("mean_rs"), 4).as("mean_rs"),
        round(col("h"), 4).as("hurst"))
      .orderBy("size")
  }

  /** q409: HILL tail-index estimate of the order-value distribution —
    * "how heavy is the revenue tail" as a number (α < 2 ⇒ infinite
    * variance, percentile planning breaks; q117's Zipf slope and
    * q370's token-rank Hill are the DISCRETE-frequency cousins — this
    * is the continuous-value leg over order totals, fetched by order
    * statistics, not TF ranks): α̂ = k / Σ_{i=1..k} ln(x₍ᵢ₎/x₍ₖ₊₁₎) over
    * the top k+1 order statistics. The top-(k+1) set is a
    * TakeOrderedAndProject (per-partition heap + driver merge — never
    * a global sort), the rest is a ≤(k+1)-row frame; ties at the
    * boundary are rank-resolved by order key so both engines sum the
    * identical k terms. */
  def hillTail(orders: DataFrame, k: Int = 100): DataFrame = {
    val top = orders
      .select(col("o_totalprice").as("x"), col("o_orderkey").as("okey"))
      .orderBy(desc("x"), asc("okey"))
      .limit(k + 1)
    val w = Window.orderBy(desc("x"), asc("okey")) // ≤(k+1)-row frame
    top
      .withColumn("rn", row_number().over(w))
      .withColumn("xref", max(when(col("rn") === k + 1, col("x"))).over(one))
      .filter(col("rn") <= k)
      .agg(
        count(lit(1)).as("n_tail"),
        max("xref").as("xr"),
        sum(log(col("x") / col("xref"))).as("lsum"))
      .select(
        col("n_tail"),
        round(col("xr"), 4).as("x_kplus1"),
        // all-ties tail (Σ = 0): no slope to estimate — null, not ∞
        round(when(col("lsum") > 0.0, col("n_tail") / col("lsum")), 4).as("alpha"))
  }

  /** q415: two-sample ANDERSON–DARLING statistic between two order
    * priorities — the tail-sensitive sibling of q184's KS (KS sees only
    * the single worst CDF gap, mid-distribution by construction; AD
    * weights the gaps by 1/(F(1−F)) so tail divergence — exactly where
    * revenue risk lives — dominates): with the pooled sample globally
    * ordered, A² = (1/(m·n)) Σ_{i=1..N−1} (M_i·N − m·i)² / (i·(N−i)),
    * M_i = count of sample-A values among the first i pooled. Every
    * pooled row knows its own M_i from the q184 rank algebra (side-A
    * row: its within-side rank; side-B row: pooled rank − within-side
    * rank) — GlobalOrder buckets, one scalar fold, no recursion, no
    * pair expansion. */
  def andersonDarling(
      orders: DataFrame,
      prioA: String = "1-URGENT",
      prioB: String = "5-LOW"): DataFrame = {
    val vals = orders
      .filter(col("o_orderpriority").isInCollection(Seq(prioA, prioB)))
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"),
        when(col("o_orderpriority") === prioA, 0).otherwise(1).as("side"))
    // r11: one fused ranking pass (GlobalOrder.withCumSides); m_i (the
    // side-A count at-or-before pooled rank i) is cum_a for every row —
    // the same value the three-ranking union reconstructed per side
    GlobalOrder.withCumSides(vals, col("v"), Seq("v", "side", "k"), "side", rnCol = "rn_all", totalCol = "__tot")
      .filter(col("rn_all") < col("__tot")) // i = N contributes 0/0: excluded by definition
      .select(col("__tot").as("nt"), col("n_a"), col("n_b"), col("rn_all").as("i"),
        col("cum_a").as("m_i"))
      .agg(
        max(col("n_a")).as("n_a"),
        max(col("n_b")).as("n_b"),
        round(
          sum(pow(col("m_i") * col("nt") - col("n_a") * col("i"), 2)
            / (col("i") * (col("nt") - col("i"))))
            / (max(col("n_a")) * max(col("n_b"))).cast("double"), 4).as("a2_stat"))
  }

  /** q416: HODGES–LEHMANN shift estimator between two priorities'
    * DAILY revenue — the robust "how much bigger is B than A" in
    * dollars (q185's U says WHETHER they differ; HL says BY HOW MUCH,
    * outlier-proof where the mean difference is one whale away from
    * nonsense): median of all pairwise differences median(x_B − x_A)
    * over the two calendar-bounded daily series. The pair frame is
    * #days_A × #days_B (q397's calendar-bounded precedent — bounded by
    * the RETENTION WINDOW, not the data volume), the median an exact
    * interpolated percentile, plus the mean difference for contrast. */
  def hodgesLehmann(
      orders: DataFrame,
      prioA: String = "1-URGENT",
      prioB: String = "5-LOW"): DataFrame = {
    def daily(p: String) = orders
      .filter(col("o_orderpriority") === p)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(moneySum(col("o_totalprice")).as("x"))
    daily(prioA).select(col("x").as("xa"))
      .crossJoin(daily(prioB).select(col("x").as("xb")))
      .select((col("xb") - col("xa")).as("d"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(expr("percentile(d, 0.5)"), 4).as("hl_shift"),
        round(avg(col("d")), 4).as("mean_shift"))
  }

  /** q419: one-sample KS UNIFORMITY test of order arrival dates against
    * a calendar-uniform law — the data-quality probe q184's two-sample
    * form can't do (no second sample needed: "did loads arrive evenly
    * across the window, or did a backfill dump land?"). With the span
    * [min_day, max_day] as the null, D = max |F̂(d) − F₀(d)| over order
    * dates, where F̂ rides the q184 GlobalOrder rank algebra and F₀ is
    * the closed-form uniform CDF at each observed date. One scan +
    * bucketed ranks + a 1-row span scalar; √n·D reported for the usual
    * significance read. */
  def ksUniform(orders: DataFrame): DataFrame = {
    val d = orders.select(
      col("o_orderkey").as("k"),
      datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01"))).as("di"))
    val span = d.agg(
      min("di").as("lo"), max("di").as("hi"), count(lit(1)).as("n"))
    val ranked = GlobalOrder.withGlobalRowNumber(
      d, col("di"), Seq("di", "k"), "rn", "__tot")
    ranked
      .crossJoin(broadcast(span)) // 1-row scalar (q14 idiom)
      .select(col("rn"), col("__tot"),
        when(col("hi") > col("lo"),
          (col("di") - col("lo")) / (col("hi") - col("lo")).cast("double"))
          .otherwise(lit(0.0)).as("f0"))
      // both one-sided gaps: the empirical step straddles F0 above and below
      .select(greatest(
        abs(col("rn") / col("__tot") - col("f0")),
        abs((col("rn") - 1) / col("__tot").cast("double") - col("f0"))).as("gap"),
        col("__tot"))
      .agg(
        max(col("__tot")).as("n"),
        round(max("gap"), 4).as("ks_stat"),
        round(max(col("gap")) * sqrt(max(col("__tot"))), 4).as("sqrt_n_d"))
  }

  /** q420: EXPECTED SHORTFALL (CVaR) of daily revenue — the tail-risk
    * number a revenue SLO should quote instead of a bare percentile
    * (VaR says "the 5th-percentile day is X"; ES says "WHEN we're in
    * the tail, the average day is Y" — coherent, subadditive, and what
    * q210's drawdown view prices per episode this prices per day):
    * daily sums, VaR = exact interpolated p-quantile, ES = mean of
    * days ≤ VaR. Calendar-bounded frame; two scalar aggregates. */
  def expectedShortfall(orders: DataFrame, p: Double = 0.05): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(moneySum(col("o_totalprice")).as("x"))
    val varRow = daily.agg(expr(s"percentile(x, $p)").as("var_p"))
    daily
      .crossJoin(broadcast(varRow)) // 1-row scalar (q14 idiom)
      .agg(
        count(lit(1)).as("n_days"),
        round(max("var_p"), 4).as("var_p"),
        sum(when(col("x") <= col("var_p"), 1L).otherwise(0L)).as("n_tail_days"),
        round(avg(when(col("x") <= col("var_p"), col("x"))), 4).as("expected_shortfall"))
  }

  /** q427: propensity-score nearest-neighbour matching ATT — the causal
    * estimate q375's IPW weighs for, answered by MATCHING instead: each
    * treated customer (AUTOMOBILE segment) pairs with the control whose
    * score is nearest, and ATT = mean(treated outcome − matched control
    * outcome). The score here is transparent (account balance — the
    * estimator is the operator under test, not the score model), made a
    * strict total order by a custkey·1e-9 jitter so "nearest" is
    * engine-independent even at duplicate balances.
    *
    * Matching WITHOUT the quadratic treated×control scan: one per-nation
    * window sort; the nearest control is whichever of
    * (last preceding control, first following control) sits closer —
    * exactly the 1-NN on a sorted line. Greedy-with-replacement
    * semantics (standard ATT matching), all window state O(1) per row.
    * Outcomes are exact-decimal revenue sums; ATT is displayed in
    * THOUSANDS at 4 dp so the avg's summation-order drift (~1e-6 of a
    * 1e8 mass) sits far below the display grain (the q200/sf1 lesson
    * applied by construction). */
  def psmAtt(customer: DataFrame, orders: DataFrame): DataFrame = {
    val rev = orders
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(moneySum(col("o_totalprice")).as("outcome"))
    val scored = customer
      .join(rev, Seq("c_custkey"), "left")
      .select(
        col("c_custkey"), col("c_nationkey"),
        (col("c_mktsegment") === "AUTOMOBILE").as("treated"),
        (col("c_acctbal") + col("c_custkey") * lit(1e-9)).as("score"),
        coalesce(col("outcome"), lit(0.0)).as("outcome"))
    val w = Window.partitionBy("c_nationkey").orderBy("score")
    val back = w.rowsBetween(Window.unboundedPreceding, -1)
    val fwd = w.rowsBetween(1, Window.unboundedFollowing)
    val ctlScore = when(!col("treated"), col("score"))
    val ctlOut = when(!col("treated"), col("outcome"))
    val m = scored
      .withColumn("bs", last(ctlScore, ignoreNulls = true).over(back))
      .withColumn("bo", last(ctlOut, ignoreNulls = true).over(back))
      .withColumn("fs", first(ctlScore, ignoreNulls = true).over(fwd))
      .withColumn("fo", first(ctlOut, ignoreNulls = true).over(fwd))
      .filter(col("treated"))
      .withColumn("mo",
        when(col("bs").isNull, col("fo"))
          .when(col("fs").isNull, col("bo"))
          .when(col("score") - col("bs") <= col("fs") - col("score"), col("bo"))
          .otherwise(col("fo")))
      .withColumn("mgap",
        when(col("bs").isNull, col("fs") - col("score"))
          .when(col("fs").isNull, col("score") - col("bs"))
          .otherwise(least(col("score") - col("bs"), col("fs") - col("score"))))
    m.groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_treated"),
        count(col("mo")).as("n_matched"),
        round(avg((col("outcome") - col("mo")) / lit(1000.0)), 4).as("att_k"),
        round(avg(col("mgap")), 4).as("mean_score_gap"))
      .orderBy("c_nationkey")
  }

  /** q431: Yule–Walker AR(2) fit + one-step forecast of daily revenue —
    * the autoregressive companion to q181's ACF and q281's Holt: from
    * the lag-1/lag-2 autocorrelations (the q181 pair-join form — no
    * data-sized window), φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²),
    * and the forecast re-centers the last two observations around the
    * mean. Money-mass outputs are displayed in MILLIONS at 4 dp so
    * summation-order drift never reaches the grain. Everything after
    * the daily rollup is a handful of 1-row scalars. */
  def ar2Forecast(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(moneySum(col("o_totalprice")).as("x"))
      .withColumn("di", datediff(col("d"), to_date(lit("1970-01-01"))))
    def acfAt(k: Int, name: String): DataFrame =
      daily.select(col("di"), col("x"))
        .join(
          daily.select((col("di") - k).as("di"), col("x").as("y")), Seq("di"))
        .agg(corr(col("x"), col("y")).as(name))
    val mu = daily.agg(avg("x").as("mu"), count(lit(1)).as("n_days"))
    val last2 = daily.orderBy(desc("di")).limit(2)
      .agg(max_by(col("x"), col("di")).as("x_last"), min_by(col("x"), col("di")).as("x_prev"))
    val denom = lit(1.0) - col("r1") * col("r1")
    val phi1 = when(abs(denom) > 1e-12, col("r1") * (lit(1.0) - col("r2")) / denom)
    val phi2 = when(abs(denom) > 1e-12, (col("r2") - col("r1") * col("r1")) / denom)
    mu.crossJoin(broadcast(acfAt(1, "r1")))
      .crossJoin(broadcast(acfAt(2, "r2")))
      .crossJoin(broadcast(last2))
      .select(
        col("n_days"),
        round(col("mu") / lit(1e6), 4).as("mu_m"),
        round(col("r1"), 4).as("r1"),
        round(col("r2"), 4).as("r2"),
        round(phi1, 4).as("phi1"),
        round(phi2, 4).as("phi2"),
        round(col("x_last") / lit(1e6), 4).as("x_last_m"),
        round(col("x_prev") / lit(1e6), 4).as("x_prev_m"),
        round(
          (col("mu") + phi1 * (col("x_last") - col("mu"))
            + phi2 * (col("x_prev") - col("mu"))) / lit(1e6), 4).as("forecast_m"))
  }

  /** q430: periodogram of daily revenue — the raw spectral view under
    * q186's day-of-week test and q194/q256's STL: for each candidate
    * period p, the share of (mean-centered) series energy captured by
    * the p-day harmonic, (Σx̃·cos)² + (Σx̃·sin)² over n·Σx̃². A weekly
    * rhythm shows as a spike at p=7 (and its alias at p=14 tagged by
    * rank). The share is a RATIO of same-magnitude money masses, so
    * summation-order drift cancels to ~1e-12 relative — displayable at
    * 4 dp without the money-sum ceremony. One daily rollup, a
    * #days×#periods explode, then a #periods-row aggregate. */
  def periodogram(orders: DataFrame, periods: Seq[Int] = (2 to 14)): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(moneySum(col("o_totalprice")).as("x"))
      .withColumn("di", datediff(col("d"), to_date(lit("1970-01-01"))))
    val muRow = daily.agg(avg("x").as("mu"), count(lit(1)).as("n_days"))
    val centered = daily
      .crossJoin(broadcast(muRow))
      .select(col("di"), (col("x") - col("mu")).as("xc"), col("n_days"))
    val theta = lit(2.0 * math.Pi) * col("di") / col("period")
    val byPeriod = centered
      .withColumn("period", explode(array(periods.map(lit): _*)))
      .groupBy("period")
      .agg(
        sum(col("xc") * cos(theta)).as("sc"),
        sum(col("xc") * sin(theta)).as("ss"),
        sum(col("xc") * col("xc")).as("c0"),
        max("n_days").as("n_days"))
    byPeriod
      .select(
        col("period"), col("n_days"),
        round(
          when(col("c0") > 0,
            (col("sc") * col("sc") + col("ss") * col("ss"))
              / (col("n_days") * col("c0"))), 4).as("energy_share"))
      .withColumn("rank", // constant-partitioned: #periods rows by construction
        row_number().over(Window.partitionBy(lit(1)).orderBy(desc("energy_share"), asc("period"))))
      .orderBy("period")
  }

  /** q432: newsvendor critical-fractile stocking per part brand — the
    * inventory-optimization read on the demand series: with underage
    * cost 3× overage, stock at the 0.75 demand quantile; the report
    * shows the chosen level plus its realized economics (expected
    * leftover, expected shortage, demand-met share) against the
    * history. The quantile is the exact interpolated percentile (q16
    * discipline) and the level is ROUNDED before the economics so both
    * engines clip the same boundary days (q90 discipline). Daily-grain
    * aggregate → #modes quantiles broadcast back → one more pass. */
  def newsvendor(lineitem: DataFrame, part: DataFrame, fractile: Double = 0.75): DataFrame = {
    val daily = lineitem
      .join(broadcast(part.select(col("p_partkey").as("l_partkey"), col("p_brand"))), "l_partkey")
      .groupBy(col("p_brand"), to_date(col("l_shipdate")).as("d"))
      .agg(sum(col("l_quantity")).as("demand"))
    val levels = daily
      .groupBy("p_brand")
      .agg(round(expr(s"percentile(demand, CAST($fractile AS DOUBLE))"), 4).as("s_level"))
    daily
      .join(broadcast(levels), "p_brand")
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_days"),
        max("s_level").as("s_level"),
        round(avg(greatest(col("s_level") - col("demand"), lit(0.0))), 4)
          .as("exp_leftover"),
        round(avg(greatest(col("demand") - col("s_level"), lit(0.0))), 4)
          .as("exp_shortage"),
        round(avg(when(col("demand") <= col("s_level"), 1.0).otherwise(0.0)), 4)
          .as("service_rate"))
      .orderBy("p_brand")
  }

  /** q433: mediation analysis (Baron–Kenny product-of-coefficients) —
    * how much of the arm effect on revenue flows THROUGH engagement:
    * T = md5-parity arm, M = view count (mediator), Y = purchase
    * revenue, all at user grain. a = dM/dT; (b, c′) from the
    * two-predictor OLS of Y on (T, M) in covariance closed form;
    * indirect = a·b, total = dY/dT, direct = c′, with the proportion
    * mediated. Complements q375 (IPW) / q332 (DiD) / q223 (CUPED) with
    * the decomposition register. One user-grain aggregate, then a
    * single covariance row — every division lazily guarded. */
  def mediation(events: DataFrame): DataFrame = {
    val users = events
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "view", 1).otherwise(0)).cast("double").as("m"),
        sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)).as("y"))
      .withColumn("t",
        when(Relational.hashArm(col("user_id")) === "A", 1.0).otherwise(0.0))
    val cv = users.agg(
      count(lit(1)).as("n_users"),
      var_samp(col("t")).as("vt"),
      var_samp(col("m")).as("vm"),
      covar_samp(col("t"), col("m")).as("ctm"),
      covar_samp(col("t"), col("y")).as("cty"),
      covar_samp(col("m"), col("y")).as("cmy"))
    val det = col("vm") * col("vt") - col("ctm") * col("ctm")
    val a = when(col("vt") > 0, col("ctm") / col("vt"))
    val b = when(abs(det) > 1e-12,
      (col("cmy") * col("vt") - col("cty") * col("ctm")) / det)
    val cPrime = when(abs(det) > 1e-12,
      (col("cty") * col("vm") - col("cmy") * col("ctm")) / det)
    val total = when(col("vt") > 0, col("cty") / col("vt"))
    val indirect = a * b
    cv.select(
      col("n_users"),
      round(a, 4).as("a_t_to_m"),
      round(b, 4).as("b_m_to_y"),
      round(cPrime, 4).as("direct"),
      round(indirect, 4).as("indirect"),
      round(total, 4).as("total"),
      round(when(abs(total) > 1e-9, indirect / total), 4).as("prop_mediated"))
  }

  /** q436: BASS DIFFUSION fit of user adoption — the product-growth
    * model behind "when does adoption peak": daily first-purchase
    * counts n_t regressed on cumulative adopters, n_t = a + b·N₍t₋₁₎ +
    * c·N²₍t₋₁₎ (the discrete Bass form), coefficients by the same
    * two-regressor covariance closed form as q433, then the structural
    * parameters m (market size, the positive quadratic root), p
    * (innovation) and q (imitation). One user-grain first-purchase
    * aggregate, a calendar-bounded day table with a prefix sum, one
    * covariance row. c is displayed ×1e6 and m in thousands so the
    * tiny/huge coefficients survive 4 dp. */
  def bassDiffusion(events: DataFrame): DataFrame = {
    val firstDay = events
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("day"))
    val daily = firstDay.groupBy("day").agg(count(lit(1)).as("n_adopt"))
    // prefix sum over the ≤#days frame (q89/q183 calendar-bounded idiom)
    val wd = Window.partitionBy(lit(1)).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val series = daily
      .withColumn("cum_prev", coalesce(sum("n_adopt").over(wd), lit(0L)).cast("double"))
      .select(
        col("n_adopt").cast("double").as("y"),
        col("cum_prev").as("x1"),
        (col("cum_prev") * col("cum_prev")).as("x2"))
    val cv = series.agg(
      count(lit(1)).as("n_days"),
      avg("y").as("my"), avg("x1").as("m1"), avg("x2").as("m2"),
      var_samp(col("x1")).as("v1"), var_samp(col("x2")).as("v2"),
      covar_samp(col("x1"), col("x2")).as("c12"),
      covar_samp(col("x1"), col("y")).as("c1y"),
      covar_samp(col("x2"), col("y")).as("c2y"))
    val det = col("v1") * col("v2") - col("c12") * col("c12")
    val b = when(abs(det) > 1e-6, (col("c1y") * col("v2") - col("c2y") * col("c12")) / det)
    val c = when(abs(det) > 1e-6, (col("c2y") * col("v1") - col("c1y") * col("c12")) / det)
    val a = col("my") - b * col("m1") - c * col("m2")
    val disc = b * b - lit(4.0) * a * c
    // the market-size root exists only when the quadratic curves DOWN
    // (c<0 — imitation saturates); the −1e-9 guard sits far above the
    // cross-engine covariance noise floor and far below any real c
    val m = when(c < -1e-9 && disc >= 0,
      (-b - sqrt(disc)) / (lit(2.0) * c))
    val p = when(abs(m) > 1e-9, a / m)
    val q = -c * m
    cv.select(
      col("n_days"),
      round(a, 4).as("a"),
      round(b, 4).as("b"),
      round(c * lit(1e6), 4).as("c_e6"),
      round(m / lit(1000.0), 4).as("m_k"),
      round(p, 4).as("p_innovation"),
      round(q, 4).as("q_imitation"))
  }

  /** q440: cluster-sampling DESIGN EFFECT — what user-clustered
    * randomization costs in effective sample size: purchases cluster
    * within users, so the intraclass correlation (one-way ANOVA
    * estimator with the unequal-size m₀ correction) inflates variance
    * by DEFF = 1 + (m₀−1)·ICC, and n_effective = n/DEFF is the number
    * an experiment-power calculation must actually use (q224's n is
    * per-USER precisely to dodge this — q440 measures the penalty of
    * getting that wrong). One user-grain aggregate + one scalar row. */
  def designEffect(events: DataFrame): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("value"))
    val perUser = purchases.groupBy("user_id")
      .agg(count(lit(1)).as("m"), sum("value").as("s"), avg("value").as("ybar"))
    val g = perUser.agg(
      count(lit(1)).as("k"),
      sum("m").as("n"),
      sum(col("m") * col("m")).as("sum_m2"),
      sum("s").as("tot"))
    val tots = purchases
      .crossJoin(broadcast(g.select((col("tot") / col("n")).as("gm"))))
      .agg(sum((col("value") - col("gm")) * (col("value") - col("gm"))).as("sst"))
    val ssb = perUser
      .crossJoin(broadcast(g.select((col("tot") / col("n")).as("gm"))))
      .agg(sum(col("m") * (col("ybar") - col("gm")) * (col("ybar") - col("gm"))).as("ssb"))
    val msb = col("ssb") / (col("k") - 1)
    val msw = (col("sst") - col("ssb")) / (col("n") - col("k"))
    val m0 = (col("n") - col("sum_m2").cast("double") / col("n")) / (col("k") - 1)
    val icc = when(col("k") > 1 && col("n") > col("k"),
      when(msb + (m0 - lit(1.0)) * msw > 0,
        (msb - msw) / (msb + (m0 - lit(1.0)) * msw)))
    // negative ICC estimates clamp to 0 for DEFF (standard practice);
    // explicit coalesce so null-vs-greatest semantics never differ
    // between engines
    val deff = lit(1.0) + (m0 - lit(1.0)) * greatest(coalesce(icc, lit(0.0)), lit(0.0))
    g.crossJoin(broadcast(tots)).crossJoin(broadcast(ssb))
      .select(
        col("k").as("n_users"), col("n").as("n_purchases"),
        round(m0, 4).as("m0"),
        round(icc, 4).as("icc"),
        round(deff, 4).as("deff"),
        round(col("n") / deff, 4).as("n_effective"))
  }

  /** q444: ENGLE–GRANGER cointegration — "do these two revenue streams
    * share a long-run equilibrium" (the time-series version of q338's
    * lead/lag question, but about LEVELS): OLS of segment-A on
    * segment-B daily revenue, then a Dickey–Fuller regression on the
    * residuals (Δe_t on e_{t−1}, no lag augmentation — stated, not
    * hidden) whose t-statistic is the EG test, flagged at the −3.34
    * asymptotic 5% critical value on the ROUNDED statistic. Scale-free
    * ratios throughout; the one money-magnitude output (α) displays in
    * millions. Two daily rollups, covariance closed forms, the q181
    * lag-pair join — all scalar rows after the day grain. */
  def engleGranger(orders: DataFrame, customer: DataFrame): DataFrame = {
    val seg = orders
      .join(
        broadcast(customer.select(
          col("c_custkey").as("o_custkey"), col("c_mktsegment"))),
        "o_custkey")
    def dailyOf(segment: String, out: String): DataFrame = seg
      .filter(col("c_mktsegment") === segment)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(moneySum(col("o_totalprice")).as(out))
    val both = dailyOf("AUTOMOBILE", "y")
      .join(dailyOf("BUILDING", "x"), "d")
      .withColumn("di", datediff(col("d"), to_date(lit("1970-01-01"))))
    val ols = both.agg(
      count(lit(1)).as("n_days"),
      avg("y").as("my"), avg("x").as("mx"),
      var_samp(col("x")).as("vx"),
      covar_samp(col("x"), col("y")).as("cxy"))
    val beta = when(col("vx") > 0, col("cxy") / col("vx"))
    val alpha = col("my") - beta * col("mx")
    val resid = both
      .crossJoin(broadcast(ols.select(beta.as("b"), alpha.as("a"))))
      .select(col("di"), (col("y") - col("a") - col("b") * col("x")).as("e"))
    // DF regression through the origin: Δe_t = ρ·e_{t−1};
    // t = ρ̂ / se(ρ̂) with ρ̂ = Σ e_{t−1}Δe / Σ e²_{t−1}
    val pairs = resid
      .join(
        resid.select((col("di") - 1).as("di"), col("e").as("e_next")), Seq("di"))
      .select(col("e").as("el"), (col("e_next") - col("e")).as("de"))
    val df = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(col("el") * col("de")).as("sed"),
      sum(col("el") * col("el")).as("see"),
      sum(col("de") * col("de")).as("sdd"))
    val rho = when(col("see") > 0, col("sed") / col("see"))
    val sse = col("sdd") - rho * rho * col("see")
    val se = sqrt(sse / (col("n_pairs") - 1) / col("see"))
    val t = when(se > 0, rho / se)
    val tr = round(t, 4)
    ols.crossJoin(broadcast(df))
      .select(
        col("n_days"),
        round(beta, 4).as("beta"),
        round(alpha / lit(1e6), 4).as("alpha_m"),
        round(rho, 4).as("rho"),
        tr.as("eg_tstat"),
        (tr < lit(-3.34)).as("cointegrated"))
  }

  /** q445: ABC–XYZ inventory matrix — the classic two-axis item
    * segmentation: ABC = cumulative-revenue class (q252's Pareto axis,
    * per brand), XYZ = demand-VARIABILITY class from the coefficient of
    * variation of weekly demand (X < 0.5 ≤ Y < 1.0 ≤ Z — forecastable
    * vs erratic). The 9-cell matrix with brand counts and revenue share
    * is the stocking-policy map (AX: automate; CZ: make-to-order).
    * Thresholds compare ROUNDED values so both engines classify
    * identically. One brand×week rollup, a brand-grain aggregate, a
    * bounded prefix-sum for ABC, and a 9-row cross-tab. */
  def abcXyz(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val byBrand = lineitem
      .join(broadcast(part.select(col("p_partkey").as("l_partkey"), col("p_brand"))),
        "l_partkey")
      .groupBy(col("p_brand"), weekofyear(to_date(col("l_shipdate"))).as("wk"),
        year(to_date(col("l_shipdate"))).as("yr"))
      .agg(
        sum(col("l_quantity")).as("demand"),
        // DECIMAL through every rollup below (q212 lesson: re-summing
        // per-group doubles reintroduces the order drift moneySum removed)
        sum(money(col("l_extendedprice"))).as("rev"))
    val brand = byBrand
      .groupBy("p_brand")
      .agg(
        round(
          when(avg("demand") > 0, stddev_samp(col("demand")) / avg("demand")), 4).as("cv"),
        sum(col("rev")).as("rev"))
    // ABC by cumulative revenue share over the ≤#brands frame; cum and
    // total are EXACT decimals, cast to double only at the division
    val wCum = Window.partitionBy(lit(1)).orderBy(desc("rev"), asc("p_brand"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = brand.agg(sum("rev").as("tot_rev"))
    val classed = brand
      .crossJoin(broadcast(tot))
      .withColumn("cum_share",
        round(sum("rev").over(wCum).cast("double") / col("tot_rev").cast("double"), 4))
      .withColumn("abc",
        when(col("cum_share") <= 0.5, "A")
          .when(col("cum_share") <= 0.8, "B").otherwise("C"))
      .withColumn("xyz",
        when(col("cv") < 0.5, "X").when(col("cv") < 1.0, "Y").otherwise("Z"))
    classed
      .groupBy("abc", "xyz")
      .agg(
        count(lit(1)).as("n_brands"),
        round(sum("rev").cast("double") / max(col("tot_rev")).cast("double") * 100, 4)
          .as("rev_share_pct"))
      .orderBy("abc", "xyz")
  }

  /** q441: QUANTILE treatment effects — the distributional view q171's
    * mean difference averages away: per decile, the arm-A vs arm-B
    * difference of per-user revenue quantiles (exact interpolated
    * percentiles, q16 discipline). A lift concentrated in the upper
    * deciles with a flat median is a whale effect, not a broad one —
    * the readout that distinguishes them. User-grain aggregate, one
    * conditional percentile-array row, a ≤9-row explode. */
  def quantileTreatmentEffects(events: DataFrame): DataFrame = {
    val perUser = events
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)).as("rev"))
      .withColumn("arm", Relational.hashArm(col("user_id")))
    val probs = (1 to 9).map(p => p / 10.0)
    val qs = perUser.agg(
      expr(s"percentile(CASE WHEN arm = 'A' THEN rev END, array(${probs.mkString(",")}))")
        .as("qa"),
      expr(s"percentile(CASE WHEN arm = 'B' THEN rev END, array(${probs.mkString(",")}))")
        .as("qb"))
    qs.select(posexplode(arrays_zip(col("qa"), col("qb"))).as(Seq("i", "z")))
      .select(
        round((col("i") + 1) / lit(10.0), 4).as("p"),
        round(col("z.qa"), 4).as("q_a"),
        round(col("z.qb"), 4).as("q_b"),
        round(col("z.qa") - col("z.qb"), 4).as("qte"))
      .orderBy("p")
  }
}
