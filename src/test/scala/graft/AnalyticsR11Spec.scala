package graft

import graft.operators.{Classify, Dedup, EventAnalytics, Recommend, Relational, StatTests, TextAnalysis, TopK}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Semantic invariants of the q327–q329 batch — hand-traceable planted
  * fixtures for properties the DuckDB oracle equality can't state. */
class AnalyticsR11Spec extends SparkSpec {
  import spark.implicits._

  private def li(rows: (Long, Int, Long, Long, Double, Double, String)*) =
    rows.toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_returnflag")
      .withColumn("l_discount", lit(0.0))
      .withColumn("l_tax", lit(0.0))
      .withColumn("l_linestatus", lit("O"))
      .withColumn("l_shipdate", lit(Timestamp.valueOf("2024-01-01 00:00:00")))

  // ---------------------------------------------------------------- q327
  private def liWeek(rows: (Long, Long, Double, String)*) =
    // (orderkey, partkey, extendedprice, shipdate "yyyy-MM-dd")
    rows.toDF("l_orderkey", "l_partkey", "l_extendedprice", "ship")
      .withColumn("l_shipdate", to_timestamp(col("ship")))
      .withColumn("l_discount", lit(0.0))
      .drop("ship")

  test("q327: rank movement is computed only over parts present in both weeks") {
    // epoch weeks: 2024-01-01 = day 19723 → wk 2817 (Mon); 2024-01-08 → wk 2818
    // prev week: part 1 rev 100 (rank 1), part 2 rev 50 (rank 2), part 3 rev 10 (rank 3)
    // last week: part 2 rev 90 (rank 1), part 1 rev 80 (rank 2); part 4 rev 5 new (rank 3)
    val rows = liWeek(
      (1L, 1L, 100.0, "2024-01-01"), (1L, 2L, 50.0, "2024-01-01"),
      (1L, 3L, 10.0, "2024-01-01"),
      (2L, 2L, 90.0, "2024-01-08"), (2L, 1L, 80.0, "2024-01-08"),
      (2L, 4L, 5.0, "2024-01-08"))
    val out = TopK.trendingParts(rows).collect()
    assert(out.map(_.getAs[Long]("part")).toSet == Set(1L, 2L),
      "new part 4 and vanished part 3 have no prev/cur pair")
    val byPart = out.map(r => r.getAs[Long]("part") -> r).toMap
    assert(byPart(2L).getAs[Long]("rank_prev") == 2 && byPart(2L).getAs[Long]("rank_cur") == 1)
    assert(byPart(2L).getAs[Long]("rank_gain") == 1, "part 2 rose one rank")
    assert(byPart(1L).getAs[Long]("rank_gain") == -1, "part 1 fell one rank")
    // biggest riser first
    assert(out.head.getAs[Long]("part") == 2L)
    assert(byPart(2L).getAs[Double]("rev_cur") == 90.0 &&
      byPart(2L).getAs[Double]("rev_prev") == 50.0)
  }

  test("q327: earlier weeks never leak into the two-week ranking") {
    // a massive week-0 revenue for part 9 must not appear anywhere
    val rows = liWeek(
      (1L, 9L, 99999.0, "2023-06-05"),
      (2L, 1L, 10.0, "2024-01-01"), (2L, 2L, 20.0, "2024-01-01"),
      (3L, 1L, 30.0, "2024-01-08"), (3L, 2L, 5.0, "2024-01-08"))
    val out = TopK.trendingParts(rows).collect()
    assert(!out.exists(_.getAs[Long]("part") == 9L))
    assert(out.length == 2)
  }

  // ---------------------------------------------------------------- q328
  test("q328: the event in the rare (hour, dow, bin) cell gets the top HBOS score") {
    // 9 events at hour 10 Monday value≈0 (common cell), 1 event at hour 3
    // Sunday value 100 (every feature rare: density 0.1 each)
    val common = (1 to 9).map(i =>
      (i.toLong, "view", 0.0 + i * 0.001, Timestamp.valueOf("2024-01-01 10:00:00")))
    val rare = Seq((99L, "purchase", 100.0, Timestamp.valueOf("2024-01-07 03:00:00")))
    val ev = (common ++ rare).toDF("event_id", "event_type", "value", "ts")
    val out = EventAnalytics.hbosOutliers(ev, topN = 10).collect()
    assert(out.head.getAs[Long]("event_id") == 99L, "rare-cell event must rank first")
    // rare event: -3*ln(0.1) = 6.9078 after 4dp rounding
    assert(out.head.getAs[Double]("hbos_score") == 6.9078)
    // common events: -(2*ln(0.9) + ln(0.9)) = 0.3161  (they share all three bins)
    assert(out.tail.forall(_.getAs[Double]("hbos_score") == 0.3161))
  }

  test("q328: constant value column does not divide by zero (degenerate bin 0)") {
    val ev = (1 to 5).map(i =>
      (i.toLong, "view", 7.0, Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("event_id", "event_type", "value", "ts")
    val out = EventAnalytics.hbosOutliers(ev).collect()
    assert(out.length == 5)
    assert(out.forall(_.getAs[Long]("f_vbin") == 0L))
    assert(out.forall(_.getAs[Double]("hbos_score") == 0.0),
      "all-identical events have density 1 in every feature → score 0")
  }

  // ---------------------------------------------------------------- q329
  test("q329: on a perfectly repeating weekly series, snaive7 has zero error and wins") {
    // 56 days of a strict period-7 pattern → snaive7 forecasts exactly;
    // naive / ewma / holt all carry day-to-day error
    val pattern = Array(100.0, 200.0, 300.0, 400.0, 500.0, 600.0, 700.0)
    val days = (0 until 56).map { i =>
      (i.toLong, 1L, "F", pattern(i % 7),
        Timestamp.valueOf(f"2024-01-01 00:00:00").toLocalDateTime.plusDays(i)
          .toString.replace('T', ' ') + ":00")
    }.map { case (k, c, s, p, d) => (k, c, s, p, Timestamp.valueOf(d)) }
    val orders = days.toDF("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate")
    val out = StatTests.forecastTournament(orders).collect()
    assert(out.length == 4 && out.map(_.getAs[String]("model")).toSet ==
      Set("naive", "snaive7", "ewma", "holt"))
    val best = out.head
    assert(best.getAs[String]("model") == "snaive7")
    assert(best.getAs[Double]("mae") == 0.0 && best.getAs[Double]("rmse") == 0.0)
    assert(best.getAs[Double]("mase") == 0.0)
    assert(out.forall(_.getAs[Long]("n_test") == 14L), "test window = n/4 = 14 days")
    // the naive model's MASE is ~1 by construction when train/test errors match scale
    val naive = out.find(_.getAs[String]("model") == "naive").get
    assert(naive.getAs[Double]("mae") > 0.0)
  }

  test("q329: on a constant series every model is perfect after warmup") {
    val days = (0 until 40).map { i =>
      (i.toLong, 1L, "F", 500.0,
        Timestamp.valueOf("2024-01-01 00:00:00").toLocalDateTime.plusDays(i))
    }.map { case (k, c, s, p, d) =>
      (k, c, s, p, Timestamp.valueOf(d.toLocalDate.atStartOfDay())) }
    val orders = days.toDF("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate")
    val out = StatTests.forecastTournament(orders).collect()
    assert(out.forall(_.getAs[Double]("mae") == 0.0),
      s"constant series → zero test error for all models: ${out.mkString(";")}")
  }

  // ------------------------------------------------- q330–q333 (A/B suite)
  /** The md5-parity arm of a user id — the JVM-side mirror of
    * Relational.hashArm, so fixtures can plant users into known arms. */
  private def armOf(id: Long): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    if ("01234567".contains(f"${d(0) & 0xff}%02x".charAt(0))) "A" else "B"
  }

  private def ev(rows: (Long, Long, String, Double, String)*) =
    // (event_id, user_id, event_type, value, ts)
    rows.map { case (e, u, t, v, ts) => (e, u, t, v, Timestamp.valueOf(ts)) }
      .toDF("event_id", "user_id", "event_type", "value", "ts")

  test("q330: degenerate identical users → exact ratio, zero-width CI") {
    // every user: one purchase of 10 and one view → x=10, y=2, ratio=5
    val users = (1L to 40L)
    val rows = users.flatMap(u => Seq(
      (u * 2, u, "purchase", 10.0, "2024-01-01 10:00:00"),
      (u * 2 + 1, u, "view", 0.0, "2024-01-01 11:00:00")))
    val out = Relational.abDeltaMethodRatio(ev(rows: _*)).collect()
    assert(out.length == 2 && out.map(_.getAs[String]("arm")).toSeq == Seq("A", "B"))
    out.foreach { r =>
      assert(r.getAs[Double]("rev_per_event") == 5.0)
      assert(r.getAs[Double]("se") == 0.0, "identical users → zero delta-method variance")
      assert(r.getAs[Double]("ci_lo") == 5.0 && r.getAs[Double]("ci_hi") == 5.0)
    }
    assert(out.map(_.getAs[Long]("n_users")).sum == 40L)
  }

  test("q330: arms match the shared md5-parity assignment") {
    val rows = (1L to 30L).map(u => (u, u, "purchase", 1.0, "2024-01-01 10:00:00"))
    val out = Relational.abDeltaMethodRatio(ev(rows: _*)).collect()
    val expA = (1L to 30L).count(armOf(_) == "A").toLong
    assert(out.find(_.getAs[String]("arm") == "A").get.getAs[Long]("n_users") == expA)
  }

  test("q331: only the separated metric is significant; BH keeps p_adj >= p and <= 1") {
    // 'sep': arm A values ≈ 0, arm B values ≈ 100 (tiny jitter for variance);
    // 'same': both arms identical distribution
    val users = (1L to 60L)
    val rows = users.flatMap { u =>
      val armA = armOf(u) == "A"
      Seq(
        (u * 10, u, "sep", (if (armA) 0.0 else 100.0) + (u % 3) * 0.01, "2024-01-01 10:00:00"),
        (u * 10 + 1, u, "same", 50.0 + (u % 5) * 0.01, "2024-01-01 11:00:00"))
    }
    val out = Relational.abFdrBh(ev(rows: _*)).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out("sep").getAs[Boolean]("significant"),
      s"separated metric must survive BH: ${out("sep")}")
    assert(!out("same").getAs[Boolean]("significant"),
      s"identical-arm metric must not: ${out("same")}")
    out.values.foreach { r =>
      assert(r.getAs[Double]("p_adj") >= r.getAs[Double]("p_value") - 1e-9,
        "BH only inflates p-values")
      assert(r.getAs[Double]("p_adj") <= 1.0)
    }
  }

  test("q332: planted parallel trend with treatment lift → exact DiD, zero-variance cells") {
    // time range 2024-01-01..2024-01-31 → midpoint Jan 16; both arms drift
    // +5 post, treated (B) users gain +7 more → did = 7 exactly
    val users = (1L to 40L)
    val rows = users.flatMap { u =>
      val treated = armOf(u) == "B"
      Seq(
        (u * 10, u, "purchase", 10.0, "2024-01-01 00:00:00"),
        (u * 10 + 1, u, "purchase", 15.0 + (if (treated) 7.0 else 0.0), "2024-01-31 00:00:00"))
    }
    val r = Relational.abDiffInDiff(ev(rows: _*)).first()
    assert(r.getAs[Double]("ctrl_pre") == 10.0 && r.getAs[Double]("ctrl_post") == 15.0)
    assert(r.getAs[Double]("treat_pre") == 10.0 && r.getAs[Double]("treat_post") == 22.0)
    assert(r.getAs[Double]("did") == 7.0)
    assert(r.getAs[Double]("se") == 0.0, "constant cells → zero pooled SE")
    assert(r.isNullAt(r.fieldIndex("z")), "z undefined at se=0 (guarded, not DIVIDE_BY_ZERO)")
  }

  test("q333: identical arms → always-valid p stays 1; separation drives it to ~0") {
    val users = (1L to 60L)
    val same = users.map(u => (u, u, "purchase", 10.0 + (u % 7) * 0.5, "2024-01-01 00:00:00"))
    val r1 = Relational.abAlwaysValid(ev(same: _*)).first()
    assert(r1.getAs[Double]("p_always_valid") == 1.0,
      s"no effect → mSPRT must not reject: $r1")
    assert(r1.getAs[Double]("log_lambda") < 0.0, "null effect → evidence against H1")
    val sep = users.map { u =>
      val v = if (armOf(u) == "A") 0.0 + (u % 3) * 0.01 else 1000.0 + (u % 3) * 0.01
      (u, u, "purchase", v, "2024-01-01 00:00:00")
    }
    val r2 = Relational.abAlwaysValid(ev(sep: _*)).first()
    assert(r2.getAs[Double]("p_always_valid") < 0.001,
      s"1000-unit lift must be decisive at every look: $r2")
  }

  // ------------------------------------------------------------- q334–q336
  test("q334: sqrt tempering reweights 100-vs-400 tokens to exactly 1/3 vs 2/3") {
    val docs = Seq(
      (1L, ("w " * 100).trim, "en", "tiny", 200L),
      (2L, ("w " * 400).trim, "en", "big", 800L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.temperatureMixturePlan(docs, budgetTokens = 300L).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("tiny").getAs[Long]("n_tok") == 100L && out("big").getAs[Long]("n_tok") == 400L)
    assert(out("tiny").getAs[Double]("raw_share") == 0.2 &&
      out("big").getAs[Double]("raw_share") == 0.8)
    // sqrt weights: 10 vs 20 → 1/3 vs 2/3 (4dp floor-rounded)
    assert(out("tiny").getAs[Double]("temp_share") == 0.3333)
    assert(out("big").getAs[Double]("temp_share") == 0.6667)
    // tiny source repeats: 100 planned of budget 300 over 100 tokens → 1 epoch
    assert(out("tiny").getAs[Double]("epochs") == 1.0)
    assert(out("big").getAs[Double]("epochs") == 0.5)
  }

  private def ordersLi(prices: Seq[Double], returnedIdx: Set[Int]) = {
    val orders = prices.zipWithIndex.map { case (p, i) =>
      (i.toLong + 1, 1L, "F", p, Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val li = prices.indices.map { i =>
      (i.toLong + 1, 1, 1L, 1L, 1.0, 1.0, if (returnedIdx(i)) "R" else "N", 0.0, 0.0, "O",
        Timestamp.valueOf("2024-01-01 00:00:00"))
    }.toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
      "l_extendedprice", "l_returnflag", "l_discount", "l_tax", "l_linestatus", "l_shipdate")
    (orders, li)
  }

  test("q335: a decreasing violation pools to the weighted mean; increasing stays") {
    // 4 orders, 2 bins: low-price bin all returned (rate 1), high-price
    // bin none (rate 0) → monotone violation → both pool to 0.5
    val (o1, l1) = ordersLi(Seq(10.0, 20.0, 30.0, 40.0), Set(0, 1))
    val viol = Classify.isotonicCalibration(o1, l1, bins = 2).collect()
    assert(viol.map(_.getAs[Double]("raw_rate")).toSeq == Seq(1.0, 0.0))
    assert(viol.map(_.getAs[Double]("iso_rate")).toSeq == Seq(0.5, 0.5),
      s"PAVA must pool the violating pair: ${viol.mkString(";")}")
    // already-monotone rates are a fixed point
    val (o2, l2) = ordersLi(Seq(10.0, 20.0, 30.0, 40.0), Set(2, 3))
    val mono = Classify.isotonicCalibration(o2, l2, bins = 2).collect()
    assert(mono.map(_.getAs[Double]("iso_rate")).toSeq == Seq(0.0, 1.0))
  }

  test("q335: on the real tables the fit is monotone and mass-preserving") {
    val t = graft.sources.Tables(spark, sfDir)
    val rows = Classify.isotonicCalibration(t.orders, t.lineitem).collect()
    assert(rows.length == 20)
    val iso = rows.map(_.getAs[Double]("iso_rate"))
    assert(iso.zip(iso.tail).forall { case (a, b) => a <= b + 1e-9 }, "PAVA output must be monotone")
    val wRaw = rows.map(r => r.getAs[Long]("n") * r.getAs[Double]("raw_rate")).sum
    val wIso = rows.map(r => r.getAs[Long]("n") * r.getAs[Double]("iso_rate")).sum
    assert(math.abs(wRaw - wIso) < rows.length * 0.0001 * rows.map(_.getAs[Long]("n")).max,
      s"pooling preserves the weighted mean: $wRaw vs $wIso")
  }

  test("q336: unit gaps → lambda exactly 1, KS = F(1) = 0.6321 (the staircase lower gap)") {
    val orders = (0 until 10).map { d =>
      (d.toLong + 1, 7L, "F", 100.0,
        Timestamp.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d).atStartOfDay()),
        "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val r = StatTests.interPurchaseExpFit(orders).first()
    assert(r.getAs[Long]("n_gaps") == 9L)
    assert(r.getAs[Double]("mean_gap") == 1.0 && r.getAs[Double]("lambda") == 1.0)
    // all mass at x=1: D⁻ = F(1) − 0 = 1 − e⁻¹ → 0.6321 at 4dp
    assert(r.getAs[Double]("ks_stat") == 0.6321, s"got $r")
  }

  test("q337: page fires only when the fast window burns AND the slow window confirms") {
    // day 1: 1/4 errors (burn_1d = 1.0, no page); day 2: 4/4 errors
    // (burn_1d = 4, burn_7d = 5/8/0.25 = 2.5 → page)
    val rows =
      (1 to 4).map(i => (i.toLong, 1L, if (i == 1) "error" else "view", 1.0,
        "2024-01-01 10:00:00")) ++
      (5 to 8).map(i => (i.toLong, 1L, "error", 1.0, "2024-01-02 10:00:00"))
    val out = EventAnalytics.sloBurnRate(ev(rows: _*)).collect()
    assert(out.length == 2)
    val d1 = out(0); val d2 = out(1)
    assert(d1.getAs[Double]("burn_1d") == 1.0 && !d1.getAs[Boolean]("page"))
    assert(d2.getAs[Double]("burn_1d") == 4.0 && d2.getAs[Double]("burn_7d") == 2.5)
    assert(d2.getAs[Boolean]("page"))
  }

  test("q337: the trailing window is gap-correct — 8 days later the hot day has aged out") {
    val rows =
      (1 to 4).map(i => (i.toLong, 1L, "error", 1.0, "2024-01-01 10:00:00")) ++
      (5 to 8).map(i => (i.toLong, 1L, "view", 1.0, "2024-01-09 10:00:00"))
    val out = EventAnalytics.sloBurnRate(ev(rows: _*)).collect()
    val late = out(1)
    assert(late.getAs[Double]("burn_7d") == 0.0,
      s"a RANGE frame must exclude the 8-day-old burn; rows-frame would not: $late")
    assert(!late.getAs[Boolean]("page"))
  }

  test("state is day-granular: one window row per day, not per event") {
    val t = Tables(spark, sfDir)
    val days = t.events.select(countDistinct(to_date(col("ts")))).head().getLong(0)
    // the aggregation key space IS the day calendar — constant-sized
    // state per SLO regardless of event volume
    val daily = EventAnalytics.dailyErrorCounts(t.events)
    assert(daily.count() == days)
  }

  test("q338: purchases that exactly replay yesterday's clicks → beta_xlag 1, R² 1") {
    // day t: (t%5)+1 clicks; purchases on day t = clicks of day t−1.
    // The unrestricted fit is then EXACT: b2=1, b1=0, R²=1, and the
    // guarded F is null at rss_u=0 (degenerate perfection, not ANSI error).
    var id = 0L
    val rows = (0 until 20).flatMap { t =>
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(t)
      val clicks = (t % 5) + 1
      val purch = if (t == 0) 0 else ((t - 1) % 5) + 1
      (0 until clicks).map { _ => id += 1
        (id, 1L, "click", 1.0, day.atStartOfDay().toString.replace('T', ' ') + ":00")
      } ++ (0 until purch).map { _ => id += 1
        (id, 1L, "purchase", 1.0, day.atStartOfDay().toString.replace('T', ' ') + ":00")
      }
    }
    val r = StatTests.grangerLag1(ev(rows: _*)).first()
    assert(r.getAs[Long]("n_days") == 19L)
    assert(r.getAs[Double]("beta_xlag") == 1.0 && r.getAs[Double]("beta_ylag") == 0.0)
    assert(r.getAs[Double]("r2_u") == 1.0)
    assert(r.isNullAt(r.fieldIndex("granger_f")),
      "rss_u = 0 is guarded to null, not a DIVIDE_BY_ZERO")
  }

  test("q340: grouping-sets mix emits exactly the three requested grains") {
    val rows = li(
      (1L, 1, 1L, 1L, 1.0, 10.0, "N"), (2L, 1, 1L, 1L, 1.0, 20.0, "R"))
      .withColumn("l_linestatus",
        when(col("l_returnflag") === "N", "O").otherwise("F"))
    val out = Relational.groupingSetsMix(rows).collect()
    val gids = out.map(_.getAs[Long]("gid")).toSet
    assert(gids == Set(1L, 2L, 3L),
      s"flag-grain (gid 1), status-grain (gid 2), grand total (gid 3) — and NO (flag,status) cube cell: $out")
    val grand = out.find(_.getAs[Long]("gid") == 3L).get
    assert(grand.getAs[Long]("n_lines") == 2L && grand.getAs[Double]("revenue") == 30.0)
    // each single-dim grain partitions the rows
    assert(out.filter(_.getAs[Long]("gid") == 1L).map(_.getAs[Long]("n_lines")).sum == 2L)
    assert(out.filter(_.getAs[Long]("gid") == 2L).map(_.getAs[Long]("n_lines")).sum == 2L)
  }

  test("q341: proportional series are mutual rank-1 at distance 0; the inverse one is farthest") {
    // nations: 10 and 20 move together (one is 2× the other — identical
    // after z-normalization), 30 moves inversely
    val cust = Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("c_custkey", "c_nationkey")
    val series = Seq(1.0, 2.0, 3.0, 2.0, 1.0)
    var id = 0L
    val orders = series.zipWithIndex.flatMap { case (v, i) =>
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(i)
      val ts = Timestamp.valueOf(day.atStartOfDay())
      Seq(
        { id += 1; (id, 1L, "F", 10.0 * v, ts, "1-URGENT") },
        { id += 1; (id, 2L, "F", 20.0 * v, ts, "1-URGENT") },
        { id += 1; (id, 3L, "F", 10.0 * (4.0 - v), ts, "1-URGENT") })
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val out = StatTests.seriesKnn(orders, cust, k = 2).collect()
    val first = out.filter(_.getAs[Long]("rk") == 1L)
      .map(r => r.getAs[Long]("nation") -> (r.getAs[Long]("neighbor"), r.getAs[Double]("ssd")))
      .toMap
    assert(first(10L) == (20L, 0.0) && first(20L) == (10L, 0.0),
      s"z-normalization must make the 2x-scaled twin exactly distance 0: ${out.mkString(";")}")
    assert(first(30L)._2 > 0.0, "the inverse series is nobody's zero-distance twin")
  }

  test("q342: the rolling median shrugs off the spike the rolling mean absorbs") {
    val vals = Seq(10.0, 10.0, 10.0, 100.0, 10.0, 10.0, 10.0)
    val orders = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, 1L, "F", v,
        Timestamp.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i).atStartOfDay()),
        "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val out = StatTests.rollingMedian(orders).collect()
    val spike = out(3)
    assert(spike.getAs[Double]("median_7d") == 10.0,
      s"median of {10,10,10,100} interpolates to 10: $spike")
    assert(spike.getAs[Double]("mean_7d") == 32.5, "the mean absorbs the spike (130/4)")
    assert(spike.getAs[Double]("vs_median") == 90.0)
    val last = out(6)
    assert(last.getAs[Double]("median_7d") == 10.0 && last.getAs[Double]("mean_7d") > 20.0)
  }

  test("q343: coverage counts distinct recommended parts; concentration sums top slots") {
    // orders 1,2 both buy {1,2} → edge (1,2) support 2; customer 30 owns
    // only part 1 → rec part 2; customers 10/20 own both → no candidates;
    // catalog also holds the never-recommended part 3 (customer 30's other buy? no - keep 3 unowned-by-30)
    val orders = Seq(
      (1L, 10L, "F", 1.0, Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT"),
      (2L, 20L, "F", 1.0, Timestamp.valueOf("2024-01-02 00:00:00"), "1-URGENT"),
      (3L, 30L, "F", 1.0, Timestamp.valueOf("2024-01-03 00:00:00"), "1-URGENT"),
      (4L, 40L, "F", 1.0, Timestamp.valueOf("2024-01-04 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val lines = li(
      (1L, 1, 1L, 1L, 1, 1, "N"), (1L, 2, 2L, 1L, 1, 1, "N"),
      (2L, 1, 1L, 1L, 1, 1, "N"), (2L, 2, 2L, 1L, 1, 1, "N"),
      (3L, 1, 1L, 1L, 1, 1, "N"),
      (4L, 1, 3L, 1L, 1, 1, "N"))
    val r = Recommend.recCoverage(orders, lines).first()
    assert(r.getAs[Long]("n_customers") == 4L && r.getAs[Long]("n_with_recs") == 1L)
    assert(r.getAs[Long]("n_catalog") == 3L && r.getAs[Long]("n_rec_parts") == 1L)
    assert(r.getAs[Long]("total_slots") == 1L)
    assert(r.getAs[Double]("customer_share") == 0.25)
    assert(r.getAs[Double]("catalog_coverage") == 0.3333,
      s"only part 2 of catalog {1,2,3} is ever recommended: $r")
    assert(r.getAs[Double]("top10_concentration") == 1.0)
  }

  test("q344: mirror vs aggregator asymmetry shows in the shares; zero cells persist") {
    val docs = Seq(
      // big: 4 distinct docs; mirror copies 2 of them (and has nothing else)
      (1L, "alpha text one", "en", "big", 10L),
      (2L, "beta text two", "en", "big", 10L),
      (3L, "gamma text three", "en", "big", 10L),
      (4L, "delta text four", "en", "big", 10L),
      (5L, "alpha text one", "en", "mirror", 10L),
      (6L, "beta text two", "en", "mirror", 10L),
      // loner shares nothing
      (7L, "epsilon five", "en", "loner", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.crossSourceDupMatrix(docs).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) -> r).toMap
    assert(out.size == 3, "3 sources → 3 unordered pairs, zero cells included")
    val bm = out(("big", "mirror"))
    assert(bm.getAs[Long]("n_shared") == 2L)
    assert(bm.getAs[Double]("share_of_a") == 0.5, "big: 2 of 4 fps shared")
    assert(bm.getAs[Double]("share_of_b") == 1.0, "mirror: ALL its fps come from big")
    assert(out(("big", "loner")).getAs[Long]("n_shared") == 0L)
    assert(out(("loner", "mirror")).getAs[Long]("n_shared") == 0L)
  }

  test("q345: planted funnel — ordered steps gate per arm, z on the conditioned step") {
    // user u: view then click then purchase (full funnel);
    // user w: click BEFORE any view → click doesn't count
    def rowsFor(u: Long) = Seq(
      (u * 10 + 1, u, "view", 1.0, "2024-01-01 10:00:00"),
      (u * 10 + 2, u, "click", 1.0, "2024-01-01 11:00:00"),
      (u * 10 + 3, u, "purchase", 1.0, "2024-01-01 12:00:00"))
    def preView(u: Long) = Seq(
      (u * 10 + 1, u, "click", 1.0, "2024-01-01 09:00:00"),
      (u * 10 + 2, u, "view", 1.0, "2024-01-01 10:00:00"))
    // pick one known-A and one known-B user for each shape
    val usersA = (1L to 50L).filter(armOf(_) == "A")
    val usersB = (1L to 50L).filter(armOf(_) == "B")
    val rows = rowsFor(usersA.head) ++ rowsFor(usersB.head) ++
      preView(usersA(1)) ++ preView(usersB(1))
    val out = EventAnalytics.funnelByArm(ev(rows: _*)).collect()
      .map(r => r.getAs[String]("arm") -> r).toMap
    Seq("A", "B").foreach { arm =>
      val r = out(arm)
      assert(r.getAs[Long]("n_view") == 2L, s"$arm: both users viewed")
      assert(r.getAs[Long]("n_click") == 1L, s"$arm: pre-view click must not count")
      assert(r.getAs[Long]("n_purchase") == 1L)
      assert(r.getAs[Double]("view_to_click") == 0.5)
      assert(r.getAs[Double]("click_to_purchase") == 1.0)
    }
    assert(out("A").getAs[Double]("step_z") == 0.0, "identical step rates → z = 0")
  }

  test("q346: the strict local max above the median baseline is the only peak") {
    val vals = Seq(10.0, 10.0, 10.0, 100.0, 10.0, 12.0, 11.0)
    val orders = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, 1L, "F", v,
        Timestamp.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i).atStartOfDay()),
        "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val out = StatTests.revenuePeaks(orders).collect()
    // day 4 (100) is a strict max with prominence 10; day 6 (12) is a
    // strict max but 12 < 1.25 × med7 — filtered
    assert(out.length == 1, s"got ${out.mkString(";")}")
    assert(out.head.getAs[String]("day") == "2024-01-04")
    assert(out.head.getAs[Double]("prominence") == 10.0)
  }

  test("q347: same-session conversion only — the late purchase opens a new intentless session") {
    // user 1: view+click 10:00, purchase 11:00 (>30min later → new session)
    // user 2: view,click,purchase inside 5 minutes → converted session
    val rows = Seq(
      (1L, 1L, "view", 1.0, "2024-01-01 10:00:00"),
      (2L, 1L, "click", 1.0, "2024-01-01 10:05:00"),
      (3L, 1L, "purchase", 1.0, "2024-01-01 11:00:00"),
      (4L, 2L, "view", 1.0, "2024-01-01 09:00:00"),
      (5L, 2L, "click", 1.0, "2024-01-01 09:02:00"),
      (6L, 2L, "purchase", 1.0, "2024-01-01 09:04:00"))
    val r = EventAnalytics.cartAbandonment(ev(rows: _*)).first()
    assert(r.getAs[Long]("n_sessions") == 3L, s"user 1 splits into 2 sessions: $r")
    assert(r.getAs[Long]("n_intent") == 2L)
    assert(r.getAs[Long]("n_converted") == 1L,
      "user 1's purchase lands in a session with no click — not a conversion")
    assert(r.getAs[Double]("abandonment_rate") == 0.5)
  }

  test("q348: the small-n outlier shrinks hard toward the prior; big-n barely moves") {
    // 8 mid brands anchor the prior near 0.25; 'tiny' is 2/2 returned
    // (rate 1.0, n=2), 'huge' is 50/200 (rate 0.25, n=200)
    val rows =
      (1 to 8).flatMap { b =>
        (1 to 40).map(i => (b * 1000L + i, 1, b.toLong, 1L, 1.0, 1.0,
          if (i <= 10 + (b % 3)) "R" else "N"))
      } ++
      Seq((9001L, 1, 9L, 1L, 1.0, 1.0, "R"), (9002L, 1, 9L, 1L, 1.0, 1.0, "R")) ++
      (1 to 200).map(i => (10000L + i, 1, 10L, 1L, 1.0, 1.0, if (i <= 50) "R" else "N"))
    val liDf = li(rows: _*)
    val partDf = (1L to 10L).map(pk => (pk, s"B$pk")).toDF("p_partkey", "p_brand")
    val out = StatTests.empiricalBayesReturns(liDf, partDf).collect()
      .map(r => r.getAs[String]("brand") -> r).toMap
    val tiny = out("B9"); val huge = out("B10")
    assert(tiny.getAs[Double]("raw_rate") == 1.0 && huge.getAs[Double]("raw_rate") == 0.25)
    val m = tiny.getAs[Double]("prior_mean")
    val tinyPull = tiny.getAs[Double]("raw_rate") - tiny.getAs[Double]("shrunk_rate")
    val hugePull = math.abs(huge.getAs[Double]("raw_rate") - huge.getAs[Double]("shrunk_rate"))
    assert(tinyPull > 0.3, s"n=2 at rate 1.0 must shrink hard toward m=$m: $tiny")
    assert(hugePull < 0.05, s"n=200 must barely move: $huge")
  }

  test("q348: zero-variance rate frame degrades to no shrinkage, not a blowup") {
    val rows = (1 to 2).flatMap(b => (1 to 10).map(i =>
      (b * 100L + i, 1, b.toLong, 1L, 1.0, 1.0, if (i <= 5) "R" else "N")))
    val partDf = Seq((1L, "B1"), (2L, "B2")).toDF("p_partkey", "p_brand")
    val out = StatTests.empiricalBayesReturns(li(rows: _*), partDf).collect()
    out.foreach(r => assert(r.getAs[Double]("shrunk_rate") == r.getAs[Double]("raw_rate"),
      s"identical rates → v=0 → raw passes through: $r"))
  }

  test("q349: co-owned-never-co-bought pairs qualify; co-bought pairs are excluded") {
    // custs 1..3 buy part 1 and part 2 in SEPARATE orders; custs 1..3
    // buy parts 3,4 TOGETHER in one order each
    val orders = (1 to 3).flatMap { c =>
      Seq((c * 10L + 1, c.toLong), (c * 10L + 2, c.toLong), (c * 10L + 3, c.toLong))
    }.map { case (ok, c) =>
      (ok, c, "F", 1.0, Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val lines = li((1 to 3).flatMap { c =>
      Seq(
        (c * 10L + 1, 1, 1L, 1L, 1.0, 1.0, "N"),
        (c * 10L + 2, 1, 2L, 1L, 1.0, 1.0, "N"),
        (c * 10L + 3, 1, 3L, 1L, 1.0, 1.0, "N"),
        (c * 10L + 3, 2, 4L, 1L, 1.0, 1.0, "N"))
    }: _*)
    val out = Relational.substituteParts(orders, lines).collect()
    val pairs = out.map(r => (r.getAs[Long]("pa"), r.getAs[Long]("pb"))).toSet
    assert(pairs.contains((1L, 2L)), s"parts 1,2: 3 shared owners, zero co-baskets: $pairs")
    assert(!pairs.contains((3L, 4L)), "co-bought parts are complements, not substitutes")
    assert(out.find(r => r.getAs[Long]("pa") == 1L).get
      .getAs[Long]("n_shared_customers") == 3L)
  }

  test("q350: the exact pair drops at stage 1, the near pair at stage 2, token mass tracked") {
    val near1 = ("the quick brown fox jumps over the lazy dog " * 5).trim
    val near2 = near1 + " extra" // one appended token → shingle Jaccard ≫ 0.7
    val docs = Seq(
      (1L, "alpha beta gamma", "en", "s1", 1L),
      (2L, "alpha beta gamma", "en", "s1", 1L), // exact dup of 1
      (3L, near1, "en", "s1", 1L),
      (4L, near2, "en", "s1", 1L), // near-dup of 3
      (5L, "totally different content here", "en", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.dedupCascadeReport(docs).collect()
      .map(r => r.getAs[String]("stage") -> r).toMap
    assert(out("0_input").getAs[Long]("docs_kept") == 5L)
    val ex = out("1_exact")
    assert(ex.getAs[Long]("docs_in") == 5L && ex.getAs[Long]("docs_kept") == 4L,
      s"exact stage drops exactly the byte-identical twin: $ex")
    assert(ex.getAs[Double]("doc_drop_share") == 0.2)
    val nd = out("2_neardup")
    assert(nd.getAs[Long]("docs_in") == 4L && nd.getAs[Long]("docs_kept") == 3L,
      s"near stage drops exactly the one-token-edit twin: $nd")
    assert(nd.getAs[Long]("tokens_kept") < nd.getAs[Long]("tokens_in"),
      "token mass shrinks with the dropped near-dup")
  }

  test("q351: expansion shows in NRR; churned revenue shrinks the base; new customers excluded") {
    val orders = Seq(
      (1L, 1L, 100.0, "2024-01-15"), // cust 1 retained, expands
      (2L, 1L, 120.0, "2024-02-10"),
      (3L, 2L, 50.0, "2024-01-20"),  // cust 2 churns after Jan
      (4L, 3L, 999.0, "2024-02-01")) // cust 3 brand new in Feb — excluded
      .map { case (k, c, v, d) =>
        (k, c, "F", v, Timestamp.valueOf(d + " 00:00:00"), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = EventAnalytics.netRevenueRetention(orders).collect()
    assert(out.length == 1, s"only Feb has a prior-month base: ${out.mkString(";")}")
    val r = out.head
    assert(r.getAs[String]("month") == "2024-02")
    assert(r.getAs[Long]("n_retained_customers") == 1L)
    assert(r.getAs[Double]("retained_rev") == 120.0 && r.getAs[Double]("base_rev") == 100.0)
    assert(r.getAs[Double]("nrr") == 1.2, "cust 2's churn and cust 3's arrival don't touch NRR")
  }

  test("q352: a flat monthly series yields index exactly 1 for all 12 months") {
    val orders = (0 until 36).map { m =>
      val day = java.time.LocalDate.of(2020, 1, 15).plusMonths(m)
      (m.toLong + 1, 1L, "F", 1000.0,
        Timestamp.valueOf(day.atStartOfDay()), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val out = StatTests.seasonalIndex(orders).collect()
    assert(out.length == 12)
    assert(out.forall(_.getAs[Double]("seasonal_index") == 1.0),
      s"no seasonality → flat index: ${out.mkString(";")}")
    // interior months only: 36 months minus 6 on each edge = 24 ratios → 2 years/month
    assert(out.forall(_.getAs[Long]("n_years") == 2L))
  }

  test("q352: indices normalize to mean 1 and the hot month indexes highest") {
    val pattern = Array.fill(12)(1000.0); pattern(11) = 3000.0 // December spike
    val orders = (0 until 48).map { m =>
      val day = java.time.LocalDate.of(2020, 1, 15).plusMonths(m)
      (m.toLong + 1, 1L, "F", pattern(m % 12),
        Timestamp.valueOf(day.atStartOfDay()), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val out = StatTests.seasonalIndex(orders).collect()
    val byM = out.map(r => r.getAs[Long]("month_of_year") -> r.getAs[Double]("seasonal_index")).toMap
    assert(byM(12L) == byM.values.max, "the spiking month carries the top index")
    val mean = out.map(_.getAs[Double]("seasonal_index")).sum / 12
    assert(math.abs(mean - 1.0) < 0.001, s"normalized to mean 1, got $mean")
  }

  test("q353: the three PVM effects conserve the revenue delta exactly") {
    // brand B1: year 1 sells 10 units at unit price 10 (rev 100);
    // year 2 sells 20 units at unit price 15 (rev 300)
    // price effect (15-10)*10 = 50, volume (20-10)*10 = 100, mix 5*10 = 50 → 200 = delta
    val rows = Seq(
      (1L, 1, 1L, 1L, 10.0, 100.0, "N", "2023-06-01"),
      (2L, 1, 1L, 1L, 20.0, 300.0, "N", "2024-06-01"))
      .map { case (k, ln, pk, sk, q, e, rf, d) =>
        (k, ln, pk, sk, q, e, rf, Timestamp.valueOf(d + " 00:00:00")) }
      .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate")
      .withColumn("l_discount", lit(0.0))
    val partDf = Seq((1L, "B1")).toDF("p_partkey", "p_brand")
    val r = Relational.priceVolumeMix(rows, partDf).first()
    assert(r.getAs[Double]("delta_rev") == 200.0)
    assert(r.getAs[Double]("price_effect") == 50.0)
    assert(r.getAs[Double]("volume_effect") == 100.0)
    assert(r.getAs[Double]("mix_effect") == 50.0)
    assert(r.getAs[Double]("price_effect") + r.getAs[Double]("volume_effect") +
      r.getAs[Double]("mix_effect") == r.getAs[Double]("delta_rev"),
      "PVM terms must conserve the delta")
  }

  test("q354: a strictly alternating series maximizes runs; a two-block series minimizes") {
    def orders(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, 1L, "F", v,
        Timestamp.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i).atStartOfDay()),
        "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    // alternating around the median: runs = n (here 20), z strongly positive
    val alt = StatTests.runsTest(orders((0 until 20).map(i =>
      if (i % 2 == 0) 10.0 else 20.0))).first()
    assert(alt.getAs[Long]("n_runs") == 20L && alt.getAs[Double]("z") > 3.0,
      s"perfect oscillation → max runs: $alt")
    // two blocks: runs = 2, z strongly negative (trending regime)
    val blk = StatTests.runsTest(orders(
      Seq.fill(10)(10.0) ++ Seq.fill(10)(20.0))).first()
    assert(blk.getAs[Long]("n_runs") == 2L && blk.getAs[Double]("z") < -3.0,
      s"two blocks → min runs: $blk")
    assert(alt.getAs[Double]("expected_runs") == 11.0, "mu = 2*10*10/20 + 1")
  }

  test("q355: hand quartiles place the fences; only the planted extreme is outside") {
    // group X: 1..9 plus one 1000 outlier → Q1=3.25, Q3=7.75 over the 10
    // values, IQR=4.5, hi fence = 14.5 → exactly the 1000 falls out
    val vals = (1 to 9).map(_.toDouble) :+ 1000.0
    val orders = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, 1L, "F", v, Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val r = StatTests.tukeyFences(orders).first()
    assert(r.getAs[Double]("q1") == 3.25 && r.getAs[Double]("q3") == 7.75)
    assert(r.getAs[Double]("fence_lo") == -3.5 && r.getAs[Double]("fence_hi") == 14.5)
    assert(r.getAs[Long]("n_outliers") == 1L && r.getAs[Double]("outlier_share") == 0.1)
  }

  test("q339: a bursty type is flagged overdispersed; a uniform type is not") {
    // users {1..4}, days {Jan 1, Jan 2} → N = 8 user-days
    val uni = (1 to 4).map(u => (u.toLong, u.toLong, "uni", 1.0, "2024-01-01 10:00:00"))
    val burst = (1 to 8).map(i => (100L + i, 1L, "burst", 1.0, "2024-01-02 10:00:00"))
    val out = StatTests.dispersionAudit(ev((uni ++ burst): _*)).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val u = out("uni")
    assert(u.getAs[Double]("lambda") == 0.5 && u.getAs[Double]("dispersion") == 0.5)
    assert(u.getAs[Double]("zero_share_obs") == 0.5 &&
      u.getAs[Double]("zero_share_poisson") == 0.6065)
    assert(!u.getAs[Boolean]("overdispersed"))
    val b = out("burst")
    assert(b.getAs[Double]("lambda") == 1.0 && b.getAs[Double]("dispersion") == 7.0)
    assert(b.getAs[Double]("zero_share_obs") == 0.875)
    assert(b.getAs[Boolean]("overdispersed"), "one user-day holding all 8 events is the burst")
  }
}
