package graft

import graft.operators.{EventAnalytics, Graph, Similarity, StatTests, TextAnalysis, TpchShapes}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-6 additions: remaining TPC-H shapes (q173–q180), the
  * rank-statistics / time-series family (q181–q187), corpus linguistics
  * (q188–q189), PQ ANN + MMR (q190–q191), triangle census (q192). */
class AnalyticsR6Spec extends SparkSpec {

  private lazy val t = Tables(spark, sfDir)
  private def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
  private def ev(id: Long, minute: Long, uid: Long, typ: String, v: Double) =
    (id, new java.sql.Timestamp(1700000000000L + minute * 60000L), uid, typ, v, "{}")

  test("q173: trade revenue splits by direction and excludes non-pair flows") {
    import spark.implicits._
    val nation = Seq((1, "NATION_1", 0), (2, "NATION_2", 0), (3, "NATION_3", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val supplier = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("s_suppkey", "s_nationkey")
    val customer = Seq((100L, 2), (200L, 1), (300L, 3)).toDF("c_custkey", "c_nationkey")
    val orders = Seq((1000L, 100L), (2000L, 200L), (3000L, 300L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq(
      (1000L, 10L, ts("1996-03-01"), 100.0, 0.0), // n1 → n2
      (2000L, 20L, ts("1996-05-01"), 200.0, 0.5), // n2 → n1
      (2000L, 20L, ts("1997-05-01"), 50.0, 0.0),  // n2 → n1, next year
      (3000L, 10L, ts("1996-07-01"), 999.0, 0.0), // n1 → n3: excluded
      (1000L, 30L, ts("1996-08-01"), 999.0, 0.0)  // n3 → n2: excluded
    ).toDF("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    val got = TpchShapes.nationTrade(lineitem, orders, customer, supplier, nation)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(4)))
    assert(got.toSeq === Seq(
      ("NATION_1", "NATION_2", 1996, 100.0),
      ("NATION_2", "NATION_1", 1996, 100.0),
      ("NATION_2", "NATION_1", 1997, 50.0)))
  }

  test("q177: each bracket admits exactly its own lines") {
    import spark.implicits._
    val part = Seq(
      (1L, "Brand#1", 5), (2L, "Brand#2", 20), (3L, "Brand#3", 30), (4L, "Brand#4", 5))
      .toDF("p_partkey", "p_brand", "p_size")
    val lineitem = Seq(
      (1L, 10.0, 100.0, 0.0),  // bracket 1: in
      (1L, 25.0, 999.0, 0.0),  // qty out of bracket 1 range
      (2L, 20.0, 200.0, 0.5),  // bracket 2: in, revenue 100
      (3L, 45.0, 300.0, 0.0),  // bracket 3: in
      (4L, 10.0, 999.0, 0.0)   // brand not in any bracket
    ).toDF("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val r = TpchShapes.disjunctiveBrackets(lineitem, part).head()
    assert(r.getAs[Long]("n_lines") === 3L)
    assert(r.getAs[Double]("revenue") === 500.0)
  }

  test("q179: only orders above the quantity threshold survive, ranked by quantity") {
    import spark.implicits._
    val lineitem = Seq(
      (1L, 150.0), (1L, 100.0),  // order 1: 250
      (2L, 100.0), (2L, 90.0),   // order 2: 190 — below
      (3L, 300.0)                // order 3: 300
    ).toDF("l_orderkey", "l_quantity")
    val orders = Seq(
      (1L, 10L, 1000.0, ts("1996-01-01")), (2L, 10L, 900.0, ts("1996-01-02")),
      (3L, 20L, 800.0, ts("1996-01-03"))).toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val customer = Seq((10L, "alice"), (20L, "bob")).toDF("c_custkey", "c_name")
    val got = TpchShapes.bigOrders(lineitem, orders, customer)
      .select("o_orderkey", "total_qty").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === Seq((3L, 300.0), (1L, 250.0)))
  }

  test("q181: a perfectly linear daily series has ACF 1 at every lag") {
    import spark.implicits._
    val orders = (0 until 40).map { i =>
      (i.toLong,
        java.sql.Timestamp.valueOf(
          java.time.LocalDate.of(1996, 1, 1).plusDays(i).atStartOfDay()),
        100.0 + i)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val acf = StatTests.autocorrelation(orders)
    val rows = acf.collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 2, 3, 7))
    rows.foreach(r => assert(math.abs(r.getDouble(2) - 1.0) < 1e-6))
    // lag-k over n days pairs n-k rows
    assert(rows.map(_.getLong(1)).toSeq === Seq(39L, 38L, 37L, 33L))
  }

  test("q182: all totals in [100,200) put 100% of mass on digit 1") {
    import spark.implicits._
    val orders = (1 to 50).map(i => (i.toLong, 100.0 + i)).toDF("o_orderkey", "o_totalprice")
    val rows = StatTests.benfordAudit(orders).collect()
    assert(rows.length === 1)
    assert(rows.head.getInt(0) === 1)
    assert(rows.head.getDouble(2) === 100.0)
    // expected Benford share of digit 1 ≈ 30.103%
    assert(math.abs(rows.head.getDouble(3) - 30.103) < 0.001)
  }

  test("q183: equal revenues → Gini 0; extreme concentration → Gini near 1") {
    import spark.implicits._
    val equal = (1 to 100).map(i => (i.toLong, 500.0)).toDF("o_custkey", "o_totalprice")
    assert(math.abs(StatTests.giniRevenue(equal).head().getAs[Double]("gini")) < 1e-9)
    val skewed = ((1 to 99).map(i => (i.toLong, 0.01)) :+ (100L, 1e6))
      .toDF("o_custkey", "o_totalprice")
    assert(StatTests.giniRevenue(skewed).head().getAs[Double]("gini") > 0.98)
  }

  test("q184: disjoint samples give KS = 1; identical-shape samples give KS near 0") {
    import spark.implicits._
    val customer = Seq((1L, "BUILDING"), (2L, "MACHINERY")).toDF("c_custkey", "c_mktsegment")
    val disjoint = ((1 to 50).map(i => (i.toLong * 10, 1L, i.toDouble)) ++
      (1 to 50).map(i => (i.toLong * 10 + 1, 2L, 1000.0 + i)))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val d1 = StatTests.ksTest(disjoint, customer).head()
    assert(d1.getAs[Long]("n_a") === 50L && d1.getAs[Long]("n_b") === 50L)
    assert(d1.getAs[Double]("ks_stat") === 1.0)
    val same = ((1 to 50).map(i => (i.toLong * 10, 1L, i.toDouble)) ++
      (1 to 50).map(i => (i.toLong * 10 + 1, 2L, i + 0.5)))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    assert(StatTests.ksTest(same, customer).head().getAs[Double]("ks_stat") <= 0.03)
  }

  test("q185: disjoint samples saturate U and the z sign follows direction") {
    import spark.implicits._
    // URGENT all below LOW → R1 minimal → U = 0, z negative
    val orders = ((1 to 30).map(i => (i.toLong, i.toDouble, "1-URGENT")) ++
      (1 to 30).map(i => (100L + i, 1000.0 + i, "5-LOW")))
      .toDF("o_orderkey", "o_totalprice", "o_orderpriority")
    val r = StatTests.mannWhitney(orders).head()
    assert(r.getAs[Long]("n_a") === 30L && r.getAs[Long]("n_b") === 30L)
    assert(r.getAs[Double]("u_stat") === 0.0)
    assert(r.getAs[Double]("z_stat") < -6.0)
  }

  test("q186: one weekday takes index 100 when it is the only day") {
    import spark.implicits._
    // 1996-01-01 is a Monday → DuckDB dow 1
    val orders = (1 to 10).map(i => (i.toLong, ts("1996-01-01"), 50.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val rows = StatTests.dowSeasonality(orders).collect()
    assert(rows.length === 1)
    assert(rows.head.getInt(0) === 1)
    assert(rows.head.getDouble(3) === 100.0)
  }

  test("q187: constant daily revenue smooths to itself inside the horizon") {
    import spark.implicits._
    val orders = (0 until 20).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"1996-01-${i + 1}%02d 00:00:00"), 100.0)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val rows = StatTests.ewmaDaily(orders).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getAs[Double]("rev") === 100.0)
      assert(math.abs(r.getAs[Double]("ewma") - 100.0) < 1e-6)
    }
  }

  test("q188: hand-built corpus recovers exact token/type counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a", "en", "web"),
      (2L, "a  b", "en", "web"),   // double space → one empty token filtered
      (3L, "x y", "en", "books")
    ).toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.heapsLaw(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(("books", 2L, 2L), ("web", 6L, 3L)))
  }

  test("q189: fertility ratios match hand computation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "ab cd", "en", "web"),   // 5 chars, 2 tokens
      (2L, "abcdef", "en", "web"),  // 6 chars, 1 token
      (3L, "xy", "fr", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val en = TextAnalysis.tokenizerFertility(docs).filter(col("lang") === "en").head()
    assert(en.getAs[Long]("n_docs") === 2L)
    assert(en.getAs[Long]("total_tokens") === 3L)
    assert(math.abs(en.getAs[Double]("chars_per_token") - 11.0 / 3) < 1e-3)
  }

  test("q190: PQ+re-rank recalls most of the exact top-k on real embeddings") {
    val exact = Similarity.annBruteForce(t.embeddings, numQueries = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.annPq(t.embeddings, numQueries = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall@5 = $recall")
  }

  test("q191: MMR keeps the top-1, fills k slots, and never raises redundancy") {
    val k = 10
    val mmr = Similarity.mmrDiversify(t.embeddings, numQueries = 3, k = k).cache()
    val exactTop = Similarity.annBruteForce(t.embeddings, numQueries = 3, k = k).cache()
    // per query: k rows and the relevance top-1 is selected first
    val byQ = mmr.collect().groupBy(_.getLong(0))
    assert(byQ.size === 3)
    byQ.foreach { case (_, rows) => assert(rows.length === k) }
    val top1 = exactTop.filter(col("rk") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mmr1 = mmr.filter(col("rk") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(mmr1 === top1)
    // diversified redundancy ≤ plain top-k redundancy (max pairwise cosine)
    def maxPairwise(ids: Map[Long, Array[Long]]): Double = {
      val vecs = t.embeddings.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      ids.values.map { sel =>
        val vs = sel.map(vecs)
        (for (i <- vs.indices; j <- vs.indices if i < j)
          yield vs(i).zip(vs(j)).map { case (a, b) => a * b }.sum).max
      }.max
    }
    val mmrSel = byQ.map { case (q, rows) => q -> rows.map(_.getLong(2)) }
    val topSel = exactTop.collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)) }
    assert(maxPairwise(mmrSel) <= maxPairwise(topSel) + 1e-9)
  }

  test("q193: duplicated text owns nothing, the original owns everything") {
    import spark.implicits._
    val eight = (1 to 8).map("w" + _).mkString(" ")
    val docs = Seq(
      (1L, eight, "en", "orig"),               // owns its 1 shingle
      (2L, eight, "en", "copy"),               // exact copy → 0 novel
      (3L, (1 to 9).map("x" + _).mkString(" "), "en", "fresh") // 2 novel shingles
    ).toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.shingleNovelty(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq(("copy", 1L, 0.0), ("fresh", 1L, 1.0), ("orig", 1L, 1.0)))
  }

  test("q194: a constant series decomposes to trend=level, seasonal=0, residual=0") {
    import spark.implicits._
    val orders = (0 until 30).map { i =>
      (i.toLong,
        java.sql.Timestamp.valueOf(
          java.time.LocalDate.of(1996, 1, 1).plusDays(i).atStartOfDay()),
        250.0)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val rows = StatTests.stlDecompose(orders).collect()
    assert(rows.length === 30)
    rows.foreach { r =>
      assert(r.getAs[Double]("trend") === 250.0)
      assert(r.getAs[Double]("seasonal") === 0.0)
      assert(r.getAs[Double]("residual") === 0.0)
    }
  }

  test("q195: an order counts once however many late lines it has") {
    import spark.implicits._
    val orders = Seq(
      (1L, ts("1996-01-01"), "1-URGENT"),
      (2L, ts("1996-01-01"), "1-URGENT"),
      (3L, ts("1996-01-01"), "5-LOW")
    ).toDF("o_orderkey", "o_orderdate", "o_orderpriority")
    val lineitem = Seq(
      (1L, ts("1996-06-01")), (1L, ts("1996-07-01")), // two late lines, one order
      (2L, ts("1996-01-15")),                          // on time
      (3L, ts("1996-08-01"))                           // late
    ).toDF("l_orderkey", "l_shipdate")
    val got = TpchShapes.priorityExists(lineitem, orders).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("1-URGENT", 1L), ("5-LOW", 1L)))
  }

  test("q196: bootstrap SE tracks the analytic SE and the CI brackets the mean") {
    val r = StatTests.bootstrapCi(t.orders).head()
    val mean = r.getAs[Double]("mean")
    assert(r.getAs[Double]("ci_lo") < mean && mean < r.getAs[Double]("ci_hi"))
    val ratio = r.getAs[Double]("se_boot") / r.getAs[Double]("se_analytic")
    assert(ratio > 0.6 && ratio < 1.6, s"se ratio $ratio")
  }

  test("q197: a chain inside the window reaches level 3, a straddling one does not") {
    import spark.implicits._
    def e(id: Long, minute: Long, uid: Long, typ: String) =
      (id, new java.sql.Timestamp(1700000000000L + minute * 60000L), uid, typ, 1.0, "{}")
    val events = Seq(
      // user 1: view→click→purchase all within a day → level 3
      e(1, 0, 1, "view"), e(2, 10, 1, "click"), e(3, 20, 1, "purchase"),
      // user 2: click lands beyond the 1-day window → level 1
      e(4, 0, 2, "view"), e(5, 2000, 2, "click"),
      // user 3: purchase BEFORE the click never counts → level 2
      e(6, 0, 3, "view"), e(7, 5, 3, "purchase"), e(8, 10, 3, "click")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventAnalytics.windowFunnel(events).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got === Seq((1, 1L), (2, 1L), (3, 1L)))
  }

  test("hand recurrence: 3 purchases fold to α-weighted value in order") {
    import spark.implicits._
    val rows = Seq(
      ev(1, 0, 1, "purchase", 10.0),
      ev(2, 5, 1, "purchase", 20.0),
      ev(3, 9, 1, "click", 999.0),   // non-purchase ignored
      ev(4, 10, 1, "purchase", 30.0))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventAnalytics.userEwma(df).head()
    // s1=10, s2=.3·20+.7·10=13, s3=.3·30+.7·13=18.1
    assert(got.getAs[Double]("ewma_value") === 18.1)
    assert(got.getAs[Long]("n_obs") === 3L)
  }

  test("q199: cont interpolates, disc picks a member, mode ties break low") {
    import spark.implicits._
    // flag A: [1,2,3,4] → cont 2.5, disc 2; counts all 1 → mode tie → 1
    val lineitem = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0), ("A", 4.0))
      .toDF("l_returnflag", "l_quantity")
    val r = operators.Relational.medianModes(lineitem).head()
    assert(r.getAs[Double]("median_cont") === 2.5)
    assert(r.getAs[Double]("median_disc") === 2.0)
    assert(r.getAs[Double]("mode_qty") === 1.0)
    assert(r.getAs[Long]("mode_count") === 1L)
  }

  test("q200: decimal sum keeps the cents the double path drifts on") {
    import spark.implicits._
    val orders = Seq(("P", 0.1), ("P", 0.2)).toDF("o_orderpriority", "o_totalprice")
    val r = operators.Relational.exactMoney(orders).head()
    assert(r.getAs[String]("sum_exact") === "0.30")
    assert(r.getAs[String]("min_exact") === "0.10")
    assert(r.getAs[String]("max_exact") === "0.20")
    // the raw double sum is 0.30000000000000004 — the decimal path is
    // what makes the money exact
    assert(0.1 + 0.2 !== 0.3)
  }

  test("q201: a contained quote scores containment 1 toward its superset") {
    import spark.implicits._
    val small = (1 to 10).map("t" + _).mkString(" ")
    val big = small + " " + (11 to 40).map("t" + _).mkString(" ")
    val docs = Seq(
      (1L, small, "en", "quotes"),
      (2L, big, "en", "web"),
      (3L, (100 to 140).map("z" + _).mkString(" "), "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val got = operators.Dedup.containmentJoin(docs).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[Long]("doc_a") === 1L && r.getAs[Long]("doc_b") === 2L)
    assert(r.getAs[Double]("c_ab") === 1.0)   // small fully inside big
    assert(r.getAs[Double]("c_ba") < 0.5)     // big is NOT inside small
  }

  test("q202: a glued pair tops PMI; an independent frequent pair scores lower") {
    import spark.implicits._
    // "alpha beta" always adjacent (5×); "noise" is frequent but pairs randomly
    val glued = (1 to 5).map(i => (i.toLong, "alpha beta", "en", "web"))
    val indep = (6 to 15).map(i => (i.toLong, "noise filler noise filler noise", "en", "web"))
    val docs = (glued ++ indep).toDF("doc_id", "text", "lang", "source")
    val rows = TextAnalysis.pmiBigrams(docs, minCount = 5).collect()
    assert(rows.nonEmpty)
    val top = rows.head
    assert((top.getString(0), top.getString(1)) === ("alpha", "beta"))
    val pmiMap = rows.map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    pmiMap.get(("noise", "filler")).foreach(p => assert(p < pmiMap(("alpha", "beta"))))
  }

  test("q203: term-dense docs outrank sparse ones; term-free docs never appear") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark query table", "en", "web"),
      (2L, "spark filler filler filler filler filler filler", "en", "web"),
      (3L, "nothing relevant here at all", "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val rows = TextAnalysis.bm25(docs).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(rows.head.getAs[Long]("n_terms_hit") === 3L)
  }

  test("q204: a planted revenue spike is the only flagged day") {
    import spark.implicits._
    val orders = (0 until 60).map { i =>
      val rev = if (i == 30) 100000.0 else 100.0 + (i % 7)
      (i.toLong,
        java.sql.Timestamp.valueOf(
          java.time.LocalDate.of(1996, 1, 1).plusDays(i).atStartOfDay()),
        rev)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val rows = StatTests.stlAnomalies(orders).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("1996-01-31"))
    assert(rows.head.getAs[Double]("z") > 3.0)
  }

  test("q205: MG sketch + recount returns exactly the true heavy-hitter set, any layout") {
    import spark.implicits._
    // "hot" is 40% of tokens; 60 distinct rare tokens fill the rest —
    // far more distinct items than the k−1 = 9 counters
    val hot = (1 to 40).map(_ => "hot")
    val rare = (1 to 60).map(i => s"rare$i")
    val toks = new scala.util.Random(7).shuffle(hot ++ rare)
    val docs = toks.grouped(10).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" "), "en", "web") }
      .toSeq.toDF("doc_id", "text", "lang", "source")
    val expected = Set(("hot", 40L)) // only token with freq > 100/10
    Seq(docs, docs.repartition(8), docs.repartition(1)).foreach { layout =>
      val got = operators.TextAnalysis.mgHeavyHitters(layout, k = 10)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got === expected, s"layout-dependent MG answer: $got")
    }
  }

  test("q205 summary internals: lower bounds never exceed truth, error within n/k") {
    import spark.implicits._
    val toks = ((1 to 50).map(_ => "a") ++ (1 to 30).map(_ => "b") ++
      (1 to 40).map(i => s"x$i")).toDF("tok")
    val row = toks.agg(expr("mg_topk(tok, 8)").as("s")).select("s.n", "s.items").head()
    val n = row.getLong(0)
    assert(n === 120L)
    val items = row.getSeq[org.apache.spark.sql.Row](1)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = Map("a" -> 50L, "b" -> 30L)
    // every guaranteed-heavy item (freq > n/k = 15) survives
    assert(items.contains("a") && items.contains("b"))
    items.foreach { case (item, lb) =>
      val t = truth.getOrElse(item, 1L)
      assert(lb <= t, s"$item lower bound $lb above truth $t")
      assert(t - lb <= n / 8, s"$item error ${t - lb} above n/k")
    }
  }

  test("q192: a planted triangle plus a pendant edge is counted correctly") {
    import spark.implicits._
    // orders 1 and 2 both contain parts {1,2,3} → all three edges reach
    // support 2; part 4 co-occurs with part 1 only once → below support
    val lineitem = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 1L), (3L, 4L)
    ).toDF("l_orderkey", "l_partkey")
    val r = Graph.triangleCensus(lineitem).head()
    assert(r.getAs[Long]("n_edges") === 3L)
    assert(r.getAs[Long]("n_wedges") === 3L)
    assert(r.getAs[Long]("n_triangles") === 1L)
    assert(r.getAs[Double]("global_cc") === 1.0)
  }
}
