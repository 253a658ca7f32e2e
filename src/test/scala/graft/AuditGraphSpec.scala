package graft

import graft.operators.{Audit, EventAnalytics, Graph, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Semantic ground truth for the q95–q99 family: native session windows,
  * constraint audit, per-source caps, PageRank, substring dedup. */
class AuditGraphSpec extends SparkSpec {
  import spark.implicits._
  lazy val t = Tables(spark, sfDir)

  test("q95: native session_window agrees with the lag/cumsum sessionizer (q22)") {
    val native = EventAnalytics.sessionWindowNative(t.events)
      .select("user_id", "n_sessions", "n_events")
    val lagged = EventAnalytics.sessionize(t.events)
      .select("user_id", "n_sessions", "n_events")
    assert(native.exceptAll(lagged).isEmpty && lagged.exceptAll(native).isEmpty,
      "session_window and lag-window sessionization disagree")
  }

  test("q95: session spans are non-negative and bounded by the user's event span") {
    val spans = EventAnalytics.sessionWindowNative(t.events)
    val bad = spans.filter(col("total_span_s") < 0 || col("max_span_s") > col("total_span_s") + 0.001)
    assert(bad.isEmpty, "negative or inconsistent session spans")
  }

  test("q96: clean generated data passes every check") {
    val out = Audit.constraintAudit(t.orders, t.lineitem, t.customer, t.events).collect()
    assert(out.length == 10)
    out.foreach { r =>
      assert(r.getAs[Boolean]("passed"), s"${r.getString(0)}: ${r.getAs[Long]("n_violations")} violations")
      assert(r.getAs[Long]("n_rows") > 0)
    }
  }

  test("q96: planted violations are counted exactly") {
    val orders = Seq[(Long, java.lang.Long, String, Double)](
      (1L, 10L, "O", 100.0), (2L, 10L, "O", -5.0), (2L, 99L, "F", 50.0), (3L, null, "F", 20.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val lineitem = Seq((1L, 10.0, 0.05, "2024-01-01"), (7L, 99.0, -0.1, "2024-01-02"))
      .toDF("l_orderkey", "l_quantity", "l_discount", "sd")
      .withColumn("l_shipdate", col("sd").cast("timestamp")).drop("sd")
    val customer = Seq(Tuple1(10L)).toDF("c_custkey")
    val events = Seq((1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 01:00:00"))
      .toDF("event_id", "tss").withColumn("ts", col("tss").cast("timestamp")).drop("tss")

    val got = Audit.constraintAudit(orders, lineitem, customer, events)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_violations")).toMap
    assert(got("notnull_o_custkey") == 1)   // order 3
    assert(got("unique_o_orderkey") == 1)   // order 2 twice
    assert(got("range_o_totalprice") == 1)  // -5.0
    assert(got("range_l_quantity") == 1)    // 99.0
    assert(got("range_l_discount") == 1)    // -0.1
    assert(got("fk_orders_custkey") == 1)   // custkey 99 (null custkey NOT an fk violation)
    assert(got("fk_lineitem_orderkey") == 1) // orderkey 7
    assert(got("unique_event_id") == 1)     // event 1 twice
  }

  test("q97: no source exceeds the cap, ratios are consistent, and the choice is layout-stable") {
    val cap = 5
    val out = TextAnalysis.sourceCaps(t.documents, cap).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= cap)
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_total"))
      assert(r.getAs[Double]("keep_ratio") <= 1.0)
    }
    val shuffled = TextAnalysis.sourceCaps(t.documents.repartition(7), cap)
    val base     = TextAnalysis.sourceCaps(t.documents, cap)
    assert(base.exceptAll(shuffled).isEmpty, "cap selection depends on data layout")
  }

  test("q98: star graph ranks the hub first and rank mass is conserved") {
    // baskets {A,B} {A,C} {A,D}: A co-purchased with everyone
    val li = Seq((1L, 100L), (1L, 200L), (2L, 100L), (2L, 300L), (3L, 100L), (3L, 400L))
      .toDF("l_orderkey", "l_partkey")
    val pr = Graph.coPurchasePageRank(li, iterations = 3, topN = 10).collect()
    assert(pr.head.getAs[Long]("part") == 100L, "hub is not ranked first")
    // symmetric graph, no dangling nodes: scaled ranks sum to n (=1.0 each on average)
    val total = pr.map(_.getAs[Double]("pr_x_n")).sum
    assert(math.abs(total - 4.0) < 0.01, s"rank mass $total != 4.0")
    // spokes are symmetric — identical ranks
    val spokes = pr.filter(_.getAs[Long]("part") != 100L).map(_.getAs[Double]("pr_x_n")).distinct
    assert(spokes.length == 1, "symmetric spokes got different ranks")
  }

  test("q98: plan depth is constant in the iteration count (per-iteration checkpoint)") {
    val li = Seq((1L, 100L), (1L, 200L), (2L, 100L), (2L, 300L), (3L, 100L), (3L, 400L))
      .toDF("l_orderkey", "l_partkey")
    val edges = Graph.distinctEdges(li).cache()
    val deg = Graph.outDegrees(edges).localCheckpoint(true)
    try {
      def planNodes(k: Int): Int =
        Graph.iterateRanks(edges, deg, 4.0, k, 0.85)
          .queryExecution.optimizedPlan.collect { case p => p }.size
      val at2 = planNodes(2)
      val at6 = planNodes(6)
      assert(at2 == at6, s"rank plan grows with iterations ($at2 nodes at k=2, $at6 at k=6)")
    } finally edges.unpersist(blocking = false)
  }

  test("q99: planted shared passage flags both docs; within-doc repetition alone does not flag") {
    val passage = (1 to 12).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $passage gamma"),
      (2L, s"$passage delta epsilon zeta"),
      (3L, "entirely unique words that never repeat anywhere else at all here now"),
      (4L, "x1 x2 x3 x4 x5 x6 x7 x8 x1 x2 x3 x4 x5 x6 x7 x8") // self-repeat only
    ).toDF("doc_id", "text")
    val out = TextAnalysis.substringDedup(docs, windowTokens = 8, flagAt = 0.3)
      .collect().map(r => r.getLong(0) -> r).toMap
    // docs 1 and 2 share the 12-token passage → 5 shared 8-windows each
    assert(out(1L).getAs[Long]("n_dup_windows") == 5)
    assert(out(2L).getAs[Long]("n_dup_windows") == 5)
    assert(out(1L).getAs[Boolean]("flagged") && out(2L).getAs[Boolean]("flagged"))
    assert(out(3L).getAs[Long]("n_dup_windows") == 0 && !out(3L).getAs[Boolean]("flagged"))
    assert(out(4L).getAs[Long]("n_dup_windows") == 0, "within-doc repetition must not count as corpus dup")
  }

  test("q99: the md5 kernel reproduces the declarative HOF form's dup structure exactly") {
    import graft.functions.TextFunctions.{shingles, tokens}
    // reference semantics: grams via the interpreted HOF column form
    val hofGrams = t.documents.select(col("doc_id"),
      explode(transform(shingles(tokens(lower(col("text"))), 8), s => xxhash64(s))).as("g"))
    val dup = hofGrams.groupBy("g").agg(countDistinct("doc_id").as("nd")).filter(col("nd") > 1).select("g")
    val hof = hofGrams.join(dup, Seq("g")).groupBy("doc_id").agg(count(lit(1)).as("nd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernel = TextAnalysis.substringDedup(t.documents)
      .filter(col("n_dup_windows") > 0)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_dup_windows")).toMap
    assert(kernel == hof, s"kernel dup structure diverges (${kernel.size} vs ${hof.size} docs)")
  }

  test("q99: window counts are exact (n - k + 1 per doc)") {
    val docs = Seq((1L, (1 to 20).map("w" + _).mkString(" ")), (2L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.substringDedup(docs).collect().map(r => r.getLong(0) -> r.getAs[Long]("n_windows")).toMap
    assert(out(1L) == 13 && out(2L) == 0)
  }

  test("q100: cross-corpus near-dup finds the planted paraphrase, ignores unique docs and within-side dups") {
    import graft.operators.Dedup
    def words(seed: Int, n: Int) = (1 to n).map(i => s"w${seed}_$i").mkString(" ")
    val reference = Seq(
      (10L, words(1, 40)),
      (11L, words(2, 40)),
      (12L, words(3, 40))).toDF("doc_id", "text")
    // c1 ≈ ref 11 (drop last 3 words), c2 unique, c3+c4 near-dups of EACH
    // OTHER but of nothing in the reference — must not surface
    val candidates = Seq(
      (20L, words(2, 37)),
      (21L, words(9, 40)),
      (22L, words(7, 40)),
      (23L, words(7, 39))).toDF("doc_id", "text")
    val out = Dedup.crossCorpusNearDups(reference, candidates, verifyThreshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 1, s"expected exactly the planted match, got ${out.toSeq}")
    val (cand, ref, j) = out.head
    assert(cand == 20L && ref == 11L && j >= 0.7, s"wrong match: $cand -> $ref @ $j")
  }

  test("q100: an exact copy across corpora scores jaccard 1.0") {
    import graft.operators.Dedup
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    val ref  = Seq((1L, text)).toDF("doc_id", "text")
    val cand = Seq((2L, text)).toDF("doc_id", "text")
    val out = Dedup.crossCorpusNearDups(ref, cand).collect()
    assert(out.length == 1 && out.head.getDouble(2) == 1.0)
  }

  test("q102: skyline equals the brute-force pareto set and is layout-stable") {
    import graft.operators.Skyline
    val p = t.part.select("p_partkey", "p_retailprice", "p_size")
    val a = p.as("a"); val b = p.as("b")
    val dominated = a.join(b,
      col("b.p_retailprice") <= col("a.p_retailprice") && col("b.p_size") >= col("a.p_size") &&
        (col("b.p_retailprice") < col("a.p_retailprice") || col("b.p_size") > col("a.p_size")),
      "left_semi")
    val brute = p.exceptAll(dominated).select("p_partkey").collect().map(_.getLong(0)).toSet
    val sky = Skyline.skyline(t.part).select("p_partkey").collect().map(_.getLong(0)).toSet
    assert(sky == brute, s"skyline ${sky.size} vs brute ${brute.size}")
    val shuffled = Skyline.skyline(t.part.repartition(13)).select("p_partkey")
      .collect().map(_.getLong(0)).toSet
    assert(shuffled == brute, "skyline depends on partition layout")
    // frontier sanity: strictly increasing size as price increases
    val rows = Skyline.skyline(t.part).orderBy("p_retailprice").collect()
    rows.sliding(2).foreach {
      case Array(x, y) =>
        assert(x.getDouble(1) <= y.getDouble(1))
        if (x.getDouble(1) < y.getDouble(1)) assert(x.getInt(2) < y.getInt(2))
      case _ =>
    }
  }

  test("plan lint flags the three 100TB-killer shapes and passes clean plans") {
    import graft.plans.PlanLint
    import org.apache.spark.sql.expressions.Window
    val cross = t.customer.crossJoin(t.orders)
    assert(PlanLint.lint(cross).exists(v => v.rule == "cartesian-product" || v.rule == "broadcast-nested-loop-join"))
    val globalWin = t.orders.withColumn("rn",
      row_number().over(Window.orderBy(desc("o_totalprice"))))
    assert(PlanLint.lint(globalWin).exists(_.rule == "unpartitioned-window"))
    assert(PlanLint.lint(SparkEntry.queries("q01_pricing_summary")(spark, sfDir)).isEmpty)
    assert(PlanLint.lint(SparkEntry.queries("q05_multi_join_agg")(spark, sfDir)).isEmpty)
    assert(PlanLint.lint(SparkEntry.queries("q25_ntile_buckets")(spark, sfDir)).isEmpty,
      "the rebuilt scale-safe ntile must lint clean")
    intercept[IllegalArgumentException](PlanLint.check(cross))
  }

  test("q103: conversion latency — non-negative, median ≤ p90, conversions bounded by converting users") {
    val rows = EventAnalytics.conversionLatency(t.events).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val med = r.getAs[Double]("median_latency_s")
      val p90 = r.getAs[Double]("p90_latency_s")
      assert(med >= 0 && p90 >= med, s"${r.getString(0)}: median $med p90 $p90")
    }
    val totalConv = rows.map(_.getAs[Long]("n_conversions")).sum
    val clickUsers = t.events.filter(col("event_type") === "click")
      .select("user_id").distinct().count()
    assert(totalConv <= clickUsers)
  }

  test("q104: BFS hop counts are exact on a hand-built chain-of-stars graph") {
    import graft.operators.Graph
    // baskets: {100,200} {100,300} {200,400} → seed=100: 100@0, 200@1, 300@1, 400@2
    val li = Seq((1L, 100L), (1L, 200L), (2L, 100L), (2L, 300L), (3L, 200L), (3L, 400L))
      .toDF("l_orderkey", "l_partkey")
    val got = Graph.bfsReach(li, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(100L -> 0L, 200L -> 1L, 300L -> 1L, 400L -> 2L), s"got $got")
    // a tighter hop budget truncates reach, never relabels
    val h1 = Graph.bfsReach(li, maxHops = 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 == Map(100L -> 0L, 200L -> 1L, 300L -> 1L), s"got $h1")
  }

  test("q105: weighted sampling picks the overwhelming-weight doc and is layout-stable") {
    import graft.operators.TextAnalysis
    val docs = (1 to 30).map(i =>
      (i.toLong, s"doc $i", "en", "s0", if (i == 17) 1000000000L else 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val one = TextAnalysis.weightedSample(docs, k = 1).collect()
    assert(one.length == 1 && one.head.getAs[Long]("doc_id") == 17L,
      s"P∝weight violated: picked ${one.toSeq}")
    val a = TextAnalysis.weightedSample(t.documents, k = 5).collect().toSeq
    val b = TextAnalysis.weightedSample(t.documents.repartition(7), k = 5).collect().toSeq
    assert(a == b, "weighted sample depends on layout")
    assert(a.groupBy(_.getString(0)).forall(_._2.size <= 5))
  }

  test("q106: triple support counts are exact and the a-priori prune never changes the answer") {
    import graft.operators.Relational
    val li = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 1L), (3L, 2L), (3L, 4L)).toDF("l_orderkey", "l_partkey")
    val top = Relational.frequentTriples(li, minSupport = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(top.head == ((1L, 2L, 3L, 2L)), s"got ${top.toSeq}")
    assert(top.toSet == Set((1L, 2L, 3L, 2L), (1L, 2L, 4L, 1L)))
    val pruned = Relational.frequentTriples(li, minSupport = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(pruned.toSeq == Seq((1L, 2L, 3L, 2L)), s"got ${pruned.toSeq}")
  }

  test("q107: deletion-neighborhood join finds exactly the levenshtein<=1 pairs") {
    import graft.operators.Dedup
    val fixture = Seq(
      (1L, "abc"), (2L, "abd"),   // substitution -> dist 1
      (3L, "abcd"),               // insertion vs 1 -> dist 1
      (4L, "ba"), (5L, "ab"),     // transposition -> dist 2, must NOT pair
      (6L, "abc")                 // duplicate of 1 -> dist 0
    ).toDF("c_custkey", "c_name")
    val got = Dedup.fuzzyNameJoin(fixture, maxKey = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 2L, 1L), (1L, 3L, 1L), (1L, 5L, 1L), (1L, 6L, 0L),
      (2L, 3L, 1L), (2L, 5L, 1L), (2L, 6L, 1L),
      (3L, 6L, 1L), (5L, 6L, 1L)), s"got $got")
    // candidate completeness vs brute force on real names
    val cust = t.customer.filter(col("c_custkey") < 300)
    val brute = cust.as("a").join(cust.as("b"), col("a.c_custkey") < col("b.c_custkey"))
      .filter(levenshtein(col("a.c_name"), col("b.c_name")) <= 1)
      .select(col("a.c_custkey"), col("b.c_custkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = Dedup.fuzzyNameJoin(t.customer, maxKey = 300).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == brute, s"fast ${fast.size} vs brute ${brute.size}")
  }

  test("q108: SCD2 intervals chain exactly — each valid_to is the next valid_from, one open row per user") {
    val dim = EventAnalytics.scd2Build(t.events).collect()
    assert(dim.nonEmpty)
    val byUser = dim.groupBy(_.getLong(0))
    byUser.foreach { case (u, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("valid_from_us"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to_us") == b.getAs[Long]("valid_from_us"),
            s"user $u: interval gap/overlap")
        case _ =>
      }
      assert(rows.count(_.getAs[Boolean]("is_current")) == 1, s"user $u: open-row count != 1")
      assert(sorted.last.isNullAt(sorted.last.fieldIndex("valid_to_us")))
    }
    val nPurchases = t.events.filter(col("event_type") === "purchase").count()
    assert(dim.length == nPurchases, "one dimension row per change event")
  }

  test("q110: the NULL group exists, excludes itself from count(col), and survives the null-safe join") {
    import graft.operators.Relational
    val rows = Relational.nullSemantics(t.events).collect()
    val nullGroup = rows.filter(_.isNullAt(0))
    assert(nullGroup.length == 1, "NULLs must collapse into exactly one group")
    assert(nullGroup.head.getAs[Long]("n_rows") > 0)
    assert(nullGroup.head.getAs[Long]("n_nonnull_key") == 0, "count(col) must exclude NULL keys")
    rows.foreach { r =>
      assert(r.getAs[Long]("nullsafe_join_n") == r.getAs[Long]("n_rows"),
        "null-safe self-join must match every group to itself")
    }
  }

  test("q111: general skyline equals brute force at d=3 and is layout-stable") {
    import graft.operators.Skyline
    val dims = Seq(("l_quantity", true), ("l_discount", false), ("l_tax", false))
    val tup = t.lineitem.select("l_quantity", "l_discount", "l_tax").distinct()
    val a = tup.as("a"); val b = tup.as("b")
    val dominated = a.join(b,
      col("b.l_quantity") >= col("a.l_quantity") && col("b.l_discount") <= col("a.l_discount") &&
        col("b.l_tax") <= col("a.l_tax") &&
        (col("b.l_quantity") > col("a.l_quantity") || col("b.l_discount") < col("a.l_discount") ||
          col("b.l_tax") < col("a.l_tax")),
      "left_semi")
    val brute = tup.exceptAll(dominated).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSet
    val sky = Skyline.skylineGeneral(t.lineitem, dims).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(sky == brute, s"skyline ${sky.size} vs brute ${brute.size}")
    val shuffled = Skyline.skylineGeneral(t.lineitem.repartition(11), dims).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(shuffled == brute, "general skyline depends on layout")
  }

  test("q112: point-in-time join never leaks a future tier") {
    val probe = t.events.select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("t_us"))
    val dim = t.events.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        graft.functions.PortableRound.round(col("value"), 4).as("tier"))
    val joined = graft.operators.AsOfJoin
      .asofJoin(probe, dim, "user_id", "t_us", "tier", "tier_at_event")
    // every labeled event must have a purchase at or before its time with that tier
    val labeled = joined.filter(col("tier_at_event").isNotNull)
    val witness = labeled.join(
      dim.select(col("user_id"), col("t_us").as("p_us"), col("tier").as("tier_at_event")),
      Seq("user_id", "tier_at_event"))
      .filter(col("p_us") <= col("t_us"))
      .select("event_id").distinct()
    assert(labeled.select("event_id").distinct().count() == witness.count(),
      "an event carries a tier with no past purchase witness")
    // pre-first-purchase events are unlabeled
    val firstPurchase = dim.groupBy("user_id").agg(min("t_us").as("fp_us"))
    val early = joined.join(firstPurchase, Seq("user_id"), "left")
      .filter(col("fp_us").isNull || col("t_us") < col("fp_us"))
    assert(early.filter(col("tier_at_event").isNotNull).count() == 0,
      "an event before the first purchase got a tier (future leak)")
  }

  test("q113: mean embedding of an identical-vector cluster is that vector; dims complete") {
    import graft.operators.Similarity
    val vec = Array(0.5f, -0.25f, 1.0f)
    val fixture = (1 to 4).map(i => (i.toLong, vec, 7))
      .toDF("vec_id", "embedding", "label")
    val pooled = Similarity.meanEmbedding(fixture).collect()
    assert(pooled.length == 3)
    assert(pooled.map(r => (r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 0.5), (2L, -0.25), (3L, 1.0)))
    assert(pooled.forall(_.getAs[Long]("n_vecs") == 4L))
    val dims = Similarity.meanEmbedding(t.embeddings)
      .groupBy("label").count().collect().map(_.getLong(1)).distinct
    assert(dims.length == 1, "every label must pool the same dimensionality")
  }

  test("q114: revenue shares are positive and sum to 100") {
    import graft.operators.Relational
    val rows = Relational.revenueShare(t.orders, t.customer, t.nation).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("pct_share") > 0))
    val total = rows.map(_.getAs[Double]("pct_share")).sum
    assert(math.abs(total - 100.0) < 0.01, s"shares sum to $total")
  }

  test("q101: HLL join estimate lands within 5% of the exact key overlap") {
    import graft.operators.Relational
    val r = Relational.hllJoinEstimate(t.orders, "o_custkey", t.customer, "c_custkey").head()
    val estLeft  = r.getAs[Long]("est_left_keys")
    val estInter = r.getAs[Long]("est_matching_keys")
    val exactLeft = t.orders.select("o_custkey").distinct().count()
    val exactInter = t.orders.select(col("o_custkey").as("k")).distinct()
      .join(t.customer.select(col("c_custkey").as("k")).distinct(), "k").count()
    assert(math.abs(estLeft - exactLeft) <= math.max(1, 0.05 * exactLeft), s"$estLeft vs $exactLeft")
    assert(math.abs(estInter - exactInter) <= math.max(1, 0.05 * exactInter), s"$estInter vs $exactInter")
  }
}
