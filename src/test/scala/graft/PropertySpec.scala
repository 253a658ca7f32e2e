package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.operators.{EventAnalytics, Relational, TextAnalysis}

/** Property-based invariants over randomly generated inputs — the
  * algebraic laws each operator must satisfy on ANY data, not just the
  * fixtures. Small driver-generated frames keep each property's Spark
  * round-trip cheap; scalacheck shrinks failures to minimal
  * counterexamples. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Run a scalacheck property inside a funsuite test (the
    * scalatest↔scalacheck bridge artifact isn't in the offline cache). */
  private def checkProp(prop: Prop, trials: Int = 15): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(trials)
        .withWorkers(1)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)),
      prop)
    assert(res.passed, s"property falsified: ${res.status}")
  }

  private val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "x1", "y2")
  private val docGen = for {
    n    <- Gen.choose(1, 120)
    toks <- Gen.listOfN(n, wordGen)
  } yield toks.mkString(" ")

  test("chunking conserves tokens and tiles every document") {
    checkProp(Prop.forAll(Gen.listOfN(5, docGen), Gen.choose(4, 32), Gen.choose(2, 32)) {
      (texts: List[String], window: Int, stride0: Int) =>
        val stride = math.min(stride0, window) // overlap, never gaps
        val docs = texts.zipWithIndex
          .map { case (t, i) => (i.toLong, t, "en", "s0", t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
        val chunks = TextAnalysis.chunkDocuments(docs, window, stride)
          .groupBy("doc_id")
          .agg(max("chunk_id").as("last"), count(lit(1)).as("n_chunks"),
            sum("chunk_len").as("covered"), min("chunk_len").as("min_len"))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
        texts.zipWithIndex.forall { case (t, i) =>
          val n = t.split(" ").length
          val (last, nChunks, covered, minLen) = chunks(i.toLong)
          val expChunks = (n + stride - 1) / stride // starts at 0, stride, … < n
          nChunks == expChunks && last == expChunks - 1 &&
            covered >= n && // overlap ⇒ every token covered at least once
            minLen >= 1
        }
    }, trials = 8)
  }

  test("funnel stages are monotonically non-increasing on any event set") {
    val evGen = for {
      user <- Gen.choose(1L, 6L)
      tpe  <- Gen.oneOf("view", "click", "purchase", "error")
      min  <- Gen.choose(0, 59)
    } yield (user, tpe, min)
    checkProp(Prop.forAll(Gen.listOfN(40, evGen)) { evs =>
      val df = evs.zipWithIndex
        .map { case ((u, tpe, m), i) =>
          (i.toLong, java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00"), u, tpe, 1.0, "{}")
        }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val r = EventAnalytics.funnel(df).as[(Long, Long, Long)].head()
      r._1 >= r._2 && r._2 >= r._3
    }, trials = 8)
  }

  test("histogram bins always partition the input exactly, bounds inside bins") {
    checkProp(Prop.forAll(Gen.listOfN(60, Gen.choose(0.0, 500000.0))) { prices =>
      val df = prices.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("o_orderkey", "o_totalprice")
      val bins = Relational.histogram(df)
        .as[(Long, Long, Double, Double)].collect()
      bins.map(_._2).sum == prices.length &&
        bins.forall { case (bin, _, lo, hi) =>
          lo >= bin * 50000.0 && hi < (bin + 1) * 50000.0 && lo <= hi
        }
    })
  }

  test("redaction is idempotent and leaves no digits behind") {
    val junkGen = Gen.listOfN(30, Gen.oneOf(
      Gen.alphaStr.map(_.take(6)), Gen.choose(0, 99999).map(_.toString),
      Gen.const("a@b.co"), Gen.const("10.0.0.1"))).map(_.mkString(" "))
    checkProp(Prop.forAll(junkGen) { text =>
      val once = Seq(text).toDF("t")
        .select(TextAnalysis.redact(col("t"), TextAnalysis.defaultPiiPatterns).as("r"))
        .as[String].head()
      val twice = Seq(once).toDF("t")
        .select(TextAnalysis.redact(col("t"), TextAnalysis.defaultPiiPatterns).as("r"))
        .as[String].head()
      once == twice && !once.exists(_.isDigit)
    })
  }

  test("deterministic hash sample composes: subset nibbles give subset rows") {
    val idsGen = Gen.listOfN(80, Gen.choose(0L, 10000L)).map(_.distinct)
    checkProp(Prop.forAll(idsGen) { ids =>
      val docs = ids.map(i => (i, s"text $i", "en", "s0", 10L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      def sample(nibbles: Seq[String]) =
        TextAnalysis.hashSample(docs, nibbles).select("doc_id").as[Long].collect().toSet
      val small = sample(Seq("0", "1"))
      val big   = sample(Seq("0", "1", "2", "3"))
      small.subsetOf(big)
    }, trials = 8)
  }

  test("skyline equals brute-force domination on any point set (ties, duplicates, collinear)") {
    val ptGen = for {
      price <- Gen.choose(1, 8).map(_ * 10.0) // coarse grid forces price/size ties
      size  <- Gen.choose(1, 8)
    } yield (price, size)
    checkProp(Prop.forAll(Gen.listOfN(40, ptGen)) { pts =>
      val df = pts.zipWithIndex.map { case ((p, s), i) => (i.toLong, p, s) }
        .toDF("p_partkey", "p_retailprice", "p_size")
      val got = graft.operators.Skyline.skyline(df)
        .select("p_partkey").as[Long].collect().toSet
      val exp = pts.zipWithIndex.collect {
        case ((p, s), i) if !pts.exists { case (q, u) =>
          q <= p && u >= s && (q < p || u > s)
        } => i.toLong
      }.toSet
      got == exp
    }, trials = 12)
  }

  test("SCD2 intervals chain exactly on any change-event set") {
    val chGen = for {
      user <- Gen.choose(1L, 3L)
      min  <- Gen.choose(0, 500)
      v    <- Gen.choose(1, 9)
    } yield (user, min, v.toDouble)
    checkProp(Prop.forAll(Gen.nonEmptyListOf(chGen)) { evs =>
      val distinctTimes = evs.distinctBy(e => (e._1, e._2)) // one change per (user, instant)
      val df = distinctTimes.zipWithIndex.map { case ((u, m, v), i) =>
        (i.toLong, new java.sql.Timestamp(1700000000000L + m * 60000L), u, "purchase", v, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val dim = EventAnalytics.scd2Build(df).collect()
      val ok = dim.groupBy(_.getLong(0)).forall { case (_, rows) =>
        val sorted = rows.sortBy(_.getAs[Long]("valid_from_us"))
        val chains = sorted.sliding(2).forall {
          case Array(a, b) => a.getAs[Long]("valid_to_us") == b.getAs[Long]("valid_from_us")
          case _           => true
        }
        chains && rows.count(_.getAs[Boolean]("is_current")) == 1
      }
      ok && dim.length == distinctTimes.length
    }, trials = 10)
  }

  test("native session_window sessionization equals the lag/cumsum form on any event times") {
    val evGen = for {
      user <- Gen.choose(1L, 4L)
      min  <- Gen.choose(0, 600)
    } yield (user, min)
    checkProp(Prop.forAll(Gen.nonEmptyListOf(evGen)) { evs =>
      val df = evs.zipWithIndex.map { case ((u, m), i) =>
        (i.toLong, new java.sql.Timestamp(1700000000000L + m * 60000L), u, "click", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val native = EventAnalytics.sessionWindowNative(df)
        .select("user_id", "n_sessions", "n_events")
        .as[(Long, Long, Long)].collect().toSet
      val lagged = EventAnalytics.sessionize(df)
        .select("user_id", "n_sessions", "n_events")
        .as[(Long, Long, Long)].collect().toSet
      native == lagged
    }, trials = 10)
  }

  test("peak-concurrency decomposition equals the naive day-window sweep on any event times") {
    val evGen = for {
      user <- Gen.choose(1L, 5L)
      min  <- Gen.choose(0, 3000) // spans ~2 days, crosses hour boundaries
    } yield (user, min)
    checkProp(Prop.forAll(Gen.nonEmptyListOf(evGen)) { evs =>
      val df = evs.distinct.zipWithIndex.map { case ((u, m), i) =>
        (i.toLong, new java.sql.Timestamp(1700000000000L + m * 60000L), u)
      }.toDF("event_id", "ts", "user_id")
      val fast = EventAnalytics.peakConcurrency(df)
        .as[(String, Long, Long)].collect().toSet
      val naive = EventAnalytics.peakConcurrencyNaive(df)
        .as[(String, Long, Long)].collect().toSet
      fast == naive
    }, trials = 10)
  }

  test("prefix-filter join finds exactly the brute-force pairs on any corpus") {
    val docGen2 = for {
      n    <- Gen.choose(3, 25)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h"))
    } yield toks.mkString(" ")
    checkProp(Prop.forAll(Gen.listOfN(8, docGen2), Gen.oneOf(0.4, 0.6, 0.8)) {
      (texts: List[String], theta: Double) =>
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val fast = graft.operators.Dedup.prefixFilterJoin(docs, theta)
          .as[(Long, Long, Double)].collect().toSet
        val brute = graft.operators.Dedup.prefixFilterJoinBrute(docs, theta)
          .as[(Long, Long, Double)].collect().toSet
        fast == brute
    }, trials = 10)
  }

  test("range-scheme global row numbers equal the single-reducer window on any data") {
    import org.apache.spark.sql.expressions.Window
    checkProp(Prop.forAll(
      Gen.listOf(Gen.choose(-50, 50)), Gen.choose(2, 40)) { (vals: List[Int], parts: Int) =>
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v.toDouble) }.toDF("id", "v")
      val got = graft.operators.GlobalOrder
        .withGlobalRowNumber(df, col("v"), Seq("v", "id"), "rn", "__t", parts)
        .select("id", "rn").as[(Long, Long)].collect().toSet
      val want = df
        .withColumn("rn", row_number().over(Window.orderBy("v", "id")).cast("long"))
        .select("id", "rn").as[(Long, Long)].collect().toSet
      got == want
    }, trials = 12)
  }

  test("exact ntile equals SQL ntile on any data, bucket count and partitioning") {
    import org.apache.spark.sql.expressions.Window
    checkProp(Prop.forAll(
      Gen.listOf(Gen.choose(0, 8)), Gen.choose(1, 9), Gen.choose(2, 17)) {
      (vals: List[Int], buckets: Int, parts: Int) =>
        val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v.toDouble) }.toDF("id", "v")
        val got = graft.operators.GlobalOrder
          .withExactNtile(df, col("v"), Seq("v", "id"), buckets, "b", parts)
          .select("id", "b").as[(Long, Int)].collect().toSet
        val want = df
          .withColumn("b", ntile(buckets).over(Window.orderBy("v", "id")))
          .select("id", "b").as[(Long, Int)].collect().toSet
        got == want
    }, trials = 12)
  }

  test("containment join equals brute-force set containment on any corpus") {
    // mirror Dedup.signatures' shingling exactly: \S+ tokens, murmur3 of
    // the space-joined k-gram, masked positive, distinct
    def shingleSet(text: String, k: Int): Set[Long] = {
      val toks = "\\S+".r.findAllIn(text).toArray
      (0 to toks.length - k).map { i =>
        (scala.util.hashing.MurmurHash3
          .bytesHash(toks.slice(i, i + k).mkString(" ").getBytes("UTF-8"), 42)
          & 0x7FFFFFFF).toLong
      }.toSet
    }
    checkProp(Prop.forAll(Gen.listOfN(8, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "web") }
        .toDF("doc_id", "text", "lang", "source")
      val got = graft.operators.Dedup.containmentJoin(docs, theta = 0.8, maxDf = 10000)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val sets = texts.zipWithIndex
        .map { case (t, i) => i.toLong -> shingleSet(t, 3) }
        .filter(_._2.nonEmpty)
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa intersect sb).size.toDouble
        if inter / sa.size >= 0.8 || inter / sb.size >= 0.8
      } yield (a, b)).toSet
      got == want
    }, trials = 10)
  }

  test("window-funnel levels never shrink as the window widens") {
    val evGen = for {
      uid <- Gen.choose(1L, 4L)
      typ <- Gen.oneOf("view", "click", "purchase", "error")
      min <- Gen.choose(0L, 5000L)
    } yield (uid, typ, min)
    checkProp(Prop.forAll(Gen.listOfN(50, evGen)) { evs =>
      val df = evs.zipWithIndex.map { case ((u, t, m), i) =>
        (i.toLong, new java.sql.Timestamp(1700000000000L + m * 60000L), u, t, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      def levels(w: String): Map[Long, Int] = {
        val narrow = EventAnalytics.windowFunnel(df, w)
        // keyed per-user levels, not the histogram: recompute per user
        val vUsers = df.filter(col("event_type") === "view")
          .select("user_id").as[Long].collect().toSet
        val hist = narrow.as[(Int, Long)].collect()
        // histogram totals must cover exactly the users with ≥1 view
        assert(hist.map(_._2).sum === vUsers.size.toLong)
        hist.toMap.map { case (l, n) => (l.toLong, n.toInt) }
      }
      val n = levels("INTERVAL 1 HOUR")
      val w = levels("INTERVAL 10 DAY")
      // total users constant; cumulative count at-or-above each level
      // can only grow with a wider window
      val totalN = n.values.sum
      val totalW = w.values.sum
      def atLeast(m: Map[Long, Int], l: Long) =
        m.collect { case (k, v) if k >= l => v }.sum
      totalN == totalW &&
        (1L to 3L).forall(l => atLeast(w, l) >= atLeast(n, l))
    }, trials = 8)
  }

  test("box resize conserves pixel mass exactly on divisible sizes, bounds it otherwise") {
    import graft.operators.Multimodal
    val imgGen = for {
      w  <- Gen.choose(1, 24)
      h  <- Gen.choose(1, 24)
      px <- Gen.listOfN(w * h, Gen.choose(0, 255))
    } yield (w, h, px.map(_.toFloat).toArray)
    checkProp(Prop.forAll(imgGen, Gen.choose(1, 12), Gen.choose(1, 12)) {
      case ((w, h, px), tw, th) =>
        val img = Multimodal.DecodedImage(w, h, px)
        val out = Multimodal.resizeBox(img, tw, th)
        val inRange = out.gray.forall(v => v >= -1e-3f && v <= 255.001f)
        val shape = out.width == tw && out.height == th && out.gray.length == tw * th
        // exact mass conservation when each target cell covers an equal
        // source block (divisible dims): mean is invariant
        val exact =
          if (w % tw == 0 && h % th == 0) {
            val meanIn = px.sum / (w * h)
            val meanOut = out.gray.sum / (tw * th)
            math.abs(meanIn - meanOut) < 1e-2
          } else true
        inRange && shape && exact
    }, trials = 25)
  }

  test("offset-log appends keep offsets contiguous and key-stable for any batch sizes") {
    import graft.sources.OffsetLog
    val dir = java.nio.file.Files.createTempDirectory("graft-proplog").toString
    val sizesGen = Gen.listOfN(3, Gen.choose(1, 25))
    // a SINGLE sequential scenario (the log is stateful): three appends
    // of random sizes, then the invariants over the whole log
    val sizes = sizesGen.sample.get
    var base = 0
    sizes.foreach { n =>
      val batch = (base until base + n).map(i => (s"k${i % 5}", i.toLong)).toDF("k", "n")
      OffsetLog.append(spark, dir, batch, "k", 3)
      base += n
    }
    val all = OffsetLog.readBatch(spark, dir, 3, Map.empty, Map.empty)
    val perPart = all.groupBy("partition")
      .agg(count(lit(1)).as("c"), min("offset").as("lo"), max("offset").as("hi"))
      .collect()
    perPart.foreach { r =>
      assert(r.getAs[Long]("lo") == 0L && r.getAs[Long]("hi") == r.getAs[Long]("c") - 1,
        s"offsets not contiguous: $r")
    }
    assert(all.count() == base.toLong)
    // key → partition mapping is a pure function of the key
    val kp = all.groupBy("k").agg(countDistinct("partition").as("np")).collect()
    kp.foreach(r => assert(r.getAs[Long]("np") == 1L))
    // metadata head agrees with the data head
    val ends = OffsetLog.endOffsets(spark, dir, 3)
    assert(ends.values.sum == base.toLong)
  }

  test("bounded iteration: zero rounds is identity; round indices are 0-based and complete") {
    import graft.operators.BoundedIteration
    checkProp(Prop.forAll(Gen.choose(0, 6), Gen.choose(1L, 50L)) { (rounds, start) =>
      val init = Seq(start).toDF("v")
      var seen = Vector.empty[Int]
      val out = BoundedIteration.fixpoint(init, rounds) { (df, r) =>
        seen :+= r
        df.select((col("v") + 1).as("v"))
      }
      out.as[Long].head() == start + rounds && seen == (0 until rounds).toVector
    }, trials = 8)
  }

  test("global row numbers equal the single-reducer window on any keyed data") {
    import org.apache.spark.sql.expressions.Window
    val rowGen = for {
      id <- Gen.choose(1L, 10000L)
      v  <- Gen.oneOf(1.0, 2.0, 2.0, 3.5, 7.0, 9.9) // deliberate heavy ties
    } yield (id, v)
    checkProp(Prop.forAll(Gen.nonEmptyListOf(rowGen)) { rows =>
      val df = rows.distinct.toDF("id", "v")
      val got = graft.operators.GlobalOrder
        .withGlobalRowNumber(df, col("v"), Seq("v", "id"), "rn", "__t", numBuckets = 4)
        .select("id", "rn").as[(Long, Long)].collect().toSet
      val want = df
        .withColumn("rn", row_number().over(Window.orderBy("v", "id")).cast("long"))
        .select("id", "rn").as[(Long, Long)].collect().toSet
      got == want
    }, trials = 12)
  }

  test("q45, q76 and q121 equal a brute-force recount on any event set (null keys, µs ties, day gaps)") {
    val minUs = 60L * 1000000L
    val dayUs = 24L * 60L * minUs
    val base = java.time.LocalDate.of(2026, 1, 1).toEpochDay * dayUs
    // a coarse grid forces what the equi-join forms define: a click and a
    // purchase at one µs, a purchase exactly 60 min after a click, empty
    // days inside the 7-day window, duplicate ids, null users and times
    val evGen = for {
      id    <- Gen.choose(0L, 25L)
      user  <- Gen.frequency(1 -> Gen.const(Option.empty[Long]), 6 -> Gen.choose(1L, 4L).map(Option(_)))
      tpe   <- Gen.oneOf("view", "click", "purchase", "error")
      day   <- Gen.oneOf(0L, 1L, 2L, 6L, 7L, 15L)
      min   <- Gen.oneOf(0L, 1L, 30L, 59L, 60L, 61L, 120L)
      us    <- Gen.oneOf(0L, 1L)
      hasTs <- Gen.frequency(1 -> false, 9 -> true)
    } yield (id, user, tpe, Option.when(hasTs)(base + day * dayUs + min * minUs + us))
    checkProp(Prop.forAll(Gen.listOfN(40, evGen)) { evs =>
      def instant(us: Long) = java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS))
      val df = evs.map { case (id, u, t, ts) => (id, ts.map(instant), u, t, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      def times(u: Option[Long], tpe: String) =
        evs.collect { case (_, `u`, `tpe`, Some(t)) => t }

      // q76: view users by GROUP BY (null user included); later stages by equi-join
      val viewers = evs.collect { case (_, u, "view", _) => u }.distinct
      val vTs = viewers.map(u => u -> times(u, "view").minOption)
      val cTs = vTs.collect { case (Some(u), Some(v)) => Some(u) -> times(Some(u), "click").filter(_ >= v).minOption }
        .collect { case (u, Some(c)) => u -> c }
      val pTs = cTs.flatMap { case (u, c) => times(u, "purchase").filter(_ >= c).minOption }
      val funnelOk = EventAnalytics.funnel(df).as[(Long, Long, Long)].head() ==
        ((viewers.size.toLong, cTs.size.toLong, pTs.size.toLong))

      // q121: per observed day, distinct users that day and in the trailing 7 days
      val active = evs.collect { case (_, u, _, Some(t)) => (u, Math.floorDiv(t, dayUs)) }.distinct
      val wantDw = active.map(_._2).distinct.sorted.map { d =>
        (java.time.LocalDate.ofEpochDay(d).toString, active.count(_._2 == d).toLong,
          active.collect { case (u, a) if a <= d && a > d - 7 => u }.distinct.size.toLong)
      }
      val gotDw = EventAnalytics.dauWau(df).as[(String, Long, Long, Double)].collect().toSeq
      val dauWauOk = gotDw.map(r => (r._1, r._2, r._3)) == wantDw &&
        gotDw.forall(r => math.abs(r._4 - r._2.toDouble / r._3) <= 0.00005 + 1e-12)

      // q45: every (click, purchase) pair with click <= purchase < click + 60 min
      val wantQ45 = evs.flatMap(_._2).distinct.sorted.flatMap { u =>
        val pairs = for {
          c <- times(Some(u), "click")
          (pid, _, _, Some(p)) <- evs.filter(e => e._2.contains(u) && e._3 == "purchase")
          if p >= c && p < c + 60 * minUs
        } yield pid
        Option.when(pairs.nonEmpty)((u, pairs.size.toLong, pairs.distinct.size.toLong))
      }
      val q45Ok = EventAnalytics.attributionRangeJoin(df).as[(Long, Long, Long)].collect().toSeq == wantQ45

      funnelOk && dauWauOk && q45Ok
    }, trials = 12)
  }
}
