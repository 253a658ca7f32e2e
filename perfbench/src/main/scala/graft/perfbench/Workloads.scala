package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.operators.EventAnalytics
import graft.sources.OffsetLog
import graft.streaming.{EventParser, HiveBatchSink}

/** What every workload needs: the session, the tracer, the report, the
  * workload's scratch directory and its arguments. `measured` collects
  * the wall intervals whose spans the per-layer metrics summarize
  * (warm-up is left out). */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val report: Report,
    val progress: StreamProgress,
    val work: Path,
    val seed: Long,
    val seconds: Int,
    val startNs: Long) {
  val measured: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  val measuredRuns: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Lines the measured stream runs consumed. */
  var consumedLines = 0L
  val queryTimes: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  var setupS = 0.0

  def dir(name: String): String = Pipeline.dirOf(work.resolve(name))

  def inMeasured(ns: Long): Boolean = measured.exists { case (a, b) => ns >= a && ns <= b }
}

/** CPU spent on work over a measured window, and the host's CPU
  * accounting (/proc/stat: steal ticks and all ticks) over the same
  * window. Work CPU sums the CPU time of the JVM's threads, leaving out
  * the JIT compiler's: thread CPU time does not grow while the host
  * steals the CPU, and compilation is warm-up that lands wherever the
  * JVM schedules it. (GC runs outside Java threads and is not counted.)
  * A thread that ends inside the window takes its time with it; the
  * executor's task threads live across the whole run. */
object Cpu {
  final case class Sample(threadNs: Map[Long, Long], steal: Long, total: Long)
  def sample(): Sample = {
    val tm = java.lang.management.ManagementFactory.getThreadMXBean
    val ns = tm.getThreadInfo(tm.getAllThreadIds).iterator.filter(_ != null)
      .filterNot(_.getThreadName.contains("CompilerThread"))
      .map(i => i.getThreadId -> tm.getThreadCpuTime(i.getThreadId)).filter(_._2 >= 0).toMap
    val f = scala.io.Source.fromFile("/proc/stat")
    val ticks = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
    Sample(ns, ticks(7), ticks.take(8).sum)
  }
  def workSeconds(a: Sample, b: Sample): Double =
    b.threadNs.map { case (id, t) => t - a.threadNs.getOrElse(id, 0L) }.sum / 1e9
}

/** Set-up time since `t0` (the process's start of work, session
  * creation included), less the harness's own work inside it: making
  * the inputs and writing the generated tables run under `harness`,
  * which times them and leaves them out. */
final class SetupClock(t0: Long) {
  private var harnessNs = 0L
  def harness[T](f: => T): T = {
    val t = System.nanoTime()
    try f finally harnessNs += System.nanoTime() - t
  }
  def harnessS: Double = harnessNs / 1e9
  def seconds: Double = (System.nanoTime() - t0 - harnessNs) / 1e9
}

object Workloads {
  val Partitions = 2

  /** The event operators behind the registry's event queries, applied to
    * the registered sealed table instead of the fixture parquet. */
  val EventQueries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "q20_events_hourly" -> (df => EventAnalytics.hourlyRollup(df)),
    "q76_funnel" -> (df => EventAnalytics.funnel(df)),
    "q118_peak_concurrency" -> (df => EventAnalytics.peakConcurrency(df)),
    "q121_dau_wau" -> (df => EventAnalytics.dauWau(df)),
    "q45_range_join" -> (df => EventAnalytics.attributionRangeJoin(df)))

  /** Queries run from the registry over the generated tables: a scan
    * aggregate and a six-table join. */
  val RegistryQueries: Seq[String] = Seq("q01_pricing_summary", "q05_multi_join_agg")

  val EventCols: Seq[String] = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  private def secs(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e9

  // ---------------------------------------------------------------- live

  /** Open loop at one fixed rate: event time runs at 2 hours per wall
    * second, one slice per event-hour, 125 events per hour (250 events
    * per wall second). On a 4-vCPU host a micro-batch costs ~2 s plus
    * ~0.2 s per event-hour it carries, so batches settle near 3 s with
    * the per-hour work well under half of it; 2.5 h/s came within 1.7x of
    * the backlog limit once the host stole ~28% of the CPU. */
  val LiveHoursPerSec = 2.0
  val LiveEventsPerHour = 125
  /** The generator may run at most this late on any publish. */
  val LiveLateLimitMs = 500.0
  /** Publishing starts this long before the measured window, so the
    * window sees the stream's steady state, not its ramp from idle. */
  val LivePreRollS = 3.0

  def live(c: Ctx): Unit = {
    import c._
    val clock = new SetupClock(startNs)
    val hours = math.ceil((LivePreRollS + seconds) * LiveHoursPerSec).toInt
    val spec = Gen.Spec(hours, LiveEventsPerHour, Gen.HourUs, Partitions)
    val pipeline = new Pipeline(spark, tracer, Partitions)
    val warmHours = 6
    val (traffic, segs, warmBus) = clock.harness {
      val (t, _) = Gen.traffic(seed, spec)
      val (w, _) = Gen.traffic(seed + 1, spec.copy(hours = warmHours))
      val warmBus = work.resolve("warm-bus")
      Gen.publish(Gen.writeSegments(w, work.resolve("warm-pending")), warmBus)
      (t, Gen.writeSegments(t, work.resolve("pending")), warmBus.toString)
    }
    warmUp(c, pipeline, warmBus, maxRows = (LiveEventsPerHour * warmHours).toLong)
    setupS = clock.seconds

    val bus = dir("bus")
    val sink = pipeline.sink(dir("sink"))
    val q = pipeline.start(pipeline.events(bus, None), sink, dir("ckpt"), availableNow = false)
    val watcher = new DoneWatcher(spark, tracer, sink, progress, bus, Partitions, pollMs = 50)
    watcher.runId = q.runId.toString
    Thread.sleep(1000) // the stream's first (empty) trigger
    val sliceWallNs = (spec.sliceUs / (LiveHoursPerSec * Gen.HourUs) * 1e9).toLong
    val bySlice = segs.groupBy(_.slice)
    val publishedNs = new Array[Long](traffic.slices.length)
    val lateMs = new Array[Double](traffic.slices.length)
    val cpu0 = Cpu.sample()
    val tStart = System.nanoTime()
    val t0 = tStart + (LivePreRollS * 1e9).toLong
    val gen = new Thread("perfbench-generator") {
      override def run(): Unit = traffic.slices.indices.foreach { s =>
        val due = tStart + (s + 1) * sliceWallNs
        var now = System.nanoTime()
        while (now < due) { java.util.concurrent.locks.LockSupport.parkNanos(due - now); now = System.nanoTime() }
        Gen.publish(bySlice.getOrElse(s, Nil), work.resolve("bus"))
        publishedNs(s) = System.nanoTime()
        lateMs(s) = (publishedNs(s) - due) / 1e6
      }
    }
    gen.start()
    gen.join()
    val tEnd = System.nanoTime()
    val closable = traffic.closingSlice.keys.map(Gen.hourKey)
    val allSealed = watcher.awaitSealed(closable, 60000)
    val drained = awaitDrained(c, q, traffic.lines, 60000)
    q.stop()
    watcher.stop()
    ingestCpu(c, cpu0, Cpu.sample(), traffic.lines)
    measured += ((t0, System.nanoTime()))
    measuredRuns += q.runId.toString
    consumedLines += traffic.lines

    report.check("stream_ran", q.exception.isEmpty && watcher.error.isEmpty,
      q.exception.map(_.getMessage).orElse(watcher.error.map(_.toString)).getOrElse("ok"))
    report.check("closable_hours_sealed", allSealed, s"${closable.count(watcher.seen.contains)}/${closable.size} sealed")
    report.check("bus_drained", drained, s"processed ${progress.processedRows(q.runId.toString)}/${traffic.lines} lines")

    // freshness of the hours made closable inside the measured window
    val seen = watcher.seen
    val inWindow = traffic.closingSlice.toSeq.filter { case (_, s) => publishedNs(s) >= t0 }
    val lat = inWindow.flatMap { case (h, s) => seen.get(Gen.hourKey(h)).map(ns => secs(publishedNs(s), ns)) }
    val windowHours = inWindow.map(h => Gen.hourKey(h._1))
    sealMetrics(c, lat, traffic, windowHours,
      secs(t0, windowHours.flatMap(seen.get).maxOption.getOrElse(t0)))

    val late = lateMs.max
    report.layer("gen.late_max_ms", late, "ms")
    report.layer("gen.events_published", traffic.lines.toDouble, "count")
    report.check("generator_on_time", late <= LiveLateLimitMs, f"max lateness $late%.1f ms (limit $LiveLateLimitMs%.0f ms)")
    // a sustainable rate leaves the lag a sawtooth of one batch's worth of
    // input; an unsustainable one makes each peak higher than the last.
    // Host CPU steal starting mid-window stretches a batch up to ~1.7x
    // without any backlog building, hence twice the first half's peak.
    val window = watcher.lag.synchronized(watcher.lag.filter { case (ns, _) => ns >= t0 && ns <= tEnd }.toSeq)
    val half = window.length / 2
    val firstPeak = window.take(half).map(_._2.toDouble).maxOption.getOrElse(0.0)
    val lastPeak = window.drop(half).map(_._2.toDouble).maxOption.getOrElse(0.0)
    val growthLimit = 2.0 * firstPeak + LiveEventsPerHour * LiveHoursPerSec // + one second of traffic
    report.layer("sources.bus_lag_rows_max", (firstPeak max lastPeak), "rows")
    report.check("backlog_steady", lastPeak <= growthLimit,
      f"peak lag first half $firstPeak%.0f rows, second half $lastPeak%.0f rows (limit $growthLimit%.0f)")

    account(c, sink, traffic, bus)
    readBack(c, sink, "bench_events")
  }

  /** Work CPU (see [[Cpu]]) per unit of work over a measured window, and
    * the host's steal share over the same window. */
  private def cpuPer(a: Cpu.Sample, b: Cpu.Sample, units: Long): (Double, Double) =
    (Cpu.workSeconds(a, b) / units,
      (b.steal - a.steal).toDouble / math.max(1L, b.total - a.total))

  private def ingestCpu(c: Ctx, a: Cpu.Sample, b: Cpu.Sample, lines: Long): Unit = {
    val (perLine, steal) = cpuPer(a, b, lines)
    c.report.e2e("ingest_cpu_ms_per_event", perLine * 1e3, "ms")
    c.report.stamp("host_steal_share_ingest") = f"$steal%.4f"
  }

  /** Wait until the stream has processed every published line. */
  private def awaitDrained(c: Ctx, q: StreamingQuery, lines: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (c.progress.processedRows(q.runId.toString) < lines && q.isActive && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    c.progress.processedRows(q.runId.toString) >= lines
  }

  /** The pipeline on a separate bus, drained in `maxRows` batches, so the
    * measured stream starts with its code paths compiled. */
  private def warmUp(c: Ctx, pipeline: Pipeline, bus: String, maxRows: Long): Unit =
    c.tracer.span("warmup") {
      val q = pipeline.start(pipeline.events(bus, Some(maxRows)), pipeline.sink(c.dir("warm-sink")),
        c.dir("warm-ckpt"), availableNow = true)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }

  /** seal_latency_p50_s/p90_s and backfill_events_per_s. */
  private def sealMetrics(c: Ctx, lat: Seq[Double], traffic: Gen.Traffic, sealedHours: Seq[(String, String)],
      drainS: Double): Unit = {
    val events = sealedHours.map(k => traffic.cleanPerHour.getOrElse(Gen.hourOf(k), 0L)).sum
    c.report.wall("seal_latency_p50_s", Stats.median(lat), "s")
    c.report.wall("seal_latency_p90_s", Stats.p90(lat), "s")
    c.report.wall("backfill_events_per_s", events / drainS, "1/s")
    c.report.notes += f"seal latency over ${lat.length} hours; $events events sealed in $drainS%.2f s"
  }

  // ----------------------------------------------------------- query mix

  /** A week of events at the sf0.1 fixtures' volume (168 event-hours,
    * about 100k events; sf0.1 spreads them over 720 hours, which makes
    * one run too long for the benchmark's time budget) waits on the bus,
    * and a freshly started process loads it as one batch, through the
    * same public calls the stream composes (readBatch, parse, dedup,
    * writeBatch, sealClosed), then seals the still-open hours and
    * registers the table: the cold bulk load, where per-directory
    * staging and seal cost is paid for many hours at once and per-batch
    * cost is spread thin. The registry queries run on TPC-H-shaped
    * tables at sf0.1 row counts. */
  val MixHours = 168
  val MixEventsPerHour = 596

  def queryMix(c: Ctx): Unit = {
    import c._
    val clock = new SetupClock(startNs)
    val spec = Gen.Spec(MixHours, MixEventsPerHour, 24 * Gen.HourUs, Partitions)
    val pipeline = new Pipeline(spark, tracer, Partitions)
    val bus = work.resolve("bus").toString
    val (traffic, cleanEvents) = clock.harness {
      val (t, events) = Gen.traffic(seed, spec)
      Gen.publish(Gen.writeSegments(t, work.resolve("pending")), work.resolve("bus"))
      (t, events)
    }

    val sink = pipeline.sink(dir("sink"))
    val watcher = new DoneWatcher(spark, tracer, sink, progress, bus, Partitions, pollMs = 100)
    val cpu0 = Cpu.sample()
    val t0 = System.nanoTime()
    pipeline.load(bus, sink)
    val closable = traffic.closingSlice.keys.map(Gen.hourKey).toSeq
    val allSealed = watcher.awaitSealed(closable, 60000)
    ingestCpu(c, cpu0, Cpu.sample(), traffic.lines)
    watcher.stop()
    measured += ((t0, System.nanoTime()))
    pipeline.sealAll(sink)
    val table = "bench_events"
    sink.registerTable(table)

    val tables = clock.harness {
      val d = dir("tables")
      TableGen.write(spark, d, seed, TableGen.Sf01, cleanEvents)
      d
    }
    val all: Seq[(String, () => DataFrame)] =
      EventQueries.map { case (n, f) => n -> (() => f(spark.table(table).select(EventCols.map(col): _*))) } ++
        RegistryQueries.map(n => n -> (() => SparkEntry.queries(n)(spark, tables)))
    // one untimed round compiles each query's plan and code; it counts in
    // set-up, and its results are the ones checked against the oracle
    val firstResults = tracer.span("warmup")(all.map { case (n, f) =>
      val df = f()
      n -> spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    })
    setupS = clock.seconds
    timedRounds(c, all, minRounds = 1, budgetS = seconds)
    val checks0 = System.nanoTime()

    // correctness, outside the timed windows
    report.check("load_ran", watcher.error.isEmpty, watcher.error.map(_.toString).getOrElse("ok"))
    report.check("closable_hours_sealed", allSealed, s"${closable.count(watcher.seen.contains)}/${closable.size} sealed")
    val seen = watcher.seen
    sealMetrics(c, closable.flatMap(seen.get).map(ns => secs(t0, ns)), traffic, closable,
      secs(t0, closable.flatMap(seen.get).max))
    report.layer("gen.events_published", traffic.lines.toDouble, "count")
    accumulators(c, sink, traffic, "load")
    account(c, sink, traffic, bus)
    // each query's warm-up result is written for run.py to compare
    // against its DuckDB oracle
    val out = dir("out")
    firstResults.foreach { case (n, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$out/$n") }
    Files.writeString(work.resolve("out/oracle_sql.json"),
      Json.obj(all.map(_._1).map(n => n -> Json.str(SparkEntry.oracleSql(n)))))
    report.notes += f"harness work outside set-up: inputs and tables ${clock.harnessS}%.1f s, " +
      f"checks ${secs(checks0, System.nanoTime())}%.1f s"
  }

  // ------------------------------------------------------ shared pieces

  /** Run rounds of `queries` in a seeded order until `budgetS` has passed
    * (at least `minRounds`); each query runs to completion and its rows
    * are collected, as a client would. Reports the median round's work
    * CPU (see [[Cpu]]), query_round_s and the latency percentiles. */
  private def timedRounds(c: Ctx, queries: Seq[(String, () => DataFrame)], minRounds: Int,
      budgetS: Double): Unit = {
    import c._
    val rnd = new scala.util.Random(seed)
    val rounds = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[Double]
    val cpuRounds = mutable.ArrayBuffer.empty[Double]
    val cpu0 = Cpu.sample()
    var cpuR = cpu0
    val t0 = System.nanoTime()
    while (rounds.length < minRounds || secs(t0, System.nanoTime()) < budgetS) {
      val r0 = System.nanoTime()
      rnd.shuffle(queries).foreach { case (n, f) =>
        val s0 = System.nanoTime()
        val ok = try { val df = f(); tracer.span(s"op.$n")(df.collect()); true }
        catch { case e: Throwable => report.notes += s"$n threw: ${e.getMessage}"; false }
        report.ops(1, if (ok) 0 else 1)
        val s = secs(s0, System.nanoTime())
        lat += s
        queryTimes.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += s
      }
      rounds += secs(r0, System.nanoTime())
      val next = Cpu.sample()
      cpuRounds += Cpu.workSeconds(cpuR, next)
      cpuR = next
    }
    measured += ((t0, System.nanoTime()))
    val (_, steal) = cpuPer(cpu0, cpuR, rounds.length)
    report.e2e("query_cpu_s_per_round", Stats.median(cpuRounds.toSeq), "s")
    report.wall("query_round_s", Stats.median(rounds.toSeq), "s")
    report.wall("query_latency_p50_s", Stats.median(lat.toSeq), "s")
    report.wall("query_latency_p90_s", Stats.p90(lat.toSeq), "s")
    report.stamp("host_steal_share_queries") = f"$steal%.4f"
    report.notes += s"${rounds.length} query rounds, ${lat.length} query executions"
  }

  /** live_ingest reads back what it sealed with the hourly rollup (q20),
    * the downstream job a sealed hour feeds, so a change to the sealed
    * layout shows on the ingest workload too. A round is one rollup. */
  val ReadRounds = 8

  private def readBack(c: Ctx, sink: HiveBatchSink, table: String): Unit = {
    sink.registerTable(table)
    val qs = EventQueries.take(1).map { case (n, f) =>
      n -> (() => f(c.spark.table(table).select(EventCols.map(col): _*)))
    }
    c.tracer.span("warmup")(qs.foreach { case (_, f) => f().collect() })
    timedRounds(c, qs, minRounds = ReadRounds, budgetS = 0)
  }

  /** The sink's own accumulators against the generator's counts. */
  private def accumulators(c: Ctx, sink: HiveBatchSink, t: Gen.Traffic, tag: String): Unit = {
    val received = sink.received.value.longValue
    val written = sink.written.value.longValue
    c.report.check(s"${tag}_sink_counts",
      received == t.clean + t.violations && written == t.clean && sink.corrupt.value == 0L,
      s"received $received (expected ${t.clean + t.violations}), written $written (expected ${t.clean}), " +
        s"corrupt ${sink.corrupt.value}")
  }

  /** Exactly-once accounting, outside the timed window:
    *   - sealed + still-open staged rows = generated events minus malformed
    *     lines, violations and redeliveries (the clean events);
    *   - quarantined rows = injected violations;
    *   - no event_id twice; every `_DONE` hour complete;
    *   - no staged row in a sealed hour, out-of-order delay within lateness.
    * Lost, duplicated and extra rows count as failed operations. */
  private def account(c: Ctx, sink: HiveBatchSink, t: Gen.Traffic, bus: String): Unit = {
    import c._
    val hourCols = Seq(date_format(col("ts"), "yyyyMMdd").as("dt"), date_format(col("ts"), "HH").as("hr"))
    def hasData(p: String) = Files.exists(java.nio.file.Paths.get(p)) && {
      val w = Files.walk(java.nio.file.Paths.get(p))
      try w.anyMatch(_.getFileName.toString.startsWith("part-")) finally w.close()
    }
    def read(p: String) = // staging holds no data once every hour has sealed
      if (hasData(p))
        Some(spark.read.parquet(p).select((col("event_id") +: hourCols): _*))
      else None
    val sealedDf = read(sink.tablePath)
    val stagedDf = read(sink.stagingPath)
    val both = (sealedDf.map(_.withColumn("sealed", lit(true))) ++ stagedDf.map(_.withColumn("sealed", lit(false))))
      .reduceOption(_ unionByName _)
    // an event_id lives in exactly one hour (its ts), so per-hour distinct
    // counts add up to the table-wide distinct count
    // (hour, rows, distinct ids, sealed rows)
    val perHour = both.map(_.groupBy("dt", "hr")
      .agg(count(lit(1)).as("n"), countDistinct("event_id").as("d"), count(when(col("sealed"), lit(1))).as("s"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq)
      .getOrElse(Nil)
    val total = perHour.map(_._2).sum
    val distinct = perHour.map(_._3).sum
    val quarantined = if (Pipeline.exists(spark, sink.quarantinePath)) sink.readQuarantine().count() else 0L
    val lost = math.max(0L, t.clean - distinct)
    val extra = math.max(0L, distinct - t.clean)
    val dup = total - distinct
    report.ops(t.clean + t.violations, lost + extra + dup + math.abs(quarantined - t.violations))
    report.check("exactly_once", total == t.clean && distinct == total,
      s"sealed+staged $total rows, $distinct distinct ids, expected ${t.clean} " +
        s"(= ${t.lines} lines - ${t.malformed} malformed - ${t.violations} violations - ${t.redeliveries} redeliveries)",
      countFailure = false)
    report.check("quarantine", quarantined == t.violations, s"$quarantined quarantined, ${t.violations} injected",
      countFailure = false)
    val sealedHours = perHour.filter(_._4 > 0).map(h => h._1 -> h._2).toMap
    val incomplete = sealedHours.filter { case (k, n) => t.cleanPerHour.getOrElse(Gen.hourOf(k), 0L) != n }
    report.check("sealed_hours_complete", incomplete.isEmpty,
      s"${sealedHours.size} sealed hours, ${incomplete.size} incomplete ${incomplete.take(3)}")
    val reopened = perHour.filter(h => h._4 > 0 && h._4 < h._2).map(_._1)
    report.check("no_rows_after_seal", reopened.isEmpty && t.maxDelayUs < Gen.LatenessUs,
      s"${reopened.size} sealed hours with staged rows; max publish delay ${t.maxDelayUs / 60000000.0} min")

    if (tracer.enabled) { // per-layer counts straight from the parser and sink
      val end = OffsetLog.endOffsets(spark, bus, Partitions)
      val parsed = EventParser.parseLines(OffsetLog.readBatch(spark, bus, Partitions, Map.empty, end).select("value"))
      val corrupt = EventParser.corrupt(parsed).count()
      val wellFormed = EventParser.wellFormed(parsed).count()
      report.layer("parser.corrupt_lines", corrupt.toDouble, "count")
      report.layer("dedup.dropped_rows", (wellFormed - sink.received.value).toDouble, "count")
      report.layer("sink.rejected_rows", (sink.received.value - sink.written.value).toDouble, "count")
      report.notes += s"injected: ${t.malformed} malformed, ${t.redeliveries} redeliveries, ${t.violations} violations"
      val files = Option(new java.io.File(sink.tablePath).listFiles()).toSeq.flatten.filter(_.getName.startsWith("dt="))
        .flatMap(d => Option(d.listFiles()).toSeq.flatten).filter(_.getName.startsWith("hr="))
        .flatMap(h => Option(h.listFiles()).toSeq.flatten).filter(_.getName.startsWith("part-"))
      report.layer("table.files", files.size.toDouble, "count")
      report.layer("table.files_per_partition", files.size.toDouble / math.max(1, sealedHours.size), "count")
      report.layer("table.bytes", files.map(_.length).sum.toDouble, "bytes")
    }
  }
}
