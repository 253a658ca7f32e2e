package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Benchmark entry point, launched by run.py:
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <result.json>
  * }}}
  *
  * Runs one workload in one local Spark session (`GraftSession.local`
  * with every core), writes the report JSON to `--out` and, for a traced
  * run, the spans next to it. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out")).toAbsolutePath
    val traced = a("trace") == "1"
    val t0 = System.nanoTime()

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.local(cores, "perfbench")
    val report = new Report
    val tracer = new Tracer(spark, traced)
    val progress = new StreamProgress
    spark.streams.addListener(progress)
    val c = new Ctx(spark, tracer, report, progress, work, a("seed").toLong, a("seconds").toInt, t0)

    report.stamp("workload") = workload
    report.stamp("seed") = a("seed")
    report.stamp("nproc") = cores.toString
    report.stamp("heap_max_mb") = (Runtime.getRuntime.maxMemory / (1L << 20)).toString
    report.stamp("spark_version") = spark.version
    report.stamp("shuffle_partitions") = spark.conf.get("spark.sql.shuffle.partitions")
    report.stamp("auto_broadcast_threshold") = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // plan shape depends on this heap-derived ceiling: runs made under
    // different heaps are flagged by run.py instead of compared
    report.stamp("ann_max_broadcast_vecs") = graft.operators.AnnGraph.MaxBroadcastVecs.toString

    workload match {
      case "live_ingest"      => Workloads.live(c)
      case "query_mix"        => Workloads.queryMix(c)
      case other              => sys.error(s"unknown workload $other")
    }
    report.e2e("setup_s", c.setupS, "s")
    streamLayers(c)
    report.e2e("peak_rss_mb", peakRssMb(), "MB")
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    report.layer("jvm.gc_ms", gcMs.toDouble, "ms")
    report.layer("jvm.heap_peak_mb", heapPeak / 1048576.0, "MB")

    spark.stop() // drains the listener bus, so span counts are complete
    if (traced) {
      val spans = tracer.finish()
      spanLayers(c, spans.filter(s => c.inMeasured(s.startNs)))
      tracer.writeJson(spans, out.toString.stripSuffix(".json") + ".spans.json", t0)
    }
    Files.writeString(out, report.toJson)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)

  /** Stream-engine, source and dedup-state metrics from the progress of
    * the measured stream runs (live_ingest; query_mix loads in batch). */
  private def streamLayers(c: Ctx): Unit = {
    import StreamProgress.dur
    val ps = c.measuredRuns.toSeq.flatMap(c.progress.forRun)
    if (ps.isEmpty) return
    val r = c.report
    def p50(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) = Stats.medianOr0(ps.map(f))
    r.layer("stream.batches", ps.length.toDouble, "count")
    r.layer("stream.trigger_ms_p50", p50(dur(_, "triggerExecution")), "ms")
    r.layer("stream.trigger_ms_p90", Stats.p90(ps.map(dur(_, "triggerExecution"))), "ms")
    r.layer("stream.wal_commit_ms_p50", p50(dur(_, "walCommit")), "ms")
    r.layer("stream.progress_rows_ratio", ps.map(_.numInputRows).sum.toDouble / math.max(1L, c.consumedLines), "ratio")
    r.layer("sources.latest_offset_ms_p50", p50(dur(_, "latestOffset")), "ms")
    r.layer("sources.batch_rows_p50", p50(p => p.sources.headOption.map(s =>
      (StreamProgress.offsetSum(s.endOffset) - Option(s.startOffset).map(StreamProgress.offsetSum).getOrElse(0L)).toDouble)
      .getOrElse(0.0)), "rows")
    r.layer("dedup.state_rows_p50", p50(_.stateOperators.headOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)), "rows")
    r.layer("dedup.state_commit_ms_p50", p50(_.stateOperators.headOption.map(_.commitTimeMs.toDouble).getOrElse(0.0)), "ms")
  }

  /** Per-layer metrics from the spans of the measured window. */
  private def spanLayers(c: Ctx, spans: Seq[Span]): Unit = {
    val r = c.report
    def named(n: String) = spans.filter(_.name == n)
    val writes = named("sink.writeBatch")
    val seals = named("seal.sealPartitions")
    r.layer("sink.write_batch_ms_p50", Stats.medianOr0(writes.map(_.ms)), "ms")
    r.layer("sink.write_batch_ms_sum", writes.map(_.ms).sum, "ms")
    r.layer("sink.dirs_per_batch_p50", Stats.medianOr0(writes.map(_.dirs.toDouble)), "count")
    r.layer("sink.write_ms_per_dir", writes.map(_.ms).sum / math.max(1L, writes.map(_.dirs).sum), "ms")
    r.layer("sink.jobs_per_batch", Stats.medianOr0(writes.map(_.jobs.toDouble)), "count")
    r.layer("sink.staged_files", writes.map(_.files).sum.toDouble, "count")
    r.layer("seal.closed_scan_ms_p50", Stats.medianOr0(named("seal.closedPartitions").map(_.ms)), "ms")
    r.layer("seal.ms_p50", Stats.medianOr0(seals.map(_.ms)), "ms")
    r.layer("seal.ms_sum", seals.map(_.ms).sum, "ms")
    r.layer("seal.ms_per_partition", seals.map(_.ms).sum / math.max(1L, seals.map(_.dirs).sum), "ms")
    r.layer("seal.partitions", seals.map(_.dirs).sum.toDouble, "count")
    r.layer("seal.files_out", seals.map(_.files).sum.toDouble, "count")
    r.layer("done.scan_ms_p50", Stats.medianOr0(named("done.newlySealed").map(_.ms)), "ms")
    c.queryTimes.foreach { case (q, times) =>
      val ops = named(s"op.$q")
      r.layer(s"op.${q}_s", Stats.median(times.toSeq), "s")
      r.layer(s"op.${q}_shuffle_mb", Stats.medianOr0(ops.map(_.shuffleBytes / 1048576.0)), "MB")
      r.layer(s"op.${q}_jobs", Stats.medianOr0(ops.map(_.jobs.toDouble)), "count")
    }
  }
}
