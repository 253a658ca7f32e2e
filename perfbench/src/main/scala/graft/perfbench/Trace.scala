package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One traced call into the library: its name, wall interval, the span
  * that caused it, and (filled in when the run ends) the Spark work it
  * submitted. `files` is the number of output files the call left. */
final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var files: Long = 0L
  /** Partition directories the call wrote (staged or sealed). */
  @volatile var dirs: Long = 0L
  var jobs: Long = 0L
  var tasks: Long = 0L
  var shuffleBytes: Long = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are opened by the benchmark around
  * public library calls; a disabled tracer runs the call bare.
  *
  * Spark work is attributed through a thread-local property: every job
  * submitted while a span is innermost on the submitting thread carries
  * its id, and the listener maps the job's stages (and so their tasks)
  * back to that span. Attribution is exact even though listener events
  * arrive late; [[finish]] runs after the session has stopped, when the
  * listener bus has drained. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val PropKey = "graft.perfbench.span"
  private val nextId = new AtomicInteger(0)
  private val spans = new ConcurrentHashMap[Int, Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val counts = new ConcurrentHashMap[Int, Array[Long]]() // span -> jobs, tasks, shuffle bytes

  if (enabled) spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(PropKey))).foreach { s =>
        val id = s.toInt
        e.stageIds.foreach(st => stageSpan.put(st, id))
        counts.computeIfAbsent(id, _ => new Array[Long](3))(0) += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val c = counts.computeIfAbsent(id, _ => new Array[Long](3))
        c.synchronized {
          c(1) += 1
          if (e.taskMetrics != null) c(2) += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
  })

  def span[T](name: String)(f: => T): T = spanWith(name)(_ => f)

  /** Like [[span]], giving the body its span (to set `files`). */
  def spanWith[T](name: String)(f: Option[Span] => T): T =
    if (!enabled) f(None)
    else {
      val sc = spark.sparkContext
      val outer = stack.get()
      val s = new Span(nextId.incrementAndGet(), name, outer.headOption.map(_.id).getOrElse(0), System.nanoTime())
      spans.put(s.id, s)
      stack.set(s :: outer)
      val prevProp = sc.getLocalProperty(PropKey)
      sc.setLocalProperty(PropKey, s.id.toString)
      try f(Some(s))
      finally {
        s.endNs = System.nanoTime()
        stack.set(outer)
        sc.setLocalProperty(PropKey, prevProp)
      }
    }

  /** Fold the listener counts into the spans; call after `spark.stop()`. */
  def finish(): Seq[Span] = {
    val all = spans.values.asScala.toSeq.filter(_.endNs > 0).sortBy(_.startNs)
    all.foreach { s =>
      Option(counts.get(s.id)).foreach { c => s.jobs = c(0); s.tasks = c(1); s.shuffleBytes = c(2) }
    }
    all
  }

  def writeJson(all: Seq[Span], path: String, t0Ns: Long): Unit = {
    val lines = all.map { s =>
      Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "start_ms" -> Json.num((s.startNs - t0Ns) / 1e6), "dur_ms" -> Json.num(s.ms),
        "jobs" -> s.jobs.toString, "tasks" -> s.tasks.toString,
        "shuffle_bytes" -> s.shuffleBytes.toString, "files" -> s.files.toString, "dirs" -> s.dirs.toString))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Progress of every micro-batch of the benchmark's streams, from a
  * `StreamingQueryListener`. Kept for untraced runs too: the bus-lag
  * check reads the processed offsets from here. */
final class StreamProgress extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  @volatile private var processed: Map[String, Long] = Map.empty

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.durationMs.containsKey("addBatch")) {
      batches.synchronized { batches += p }
      Option(p.sources.headOption.map(_.endOffset).orNull)
        .foreach(o => processed = processed + (p.runId.toString -> StreamProgress.offsetSum(o)))
    }
  }

  /** Rows of the bus a query run has fully processed (0 before its first batch). */
  def processedRows(runId: String): Long = processed.getOrElse(runId, 0L)

  def forRun(runId: String): Seq[StreamingQueryProgress] =
    batches.synchronized(batches.filter(_.runId.toString == runId).toSeq)
}

object StreamProgress {
  /** Sum of a `{"p":offset,...}` offset map — the rows below the cursor. */
  def offsetSum(json: String): Long =
    "\"\\d+\"\\s*:\\s*(\\d+)".r.findAllMatchIn(json).map(_.group(1).toLong).sum

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
}
