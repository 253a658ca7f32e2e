package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.mutable

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Seeded event traffic for the ingest pipeline, as delimited lines on
  * an [[graft.sources.OffsetLog]] bus. Everything here is plain JVM code
  * with no Spark work: the same seed gives the same lines, slices and
  * segment files.
  *
  * Injected traffic, each a seeded share: malformed lines (the parser's
  * corrupt path), `eventIngestRules` violations (the sink's quarantine),
  * at-least-once redeliveries of clean events (the dedup state) and
  * out-of-order events, published up to [[MaxDelayUs]] after their
  * event time — inside both the dedup watermark and the sink's
  * allowed lateness, so no row may reach an hour after it sealed. */
object Gen {
  val HourUs: Long = 3600L * 1000000L
  /** 2024-01-01T00:00:00Z */
  val StartUs: Long = 1704067200L * 1000000L
  /** HiveBatchSink's default allowedLatenessMinutes. */
  val LatenessUs: Long = 60L * 60L * 1000000L
  val MaxDelayUs: Long = 20L * 60L * 1000000L
  val Users = 1500

  val Clean = 0
  val Malformed = 1
  val Violation = 2
  val Redelivery = 3

  val MalformedShare = 0.005
  val ViolationShare = 0.01
  val RedeliveryShare = 0.01
  val OutOfOrderShare = 0.02

  val EventTypes: Array[String] = Array("click", "view", "purchase", "signup", "error")

  final case class Line(text: String, kind: Int, tsUs: Long, publishUs: Long, eventId: Long)

  /** `sliceUs` of event time per publish tick; `partitions` bus partitions. */
  final case class Spec(hours: Int, eventsPerHour: Int, sliceUs: Long, partitions: Int)

  final class Traffic(val spec: Spec, val slices: Array[Array[Line]]) {
    private def all = slices.iterator.flatMap(_.iterator)
    val lines: Long = slices.map(_.length.toLong).sum
    private def kinds(k: Int) = all.count(_.kind == k).toLong
    val clean: Long = kinds(Clean)
    val malformed: Long = kinds(Malformed)
    val violations: Long = kinds(Violation)
    val redeliveries: Long = kinds(Redelivery)
    val maxDelayUs: Long = all.filter(_.kind != Malformed).map(l => l.publishUs - l.tsUs).max

    /** Clean events per event hour (hour start, micros). */
    val cleanPerHour: Map[Long, Long] =
      all.filter(_.kind == Clean).toSeq.groupBy(l => Math.floorDiv(l.tsUs, HourUs) * HourUs)
        .map { case (h, ls) => h -> ls.length.toLong }

    /** For each hour, the first slice that carries an event at or past
      * hour end + lateness: the slice whose batch lets the sink seal it.
      * Malformed lines never reach the sink and so never close an hour. */
    val closingSlice: Map[Long, Int] = {
      val out = mutable.Map.empty[Long, Int]
      var maxTs = Long.MinValue
      var next = StartUs // the next hour not yet closable
      slices.indices.foreach { s =>
        slices(s).foreach(l => if (l.kind != Malformed) maxTs = math.max(maxTs, l.tsUs))
        while (next + HourUs + LatenessUs <= maxTs) { out(next) = s; next += HourUs }
      }
      out.toMap
    }
  }

  private def formatTs(us: Long): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000).toInt,
      java.time.ZoneOffset.UTC)
    f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.${t.getNano / 1000}%06d"
  }

  def line(id: Long, tsUs: Long, user: String, etype: String, value: Double, props: String): String =
    s"$id\t${formatTs(tsUs)}\t$user\t$etype\t${java.lang.Double.toString(value)}\t$props"

  /** A clean event; its fields drive both the bus line and the oracle's table. */
  final case class Event(id: Long, tsUs: Long, user: Long, etype: String, value: Double, props: String)

  private def event(rnd: SplittableRandom, id: Long, tsUs: Long): Event = {
    val cents = math.min(56021L, (-math.log(1.0 - rnd.nextDouble()) * 5000.0).toLong)
    Event(id, tsUs, rnd.nextLong(Users), EventTypes(rnd.nextInt(EventTypes.length)), cents / 100.0,
      s"""{"k": ${rnd.nextInt(100)}}""")
  }

  /** Generate `spec.hours` hours of traffic from `firstId` on. */
  def traffic(seed: Long, spec: Spec, firstId: Long = 0L): (Traffic, Seq[Event]) = {
    val rnd = new SplittableRandom(seed)
    val nSlices = math.ceil(spec.hours * HourUs.toDouble / spec.sliceUs).toInt
    val buckets = Array.fill(nSlices)(mutable.ArrayBuffer.empty[Line])
    val cleanEvents = mutable.ArrayBuffer.empty[Event]
    def place(l: Line): Unit =
      buckets(math.min(nSlices - 1, ((l.publishUs - StartUs) / spec.sliceUs).toInt)) += l
    def delay(): Long = 60L * 1000000L + rnd.nextLong(MaxDelayUs - 60L * 1000000L + 1)
    var id = firstId
    (0 until spec.hours).foreach { h =>
      val h0 = StartUs + h * HourUs
      val ts = Array.fill(spec.eventsPerHour)(h0 + rnd.nextLong(HourUs)).sorted
      ts.foreach { t =>
        val e = event(rnd, id, t)
        id += 1
        val late = if (rnd.nextDouble() < OutOfOrderShare) delay() else 0L
        if (rnd.nextDouble() < ViolationShare) {
          val text = rnd.nextInt(3) match {
            case 0 => line(e.id, t, "", e.etype, e.value, e.props)                // notnull_user_id
            case 1 => line(e.id, t, e.user.toString, e.etype, -1.0 - e.value, e.props) // range_event_value
            case _ => line(e.id, t, e.user.toString, "bogus", e.value, e.props)  // known_event_type
          }
          place(Line(text, Violation, t, t + late, e.id))
        } else {
          val text = line(e.id, t, e.user.toString, e.etype, e.value, e.props)
          cleanEvents += e
          place(Line(text, Clean, t, t + late, e.id))
          if (rnd.nextDouble() < RedeliveryShare)
            place(Line(text, Redelivery, t, t + math.max(late, delay()), e.id))
        }
        if (rnd.nextDouble() < MalformedShare) {
          val at = h0 + rnd.nextLong(HourUs)
          place(Line(s"corrupt-${rnd.nextInt(1 << 30)}\tnot a timestamp\t\t\t\t", Malformed, -1L, at, -1L))
        }
      }
    }
    val slices = buckets.map(_.sortBy(_.publishUs).toArray)
    (new Traffic(spec, slices), cleanEvents.toSeq)
  }

  /** One immutable segment file waiting in the pending area. */
  final case class Segment(slice: Int, partition: Int, start: Long, count: Long, pending: Path) {
    def name: String = s"segment-$start-$count.parquet"
  }

  private val SegmentSchema =
    MessageTypeParser.parseMessageType("message segment { required binary value (STRING); required int64 offset; }")

  /** Lay the traffic out as offset-contiguous segments, one per (slice,
    * partition) that has rows, under `pendingDir`. The producer is
    * keyless: lines go round-robin over the partitions, so every
    * partition advances through event time at the same pace. (With
    * keyed routing, per-partition counts drift apart, and a row-capped
    * catch-up can then run one partition more than the dedup watermark
    * ahead of another.) */
  def writeSegments(t: Traffic, pendingDir: Path): Seq[Segment] = {
    val p = t.spec.partitions
    val next = Array.fill(p)(0L)
    Files.createDirectories(pendingDir)
    val factory = new SimpleGroupFactory(SegmentSchema)
    val conf = new org.apache.hadoop.conf.Configuration(false)
    t.slices.indices.flatMap { s =>
      val byPart = t.slices(s).zipWithIndex.groupBy(_._2 % p).map { case (k, v) => k -> v.map(_._1) }
      (0 until p).flatMap { part =>
        byPart.get(part).map { rows =>
          val seg = Segment(s, part, next(part), rows.length.toLong,
            pendingDir.resolve(s"p$part-s$s.parquet"))
          val w = ExampleParquetWriter.builder(new LocalOutputFile(seg.pending))
            .withType(SegmentSchema)
            .withConf(conf)
            .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
            .withPageSize(64 << 10)
            .withRowGroupSize(4L << 20)
            .build()
          try rows.zipWithIndex.foreach { case (l, i) =>
            w.write(factory.newGroup().append("value", l.text).append("offset", seg.start + i))
          } finally w.close()
          next(part) += rows.length
          seg
        }
      }
    }
  }

  /** Publish segments onto the bus by atomic rename (the producer's commit). */
  def publish(segs: Seq[Segment], busRoot: Path): Unit = segs.foreach { s =>
    val dir = busRoot.resolve(s"partition=${s.partition}")
    Files.createDirectories(dir)
    Files.move(s.pending, dir.resolve(s.name), StandardCopyOption.ATOMIC_MOVE)
  }

  def hourKey(hourUs: Long): (String, String) = {
    val t = java.time.LocalDateTime.ofEpochSecond(hourUs / 1000000L, 0, java.time.ZoneOffset.UTC)
    (f"${t.getYear}%04d${t.getMonthValue}%02d${t.getDayOfMonth}%02d", f"${t.getHour}%02d")
  }

  def hourOf(key: (String, String)): Long = {
    val (dt, hr) = key
    java.time.LocalDateTime.of(dt.take(4).toInt, dt.slice(4, 6).toInt, dt.drop(6).toInt, hr.toInt, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
  }
}
