package graft.perfbench

import scala.collection.mutable

/** Order statistics over measured samples (linear interpolation, the
  * same definition as numpy's default percentile). */
object Stats {
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def p90(xs: Seq[Double]): Double = pct(xs, 0.9)
  /** Median that reads 0 for a workload where the layer did no work. */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** Everything one run reports: metrics by name with their unit, the
  * correctness checks with what they saw, and the attempted/failed
  * operation counts. Written as one JSON file that run.py reads. */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Wall-clock end-to-end figures: printed every run, not gated (they
    * swing with host CPU steal far more than the gate allows). */
  val wallClock = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val stamp = mutable.LinkedHashMap.empty[String, Any]
  val notes = mutable.ArrayBuffer.empty[String]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private var attempted = 0L
  private var failed = 0L

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)
  def wall(name: String, v: Double, unit: String): Unit = wallClock(name) = (v, unit)

  /** Count `n` operations, `bad` of which failed. */
  def ops(n: Long, bad: Long): Unit = { attempted += n; failed += bad }

  /** A correctness check; a failed one counts one failed operation
    * unless the caller already counted its failures through [[ops]]. */
  def check(name: String, ok: Boolean, detail: String, countFailure: Boolean = true): Boolean = {
    checks += ((name, ok, detail))
    if (!ok && countFailure) { attempted += 1; failed += 1 }
    ok
  }

  def allOk: Boolean = checks.forall(_._2)

  def toJson: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      Json.obj(m.toSeq.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "checks_ok" -> allOk.toString,
      "checks" -> checks.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)))
      }.mkString("[", ",", "]"),
      "end_to_end" -> metrics(endToEnd),
      "wall_clock" -> metrics(wallClock),
      "per_layer" -> metrics(perLayer),
      "stamp" -> Json.obj(stamp.toSeq.map { case (k, v) => k -> (v match {
        case s: String => Json.str(s)
        case d: Double => Json.num(d)
        case other => other.toString
      }) }),
      "notes" -> notes.map(Json.str).mkString("[", ",", "]")))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
