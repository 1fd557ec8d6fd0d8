package perfbench

import scala.collection.mutable

/** Everything one run measured and checked, written as `report.json` for
  * `run.py`, which prints it and derives the final stdout line.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val info = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** One unit of work (pass, query, micro-batch) and whether it held up. */
  def outcome(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def fail(msg: String): Unit = failures += msg

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)

  def per(name: String, value: Double, unit: String): Unit = layer(name) = (value, unit)

  def toJson: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) =>
        s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
      }.mkString("{", ", ", "}")
    s"""{"attempted": $attempted, "failed": $failed,
       | "failures": ${failures.map(Json.str).mkString("[", ", ", "]")},
       | "info": ${info.map(Json.str).mkString("[", ", ", "]")},
       | "end_to_end": ${metrics(endToEnd)},
       | "per_layer": ${metrics(layer)}}""".stripMargin
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

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile of sorted samples, p in (0, 100]. */
  def percentile(sorted: Array[Double], p: Double): Double =
    sorted(math.max(0, math.ceil(p / 100 * sorted.length).toInt - 1))

  /** The highest of the usual tail percentiles that still has at least
    * ten samples beyond it, as (percentile, value); the maximum when
    * there are too few samples for any of them.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.toArray.sorted
    Seq(99.9, 99.0, 95.0, 90.0, 75.0)
      .find(p => s.length - math.ceil(p / 100 * s.length) >= 10)
      .map(p => (p, percentile(s, p)))
      .getOrElse((100.0, s.last))
  }
}
