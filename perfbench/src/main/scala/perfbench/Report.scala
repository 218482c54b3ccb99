package perfbench

import scala.collection.mutable

/** What one run prints: named metrics with units, the operation tally, and
  * the outcome of every correctness check. Rendered as the single JSON line
  * that ends the run's standard output.
  */
final class Report {
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is not finite: $value")
    metrics(name) = (value, unit)
  }

  /** Record a correctness check. A failed check is logged to stderr and
    * makes the run incorrect; the caller decides what it counts against.
    */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) { failures += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }
    ok
  }

  def correct: Boolean = failures.isEmpty && failed == 0

  def value(name: String): Double = metrics(name)._1

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Report.num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }
}

object Report {
  /** Full-precision JSON number (integral values without a fraction). */
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  /** Nearest-rank percentile of an unsorted sample, `q` in [0, 1]. */
  def percentile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  def median(xs: collection.Seq[Double]): Double = percentile(xs, 0.5)
}
