package perfbench

import scala.collection.mutable

/** a reported value; `note` says what it is made of (sample count, …) */
final case class Metric(value: Double, unit: String, note: String)

/** What one run reports: named metrics with units, the operations
  * attempted, and every failed or wrong operation counted by check name. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val failures = mutable.TreeMap.empty[String, Int]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L

  def put(name: String, value: Double, unit: String, note: String = ""): Unit =
    metrics(name) = Metric(value, unit, note)

  def fail(check: String): Unit = failures(check) = failures.getOrElse(check, 0) + 1
  def failed: Int = failures.values.sum

  /** `check` must hold; a false one counts as a failure named `check` */
  def expect(check: String, ok: Boolean): Boolean = { if (!ok) fail(check); ok }

  /** p50 and the tail (see [[Stats.tail]]) of a latency sample set */
  def latency(prefix: String, samples: Seq[Double]): Unit = if (samples.nonEmpty) {
    put(s"${prefix}_p50_ms", Stats.median(samples), "ms", s"n=${samples.size}")
    Stats.tail(samples).foreach { t =>
      put(s"${prefix}_tail_ms", t.value, "ms", f"p${t.pct}%.1f n=${t.n}")
    }
  }

  def toJson: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    val ms = metrics.map { case (k, m) =>
      s"${q(k)}:{\"value\":${num(m.value)},\"unit\":${q(m.unit)},\"note\":${q(m.note)}}"
    }.mkString("{", ",", "}")
    val fs = failures.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val is = info.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"failures":$fs,"metrics":$ms,"info":$is}"""
  }
}
