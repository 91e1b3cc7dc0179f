package perfbench

import scala.collection.mutable

/** Minimal JSON emitting (the output is flat; numbers keep all digits). */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** One metric as printed: value, unit, and an optional note (sample
  * count, source) for the human-readable lines.
  */
final case class Metric(value: Double, unit: String, note: String = "")

/** Everything one run reports. `endToEnd` uses the contract's generic
  * names (the same set on every workload); `named` holds the same
  * numbers under the per-workload names a reader looks for
  * (`tag_p50_ms`, `batch_floor_s`, ...).
  */
final class Result {
  val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
  val named = mutable.LinkedHashMap.empty[String, Metric]
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Count one output check; failures keep their cause. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
    }
  }

  def failedFrac: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted

  def contractLine(trace: Boolean): String = {
    val ms = if (trace) layers else endToEnd
    val metrics = ms.map { case (k, m) =>
      s""""$k":{"value":${Json.num(m.value)},"unit":"${m.unit}"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$metrics}"""
  }

  def humanLines: Seq[String] = {
    def fmt(k: String, m: Metric) =
      f"  $k%-34s ${m.value}%14.4f ${m.unit}%-9s ${m.note}"
    Seq("end-to-end (as named for this workload):") ++
      named.map { case (k, m) => fmt(k, m) } ++
      Seq(fmt("failed_frac", Metric(failedFrac, "ratio",
        s"$failed failed of $attempted checks"))) ++
      failures.map(f => s"  FAILED: $f")
  }
}
