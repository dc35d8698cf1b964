package graftbench

import scala.collection.mutable

/** Named metrics of one run, each with its unit, plus the operation and
  * failure counts the run prints with them.
  */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)

  /** Count one operation; `ok = false` records a failure and never a time. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += what
      System.err.println(s"[perfbench] FAILED: $what")
    }
  }

  def json: String = values.map { case (k, (v, u)) =>
    Json.quote(k) + ":" + Json.obj("value" -> v, "unit" -> u)
  }.mkString("{", ",", "}")
}
