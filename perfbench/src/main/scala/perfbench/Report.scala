package perfbench

import scala.collection.mutable

/** Everything one run measured: named metrics with units, the operation
  * tally behind `error_rate`, and context needed to read the numbers. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val context = mutable.LinkedHashMap.empty[String, String]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failedN = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def ctx(key: String, value: Any): Unit = context(key) = value.toString

  /** Record one checked operation; `problem` names what went wrong. */
  def check(problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach(p => if (errors.size < 1000) errors += p else errors(999) = "(more)")
    if (problem.nonEmpty) failedN += 1
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def json: String = {
    val m = metrics.map { case (k, (v, u)) => s"${q(k)}:{\"value\":${num(v)},\"unit\":${q(u)}}" }
    val c = context.map { case (k, v) => s"${q(k)}:${q(v)}" }
    s"""{"attempted":$attempted,"failed":$failedN,"errors":[${errors.map(q).mkString(",")}],""" +
      s""""metrics":{${m.mkString(",")}},"context":{${c.mkString(",")}}}"""
  }
}
