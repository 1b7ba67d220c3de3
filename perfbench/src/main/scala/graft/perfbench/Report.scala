package graft.perfbench

import scala.collection.mutable

/** Minimal JSON rendering for the result and span lines (numbers,
  * strings, booleans, nested objects and arrays). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Metric => obj(Seq("value" -> m.value, "unit" -> m.unit))
    case m: collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case p: Product if p.productArity == 2 =>
      value(Seq(p.productElement(0), p.productElement(1)))
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

final case class Metric(value: Double, unit: String)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** What one run measured: end-to-end metrics (untraced run), per-layer
  * metrics (traced run), and the details printed on the report line —
  * the workload's own metric names, input fingerprints, traffic. */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
  val perLayer = mutable.LinkedHashMap.empty[String, Metric]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  /** Record an output check; a failed check counts as a failed op. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    failed += 1
    failures += what
    System.err.println(s"perfbench: CHECK FAILED: $what")
  }
}
