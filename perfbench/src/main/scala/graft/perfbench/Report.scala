package graft.perfbench

import scala.collection.mutable

/** What one benchmark run hands back to `run.py`: metrics with their
  * sample counts, the ops attempted and the ones that failed (by
  * name), the generated inputs' properties, and — for the catalog
  * workloads — the result directories whose digests `run.py` checks
  * against the oracle. Written as one JSON file. */
final class Report(val workload: String) {
  import Report.Metric

  val metrics = mutable.LinkedHashMap[String, Metric]()
  val inputs = mutable.LinkedHashMap[String, Any]()
  val detail = mutable.LinkedHashMap[String, Any]()
  val failedOps = mutable.ArrayBuffer[String]()
  /** (query, result directory) pairs for the oracle digest check. */
  val verify = mutable.ArrayBuffer[(String, String)]()
  var attempted = 0

  def metric(name: String, value: Double, unit: String, n: Int = 1): Unit =
    metrics(name) = Metric(value, unit, n)

  def fail(op: String, why: String): Unit = {
    synchronized(failedOps += s"$op: ${why.take(300)}")
    System.err.println(s"[perfbench] FAILED $op: $why")
  }

  /** Runs `body` as one attempted op; a throw counts it as failed. */
  def op[T](name: String)(body: => T): Option[T] = {
    synchronized(attempted += 1)
    try Some(body)
    catch { case scala.util.control.NonFatal(e) => fail(name, e.toString); None }
  }

  /** One output check: a false `ok` counts as a failed op. */
  def check(name: String, ok: Boolean, why: => String): Unit = {
    synchronized(attempted += 1)
    if (!ok) fail(name, why)
  }

  def toJson(facts: Map[String, Any]): String = Json(Map(
    "workload" -> workload,
    "facts" -> facts,
    "inputs" -> inputs,
    "attempted" -> attempted,
    "failed_ops" -> failedOps,
    "metrics" -> metrics.map { case (k, m) =>
      k -> Map("value" -> m.value, "unit" -> m.unit, "n" -> m.n) },
    "verify" -> verify.map { case (q, p) => Map("query" -> q, "path" -> p) },
    "detail" -> detail))
}

object Report {
  final case class Metric(value: Double, unit: String, n: Int)
}

/** Minimal JSON encoder for the report (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Percentiles by linear interpolation between order statistics (the
  * rule numpy and Python's `statistics` use by default). */
object Stats {
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Samples strictly above the q-th percentile. */
  def beyond(xs: Seq[Double], q: Double): Int = {
    val p = percentile(xs, q)
    xs.count(_ > p)
  }
}
