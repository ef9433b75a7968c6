package perfbench

import scala.collection.mutable

/** Percentiles, JSON rendering and the metric record every workload fills. */
object Stat {
  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "percentile of an empty sample")
    val r = (s.length - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
  def secs(ns: Long): Double = ns / 1e9
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Named metrics of one pass, in insertion order. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def get(name: String): Option[Double] = m.get(name).map(_._1)
  def toJson: String = Json.obj(m.toSeq.map { case (k, (v, u)) =>
    k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
  })
}

/** What one pass of a workload produced: end-to-end metrics (untraced
  * meaning), per-layer metrics (filled only when traced), the ops attempted
  * and failed, and a description of each failed check. */
final class PassResult {
  val e2e = new Metrics
  val layers = new Metrics
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Record a correctness check; a failing one counts as one failed op. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }
}
