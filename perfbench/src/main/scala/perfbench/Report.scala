package perfbench

import scala.collection.mutable

/** Sample statistics and the metric sink a workload fills in. */
object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.ceil(h).toInt
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Metrics and correctness outcomes of one benchmark run. */
final class Report {
  val metrics  = mutable.LinkedHashMap.empty[String, (Double, String)]
  val failures = mutable.ArrayBuffer.empty[String]
  val info     = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** JVM uptime at the end of each named phase, for the run's timeline. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def mark(phase: String): Unit =
    phases(phase) = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Run one operation: counts it, records a throw or a failed check as a
    * failure, and returns its result when it succeeded.
    */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(600)
        None
    }
  }

  /** Record a correctness check on an operation already counted. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) failures += s"$what: $detail".take(600)

  def toJson: String = Json.render(Map(
    "attempted" -> attempted,
    "failures"  -> failures.toSeq,
    "metrics"   -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
    "info"      -> (info.toMap + ("phase_end_s" -> phases.toSeq.map { case (k, v) => s"$k=$v" }))))
}
