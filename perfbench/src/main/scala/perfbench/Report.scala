package perfbench

import scala.collection.mutable

/** What one workload run hands back to [[Main]]: operation counts, output
  * checks, end-to-end metrics (untraced runs) and per-layer metrics (traced
  * runs), plus details that explain a figure without being a metric. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val workloadMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val details = mutable.LinkedHashMap.empty[String, String]

  /** Record one output check; `detail` says what was compared. */
  def check(name: String, ok: Boolean, detail: => String): Unit =
    checks(name) = (ok, if (ok) "" else detail)

  /** Count one engine operation, recording a failure instead of rethrowing:
    * a failed call is never folded into a latency. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case t: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $name FAILED: ${t.getClass.getName}: ${t.getMessage}")
        None
    }
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.2f] $msg")

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  /** A figure only this workload has (printed under `details`). */
  def named(name: String, value: Double, unit: String): Unit =
    workloadMetrics(name) = (value, unit)

  /** The end-to-end metrics every workload reports, from the times of its
    * unit steps (a tick batch, a query, a serve call) and the total time of
    * everything the run timed after set-up. */
  def steps(stepTimes: Seq[Double], workS: Double): Unit =
    if (stepTimes.nonEmpty) {
      e2e("step_p50_s", Stats.median(stepTimes), "s")
      e2e("step_geomean_s", Stats.geomean(stepTimes), "s")
      e2e("work_s", workS, "s")
    }
  def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile of a fixed ladder that still has at least ten
    * samples beyond it, with that percentile. Falls back to the median when
    * there are too few samples for any tail. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
    val p = ladder.find(p => xs.size * (1 - p / 100) >= 10).getOrElse(50.0)
    (quantile(xs, p / 100), p)
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def metrics(ms: Iterable[(String, (Double, String))]): String =
    obj(ms.map { case (k, (v, u)) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
