package graft.perfbench

import scala.collection.mutable

/** Small shared pieces of the harness: clocks, order statistics, the
  * metric record and a minimal JSON writer (the harness keeps its own so
  * it depends on nothing beyond the engine and Spark).
  */
object Clock {
  def now(): Long = System.nanoTime()
  def secs(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e9

  /** Run `f`, returning its value and its wall time in seconds. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = now()
    val a = f
    (a, secs(t0, now()))
  }
}

object Stats {

  /** Median with the midpoint rule for even counts (Python's
    * `statistics.median`). Empty input has no median.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile p (0 < p <= 100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val k = math.max(1, math.ceil(p / 100.0 * s.length).toInt)
    s(k - 1)
  }

  /** Percentiles a tail may be read at, highest first. */
  val TailLadder: Seq[Double] = Seq(99, 95, 90, 80, 75, 50)

  /** The highest ladder percentile with at least `beyond` samples above
    * its nearest rank; the lowest rung when the sample is too small for
    * any. Returns (percentile, value, samples beyond it).
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double, Int) = {
    val n = xs.length
    def above(p: Double) = n - math.max(1, math.ceil(p / 100.0 * n).toInt)
    val p = TailLadder.find(p => above(p) >= beyond).getOrElse(TailLadder.last)
    (p, percentile(xs, p), above(p))
  }
}

/** One named measurement with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Accumulates metrics and free-form facts for the run record. */
final class Record {
  private val ms = mutable.LinkedHashMap[String, Metric]()
  private val facts = mutable.LinkedHashMap[String, String]()
  val errors: mutable.Buffer[String] = mutable.Buffer()

  def put(name: String, value: Double, unit: String): Unit = ms(name) = Metric(name, value, unit)
  def fact(key: String, value: Any): Unit = facts(key) = value.toString
  def error(msg: String): Unit = if (errors.length < 20) errors += msg
  def metrics: Seq[Metric] = ms.values.toSeq

  def toJson(workload: String, seed: Long, trace: Boolean, attempted: Long, failed: Long, checksOk: Boolean): String = {
    val metricJson = ms.values
      .map(m => s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}")
      .mkString(",")
    val factJson = facts.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
    val errJson = errors.map(Json.str).mkString(",")
    s"""{"workload":${Json.str(workload)},"seed":$seed,"trace":$trace,"attempted":$attempted,""" +
      s""""failed":$failed,"checks_ok":$checksOk,"metrics":{$metricJson},"facts":{$factJson},"errors":[$errJson]}"""
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** Full-precision number; a non-finite value (a failed operation's
    * latency) is written as the largest double so the record stays JSON.
    */
  def num(d: Double): String =
    if (d.isNaN) "null"
    else if (d.isInfinite) (if (d > 0) Double.MaxValue else -Double.MaxValue).toString
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
}
