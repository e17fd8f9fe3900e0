package graftbench

import scala.collection.mutable

/** Order statistics and the result line. */
object Stats {

  /** Linearly interpolated quantile, q in [0, 1] (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples a run needs for a percentile tail: ten beyond p75. */
  val PercentileTailMin = 40

  /** The tail of a run's samples. With at least [[PercentileTailMin]] it is
    * the highest percentile with ten samples beyond it (p75 or higher).
    * With fewer there is no such percentile above p75, so it is the mean of
    * the slowest quarter (at least one sample): a rare spike, such as an
    * auto-compaction every fourth commit, still moves it.
    */
  def tail(xs: Seq[Double]): Double =
    if (xs.size >= PercentileTailMin) quantile(xs, 1.0 - 10.0 / xs.size)
    else {
      val k = math.max(1, math.ceil(xs.size / 4.0).toInt)
      xs.sorted.takeRight(k).sum / k
    }

  /** How [[tail]] read `n` samples, for the detail line. */
  def tailRule(n: Int): String =
    if (n >= PercentileTailMin) f"p${100.0 * (1.0 - 10.0 / n)}%.1f"
    else s"mean of slowest ${math.max(1, math.ceil(n / 4.0).toInt)}"

  /** A JSON number with all its digits; non-finite values are not numbers. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Metrics in insertion order: name -> (value, unit). */
  final class Metrics {
    private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, unit: String, value: Double): Unit = m(name) = (value, unit)
    def json: String = m.map { case (k, (v, u)) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString("{", ", ", "}")
  }
}
