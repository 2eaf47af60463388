package perfbench

/** One reported number: name, value, unit, the sample count behind it
  * and which statistic of those samples it is ("p50", "p75", "mean",
  * "sum", "ratio", "count", "once").
  */
final case class Metric(name: String, value: Double, unit: String,
    n: Int, stat: String)

object Stats {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile that still has at least ten samples above
    * it, as (value, percentile). With 20 samples or fewer that
    * percentile would fall at or below the median, so the median is
    * reported instead and labelled p50.
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    val n = s.size
    val rank = n - 11 // 0-based; n - 1 - rank = 10 samples beyond it
    if (n == 0) (0.0, 0)
    else if (rank < 0 || (rank + 1) * 2 <= n) (median(s), 50)
    else (s(rank), math.floor((rank + 1) * 100.0 / n).toInt)
  }

  def p50(name: String, xs: Seq[Double], unit: String): Metric =
    Metric(name, median(xs), unit, xs.size, "p50")

  def tailMetric(name: String, xs: Seq[Double], unit: String): Metric = {
    val (v, p) = tail(xs)
    Metric(name, v, unit, xs.size, s"p$p")
  }

  def meanMetric(name: String, xs: Seq[Double], unit: String): Metric =
    Metric(name, mean(xs), unit, xs.size, "mean")
}
