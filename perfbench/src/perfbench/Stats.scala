package perfbench

/** Order statistics the report uses; quartiles follow Python's
  * `statistics.quantiles(values, n=4)` (exclusive method). */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n < 2) (s.head, s.head)
    else {
      def q(k: Int): Double = {
        val m = (n + 1) * k / 4.0
        val j = math.floor(m).toInt.max(1).min(n - 1)
        val d = m - j
        s(j - 1) + (s(j) - s(j - 1)) * d
      }
      (q(1), q(3))
    }
  }

  /** Inter-quartile distance as a share of the median. */
  def spread(xs: Seq[Double]): Double = {
    val (q1, q3) = quartiles(xs)
    val m = median(xs)
    if (m == 0) 0.0 else (q3 - q1) / m
  }
}
