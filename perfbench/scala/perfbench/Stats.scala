package perfbench

/** Order statistics as the benchmark reports them. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail the samples can support: the highest percentile that still
    * has at least `beyond` samples above it, as (percentile, value).
    * With n samples that is the (n - beyond)-th smallest, at percentile
    * 100 (n - beyond) / n. Fewer than `beyond + 1` samples have no tail. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.size
    if (n <= beyond) None
    else {
      val s = xs.sorted
      Some((100.0 * (n - beyond) / n, s(n - beyond - 1)))
    }
  }
}
