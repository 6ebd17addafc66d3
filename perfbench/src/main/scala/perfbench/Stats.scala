package perfbench

/** Order statistics the report uses. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based rank of the nearest-rank p-th percentile of n samples. */
  private def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Nearest-rank percentile: the sample at rank ceil(p/100 * n). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.length, p) - 1)
  }

  /** Samples strictly beyond the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The tail percentile a sample of size n supports: the highest of
    * p99.9, p99, p95, p90, p75, p50 with at least 10 samples beyond it,
    * or None when even p50 has fewer. 200 samples are the least that
    * support p95. */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => beyond(n, p) >= 10)
}
