package graft.perfbench

/** Order statistics for the benchmark's reported timings. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Value at rank `q` (0..1) by nearest rank. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  /** The tail the benchmark reports: the highest percentile from the
    * ladder p50, p75, p90, p95, p99, p99.9 that still has at least ten
    * samples above it. Returns (percentile, value, sample count). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    val ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
    val p = ladder.find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)
    (p, quantile(xs, p / 100), n)
  }
}
