package perfbench

/** Order statistics used for every reported timing. */
object Stats {
  /** Quantile by linear interpolation between closest ranks (the R-7 /
    * numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail percentile a sample of `n` supports: the highest whole
    * percentile with at least ten samples beyond it. A sample too small
    * to put that percentile above p50 has no tail to report, and the
    * workload is mis-sized: fail loudly rather than print a "tail" that
    * equals the median. */
  def tailPercentile(n: Int): Int = {
    val p = math.min(99, math.floor(100.0 * (1.0 - 10.0 / n) + 1e-9).toInt)
    require(p > 50,
      s"$n samples cannot support a tail above p50 (at least 21 are needed)")
    p
  }

  /** (percentile, value) of the tail of `xs`. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = tailPercentile(xs.size)
    (p, quantile(xs, p / 100.0))
  }

  /** Median of the last fifth of `xs` over the median of its first fifth,
    * in run order: how much a write slows as state accumulates. */
  def growth(xs: Seq[Double]): Double = {
    require(xs.size >= 5, s"growth needs at least 5 samples, got ${xs.size}")
    val k = xs.size / 5
    median(xs.takeRight(k)) / median(xs.take(k))
  }
}
