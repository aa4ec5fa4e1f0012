package perfbench

/** Order statistics for the benchmark's reported numbers. */
object Stats {

  /** Linear interpolation between closest ranks (numpy's default,
    * `statistics.quantiles(method="inclusive")`); NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of `candidates` that leaves at least `beyond` of `n`
    * samples above it — the tail percentile a run of `n` samples can
    * back. None when even the median cannot.
    */
  def tailPercentile(n: Int, beyond: Int = 10,
      candidates: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)): Option[Double] =
    candidates.find(p => n * (1 - p) >= beyond - 1e-9)
}
