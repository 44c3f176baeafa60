package graft.perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Linear-interpolated quantile (the "type 7" estimator); `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples that lie strictly above percentile `pct` of `n` samples. */
  def beyond(n: Int, pct: Int): Int = n - math.ceil(n * pct / 100.0).toInt

  /** The tail rule: a percentile is reported only when at least
    * `minBeyond` samples lie beyond it. Returns the highest of
    * `candidates` that qualifies for `n` samples. */
  def highestTail(n: Int, candidates: Seq[Int] = Seq(99, 95, 90, 80, 75),
                  minBeyond: Int = 10): Option[Int] =
    candidates.sorted.reverse.find(p => beyond(n, p) >= minBeyond)
}
