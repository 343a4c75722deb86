package perfbench

/** Order statistics for reported timings. */
object Stats {

  /** Samples a reported tail percentile must leave beyond it. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 100). Refuses (throws) when
    * fewer than [[MinBeyond]] samples lie beyond the rank, because such a
    * tail is a handful of outliers, not a percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p > 0 && p < 100, s"percentile must be in (0, 100), got $p")
    val n = xs.size
    val rank = math.ceil(p * n / 100).toInt
    require(n - rank >= MinBeyond,
      f"p$p%.0f of $n samples leaves ${n - rank} beyond it; need $MinBeyond")
    xs.sorted.apply(rank - 1)
  }
}
