package perfbench

/** Order statistics for the benchmark's samples. */
object Stats {
  /** Samples that must lie strictly beyond a reported percentile. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank `p`-quantile (0 < p < 1), or None when fewer than
    * [[MinBeyond]] samples lie beyond it — a tail figure resting on a
    * handful of samples is noise, so it is not reported at all.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p outside (0, 1)")
    val n = xs.size
    val rank = math.ceil(p * n).toInt // 1-based nearest rank
    if (n == 0 || n - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** The highest of the usual tail percentiles that [[percentile]] reports
    * for this sample count, with its label ("p99", "p95", "p90").
    */
  def highestPercentile(xs: Seq[Double]): Option[(String, Double)] =
    Seq(0.99 -> "p99", 0.95 -> "p95", 0.9 -> "p90").iterator
      .flatMap { case (p, label) => percentile(xs, p).map(label -> _) }
      .nextOption()
}
