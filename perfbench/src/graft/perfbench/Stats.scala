package graft.perfbench

/** Order statistics for the reported numbers. Quartiles follow Python's
  * `statistics.quantiles(values, n=4)` (the exclusive method), so the
  * harness and the steadiness script agree on what a spread is. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Exclusive-method quantile at fraction `p` (0 < p < 1), clamped to
    * the sample range. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = p * (s.length + 1) - 1 // 0-based
    if (pos <= 0) s.head
    else if (pos >= s.length - 1) s.last
    else {
      val lo = pos.toInt
      s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
    }
  }

  /** Samples a percentile needs beyond it before it may be quoted. */
  val MinBeyond = 10

  /** The `pct`-th percentile, refused (None) unless at least
    * [[MinBeyond]] samples lie beyond it. */
  def tail(xs: Seq[Double], pct: Double): Option[Double] = {
    val beyond = (BigDecimal(xs.length) * (100 - BigDecimal(pct)) / 100)
      .setScale(0, BigDecimal.RoundingMode.FLOOR).toInt
    if (beyond < MinBeyond) None else Some(quantile(xs, pct / 100))
  }

  /** The highest of p90/p99/p99.9 the sample supports, if any. */
  def highestTail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 90.0).iterator.flatMap(p => tail(xs, p).map(p -> _))
      .nextOption()
}
