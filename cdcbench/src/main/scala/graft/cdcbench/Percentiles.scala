package graft.cdcbench

/** Nearest-rank percentiles that refuse thin tails.
  *
  * The p-th percentile of n samples is the sample at rank ceil(p/100 * n)
  * in ascending order. A percentile is only reported when at least
  * [[MinBeyond]] samples lie above that rank; otherwise one slow sample
  * could move it, and the helper throws instead of returning a number.
  */
object Percentiles {
  val MinBeyond = 10

  /** Samples needed so that percentile `p` has [[MinBeyond]] beyond it. */
  def samplesFor(p: Double): Int = {
    var n = 1
    while (n - rank(p, n) < MinBeyond) n += 1
    n
  }

  private def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def of(samples: Seq[Double], p: Double): Double = {
    require(p > 0 && p < 100, s"percentile must lie in (0, 100), got $p")
    val n = samples.size
    val r = rank(p, n)
    if (n - r < MinBeyond)
      throw new IllegalArgumentException(
        f"p$p%.0f of $n samples has ${math.max(0, n - r)} beyond it; " +
          s"at least $MinBeyond are required (need ${samplesFor(p)} samples)")
    samples.sorted.apply(r - 1)
  }

  /** Plain median for a handful of repeated measurements (set-up rounds),
    * not a tail: the middle value, or the mean of the middle two.
    */
  def median(samples: Seq[Double]): Double = {
    require(samples.nonEmpty, "median of no samples")
    val s = samples.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
