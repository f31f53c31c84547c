package perfbench

/** Order statistics used by every workload. All percentiles are
  * nearest-rank: the value at 1-based position ceil(p/100 * n) of the
  * sorted samples, so every reported figure is a measured sample. */
object Stats {

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(p, s.size) - 1)
  }

  /** 1-based nearest-rank position of percentile p among n samples. */
  def rank(p: Double, n: Int): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** Tail percentiles tried from the highest down. */
  val TailCandidates: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0)

  /** The highest tail percentile that has at least `beyond` samples above
    * its rank; the median when no tail percentile has that many (fewer
    * than 2 × `beyond` samples). */
  def tailPercentile(n: Int, beyond: Int = 10): Double =
    TailCandidates.find(p => n - rank(p, n) >= beyond).getOrElse(50.0)
}
