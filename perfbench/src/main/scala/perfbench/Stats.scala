package perfbench

/** Summary statistics for timings. Percentiles use the nearest-rank rule,
  * so every reported value is a sample that was actually measured. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean: every sample weighs the same share, so halving a
    * short query's latency counts as much as halving a long one's. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geometric mean of $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p >= 1 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100.0 * s.size).toInt) - 1)
  }

  /** The highest whole percentile from 50 to 99 whose nearest-rank sample
    * has at least `beyond` samples ranked above it; None with too few
    * samples, since a percentile below the median is no tail. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)

  /** A tail latency together with the percentile it is and the sample
    * count it came from. With fewer than 20 samples no percentile qualifies
    * and the tail is the maximum, reported as percentile 100. */
  final case class Tail(value: Double, percentile: Int, samples: Int)

  def tail(xs: Seq[Double]): Tail = tailPercentile(xs.size) match {
    case Some(p) => Tail(percentile(xs, p), p, xs.size)
    case None    => Tail(xs.max, 100, xs.size)
  }
}
