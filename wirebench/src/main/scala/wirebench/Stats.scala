package wirebench

/** Order statistics used by every reported timing. */
object Stats {

  /** Interpolated median; NaN when empty. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 100) of `xs`; NaN when empty. */
  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN else s(rank(s.length, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1,
      (BigDecimal(p) * n / 100).setScale(0, BigDecimal.RoundingMode.CEILING).toInt))

  /** Samples strictly beyond the nearest-rank percentile `p`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The reported tail percentiles, highest first. */
  val Tails: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)

  /** The highest percentile of [[Tails]] with at least `minBeyond`
    * samples beyond it, or None when even the median has fewer.
    */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    Tails.find(p => beyond(n, p) >= minBeyond)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
