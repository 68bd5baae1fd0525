package perfbench

/** Order statistics the benchmark reports. Percentiles use the nearest-rank
  * rule on the sorted samples, so every reported value is a measured one. */
object Stats {

  /** Samples a tail percentile must leave above it to count as measured. */
  val TailBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(p: Int, n: Int): Int = math.max(1, math.ceil(p * n / 100.0).toInt)

  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.length, rank(p, s.length)) - 1)
  }

  /** The highest whole percentile from 50 to 99 that leaves at least
    * `beyond` samples above its nearest-rank position, or None when fewer
    * than 2·`beyond` samples exist (then no tail above the median is
    * measured). */
  def tailPercentile(n: Int, beyond: Int = TailBeyond): Option[Int] =
    (99 to 50 by -1).find(p => n - rank(p, n) >= beyond)

  /** The tail value and the percentile it is; the maximum (reported as
    * percentile 100) when too few samples exist for a measured tail. */
  def tail(xs: Seq[Double]): (Double, Int) = tailPercentile(xs.length) match {
    case Some(p) => (percentile(xs, p), p)
    case None => (xs.max, 100)
  }
}
