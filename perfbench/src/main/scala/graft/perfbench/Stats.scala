package graft.perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Median; the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The percentile `op_tail_s` reports. */
  val TailPercentile = 75.0

  /** Operations a timed phase runs at least, so that five samples rank
    * above the tail percentile.
    */
  val TailOps = 20

  /** A tail latency with the percentile it sits at and the number of
    * samples ranked above it.
    */
  final case class Tail(value: Double, percentile: Double, samplesAbove: Int, n: Int)

  /** The `p`th percentile by nearest rank: the ⌈p·n/100⌉-th smallest of n
    * samples, with the count of samples ranked above it.
    */
  def tail(xs: Seq[Double], p: Double = TailPercentile): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val rank = math.max(1, math.ceil(p / 100 * n).toInt)
    Tail(s(rank - 1), p, n - rank, n)
  }
}
