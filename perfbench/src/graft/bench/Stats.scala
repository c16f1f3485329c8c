package graft.bench

/** Order statistics for the benchmark's latency populations. */
object Stats {

  /** Percentiles searched by [[tailPct]], highest first: p99.9, then
    * every whole percentile down to the median. */
  val Ladder: Seq[Double] = 99.9 +: (99 to 50 by -1).map(_.toDouble)

  /** Samples that must lie strictly beyond a tail percentile. */
  val MinBeyond = 10

  /** Highest ladder percentile with at least [[MinBeyond]] of `n` samples
    * above it, or None when even the median has fewer. */
  def tailPct(n: Int): Option[Double] =
    Ladder.find(p => samplesBeyond(n, p) >= MinBeyond)

  /** Samples ranked above the nearest-rank `p`-th percentile of `n`. */
  def samplesBeyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Nearest-rank position (1-based) of the `p`-th percentile of `n`. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Nearest-rank percentile of `xs` (not necessarily sorted). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  /** Median as the mean of the two middle values for even sizes. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** (percentile used, value) for the tail of `xs`. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPct(xs.size).getOrElse(50.0)
    (p, pct(xs, p))
  }
}
