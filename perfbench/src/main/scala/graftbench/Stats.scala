package graftbench

/** Order statistics for latency samples. */
object Stats {

  /** Nearest-rank percentile of `xs` (0 < p <= 100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val i = math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)
    s(math.min(i, s.size - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The mean over kinds of each kind's median. A median over a mix of
    * kinds with different latencies lands on whichever kind holds the
    * middle rank and jumps when two kinds trade places; this keeps each
    * median inside one kind and averages the noise of all of them.
    */
  def meanOfMedians(kinds: Seq[Seq[Double]]): Double = {
    require(kinds.nonEmpty && kinds.forall(_.nonEmpty), "no samples")
    kinds.map(median).sum / kinds.size
  }

  /** Percentiles a tail figure may be reported at, lowest first. */
  val TailLadder: Seq[Double] = Seq(50, 75, 90, 95, 99)

  /** The highest ladder percentile that has at least `beyond` samples
    * strictly above its rank, with its value. None when even the median
    * lacks that many (fewer than 2 * beyond samples).
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.size
    TailLadder.reverse.find { p =>
      val rank = math.ceil(p / 100.0 * n).toInt
      n - rank >= beyond
    }.map(p => (p, percentile(xs, p)))
  }
}
