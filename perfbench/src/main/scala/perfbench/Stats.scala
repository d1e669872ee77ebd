package perfbench

/** Sample statistics used by every workload. */
object Stats {

  /** Nearest-rank percentile of `xs` (p in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles reported as a tail, highest first. */
  val TailLadder: Seq[Int] = Seq(99, 95, 90, 75, 50)

  /** The highest percentile of the ladder that a sample of `n` supports:
    * at least ten samples must lie beyond it, so p90 needs n >= 100.
    */
  def supportedTail(n: Int): Option[Int] =
    TailLadder.find(p => n * (100 - p) >= 10 * 100)

  /** Closed-loop throughput over a measured window that opens at
    * `windowStart`: each client contributes the operations it completed
    * divided by the time from the window start to its last completion,
    * so a client's rate does not depend on where the window cut its
    * in-flight operation. `ends` holds each client's completion times.
    */
  def windowThroughput(windowStart: Double, ends: Seq[Seq[Double]]): Double =
    ends.map { e =>
      if (e.isEmpty) 0.0 else e.size / (e.max - windowStart)
    }.sum
}
