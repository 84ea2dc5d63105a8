package perfbench

/** The arithmetic behind every reported figure, kept free of Spark so the
  * self-tests can pin it.
  */
object Stats {

  /** Percentile by linear interpolation between closest ranks (the
    * `statistics.quantiles(..., method='inclusive')` rule); p in [0, 100].
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p out of [0, 100]")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** A percentile is reported only when enough samples lie beyond it for
    * it to mean something: p90 needs 100 samples (ten above it).
    */
  def supports(n: Int, p: Double): Boolean = n * (100 - p) / 100.0 >= 10 - 1e-9

  /** Total length of the union of intervals [start, end), clipped to
    * [from, to).
    */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of a span: its duration minus the part its children cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(children, start, end)
}
