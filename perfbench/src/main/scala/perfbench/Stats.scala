package perfbench

/** Summary statistics shared by the report and the span analysis. */
object Stats {
  /** Linear-interpolation quantile (numpy's default) of a non-empty sample. */
  def quantile(values: Seq[Double], q: Double): Double = {
    require(values.nonEmpty, "quantile of an empty sample")
    val s = values.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(values: Seq[Double]): Double = quantile(values, 0.5)

  /** A tail percentile is reported only when at least `minBeyond`
    * samples lie beyond it: p90 needs 100 samples, p99 needs 1000. */
  val MinBeyond = 10

  def tail(values: Seq[Double], q: Double, minBeyond: Int = MinBeyond): Option[Double] =
    if (values.size * (1.0 - q) + 1e-9 < minBeyond) None else Some(quantile(values, q))

  /** Length of the union of half-open intervals, each clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of a span: its duration minus the part of its interval
    * that its children cover. Overlapping children count once. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(children, start, end)
}
