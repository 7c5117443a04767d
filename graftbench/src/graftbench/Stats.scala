package graftbench

/** The benchmark's own arithmetic, kept free of Spark so the self-tests
  * (`SelfTest`) can pin it: medians, the tail-percentile rule, interval
  * unions for driver time, and self time of a span.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail of a latency sample: the highest percentile that still has at
    * least `beyond` samples above it. With n sorted samples that is the
    * (beyond + 1)-th largest value, at percentile 100·(n − beyond)/n.
    * Returns (percentile, value, samples beyond it). A sample too small to
    * leave `beyond` samples above any point reports its maximum at
    * percentile 100 with the count that actually lies beyond (zero).
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n <= beyond) (100.0, s.last, 0)
    else (100.0 * (n - beyond) / n, s(n - beyond - 1), beyond)
  }

  /** Length of the union of intervals `[a, b)`, each clipped to `[lo, hi)`.
    * Overlapping and nested intervals count once.
    */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Driver time of a span: its wall time minus the part of it covered by
    * at least one of its Spark jobs — planning, listing, driver-side
    * collects and finalizes.
    */
  def driverTime(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(jobs, start, end)

  /** Self time of a span: its wall time minus the part of it its child
    * spans cover.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children, start, end)

  /** Max over median task time, in whole milliseconds as Spark reports
    * them; the median is floored at 1 ms so a stage of sub-millisecond
    * tasks does not divide by zero. 1.0 for an empty or all-zero stage.
    */
  def skew(taskTimesMs: Seq[Long]): Double =
    if (taskTimesMs.isEmpty || taskTimesMs.max == 0) 1.0
    else taskTimesMs.max / math.max(median(taskTimesMs.map(_.toDouble)), 1.0)
}
