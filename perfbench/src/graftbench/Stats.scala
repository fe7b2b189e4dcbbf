package graftbench

/** Order statistics and interval arithmetic shared by the harness and
  * its self-tests. Percentiles use the nearest-rank rule, so every
  * reported value is a latency that was actually observed.
  */
object Stats {

  /** Nearest-rank percentile (p in (0, 100]) of an unsorted sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  /** 1-based nearest rank of percentile p among n samples. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.min(n, math.ceil(p / 100.0 * n - 1e-9).toInt))

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples strictly above the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** A tail percentile is resolved when at least `minBeyond` samples
    * lie beyond it; with fewer, it is a near-maximum and says little
    * about the tail.
    */
  def resolved(n: Int, p: Double, minBeyond: Int = 10): Boolean =
    n > 0 && beyond(n, p) >= minBeyond

  /** The highest of the usual tail percentiles that is resolved for n
    * samples, or None when even the median is not.
    */
  def highestResolved(n: Int, minBeyond: Int = 10): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(resolved(n, _, minBeyond))

  /** Total length of the union of half-open intervals [s, e), each
    * clipped to [lo, hi).
    */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * child spans cover (children may overlap one another).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children, start, end)

  /** Share of attempted ops that failed; 0 when nothing was attempted. */
  def failedRatio(attempted: Long, failed: Long): Double =
    if (attempted <= 0) 0.0 else failed.toDouble / attempted
}
