package perfbench

/** Order statistics the benchmark reports. Quartiles follow Python's
  * `statistics.quantiles(values, n=4)` (the "exclusive" method), so the
  * benchmark's own steadiness numbers and any later re-computation from the
  * raw samples agree.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Cut points dividing `xs` into `n` groups, exclusive method: position
    * i·(len+1)/n, linearly interpolated between the neighbouring order
    * statistics (extrapolated at the ends, exactly as Python does).
    */
  def quantiles(xs: Seq[Double], n: Int = 4): Seq[Double] = {
    require(xs.length >= 2, "quantiles need at least two samples")
    val s = xs.sorted
    val len = s.length
    val m = len + 1
    (1 until n).map { i =>
      val j = math.min(math.max(i * m / n, 1), len - 1)
      val delta = i * m - j * n
      (s(j - 1) * (n - delta) + s(j) * delta) / n
    }
  }

  /** The percentile ladder the tail is read from. */
  val TailLadder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest ladder percentile p with at least `minBeyond` samples
    * strictly above its nearest-rank position, or None when even the
    * median has fewer.
    */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    TailLadder.filter(p => n - nearestRank(p, n) >= minBeyond).lastOption

  /** 1-based nearest-rank index of percentile p among n samples. */
  def nearestRank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Self time of a span: its duration minus the part of [start, end)
    * covered by its children (children are clipped to the parent).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }
}
