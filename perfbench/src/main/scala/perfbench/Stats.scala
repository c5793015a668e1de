package perfbench

/** Pure helpers behind the reported numbers: medians, the tail rule and
  * span self time. Kept free of Spark so the unit tests exercise the
  * exact code the benchmark reports with. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentiles the tail rule may pick, highest first. */
  val TailGrid: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Nearest-rank tail: the highest percentile p in [[TailGrid]] whose
    * value still has at least `minBeyond` samples strictly ranked above
    * it. Returns (p, value, samples beyond), or None when even the
    * median would leave fewer than `minBeyond` samples beyond it. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double, Int)] = {
    val s = xs.sorted
    val n = s.length
    TailGrid.iterator.map { p =>
      val rank = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
      (p, rank)
    }.collectFirst { case (p, rank) if n - rank >= minBeyond =>
      (p, s(rank - 1), n - rank)
    }
  }

  /** Length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((a, b) <- intervals.filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a
        curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Time inside [start, end) not covered by any child span. Children are
    * clipped to the parent first; overlapping children count once. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
    (end - start) - unionLength(clipped)
  }
}
