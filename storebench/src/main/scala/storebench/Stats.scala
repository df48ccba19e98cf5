package storebench

/** The summary rules every reported number goes through, kept pure so
  * StatsSpec can pin them. */
object Stats {

  /** Median of a non-empty sample (mean of the two middle values for an
    * even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail rule: the highest whole percentile `p` (1..99) whose
    * nearest-rank value still has at least `beyond` samples strictly
    * after it in sorted order. Nearest rank: the p-th percentile of n
    * sorted samples is the one at 1-based rank ceil(p·n/100).
    *
    * Returns (p, value, samples beyond it), or None when fewer than
    * `beyond + 1` samples exist (no percentile qualifies). */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double, Int)] = {
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    (99 to 1 by -1).iterator.map { p =>
      val rank = math.ceil(p * n / 100.0).toInt
      (p, rank)
    }.collectFirst {
      case (p, rank) if rank >= 1 && n - rank >= beyond =>
        (p, s(rank - 1), n - rank)
    }
  }

  /** Length of the part of [lo, hi) covered by the union of the given
    * half-open intervals — the time some job was running inside a span.
    * Intervals may overlap, nest, or stick out of the window. */
  def coveredLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
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

  /** A span's driver time: its wall minus the union of the job
    * intervals inside it (planning, driver-side work, gaps between jobs). */
  def driverMs(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long =
    (end - start) - coveredLength(jobs, start, end)

  /** recall@k of one query: the share of the reference ids the served
    * list found (reference lists shorter than k count their own size). */
  def recall(served: Seq[Long], reference: Seq[Long]): Double =
    if (reference.isEmpty) 1.0
    else served.toSet.intersect(reference.toSet).size.toDouble / reference.size
}
