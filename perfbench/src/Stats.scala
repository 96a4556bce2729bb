package perfbench

/** The benchmark's own metric arithmetic, kept free of Spark so the
  * self-tests can pin it directly.
  */
object Stats {

  /** Linear-interpolated quantile, `p` in [0, 1]. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples strictly above the nearest-rank `pct`-th percentile of `n`. */
  def beyond(n: Int, pct: Int): Int =
    n - math.max(1, math.ceil(pct / 100.0 * n).toInt)

  /** The tail percentile: the highest whole percentile with at least
    * `MinBeyond` samples beyond it. With fewer than 2·MinBeyond samples no
    * percentile above the median qualifies, and the tail falls back to the
    * median (p50); the sample count travels with the value so a reader can
    * tell.
    */
  val MinBeyond = 10

  def tailPercentile(n: Int): Int =
    (99 to 50 by -1).find(p => beyond(n, p) >= MinBeyond).getOrElse(50)

  final case class Tail(value: Double, pct: Int, n: Int, beyond: Int)

  /** Nearest-rank value at [[tailPercentile]]; at p50, the [[median]], so
    * the tail never reads below the median it is reported beside.
    */
  def tail(xs: Seq[Double]): Tail = {
    val s = xs.sorted.toIndexedSeq
    val pct = tailPercentile(s.size)
    val rank = math.max(1, math.ceil(pct / 100.0 * s.size).toInt)
    Tail(if (pct == 50) median(s) else s(rank - 1), pct, s.size, s.size - rank)
  }

  /** Length of the union of `[start, end)` intervals, clipped to
    * `[from, to)`. Feeds `idle_s`: a span's wall minus the time at least
    * one task was running inside it.
    */
  def busyUnion(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
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
}
