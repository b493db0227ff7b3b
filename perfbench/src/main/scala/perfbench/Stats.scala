package perfbench

/** Order statistics and interval arithmetic shared by the workloads and
  * the tracer. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A timing's tail: the highest percentile that still has at least
    * `beyond` samples above it, i.e. the (n − beyond)-th smallest of n
    * samples, reported with the percentile it sits at and the sample
    * count. With 2·`beyond` or fewer samples that percentile would sit at
    * or below the median, so the maximum is reported instead, labelled
    * percentile 100. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= 2 * beyond) Tail(s.last, 100.0, n)
    else Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n)
  }

  /** Total length of the union of half-open intervals [start, end),
    * each first clipped to [lo, hi). */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double,
      hi: Double): Double = {
    val clipped = intervals.map { case (s, e) => (s max lo, e min hi) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
