package perfbench

/** The arithmetic the benchmark reports with. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples a tail percentile needs beyond it. */
  val TailMinBeyond = 10

  /** Percentiles a tail latency may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. Returns the value and its 1-based rank. */
  def nearestRank(xs: Seq[Double], p: Double): (Double, Int) = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size - 1e-9).toInt)
    (s(rank - 1), rank)
  }

  /** A tail latency is only reported where the sample supports it: the
    * highest percentile of [[TailLadder]] with at least [[TailMinBeyond]]
    * samples above its rank. Returns (percentile, value, samples beyond),
    * or None when even the median has fewer than that beyond it. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] =
    TailLadder.iterator.map { p =>
      val (v, rank) = nearestRank(xs, p)
      (p, v, xs.size - rank)
    }.find(_._3 >= TailMinBeyond)

  /** Total length covered by a set of [start, end) intervals; overlaps
    * count once and empty or inverted intervals count nothing. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE != Long.MinValue) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE != Long.MinValue) total += curE - curS
    total
  }

  /** Length of the part of `outer` that no interval of `inner` covers. */
  def uncovered(outer: (Long, Long), inner: Seq[(Long, Long)]): Long = {
    val (s, e) = outer
    val clipped = inner.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
    math.max(0L, e - s) - unionLength(clipped)
  }
}
