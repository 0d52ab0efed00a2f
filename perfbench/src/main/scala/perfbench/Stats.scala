package perfbench

/** Order statistics over one op kind's samples. Every run of a workload
  * performs the same number of ops of each kind, so each statistic is
  * taken at the same rank in every run.
  */
object Stats {

  /** The usual median: the middle sample, or the mean of the two
    * middle samples when the count is even.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the sample at rank ceil(p/100 * n). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples strictly above the nearest-rank p-th percentile position. */
  def samplesBeyond(n: Int, p: Double): Int = n - rank(n, p)

  /** A tail percentile is reported only when at least ten samples lie
    * beyond it; with fewer it is one or two unlucky samples, not a tail.
    */
  def tailEligible(n: Int, p: Double): Boolean = samplesBeyond(n, p) >= 10

  /** The highest of the usual tail percentiles that `n` samples support,
    * if any.
    */
  def highestTail(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(tailEligible(n, _))

  /** Quartiles exactly as Python's `statistics.quantiles(xs, n=4)`
    * (the default "exclusive" method), so the spread the benchmark
    * prints matches the one its acceptance check computes.
    */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val d = xs.sorted.toIndexedSeq
    val ld = d.length
    val m = ld + 1
    def q(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (d(j - 1) * (4 - delta) + d(j) * delta) / 4.0
    }
    (q(1), q(2), q(3))
  }

  /** Total length of the union of half-open [start, end) intervals:
    * overlapping Spark jobs count once, which is what "time the
    * executors were busy for this op" means.
    */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The part of [from, to) covered by `intervals`. */
  def coveredWithin(
      intervals: Seq[(Long, Long)], from: Long, to: Long): Long =
    unionLength(intervals.map { case (s, e) =>
      (math.max(s, from), math.min(e, to))
    })
}
