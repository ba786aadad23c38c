package perfbench

/** Small numeric helpers shared by the workloads and the self-tests. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest value with at least `p`% of
    * the sample at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  /** Values strictly beyond the nearest-rank `p`-th percentile. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100 * n).toInt

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Which commit covers each event. A sync's last pass over the API
    * before its commit is the one its write read; the event is covered by
    * the first commit whose last pass started after the event's change
    * set was applied. `passStarts` and `commits` are sorted times on one
    * clock; returns, per event, the index into `commits` or None. */
  def coveringCommit(applied: Seq[Long], passStarts: Seq[Long],
                     commits: Seq[Long]): Seq[Option[Int]] = {
    val lastPass: IndexedSeq[Option[Long]] = commits.indices.map { j =>
      val lo = if (j == 0) Long.MinValue else commits(j - 1)
      passStarts.filter(p => p > lo && p < commits(j)).lastOption
    }
    applied.map { a =>
      commits.indices.find(j => lastPass(j).exists(_ > a))
    }
  }
}
