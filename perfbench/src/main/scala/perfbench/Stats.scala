package perfbench

/** The benchmark's own arithmetic, kept free of Spark so it can be tested
  * on plain values. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail percentile: the highest whole percentile p such that at least
    * `beyond` samples lie strictly above the p-th percentile's rank, i.e.
    * n * (100 - p) / 100 >= beyond. Returns (p, value at p by the nearest-rank
    * rule, n), or None when fewer than beyond + 1 samples exist. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double, Int)] = {
    val n = xs.size
    if (n < beyond + 1) None
    else {
      val p = (99 to 1 by -1).find(p => n.toLong * (100 - p) >= 100L * beyond).get
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * n).toInt // nearest-rank, 1-based
      Some((p, s(math.max(rank, 1) - 1), n))
    }
  }

  /** Length of the union of half-open [start, end) intervals: overlapping
    * intervals count once, never summed. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Time inside [from, to) during which none of the intervals is running. */
  def uncovered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long =
    (to - from) - unionLength(intervals.map { case (s, e) =>
      (math.max(s, from), math.min(e, to))
    })

  /** Order-independent hash of a multiset of rows, each rendered as a
    * sequence of cell strings: a sum of per-row 64-bit mixes, so row order
    * never matters while a changed, missing or repeated row does. */
  def rowHash(rows: Iterable[Seq[String]]): Long =
    rows.foldLeft(0L)((acc, r) => acc + mix64(
      scala.util.hashing.MurmurHash3.seqHash(r).toLong * 0x9e3779b97f4a7c15L +
        r.mkString("\u0001").hashCode))

  private def mix64(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
}
