package perfbench

import java.security.MessageDigest

/** Pure arithmetic the benchmark reports through; no Spark here. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency: the `pct`-th percentile (nearest rank) of `n` samples,
    * with `beyond` samples strictly above its rank.
    */
  final case class Tail(pct: Int, value: Double, n: Int, beyond: Int)

  /** The highest whole percentile that still has at least `minBeyond`
    * samples beyond it, so a tail is never read off a handful of calls.
    * None when there are too few samples for any percentile from p50 up.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val s = xs.sorted
    val n = s.size
    (99 to 50 by -1).iterator.map { p =>
      val rank = math.max(1, math.ceil(p * n / 100.0).toInt)
      (p, rank, n - rank)
    }.collectFirst { case (p, rank, beyond) if beyond >= minBeyond =>
      Tail(p, s(rank - 1), n, beyond)
    }
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of [start, end) that
    * its children (or its jobs) cover; overlapping children count once and
    * the parts of children outside the span do not count.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })

  def sha256Hex(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
