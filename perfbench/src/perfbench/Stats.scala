package perfbench

/** Order statistics and interval arithmetic behind every reported metric. */
object Stats {

  /** A tail percentile is only reported where at least this many samples
    * lie beyond its rank. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt))

  /** Samples strictly above the nearest rank of `p`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The percentile a tail metric aiming at `target` reports for `n`
    * samples: the target itself when at least [[MinBeyond]] samples lie
    * beyond it, else the highest percentile that still leaves that many
    * beyond — never below the median. */
  def tailPercentile(n: Int, target: Double): Double =
    if (n <= MinBeyond) 50.0
    else math.max(50.0, math.min(target, 100.0 * (n - MinBeyond) / n))

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  /** Length of the union of half-open intervals, each clipped to
    * [lo, hi). */
  def covered(lo: Long, hi: Long, ivs: Iterable[(Long, Long)]): Long = {
    val clipped = ivs.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .toArray.sortBy(_._1)
    var total = 0L
    var curStart = 0L
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd != Long.MinValue) total += curEnd - curStart
        curStart = a
        curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd != Long.MinValue) total += curEnd - curStart
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover. */
  def selfTime(lo: Long, hi: Long, children: Iterable[(Long, Long)]): Long =
    (hi - lo) - covered(lo, hi, children)

  /** Median traced latency over median untraced latency, as a percentage
    * above 100. */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else (median(traced) / median(untraced) - 1) * 100
}
