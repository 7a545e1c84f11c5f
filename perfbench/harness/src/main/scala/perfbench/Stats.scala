package perfbench

/** The harness's own arithmetic: percentiles, the tail-percentile rule,
  * interval unions and span self time. Pure functions, unit-tested in
  * `StatsSpec`. */
object Stats {

  /** Linear-interpolated percentile (`p` in 0..100) of `xs` — the
    * "type 7" definition numpy and Python's `statistics` default to. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile level $p out of range")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Samples that rank strictly above the `p`-th percentile of `n`. */
  def samplesBeyond(n: Int, p: Double): Int =
    n - math.ceil(n * p / 100.0 - 1e-9).toInt

  /** The tail-percentile rule: of the candidate `levels`, the highest
    * with at least `minBeyond` samples ranking above it; None when even
    * the lowest candidate has too few. A p90 therefore needs ≥ 100
    * samples and a p75 ≥ 40. */
  def tailLevel(n: Int, levels: Seq[Double] = Seq(99, 95, 90, 75, 50),
                minBeyond: Int = 10): Option[Double] =
    levels.sorted.reverse.find(p => samplesBeyond(n, p) >= minBeyond)

  /** Total length of the union of half-open intervals `[s, e)`, each
    * first clipped to `[lo, hi)`. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double,
                  hi: Double): Double = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** A span's self time: its wall minus the time covered by its
    * children (overlaps counted once, parts outside the span ignored). */
  def selfTime(start: Double, end: Double,
               children: Seq[(Double, Double)]): Double =
    (end - start) - unionLength(children, start, end)
}
