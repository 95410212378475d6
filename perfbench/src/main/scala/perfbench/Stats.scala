package perfbench

/** Order statistics for the reported timings. */
object Stats {

  /** The nearest-rank median, ceil(n/2)-th smallest: always a measured
    * sample, and the same rank [[tail]] falls back to. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    xs.sorted.apply((xs.length + 1) / 2 - 1)
  }

  /** A tail latency: the `pct`-th percentile of `n` samples. */
  final case class Tail(pct: Int, value: Double, n: Int)

  /** The highest whole percentile that still has at least `beyond`
    * samples strictly above its nearest-rank position. With p in
    * 50..99 the nearest rank is r = ceil(p·n/100), and the rule is
    * n − r ≥ beyond. With 10 samples beyond it, a tail value is never
    * one stray sample. Below 2·`beyond` samples no percentile above the
    * median qualifies, and the tail is the median's nearest rank
    * (percentile 50), so that it never reads below the median. */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    def rank(p: Int): Int = math.max(1, (p * n + 99) / 100)
    val p = (99 to 50 by -1).find(p => n - rank(p) >= beyond).getOrElse(50)
    Tail(p, s(rank(p) - 1), n)
  }
}
