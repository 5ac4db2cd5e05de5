package perfbench

import org.apache.commons.math3.distribution.BetaDistribution
import org.apache.commons.math3.random.RandomGenerator

/** Order statistics and the result line's JSON encoding. */
object Stats {

  /** Linearly interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Harrell-Davis estimate of the `p`th percentile: a Beta-weighted
    * mean of every order statistic. On a sample made of a few clusters
    * (14 queries of different cost, or acks after one poll or two) it
    * moves smoothly where the plain order statistic jumps from one
    * cluster to the next.
    */
  def hd(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val n = s.length
    val q = p / 100.0
    val beta = new BetaDistribution(null: RandomGenerator, (n + 1) * q, (n + 1) * (1 - q))
    var cdf = 0.0
    var acc = 0.0
    for (i <- 1 to n) {
      val next = beta.cumulativeProbability(i.toDouble / n)
      acc += (next - cdf) * s(i - 1)
      cdf = next
    }
    acc
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** The highest percentile of the ladder with at least ten samples
    * beyond it — the tail a sample of size `n` can actually resolve.
    * Falls back to the median for tiny samples.
    */
  def resolvableTail(n: Int): Double =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => n * (100 - p) / 100.0 >= 10).getOrElse(50.0)

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.lang.Double.toString(v)
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
