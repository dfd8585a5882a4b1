package perfbench

/** Summary statistics shared by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency and how it was taken. */
  case class Tail(value: Double, percentile: Double, n: Int)

  /** The highest percentile that still has at least `beyond` samples
    * above it: the sample at rank `n - beyond` (1-based) of the sorted
    * samples, i.e. percentile `100 * (n - beyond) / n`. With no more than
    * `beyond` samples no percentile qualifies, and the maximum is given
    * as percentile 100, so the stated n shows how thin the tail is. */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n <= beyond) Tail(s.last, 100.0, n)
    else Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n)
  }

  /** Metric names the result line may carry. */
  val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  def validName(name: String): Boolean = NameRe.matches(name)
}
