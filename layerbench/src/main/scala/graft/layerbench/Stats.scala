package graft.layerbench

/** Order statistics the benchmark reports. Quartiles follow Python's
  * `statistics.quantiles(xs, n=4)` (the default "exclusive" method), so a
  * spread computed here matches one computed from the printed values. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (q1, q2, q3); needs at least two samples, as Python's does. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.size >= 2, "quartiles need at least two samples")
    val s = xs.sorted.toIndexedSeq
    val m = s.size + 1
    def q(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), s.size - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (q(1), q(2), q(3))
  }

  /** The tail sample: the highest percentile that still has at least
    * `beyond` samples above it. `percentile` names it (share of samples at
    * or below it, in percent). Below `2 * beyond + 2` samples that rule
    * lands at or under the median, so `value` is then the maximum and
    * `defined` is false. */
  final case class Tail(value: Double, percentile: Double, samples: Int,
      beyondCount: Int) {
    def defined: Boolean = beyondCount >= Tail.MinBeyond
    def label: String =
      if (defined) f"p$percentile%.1f ($beyondCount of $samples samples beyond it)"
      else s"the maximum (only $samples samples; the rule needs ${2 * Tail.MinBeyond + 2})"
  }
  object Tail { val MinBeyond = 10 }

  def tail(xs: Seq[Double], beyond: Int = Tail.MinBeyond): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= 2 * beyond + 1) Tail(s.last, 100.0, n, 0)
    else {
      val k = n - 1 - beyond
      Tail(s(k), 100.0 * (k + 1) / n, n, beyond)
    }
  }

  def failedShare(failed: Long, attempted: Long): Double = {
    require(attempted > 0, "no operation attempted")
    require(failed >= 0 && failed <= attempted, s"failed=$failed of $attempted")
    failed.toDouble / attempted
  }
}
