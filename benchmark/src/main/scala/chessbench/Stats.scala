package chessbench

/** Summary statistics used by every reported metric. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail rule: the highest percentile that still has at least ten
    * samples beyond it. Returns (value, percentile, sample count), or
    * None when fewer than eleven samples exist. The value is the
    * eleventh-largest sample; its percentile is the share of samples
    * at or below it.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val s = xs.sorted
      Some((s(n - 11), 100.0 * (n - 10) / n, n))
    }
  }

  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** Metric names are letters, digits, `_`, `.` and `-`, start with a
    * letter or digit, and are at most 64 characters.
    */
  def validName(name: String): Boolean = NameRe.matches(name)
}
