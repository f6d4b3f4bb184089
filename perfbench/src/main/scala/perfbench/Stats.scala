package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Linearly interpolated quantile (the "type 7" rule), `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile that still has at least `beyond`
    * samples above it: the largest p with n·(1 − p/100) ≥ beyond. The
    * median is always reported, so a result under 50 is `None`.
    */
  def supportedPercentile(n: Int, beyond: Int = 10): Option[Int] =
    if (n <= beyond) None
    else Some((100 * (n - beyond)) / n).filter(_ >= 50)

  /** Failed calls over attempted calls; a call fails when it throws or
    * when its output check rejects it.
    */
  def failRatio(outcomes: Seq[Outcome]): Double =
    if (outcomes.isEmpty) 0.0
    else outcomes.count(!_.ok).toDouble / outcomes.size
}

/** One attempted call: `error` holds the exception or the failed check. */
final case class Outcome(call: String, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}
