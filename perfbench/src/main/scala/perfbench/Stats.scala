package perfbench

/** Order statistics and the result record every workload returns. */
object Stats {

  /** Linear-interpolated quantile, `q` in [0, 1]; NaN on no data. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  def ms(fromNanos: Long, toNanos: Long): Double = (toNanos - fromNanos) / 1e6
}

/** What a workload run reports. `endToEnd` and `layers` hold every metric
  * of BENCHMARK.json by name; `checks` names each correctness check and
  * whether it held. */
final case class Outcome(attempted: Long, failed: Long,
                         endToEnd: Map[String, Double],
                         layers: Map[String, Double],
                         checks: Map[String, Boolean],
                         notes: Map[String, String] = Map.empty) {
  def correct: Boolean = failed == 0 && checks.nonEmpty && checks.values.forall(identity)
}
