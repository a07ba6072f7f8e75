package graft.tools

/** The serving SLA, shared by the specs and perfbench's `speed_serve`
  * workload. */
object ServeBench {

  /** Nearest-rank p99, the percentile ServingSpec holds to [[SlaMillis]]. */
  private[graft] def p99(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s((0.99 * (s.size - 1)).round.toInt)
  }

  /** The reference's serving SLA: every analyzer ask runs under a 5 s
    * timeout (BASELINE.md / lambda-sample Endpoint ask-timeout) — a p99
    * beyond it means requests the reference would have dropped. */
  val SlaMillis = 5000.0
}
