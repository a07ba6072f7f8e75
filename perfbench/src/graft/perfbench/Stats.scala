package graft.perfbench

/** Summary statistics used by every metric of the benchmark. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(rank, 1) - 1)
  }

  /** The highest of the usual tail percentiles that still has at least
    * ten samples beyond it, or None when there are too few samples for
    * any tail above the median. */
  def supportedTail(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100.0) >= 10.0 - 1e-9)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}

/** JSON for the result record, the trace file and the pin file. */
object Json {
  val mapper: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
