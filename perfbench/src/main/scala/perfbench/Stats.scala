package perfbench

/** Summary statistics for the benchmark's latency samples. */
object Stats {

  /** Samples that must lie strictly beyond a percentile before it is
    * reported: below this the tail is a handful of points and the number
    * moves with whichever op happened to land last. */
  val MinBeyond = 10

  /** Linear-interpolated percentile `p` in [0, 1] of `xs` (NaN if empty). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0.0 && p <= 1.0, s"percentile $p outside [0, 1]")
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Samples beyond the `p` percentile: the top (1 - p) share of `n`. */
  def beyond(n: Int, p: Double): Int = math.floor(n * (1 - p) + 1e-9).toInt

  /** The `p` percentile, only when at least [[MinBeyond]] samples lie
    * beyond it. */
  def reportable(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.nonEmpty && beyond(xs.size, p) >= MinBeyond) Some(percentile(xs, p))
    else None

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Geometric mean over kinds of each kind's median: a typical latency
    * that weighs every kind of op alike and moves smoothly when one kind
    * does, where a plain median over a few ops of mixed kinds jumps
    * between kinds. `samples` pairs each latency with its kind. */
  def kindMedianGmean(samples: Seq[(String, Double)]): Double =
    if (samples.isEmpty) Double.NaN
    else {
      val logs = samples.groupMap(_._1)(_._2).values.map(xs => math.log(median(xs.toSeq)))
      math.exp(logs.sum / logs.size)
    }

  /** Geometric mean over kinds of each kind's rows per second (its rows
    * over its time), over the kinds that consume rows. `samples` holds
    * (kind, rows, seconds) per op. */
  def kindRateGmean(samples: Seq[(String, Long, Double)]): Double = {
    val rates = samples.filter(_._2 > 0).groupBy(_._1).values
      .map(xs => xs.map(_._2).sum / xs.map(_._3).sum)
    if (rates.isEmpty) Double.NaN else math.exp(rates.map(math.log).sum / rates.size)
  }
}
