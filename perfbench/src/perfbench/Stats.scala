package perfbench

/** Summary statistics and the open-loop rate-step rule. */
object Stats {

  /** Linear-interpolated quantile (q in [0, 1]) of an unsorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile of a sample that leaves at least `beyond`
    * samples above it, as (percentile, value), tried from a fixed ladder.
    * A sample too small for even the median to leave `beyond` samples
    * reports its median.
    */
  val TailLadder = Seq(99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)

  private def supports(n: Int, p: Double, beyond: Int) = n * (1 - p / 100) >= beyond - 1e-9

  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    val p = TailLadder.find(supports(xs.length, _, beyond)).getOrElse(50.0)
    (p, quantile(xs, p / 100))
  }

  /** The tail at a fixed percentile, so runs with slightly different
    * sample counts report the same percentile; falls back to [[tail]]
    * when the sample cannot support it.
    */
  def tailAt(xs: Seq[Double], percentile: Double): (Double, Double) =
    if (supports(xs.length, percentile, 10)) (percentile, quantile(xs, percentile / 100))
    else tail(xs)

  /** Outcome of one fixed-rate step of the open-loop schedule. */
  final case class Step(
      rate: Double,
      sent: Int,
      failed: Int,
      latenciesMs: Seq[Double],
      backlogEnd: Int
  )

  /** A step meets the latency limit when none of its requests failed,
    * its tail latency is within `sloMs`, and the backlog left when its
    * arrivals stopped is no more than `maxBacklog` requests (the queue did
    * not grow). A failed request counts as missing the limit.
    */
  def meetsSlo(s: Step, sloMs: Double, maxBacklog: Int): Boolean =
    s.failed == 0 && s.latenciesMs.nonEmpty &&
      tail(s.latenciesMs)._2 <= sloMs && s.backlogEnd <= maxBacklog

  /** Highest rate of the ascending schedule whose step, and every step
    * below it, met the limit; 0 if the lowest step already failed.
    */
  def qpsAtSlo(steps: Seq[Step], sloMs: Double, maxBacklog: Int): Double =
    steps.sortBy(_.rate).takeWhile(meetsSlo(_, sloMs, maxBacklog))
      .lastOption.map(_.rate).getOrElse(0.0)

  /** `n` arrival times in [0, seconds): one in each of `n` equal slots, at
    * a seeded uniform point of its slot. Requests arrive at the step's rate
    * whatever the replies do, and the seed moves each arrival without
    * making the bursts that would let one seed's schedule decide the tail.
    */
  def arrivals(r: scala.util.Random, n: Int, seconds: Double): Vector[Double] =
    Vector.tabulate(n)(i => (i + r.nextDouble()) * seconds / n)
}
