package perfbench

/** Order statistics and rates used by every reported metric. */
object Stats {

  /** Percentile `p` in [0, 100] by linear interpolation between the two
    * closest ranks (the "type 7" rule that numpy uses by default). An
    * empty sample has no percentile, so it is an error, not a 0. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0.0 && p <= 100.0, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of an empty sample")
    xs.sum / xs.length
  }

  /** `count` units of work done in `nanos` of measured time, per second. */
  def perSecond(count: Long, nanos: Long): Double = {
    require(nanos > 0L, s"rate over a non-positive interval ($nanos ns)")
    count.toDouble * 1e9 / nanos.toDouble
  }

  /** Least-squares slope of y over x; 0 when x does not vary. */
  def slope(points: Seq[(Double, Double)]): Double = {
    if (points.length < 2) return 0.0
    val mx = mean(points.map(_._1))
    val my = mean(points.map(_._2))
    val sxx = points.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (sxx == 0.0) 0.0
    else points.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }

  def ms(nanos: Long): Double = nanos / 1e6
}
