package perfbench

/** Order statistics and interval arithmetic the metrics are built from. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least `p` of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile $p outside (0, 1]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** The highest percentile (in whole percent) that leaves at least
    * `beyond` samples strictly above its rank among `n` samples; the
    * workloads fix their tail percentile from this rule and their
    * expected op count. None when `n` is too small for any.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    (99 to 1 by -1).map(_ / 100.0)
      .find(p => n - math.ceil(p * n).toInt >= beyond)

  /** Closed intervals `[start, end]`, merged where they overlap. */
  def union(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Double, Double)]) {
        case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  def measure(iv: Seq[(Double, Double)]): Double =
    union(iv).map { case (a, b) => b - a }.sum

  /** `from` with every part covered by `minus` removed. */
  def subtract(from: Seq[(Double, Double)], minus: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val cut = union(minus)
    union(from).flatMap { case (a0, b0) =>
      var pieces = List((a0, b0))
      cut.foreach { case (c, d) =>
        pieces = pieces.flatMap { case (a, b) =>
          if (d <= a || c >= b) List((a, b))
          else List((a, c), (d, b)).filter { case (x, y) => y > x }
        }
      }
      pieces
    }
  }
}
