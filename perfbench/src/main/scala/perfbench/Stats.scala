package perfbench

/** Order statistics over timing samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A nearest-rank percentile and how many samples lie above it. */
  final case class Tail(percentile: Double, value: Double, beyond: Int)

  /** The highest nearest-rank percentile that still has `minBeyond`
    * samples above it, or None when there are too few samples for one. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val n = xs.length
    if (n <= minBeyond) None
    else {
      val rank = n - minBeyond // 1-based
      Some(Tail(100.0 * rank / n, xs.sorted.apply(rank - 1), minBeyond))
    }
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once). */
  def selfNanos(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent.isDefined).groupBy(_.parent.get)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }
}
