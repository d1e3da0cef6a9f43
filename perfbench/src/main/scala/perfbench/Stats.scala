package perfbench

/** Order statistics and interval arithmetic the metrics are built from. */
object Stats {

  /** Median (the middle sample, or the mean of the two middle ones); NaN
    * for no samples. */
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile over the sorted samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile, among the candidates, that leaves at least
    * `beyond` samples strictly above its rank: with n samples, percentile p
    * is supported when n - ceil(p/100 * n) >= beyond. None when not even
    * the median is supported. */
  def tailPercentile(n: Int, beyond: Int = 10,
      candidates: Seq[Int] = Seq(99, 95, 90, 75, 50)): Option[Int] =
    candidates.sorted.reverse.find(p =>
      n - math.ceil(p / 100.0 * n).toInt >= beyond)

  /** Closed-open interval [start, end) in milliseconds. */
  final case class Iv(start: Double, end: Double) {
    def length: Double = math.max(0.0, end - start)
  }

  /** Merge overlapping or touching intervals into disjoint ones, sorted. */
  def union(ivs: Seq[Iv]): Seq[Iv] = {
    val sorted = ivs.filter(_.length > 0).sortBy(_.start)
    sorted.foldLeft(List.empty[Iv]) {
      case (last :: rest, iv) if iv.start <= last.end =>
        Iv(last.start, math.max(last.end, iv.end)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
  }

  def covered(ivs: Seq[Iv]): Double = union(ivs).map(_.length).sum

  /** Parts of `ivs` inside `window`. */
  def clip(ivs: Seq[Iv], window: Iv): Seq[Iv] =
    ivs.map(iv => Iv(math.max(iv.start, window.start),
      math.min(iv.end, window.end))).filter(_.length > 0)

  /** Parts of `ivs` not covered by `minus`. */
  def subtract(ivs: Seq[Iv], minus: Seq[Iv]): Seq[Iv] = {
    val m = union(minus)
    union(ivs).flatMap { iv =>
      val (rest, cur) = m.foldLeft((Vector.empty[Iv], iv)) {
        case ((out, c), cut) =>
          if (cut.end <= c.start || cut.start >= c.end) (out, c)
          else (out :+ Iv(c.start, cut.start), Iv(cut.end, c.end))
      }
      (rest :+ cur).filter(_.length > 0)
    }
  }

  /** Self time of a span: its length minus the part of it that its
    * children cover. Children may overlap one another (concurrent jobs);
    * overlap is counted once, and child time outside the span is ignored. */
  def selfTime(span: Iv, children: Seq[Iv]): Double =
    span.length - covered(clip(children, span))
}
