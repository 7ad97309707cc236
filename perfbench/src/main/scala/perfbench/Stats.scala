package perfbench

/** Pure helpers behind the reported numbers: percentiles that carry their
  * sample count, interval unions, self time and job-to-span attribution. */
object Stats {

  /** A percentile together with the number of samples it was taken over. */
  final case class Pct(value: Double, samples: Int)

  /** Percentile `p` in [0, 100] by linear interpolation between closest
    * ranks (the same rule as numpy's default). NaN when there are no
    * samples, so an empty set can never read as a fast one. */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    if (s.isEmpty) Pct(Double.NaN, 0)
    else {
      val rank = p / 100.0 * (s.length - 1)
      val lo = math.floor(rank).toInt
      val hi = math.ceil(rank).toInt
      Pct(s(lo) + (s(hi) - s(lo)) * (rank - lo), s.length)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50).value

  /** Half-open time interval [start, end), in milliseconds. */
  final case class Interval(start: Double, end: Double) {
    def length: Double = math.max(0.0, end - start)
    def clip(to: Interval): Interval =
      Interval(math.max(start, to.start), math.min(end, to.end))
  }

  /** Total length covered by the union of `xs`: overlapping parts count once. */
  def unionLength(xs: Seq[Interval]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    for (i <- xs.filter(_.length > 0).sortBy(_.start)) {
      if (curEnd.isNaN || i.start > curEnd) {
        if (!curEnd.isNaN) total += curEnd - curStart
        curStart = i.start
        curEnd = i.end
      } else curEnd = math.max(curEnd, i.end)
    }
    if (!curEnd.isNaN) total += curEnd - curStart
    total
  }

  /** Self time of a span: its length minus the part of it that its
    * children cover. Children are clipped to the span first, so a child
    * that outlives its parent never makes self time negative. */
  def selfTime(span: Interval, children: Seq[Interval]): Double =
    span.length - unionLength(children.map(_.clip(span)))

  /** Time inside `span` covered by at least one of `jobs`. Never exceeds
    * the span's own length, however the jobs overlap or overhang it. */
  def attributedTime(span: Interval, jobs: Seq[Interval]): Double =
    unionLength(jobs.map(_.clip(span)))
}
