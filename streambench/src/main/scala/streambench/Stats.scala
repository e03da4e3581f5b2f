package streambench

/** Small numeric helpers shared by the workloads and the self-tests. */
object Stats {

  /** Percentile `q` in [0, 1] with linear interpolation between the two
    * nearest ranks (numpy's default, type 7). NaN for an empty sample. */
  def percentile(values: Array[Double], q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"percentile $q outside [0, 1]")
    if (values.isEmpty) Double.NaN
    else {
      val a = values.sorted
      val pos = q * (a.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, a.length - 1)
      a(lo) + (a(hi) - a(lo)) * (pos - lo)
    }
  }

  def percentile(values: Iterable[Double], q: Double): Double =
    percentile(values.toArray, q)

  def median(values: Iterable[Double]): Double = percentile(values, 0.5)

  /** Total length of the union of half-open intervals `[start, end)`,
    * each clipped to `[from, to)`. Used for the driver gap: wall time
    * minus the time at least one stage was active. */
  def unionLength(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
