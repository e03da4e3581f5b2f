package streambench

import scala.collection.mutable

/** Independent reference computations the engine's outputs are checked
  * against. They share no code with the engine. */
object Oracle {

  final case class AggKey(windowStartMs: Long, page: String, country: String)
  final case class AggVal(cnt: Long, uniqueUsers: Long)

  /** The expected finalized minute aggregate (`cnt`, `unique_users` per
    * 1-minute window, page and country) over the events a run sent:
    * on-time and out-of-order events count, late events (whose window
    * the watermark has closed) and malformed lines do not, and the
    * flush event's own window never closes. */
  def minuteAgg(clicks: Iterator[Click]): Map[AggKey, AggVal] = {
    val users = mutable.HashMap[AggKey, mutable.HashSet[String]]()
    val counts = mutable.HashMap[AggKey, Long]()
    clicks.foreach { c =>
      if (c.kind == Kind.OnTime || c.kind == Kind.OutOfOrder) {
        val k = AggKey(c.windowStartMs, c.page, c.country)
        counts(k) = counts.getOrElse(k, 0L) + 1
        users.getOrElseUpdate(k, mutable.HashSet[String]()) += c.userId
      }
    }
    counts.map { case (k, n) => k -> AggVal(n, users(k).size.toLong) }.toMap
  }

  final case class Anomaly(windowStartMs: Long, page: String, country: String,
                           cnt: Long, n: Long, mean: Double, zScore: Double,
                           isAnomaly: Boolean)

  /** The reference detector's rule over each (page, country) series in
    * window order, with the textbook Welford recurrence: the window's own
    * count is folded in first, then scored against the sample standard
    * deviation; only series with more than 5 points and a non-zero
    * deviation are scored, and z > 2.5 flags an anomaly. */
  def welford(agg: Map[AggKey, AggVal]): Seq[Anomaly] =
    agg.toSeq.groupBy { case (k, _) => (k.page, k.country) }.toSeq.flatMap { case (_, rows) =>
      var n = 0L
      var mean = 0.0
      var m2 = 0.0
      rows.sortBy(_._1.windowStartMs).map { case (k, v) =>
        val x = v.cnt.toDouble
        n += 1
        val delta = x - mean
        mean += delta / n
        m2 += delta * (x - mean)
        val std = if (n > 1) math.sqrt(m2 / (n - 1)) else 0.0
        val z = if (n > 5 && std > 0) math.abs(x - mean) / std else 0.0
        Anomaly(k.windowStartMs, k.page, k.country, v.cnt, n, mean, z, z > 2.5)
      }
    }

  /** Relative closeness for doubles computed along different paths. */
  def close(a: Double, b: Double, rel: Double = 1e-9): Boolean =
    a == b || math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
