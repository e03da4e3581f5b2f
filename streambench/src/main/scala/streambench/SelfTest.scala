package streambench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Self-tests of the benchmark's own logic, run with
  * `python3 streambench/run.py --selftest`. Exits non-zero on failure. */
object SelfTest {
  private val failures = mutable.ArrayBuffer[String]()

  private def expect(what: String, ok: Boolean): Unit =
    if (!ok) { failures += what; System.err.println(s"FAIL: $what") }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def generator(): Unit = {
    def take(seed: Long) = {
      val s = new ClickStream(seed, Mix(0.02, 0.01, 0.01))
      (0 until 5000).map(i => s.next(i, 1700000000000L + i, allowLate = i > 2500))
    }
    val a = take(7)
    expect("same seed gives the same events", a == take(7))
    expect("another seed gives other events", a.map(_.line) != take(8).map(_.line))
    val ids = a.filter(_.kind != Kind.Malformed).map(_.eventId)
    expect("event ids are unique", ids.distinct.size == ids.size)
    expect("every kind is drawn", Seq(Kind.OnTime, Kind.OutOfOrder, Kind.Late, Kind.Malformed)
      .forall(k => a.exists(_.kind == k)))
    expect("late events only where allowed", a.take(2501).forall(_.kind != Kind.Late))
    expect("out-of-order events stay inside the 10 s watermark",
      a.filter(_.kind == Kind.OutOfOrder).forall(c => 1700000000000L + c.seq - c.tsMs < 10000))
    expect("late events fall in closed windows",
      a.filter(_.kind == Kind.Late).forall(c => 1700000000000L + c.seq - c.tsMs > 180000))
    val lateKeys = a.filter(_.kind == Kind.Late).map(c => (c.windowStartMs, c.page, c.country, c.userId))
    expect("late events have distinct state keys", lateKeys.distinct.size == lateKeys.size)
    expect("malformed lines are not JSON", a.filter(_.kind == Kind.Malformed).forall(!_.line.startsWith("{")))
  }

  def percentile(): Unit = {
    val xs = Array(4.0, 1.0, 3.0, 2.0)
    expect("p50 interpolates", near(Stats.percentile(xs, 0.5), 2.5))
    expect("p0 is the minimum", near(Stats.percentile(xs, 0.0), 1.0))
    expect("p100 is the maximum", near(Stats.percentile(xs, 1.0), 4.0))
    expect("p90 interpolates", near(Stats.percentile(xs, 0.9), 3.7))
    expect("one value", near(Stats.percentile(Array(5.0), 0.99), 5.0))
    expect("empty sample", Stats.percentile(Array.empty[Double], 0.5).isNaN)
  }

  def oracle(): Unit = {
    def click(seq: Long, kind: Int, user: String, ts: Long) =
      Click(seq, kind, s"e$seq", user, ts, "/", "/", "US", "mobile")
    val w0 = 1700000040000L - 1700000040000L % 60000L
    val in = Seq(
      click(0, Kind.OnTime, "u1", w0 + 1000),
      click(1, Kind.OnTime, "u1", w0 + 2000),
      click(2, Kind.OnTime, "u2", w0 + 3000),
      click(3, Kind.OutOfOrder, "u3", w0 + 500),
      click(4, Kind.Late, "u4", w0 + 700),
      click(5, Kind.Malformed, "", w0 + 800),
      click(6, Kind.OnTime, "u1", w0 + 60000),
      click(7, Kind.Flush, "u0", w0 + 240000))
    val agg = Oracle.minuteAgg(in.iterator)
    expect("out-of-order counts, late and malformed do not",
      agg == Map(Oracle.AggKey(w0, "/", "US") -> Oracle.AggVal(4, 3),
        Oracle.AggKey(w0 + 60000, "/", "US") -> Oracle.AggVal(1, 1)))

    // eight equal counts then a spike: the spike scores 8/3 against a
    // mean of 120/9, the flat prefix has zero deviation and scores 0
    val series = (0 until 9).map(i =>
      Oracle.AggKey(w0 + i * 60000L, "/", "US") -> Oracle.AggVal(if (i == 8) 40 else 10, 1)).toMap
    val rows = Oracle.welford(series).sortBy(_.windowStartMs)
    expect("flat prefix is not scored", rows.init.forall(r => r.zScore == 0.0 && !r.isAnomaly))
    expect("spike z-score", near(rows.last.zScore, 8.0 / 3.0))
    expect("spike mean", near(rows.last.mean, 120.0 / 9.0))
    expect("spike flagged", rows.last.isAnomaly && rows.last.n == 9)
    val short = Oracle.welford(series.filter(_._1.windowStartMs < w0 + 5 * 60000L))
    expect("five points are never scored", short.forall(_.zScore == 0.0))
  }

  def intervals(): Unit = {
    val iv = Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 26L))
    expect("overlaps merge", Stats.unionLength(iv, 0, 100) == 25)
    expect("clipped to the window", Stats.unionLength(iv, 8, 22) == 9)
    expect("nested intervals", Stats.unionLength(Seq((0L, 100L), (10L, 20L)), 0, 1000) == 100)
    expect("touching intervals", Stats.unionLength(Seq((0L, 5L), (5L, 9L)), 0, 100) == 9)
    expect("no intervals", Stats.unionLength(Nil, 0, 100) == 0)
  }

  def canonicalJson(): Unit = {
    expect("fields sorted, numbers to 9 digits",
      Http.canonical("""{"b":1.0000000001,"a":2,"c":"x"}""") == """{"a":2,"b":1,"c":"x"}""")
  }

  /** The metric catalogue must match BENCHMARK.json, when present. */
  def catalogue(benchDir: File): Unit = {
    val f = new File(benchDir.getParentFile, "BENCHMARK.json")
    if (f.exists()) {
      val j = Http.parse(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      def names(key: String) = j.get(key).elements.asScala.map(n =>
        (n.get("name").asText, n.get("unit").asText)).toSeq
      expect("end_to_end matches the harness", names("end_to_end") ==
        Metrics.EndToEnd.map(d => (d.name, d.unit)))
      expect("per_layer matches the harness", names("per_layer") ==
        Metrics.PerLayer.map(d => (d.name, d.unit)))
      expect("workloads match the harness",
        j.get("workloads").elements.asScala.map(_.get("name").asText).toSet == Main.Workloads.keySet)
    }
  }

  def main(args: Array[String]): Unit = {
    generator()
    percentile()
    oracle()
    intervals()
    canonicalJson()
    catalogue(new File(args.headOption.getOrElse("streambench")))
    if (failures.nonEmpty) { System.err.println(s"${failures.size} self-test(s) failed"); sys.exit(1) }
    println("self-tests passed")
  }
}
