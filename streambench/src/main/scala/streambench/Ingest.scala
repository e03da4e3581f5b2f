package streambench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import com.sun.management.{GarbageCollectorMXBean => GcBean}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SqlGateway
import graft.streaming.ClickPipeline

/** What every workload shares: the session, the run's clock and work
  * directory, its arguments, the result, and the trace recorder when
  * tracing is on. */
final class Ctx(val spark: SparkSession, val clock: Clock, val work: File,
                val benchDir: File, val seed: Long, val seconds: Int,
                val recorder: Option[Recorder]) {
  val result = new Result
  val spans = mutable.ArrayBuffer[Span]()

  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
  def path(name: String): String = new File(work, name).getPath

  def secondsSince(startNs: Long): Double = (System.nanoTime() - startNs) / 1e9

  /** Heap in use after a full collection, in MB, as the collection
    * itself reports it, so allocations racing it do not count. A first
    * collection and a pause let Spark's context cleaner release the
    * blocks of broadcasts and shuffles that are no longer referenced. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val last = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
      .collect { case g: GcBean if g.getLastGcInfo != null => g.getLastGcInfo }
      .maxBy(_.getEndTime)
    last.getMemoryUsageAfterGc.asScala.collect {
      case (pool, u) if heapPools(pool) => u.getUsed
    }.sum / 1048576.0
  }
}

/** The live click pipeline of `dashboard_live`: an open-loop paced
  * writer feeding two `ClickPipeline.startContinuous` queries at a 0 ms
  * trigger interval, the raw sink and the minute user-grain aggregate.
  * The measured window starts no earlier than `warmupMs` after the
  * writer, which is also when late events start, and the writer stops
  * at its end. */
final class LiveIngest(ctx: Ctx, rateEps: Int, warmupMs: Long) {
  import LiveIngest._

  private val spark = ctx.spark
  private val src = ctx.dir("src")
  private val staging = ctx.dir("staging")
  val rawDir: File = new File(ctx.work, "raw")
  private val aggDir = ctx.path("agg")
  private val stream = new ClickStream(ctx.seed, Mixture)
  private val watcher = new SinkWatcher(rawDir)
  var raw: StreamingQuery = _
  var agg: StreamingQuery = _
  var writer: PacedWriter = _
  var windowStartNs = 0L
  var windowEndNs = 0L

  def windowSeconds: Double = (windowEndNs - windowStartNs) / 1e9

  def start(): Unit = {
    raw = ClickPipeline.startContinuous(
      ClickPipeline.fromJsonDir(spark, src.getPath), rawDir.getPath, ctx.path("ck/raw"), "0 seconds")
    agg = ClickPipeline.startContinuous(
      ClickPipeline.minuteUserGrain(ClickPipeline.withEventTime(
        ClickPipeline.fromJsonDir(spark, src.getPath))),
      aggDir, ctx.path("ck/agg"), "0 seconds")
    watcher.start()
    val t0 = System.nanoTime() + 100000000L
    windowStartNs = t0 + warmupMs * 1000000L
    val skew = Math.floorMod(ctx.clock.epochMs(t0) - StartPhaseMs, 60000L)
    writer = new PacedWriter(stream, ctx.clock, src, staging, rateEps, TickMs,
      t0, windowStartNs, Long.MaxValue, skew)
    writer.start()
  }

  /** Starts the measured window at `ns`, or when the warm-up ends. */
  def startWindow(ns: Long): Unit = windowStartNs = math.max(ns, windowStartNs)

  /** Ends the measured window at `ns`; the writer stops there. */
  def endWindow(ns: Long): Unit = { windowEndNs = ns; writer.endNs = ns }

  def awaitNs(t: Long): Unit = {
    var now = System.nanoTime()
    while (now < t) { Thread.sleep(math.max(1L, (t - now) / 1000000L)); now = System.nanoTime() }
  }

  /** After the window: once both queries have drained what was sent,
    * take the retained heap (the open windows' state still held); then
    * send the flush event, wait until the watermark has closed every
    * window, stop the queries, check the sinks and derive the metrics. */
  def finish(): Unit = {
    writer.join()
    val r = ctx.result
    waitUntil(60000L, "the queries to drain the measured window") {
      Seq(raw, agg).forall(q => !q.status.isDataAvailable && !q.status.isTriggerActive) &&
        watcher.visibleNs.values.asScala.exists(_ > writer.fileTimesNs.asScala.last)
    }
    r.set("retained_heap_mb", ctx.retainedHeapMb())
    val flush = stream.flush(writer.nextSeq, writer.lastTsMs)
    ClickStream.writeFile(staging, src, "flush.json", Iterator(flush.line))
    val flushNs = System.nanoTime()
    val target = flush.tsMs - 10000L
    waitUntil(60000L, "the raw sink to take the flush event") {
      watcher.visibleNs.values.asScala.exists(_ > flushNs) &&
        !raw.status.isDataAvailable && !raw.status.isTriggerActive
    }
    waitUntil(60000L, "the watermark to close every window") {
      agg.recentProgress.exists(p => p.numInputRows == 0 && watermarkMs(p) >= target)
    }
    ClickPipeline.stopWhenIdle(raw)
    ClickPipeline.stopWhenIdle(agg)
    watcher.halt()

    val counts = writer.counts
    r.set("loadgen.events_sent", writer.nextSeq.toDouble)
    r.set("loadgen.malformed_sent", counts(Kind.Malformed).toDouble)
    r.set("loadgen.late_sent", counts(Kind.Late).toDouble)
    r.set("loadgen.late_ms_max", writer.lateNsMax / 1e6)

    val sent = mutable.HashMap[String, Click]()
    val fresh = new ClickStream(ctx.seed, Mixture)
    val oracle = Oracle.minuteAgg(writer.replay(fresh).map { c =>
      if (c.kind != Kind.Malformed) sent(c.eventId) = c
      c
    })
    val f2 = fresh.flush(writer.nextSeq, writer.lastTsMs)
    sent(f2.eventId) = f2

    val visibleNs = watcher.visibleNs.asScala.map { case (b, t) => b -> t.longValue }.toMap
    val checked = checkRaw(spark, rawDir.getPath, sent, visibleNs, r)
    val latencies = mutable.ArrayBuffer[Double]()
    val createdLat = mutable.ArrayBuffer[Double]()
    val stampToVisible = mutable.ArrayBuffer[Double]()
    checked.foreach { case (c, batch, createdMs) =>
      val due = writer.dueNs(c.seq)
      if (c.kind != Kind.Flush && due >= windowStartNs && due < windowEndNs) {
        val vis = visibleNs(batch)
        latencies += (vis - due) / 1e6
        if (c.kind == Kind.OnTime) {
          createdLat += (createdMs - c.tsMs - writer.skewMs).toDouble
          stampToVisible += (ctx.clock.epochMs(vis) - createdMs).toDouble
        }
      }
    }
    r.set("event_latency_p50_ms", Stats.percentile(latencies, 0.5))
    r.set("event_latency_p90_ms", Stats.percentile(latencies, 0.9))
    r.set("clickpipeline.raw.event_latency_p99_ms", Stats.percentile(latencies, 0.99))
    r.set("replay_eps", latencies.size / windowSeconds)
    r.set("clickpipeline.raw.created_at_latency_p50_ms", Stats.median(createdLat))
    r.set("clickpipeline.raw.stamp_to_visible_ms_p50", Stats.median(stampToVisible))

    val rawInput = raw.recentProgress.map(_.numInputRows).sum
    val parseDropped = rawInput - checked.size
    r.set("clickpipeline.parse_dropped_rows", parseDropped.toDouble)
    r.check("malformed lines dropped by the parser", counts(Kind.Malformed),
      math.abs(parseDropped - counts(Kind.Malformed)))
    val dropped = agg.recentProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    r.set("clickpipeline.agg.rows_dropped_by_watermark", dropped.toDouble)
    r.check("late events dropped by the watermark", counts(Kind.Late),
      math.abs(dropped - counts(Kind.Late)))
    checkAgg(spark, aggDir, oracle, r)
  }
}

object LiveIngest {
  /** 2% out-of-order inside the watermark, 0.1% late beyond it (only
    * once the measured window starts), 0.1% malformed lines. */
  val Mixture: Mix = Mix(outOfOrder = 0.02, late = 0.001, malformed = 0.001)
  /** One file a second: the 0 ms-trigger queries then idle between
    * slices instead of running back to back, as a low-rate feed does. */
  val TickMs = 1000
  /** The event-time second of the minute at which generation starts: a
    * minute window closes during the warm-up and the watermark evicts it
    * 12 s after the start, early in the measured window (which starts
    * 4 s after the start and lasts at least `--seconds`), so the
    * retained heap is always taken after that eviction. */
  val StartPhaseMs = 58000L

  def watermarkMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark"))
      .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(Long.MinValue)

  def waitUntil(timeoutMs: Long, what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!cond) {
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(20)
    }
  }

  /** Checks that every event of `sent` is in the raw sink exactly once
    * with the fields it was sent with, and nothing else is. Returns the
    * matched events with their sink batch and `created_at` (epoch ms). */
  def checkRaw(spark: SparkSession, dir: String, sent: mutable.HashMap[String, Click],
               visibleNs: Map[Int, Long], r: Result): Seq[(Click, Int, Long)] = {
    val expected = sent.size.toLong
    val out = mutable.ArrayBuffer[(Click, Int, Long)]()
    var bad = 0L
    spark.read.parquet(dir)
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")), col("page"),
        col("referrer"), col("country"), col("device"), unix_millis(col("created_at")),
        col("batch"))
      .toLocalIterator().asScala.foreach { row =>
        sent.remove(row.getString(0)) match {
          case Some(c) if c.userId == row.getString(1) && c.tsMs == row.getLong(2) &&
              c.page == row.getString(3) && c.referrer == row.getString(4) &&
              c.country == row.getString(5) && c.device == row.getString(6) &&
              visibleNs.contains(row.getInt(8)) =>
            out += ((c, row.getInt(8), row.getLong(7)))
          case _ => bad += 1
        }
      }
    r.check("sent events visible exactly once in the raw sink", expected, bad + sent.size)
    out.toSeq
  }

  /** Checks the finalized minute aggregate against the oracle. */
  def checkAgg(spark: SparkSession, dir: String, oracle: Map[Oracle.AggKey, Oracle.AggVal],
               r: Result): Seq[(Oracle.AggKey, Oracle.AggVal)] = {
    val got = ClickPipeline.minuteAggFromUserGrain(spark.read.parquet(dir))
      .select(unix_millis(col("window_start")), col("page"), col("country"),
        col("cnt"), col("unique_users"))
      .collect().map(x => Oracle.AggKey(x.getLong(0), x.getString(1), x.getString(2)) ->
        Oracle.AggVal(x.getLong(3), x.getLong(4))).toSeq
    val gotMap = got.toMap
    val wrong = oracle.count { case (k, v) => !gotMap.get(k).contains(v) } +
      got.count { case (k, _) => !oracle.contains(k) } + (got.size - gotMap.size)
    r.check("minute aggregate equals the independent computation", oracle.size, wrong)
    got
  }
}

/** The monitoring scrape of `backfill_replay`: one closed-loop client
  * reading the gateway's Prometheus `/metrics`, the operator's health
  * check, until `untilNs`. Each answer must show the
  * streaming micro-batch counter alive and never going back. */
final class MetricsScrape extends Request {
  private val batches = """(?m)^graft_stream_micro_batches_total (\d+)$""".r
  private var last = 0L
  @volatile var untilNs: Long = Long.MaxValue
  def kind = "metrics"
  def name = "scrape"
  def path = "/metrics"
  override def isGet = true
  def body(id: Long) = ""
  def check(body: String): Boolean =
    batches.findFirstMatchIn(body).map(_.group(1).toLong).exists { n =>
      val ok = n >= math.max(last, 1L)
      last = n
      ok
    }
}

object MetricsScrape {
  val ThinkMs = 100L

  /** Serves a gateway, before the queries start so that its streaming
    * listener sees every batch, and a scrape client of it. */
  def start(ctx: Ctx): (SqlGateway.Gateway, MetricsScrape, ClosedLoopClient) = {
    val gw = SqlGateway.serve(ctx.spark, 0)
    val scrape = new MetricsScrape
    val next = () => if (System.nanoTime() < scrape.untilNs) Some(scrape) else None
    (gw, scrape, new ClosedLoopClient(0, gw.port, new AtomicLong(0), next, ThinkMs))
  }
}
