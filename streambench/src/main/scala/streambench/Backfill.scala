package streambench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.streaming.{AnomalyDetector, ClickPipeline}

/** `backfill_replay`: catch-up after an outage. A seeded backlog spanning
  * hours of event time is staged untimed; each measured pass is the
  * reference's whole job as one bounded `AvailableNow` replay: the raw
  * sink and parse → watermark → minute user-grain in parallel, then the
  * finalizing rollup and the anomaly detector over its minute rows. */
object Backfill {
  val Events = 150000
  val Hours = 3
  val Files = 16
  /** 2024-03-01T00:00:00Z: the backlog's event time is fixed, not wall time. */
  val BaseMs = 1709251200000L
  val Mixture: Mix = Mix(outOfOrder = 0.02, late = 0.0, malformed = 0.001)
  /** Late events that arrive after the catch-up, on the last pass's checkpoints. */
  val Stragglers = 40

  private final case class Pass(startNs: Long, rollupNs: Long, detectNs: Long, endNs: Long,
                                agg: Seq[(Oracle.AggKey, Oracle.AggVal)],
                                anomalies: Seq[AnomalyDetector.AnomalyRow],
                                visibleNs: Map[Int, Long], rawDir: String, aggDir: String,
                                ckRaw: String, ckAgg: String)

  private def backlog(seed: Long): (ClickStream, Iterator[Click]) = {
    val stream = new ClickStream(seed, Mixture)
    val spacing = Hours * 3600000.0 / Events
    (stream, Iterator.range(0, Events).map(i => stream.next(i, BaseMs + (i * spacing).toLong, allowLate = false)))
  }

  def run(ctx: Ctx, setupStartNs: Long): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val r = ctx.result
    val src = ctx.dir("src")
    val staging = ctx.dir("staging")

    // stage the backlog, and the oracle's answer for it
    val stageStart = System.nanoTime()
    val (stream, clicks) = backlog(ctx.seed)
    val perFile = Events / Files
    val lines = mutable.ArrayBuffer[String]()
    var lastTs = Long.MinValue
    var malformed = 0L
    val oracle = Oracle.minuteAgg(clicks.map { c =>
      if (c.kind == Kind.Malformed) malformed += 1 else lastTs = math.max(lastTs, c.tsMs)
      lines += c.line
      if (lines.size == perFile && c.seq < Events - 1) {
        ClickStream.writeFile(staging, src, f"backlog-${c.seq / perFile}%03d.json", lines.iterator)
        lines.clear()
      }
      c
    })
    val flush = stream.flush(Events, lastTs)
    lines += flush.line
    ClickStream.writeFile(staging, src, "backlog-last.json", lines.iterator)
    val fileTimesMs = Seq.fill(Files)(System.currentTimeMillis())
    val wellFormed = Events - malformed + 1
    val expectedAnomalies = Oracle.welford(oracle)
      .map(a => (a.windowStartMs, a.page, a.country) -> a).toMap
    r.set("setup.stage_s", ctx.secondsSince(stageStart))
    r.set("loadgen.events_sent", (Events + 1).toDouble)
    r.set("loadgen.malformed_sent", malformed.toDouble)

    def runPass(k: Int): Pass = {
      val rawDir = ctx.path(s"raw/pass=$k")
      val aggDir = ctx.path(s"agg/pass=$k")
      val (ckRaw, ckAgg) = (ctx.path(s"ck/raw-$k"), ctx.path(s"ck/agg-$k"))
      val watcher = new SinkWatcher(new File(rawDir))
      watcher.start()
      val t = System.nanoTime()
      replay(ctx, src.getPath, rawDir, aggDir, ckRaw, ckAgg)
      val tRoll = System.nanoTime()
      val rollup = ClickPipeline.minuteAggFromUserGrain(spark.read.parquet(aggDir)).cache()
      val agg = rollup.select(unix_millis(col("window_start")), col("page"), col("country"),
          col("cnt"), col("unique_users")).collect()
        .map(x => Oracle.AggKey(x.getLong(0), x.getString(1), x.getString(2)) ->
          Oracle.AggVal(x.getLong(3), x.getLong(4))).toSeq
      val tDetect = System.nanoTime()
      val anomalies = AnomalyDetector.detect(rollup
        .select(unix_millis(col("window_start")).as("window_start_ms"), col("page"),
          col("country"), col("cnt"))
        .as[AnomalyDetector.AggRow]).collect().toSeq
      val tEnd = System.nanoTime()
      rollup.unpersist()
      watcher.halt()
      Pass(t, tRoll, tDetect, tEnd, agg, anomalies,
        watcher.visibleNs.asScala.map { case (b, v) => b -> v.longValue }.toMap,
        rawDir, aggDir, ckRaw, ckAgg)
    }

    // check one pass: its raw row count (the last pass's raw sink is
    // checked event by event below), minute aggregate and anomalies, and
    // collect its events' latencies (backlog ready → batch visible)
    val passLatencies = mutable.ArrayBuffer[mutable.ArrayBuffer[Double]]()
    def checkPass(p: Pass): Unit = {
      val latencies = mutable.ArrayBuffer[Double]()
      passLatencies += latencies
      val perBatch = spark.read.parquet(p.rawDir).groupBy("batch").count().collect()
      val rows = perBatch.map(_.getLong(1)).sum
      r.check("backlog events in the raw sink", wellFormed, math.abs(wellFormed - rows))
      r.check("malformed lines dropped by the parser", malformed,
        math.abs(Events + 1 - rows - malformed))
      r.check("raw batches seen committed", perBatch.length,
        perBatch.count(b => !p.visibleNs.contains(b.getInt(0))))
      perBatch.foreach { b =>
        p.visibleNs.get(b.getInt(0)).foreach { v =>
          latencies ++= Iterator.fill(b.getLong(1).toInt)((v - p.startNs) / 1e6)
        }
      }
      val got = p.agg.toMap
      r.check("minute aggregate equals the independent computation", oracle.size,
        oracle.count { case (k, v) => !got.get(k).contains(v) } +
          p.agg.count { case (k, _) => !oracle.contains(k) })
      val wrong = p.anomalies.count { a =>
        expectedAnomalies.get((a.window_start_ms, a.page, a.country)).forall { e =>
          e.cnt != a.cnt || e.n != a.n || !Oracle.close(e.mean, a.mean) ||
            !Oracle.close(e.zScore, a.z_score) ||
            (e.isAnomaly != a.is_anomaly && math.abs(e.zScore - 2.5) > 1e-9)
        }
      }
      r.check("anomaly rows equal the independent Welford computation", expectedAnomalies.size,
        wrong + math.abs(expectedAnomalies.size - p.anomalies.size))
    }

    // warm-up: one whole untimed pass, so the measured passes start warm;
    // the monitoring scrape runs through the measured passes
    val (gw, scrape, poll) = MetricsScrape.start(ctx)
    val warm = runPass(0)
    r.set("setup.warmup_s", (warm.endNs - warm.startNs) / 1e9)
    r.check("warm-up pass produced minute rows", 1, if (warm.agg.nonEmpty) 0 else 1)
    // taken after the warm-up pass, its queries stopped and their state
    // still loaded: a stopped pass keeps its state loaded until the state
    // store's maintenance unloads it, so after the measured passes the
    // heap would grow with the number of passes the window happened to hold
    r.set("retained_heap_mb", ctx.retainedHeapMb())

    val windowStart = System.nanoTime()
    val windowEnd = windowStart + ctx.seconds * 1000000000L
    r.set("setup_s", (windowStart - setupStartNs) / 1e9)
    poll.start()
    val passes = mutable.ArrayBuffer[Pass]()
    do passes += runPass(passes.size + 1) while (System.nanoTime() < windowEnd)
    val measuredEnd = System.nanoTime()
    scrape.untilNs = measuredEnd
    poll.join()
    gw.stop()

    passes.foreach(checkPass)
    r.set("replay_eps", Stats.median(passes.map(p => wellFormed / ((p.endNs - p.startNs) / 1e9))))
    // a pass's events become visible in one or a few raw batches, so a
    // percentile pooled over the passes is set by the slowest of a few
    // passes: take each pass's percentile and the median over passes
    def overPasses(q: Double): Double = Stats.median(passLatencies.map(Stats.percentile(_, q)))
    r.set("event_latency_p50_ms", overPasses(0.5))
    r.set("event_latency_p90_ms", overPasses(0.9))
    r.set("clickpipeline.raw.event_latency_p99_ms", overPasses(0.99))
    r.set("clickpipeline.rollup_s", Stats.median(passes.map(p => (p.detectNs - p.rollupNs) / 1e9)))
    r.set("anomalydetector.s", Stats.median(passes.map(p => (p.endNs - p.detectNs) / 1e9)))
    r.set("anomalydetector.state_rows",
      passes.last.anomalies.map(a => (a.page, a.country)).distinct.size.toDouble)
    r.set("clickpipeline.parse_dropped_rows", malformed.toDouble)
    Requests.report(ctx, poll.replies.toSeq, windowStart, measuredEnd)

    // stragglers: late events after the catch-up, replayed on the last
    // pass's checkpoints, whose restored watermark must drop all of them
    val last = passes.last
    val late = new ClickStream(ctx.seed + 1, Mix(outOfOrder = 0.0, late = 1.0, malformed = 0.0))
    val lateClicks = (0 until Stragglers).map(i => late.next(Events + 1 + i, lastTs, allowLate = true))
    ClickStream.writeFile(staging, src, "stragglers.json", lateClicks.iterator.map(_.line))
    val lateStart = System.currentTimeMillis()
    val watcher = new SinkWatcher(new File(last.rawDir))
    watcher.start()
    replay(ctx, src.getPath, last.rawDir, last.aggDir, last.ckRaw, last.ckAgg)
    watcher.halt()
    r.set("loadgen.late_sent", Stragglers.toDouble)

    val sent = mutable.HashMap[String, Click]()
    backlog(ctx.seed) match { case (s2, cs) =>
      cs.foreach(c => if (c.kind != Kind.Malformed) sent(c.eventId) = c)
      val f2 = s2.flush(Events, lastTs)
      sent(f2.eventId) = f2
    }
    lateClicks.foreach(c => sent(c.eventId) = c)
    LiveIngest.checkRaw(spark, last.rawDir, sent,
      watcher.visibleNs.asScala.map { case (b, v) => b -> v.longValue }.toMap, r)
    LiveIngest.checkAgg(spark, last.aggDir, oracle, r)

    ctx.recorder.foreach { rec =>
      rec.drain()
      val dropped = rec.progress.asScala.filter(p =>
        Recorder.progressStartMs(p) >= lateStart && p.stateOperators.nonEmpty)
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      r.set("clickpipeline.agg.rows_dropped_by_watermark", dropped.toDouble)
      r.check("late events dropped by the watermark", Stragglers, math.abs(dropped - Stragglers))
      val (from, to) = (ctx.clock.epochMs(windowStart), ctx.clock.epochMs(measuredEnd))
      Layers.pipeline(ctx, "raw", _.stateOperators.isEmpty, from, to, fileTimesMs)
      Layers.pipeline(ctx, "agg", _.stateOperators.nonEmpty, from, to, fileTimesMs)
      Layers.engine(ctx, from, to)
    }
  }

  /** One bounded replay of the source into both sinks, run concurrently
    * as the reference job runs both sinks from one source. */
  private def replay(ctx: Ctx, src: String, rawDir: String, aggDir: String,
                     ckRaw: String, ckAgg: String): Unit = {
    val spark = ctx.spark
    val aggJob = new Thread(() => ClickPipeline.runAppendParquet(
      ClickPipeline.minuteUserGrain(ClickPipeline.withEventTime(
        ClickPipeline.fromJsonDir(spark, src))), aggDir, ckAgg))
    var failure: Throwable = null
    aggJob.setUncaughtExceptionHandler((_, e) => failure = e)
    aggJob.start()
    ClickPipeline.runAppendParquet(ClickPipeline.fromJsonDir(spark, src), rawDir, ckRaw)
    aggJob.join()
    if (failure != null) throw failure
  }
}
