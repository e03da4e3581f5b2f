package streambench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

final case class JobRec(id: Int, startMs: Long, group: String, desc: String,
                        queryId: String, batchId: String, stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final case class StageRec(id: Int, jobId: Int, submitMs: Long, endMs: Long,
                          tasks: Int, runMs: Long, cpuMs: Double, gcMs: Long,
                          shuffleRead: Long, shuffleWrite: Long, spill: Long)

/** A traced interval. `parent` names the span that caused it; spans of
  * one gateway request share `req`. Times are epoch ms. */
final case class Span(id: String, name: String, startMs: Long, endMs: Long,
                      parent: String, req: String)

/** The traced run's recorders: a `SparkListener` for jobs and stages and
  * a `StreamingQueryListener` for trigger progress. Everything is kept
  * in memory and read after the measured window ends. */
final class Recorder {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  @volatile private var lastEventNs = System.nanoTime()

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventNs = System.nanoTime()
      val p = e.properties
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, JobRec(e.jobId, e.time, prop(p, "spark.jobGroup.id"),
        prop(p, "spark.job.description"), prop(p, "sql.streaming.queryId"),
        prop(p, "streaming.sql.batchId"), e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventNs = System.nanoTime()
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEventNs = System.nanoTime()
      val i = e.stageInfo
      val m = i.taskMetrics
      val (run, cpu, gc, shR, shW, spill) =
        if (m == null) (0L, 0.0, 0L, 0L, 0L, 0L)
        else (m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      val submit = i.submissionTime.getOrElse(-1L)
      val end = i.completionTime.getOrElse(submit)
      stages.add(StageRec(i.stageId, stageJob.getOrDefault(i.stageId, -1), submit, end,
        i.numTasks, run, cpu, gc, shR, shW, spill))
    }
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      lastEventNs = System.nanoTime()
      progress.add(e.progress)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  /** Waits until the asynchronous listener bus has been quiet for
    * 300 ms, so the records include every event posted so far. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  def detach(spark: SparkSession): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  /** Stage-active intervals of the stages that completed. */
  def stageIntervals: Seq[(Long, Long)] =
    stages.asScala.toSeq.filter(_.submitMs >= 0).map(s => (s.submitMs, s.endMs))

  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter(j => j.startMs >= fromMs && j.startMs < toMs)
}

object Recorder {
  def progressStartMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli

  def triggerMs(p: StreamingQueryProgress): Long =
    Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  /** The trigger phases in the order the micro-batch runs them. */
  val Phases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Spans of one trigger: the trigger itself and its phases laid end to
    * end in execution order (Spark reports phase durations only). */
  def triggerSpans(query: String, queryId: String, p: StreamingQueryProgress): Seq[Span] = {
    val start = progressStartMs(p)
    val id = s"trigger:$queryId:${p.batchId}"
    var at = start
    Span(id, s"clickpipeline.$query.trigger", start, start + triggerMs(p), s"query:$query", "") +:
      Phases.flatMap { ph =>
        Option(p.durationMs.get(ph)).map { d =>
          val s = Span(s"$id:$ph", s"clickpipeline.$query.$ph", at, at + d.longValue, id, "")
          at += d.longValue
          s
        }
      }
  }

  /** Writes spans as one JSON array. */
  def writeSpans(spans: Seq[Span], file: File): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val body = spans.map { s =>
      s"""{"id":${q(s.id)},"name":${q(s.name)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"parent":${q(s.parent)},"req":${q(s.req)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    file.getParentFile.mkdirs()
    Files.write(file.toPath, body.getBytes(UTF_8))
  }
}
