package streambench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics and spans of a traced run, derived from the
  * recorder after the measured window. `[fromMs, toMs)` is the window in
  * epoch ms; jobs, stages and triggers count when they start inside it. */
object Layers {

  private def p50(xs: Iterable[Double]) = Stats.percentile(xs, 0.5)

  /** The spans of all jobs, each under its trigger or request. */
  private def jobSpans(rec: Recorder, reqOf: Map[Int, Long]): Seq[Span] =
    rec.jobs.values.asScala.toSeq.flatMap { j =>
      val parent = reqOf.get(j.id).map(r => s"req:$r")
        .orElse(Option(j.queryId).filter(_.nonEmpty).map(q => s"trigger:$q:${j.batchId}"))
        .getOrElse("driver")
      Span(s"job:${j.id}", "spark.job", j.startMs, math.max(j.endMs, j.startMs), parent,
        reqOf.get(j.id).map(_.toString).getOrElse("")) +:
        rec.stages.asScala.toSeq.filter(_.jobId == j.id).map(s =>
          Span(s"stage:${s.id}", "spark.stage", s.submitMs, s.endMs, s"job:${j.id}", ""))
    }

  /** Trigger-phase, state and source metrics of one role of streaming
    * query (`raw` or `agg`); `select` picks that role's progress
    * reports, which may come from several query runs. `fileTimesMs` are
    * the times the source files appeared. */
  def pipeline(ctx: Ctx, name: String, select: StreamingQueryProgress => Boolean,
               fromMs: Long, toMs: Long, fileTimesMs: Seq[Long]): Unit = {
    val rec = ctx.recorder.get
    val r = ctx.result
    val ps = rec.progress.asScala.toSeq.filter(select).sortBy(Recorder.progressStartMs)
    val inWindow = ps.filter { p =>
      val s = Recorder.progressStartMs(p); s >= fromMs && s < toMs
    }
    def phase(key: String): Seq[Double] =
      inWindow.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue))
    val prefix = s"clickpipeline.$name"
    r.set(s"$prefix.triggers", inWindow.size.toDouble)
    r.set(s"$prefix.latest_offset_ms_p50", p50(phase("latestOffset")))
    r.set(s"$prefix.query_planning_ms_p50", p50(phase("queryPlanning")))
    r.set(s"$prefix.wal_commit_ms_p50", p50(phase("walCommit")))
    r.set(s"$prefix.commit_offsets_ms_p50", p50(phase("commitOffsets")))
    r.set(s"$prefix.add_batch_ms_p50", p50(phase("addBatch")))
    r.set(s"$prefix.trigger_ms_p50", p50(phase("triggerExecution")))
    r.set(s"$prefix.trigger_ms_p99", Stats.percentile(phase("triggerExecution"), 0.99))
    r.set(s"$prefix.rows_per_trigger_p50", p50(inWindow.map(_.numInputRows.toDouble)))

    // self time: the part of a trigger during which none of its jobs ran
    val jobsByBatch = rec.jobs.values.asScala.toSeq.groupBy(j => (j.queryId, j.batchId))
    r.set(s"$prefix.trigger_self_ms_p50", p50(inWindow.map { p =>
      val s = Recorder.progressStartMs(p)
      val e = s + Recorder.triggerMs(p)
      val busy = Stats.unionLength(jobsByBatch.getOrElse((p.id.toString, p.batchId.toString), Nil)
        .map(j => (j.startMs, math.max(j.endMs, j.startMs))), s, e)
      (e - s - busy).toDouble
    }))

    // the files that appeared since the query run's previous trigger
    // started: the backlog each trigger found waiting
    val backlog = ps.groupBy(_.id).values.flatMap { run =>
      val starts = run.map(Recorder.progressStartMs)
      starts.zipWithIndex.collect { case (s, i) if s >= fromMs && s < toMs =>
        val prev = if (i == 0) Long.MinValue else starts(i - 1)
        fileTimesMs.count(t => t >= prev && t < s).toDouble
      }
    }
    r.set(s"$prefix.source_backlog_files_max", if (backlog.isEmpty) 0.0 else backlog.max)

    if (name == "agg") {
      val ops = inWindow.flatMap(_.stateOperators)
      r.set(s"$prefix.state_commit_ms_p50", p50(ops.map(_.commitTimeMs.toDouble)))
      r.set(s"$prefix.state_rows_max", if (ops.isEmpty) 0.0 else ops.map(_.numRowsTotal).max.toDouble)
      r.set(s"$prefix.state_memory_bytes_max",
        if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes).max.toDouble)
    }
    ps.foreach(p => ctx.spans ++= Recorder.triggerSpans(name, p.id.toString, p))
  }

  /** Job, stage, task and driver-gap metrics of the whole engine. */
  def engine(ctx: Ctx, fromMs: Long, toMs: Long): Unit = {
    val rec = ctx.recorder.get
    val r = ctx.result
    val stages = rec.stages.asScala.toSeq.filter(s => s.submitMs >= fromMs && s.submitMs < toMs)
    r.set("spark.jobs", rec.jobsIn(fromMs, toMs).size.toDouble)
    r.set("spark.stages", stages.size.toDouble)
    r.set("spark.tasks", stages.map(_.tasks.toLong).sum.toDouble)
    r.set("spark.task_run_ms", stages.map(_.runMs).sum.toDouble)
    r.set("spark.task_cpu_ms", stages.map(_.cpuMs).sum)
    r.set("spark.gc_ms", stages.map(_.gcMs).sum.toDouble)
    r.set("spark.shuffle_read_bytes", stages.map(_.shuffleRead).sum.toDouble)
    r.set("spark.shuffle_write_bytes", stages.map(_.shuffleWrite).sum.toDouble)
    r.set("spark.spill_bytes", stages.map(_.spill).sum.toDouble)
    val gap = (toMs - fromMs) - Stats.unionLength(rec.stageIntervals, fromMs, toMs)
    r.set("spark.driver_gap_ms", gap.toDouble)
    r.set("spark.driver_gap_share", gap.toDouble / math.max(1L, toMs - fromMs))
  }

  /** Attributes jobs to gateway requests: `/sql` and `/search` requests
    * carry their id into the job description; an `/entries` request is
    * matched by its job group, the earliest-sent open request of that
    * entry taking the earliest new group. */
  def requestJobs(ctx: Ctx, replies: Seq[Reply]): Map[Long, Seq[JobRec]] = {
    val rec = ctx.recorder.get
    val jobs = rec.jobs.values.asScala.toSeq.sortBy(_.startMs)
    val byId = mutable.HashMap[Long, mutable.ArrayBuffer[JobRec]]()
    val tagged = """(?:bench-req=|zzbenchreq)(\d+)""".r
    jobs.foreach { j =>
      tagged.findFirstMatchIn(j.desc).foreach(m =>
        byId.getOrElseUpdate(m.group(1).toLong, mutable.ArrayBuffer()) += j)
    }
    val entryGroups = jobs.filter(_.desc.startsWith("/entries/")).groupBy(_.group)
      .toSeq.sortBy(_._2.head.startMs)
    val open = mutable.ArrayBuffer(replies.filter(_.kind == "entries").sortBy(_.sendNs): _*)
    entryGroups.foreach { case (_, js) =>
      val name = js.head.desc.stripPrefix("/entries/")
      val at = js.head.startMs
      open.find(q => q.name == name && ctx.clock.epochMs(q.sendNs) <= at &&
          at <= ctx.clock.epochMs(q.recvNs)).foreach { q =>
        open -= q
        byId(q.id) = mutable.ArrayBuffer(js: _*)
      }
    }
    byId.map { case (k, v) => k -> v.toSeq }.toMap
  }

  /** Request latency split per request kind: before its first job,
    * while its jobs ran, and after its last job ended. */
  def gateway(ctx: Ctx, replies: Seq[Reply]): Unit = {
    val r = ctx.result
    val jobsOf = requestJobs(ctx, replies)
    replies.groupBy(_.kind).foreach { case (kind, rs) =>
      val prefix = s"sqlgateway.$kind"
      r.set(s"$prefix.latency_p50_ms", p50(rs.map(_.latencyMs)))
      val split = rs.flatMap { q =>
        jobsOf.get(q.id).filter(_.nonEmpty).map { js =>
          val send = ctx.clock.epochMs(q.sendNs)
          val recv = ctx.clock.epochMs(q.recvNs)
          val first = js.map(_.startMs).min
          val last = js.map(j => math.max(j.endMs, j.startMs)).max
          (first - send, last - first, recv - last, js.size)
        }
      }
      r.set(s"$prefix.pre_exec_ms_p50", p50(split.map(_._1.toDouble)))
      r.set(s"$prefix.exec_ms_p50", p50(split.map(_._2.toDouble)))
      r.set(s"$prefix.post_exec_ms_p50", p50(split.map(_._3.toDouble)))
      r.set(s"$prefix.jobs_per_request",
        if (rs.isEmpty) 0.0 else rs.map(q => jobsOf.get(q.id).map(_.size).getOrElse(0)).sum.toDouble / rs.size)
    }
    val reqOf = jobsOf.toSeq.flatMap { case (id, js) => js.map(_.id -> id) }.toMap
    ctx.spans ++= replies.map(q => Span(s"req:${q.id}", s"sqlgateway.${q.kind}.${q.name}",
      ctx.clock.epochMs(q.sendNs), ctx.clock.epochMs(q.recvNs), s"client:${q.client}", q.id.toString))
    ctx.spans ++= jobSpans(ctx.recorder.get, reqOf)
  }
}
