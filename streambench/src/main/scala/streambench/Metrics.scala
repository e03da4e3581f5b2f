package streambench

import scala.collection.mutable

/** The benchmark's metric catalogue, in `BENCHMARK.json` order. A run
  * with tracing off prints `EndToEnd`; a traced run prints `PerLayer`. */
object Metrics {
  final case class Def(name: String, unit: String)

  val EndToEnd: Seq[Def] = Seq(
    Def("setup_s", "s"),
    Def("event_latency_p50_ms", "ms"),
    Def("event_latency_p90_ms", "ms"),
    Def("replay_eps", "events/s"),
    Def("request_latency_p50_ms", "ms"),
    Def("retained_heap_mb", "MB"))

  private def both(f: String => Seq[Def]): Seq[Def] = f("raw") ++ f("agg")

  val PerLayer: Seq[Def] =
    both(q => Seq("latest_offset", "query_planning", "wal_commit", "commit_offsets")
      .map(p => Def(s"clickpipeline.$q.${p}_ms_p50", "ms"))) ++
    Seq(Def("clickpipeline.agg.state_commit_ms_p50", "ms")) ++
    both(q => Seq(
      Def(s"clickpipeline.$q.triggers", "count"),
      Def(s"clickpipeline.$q.add_batch_ms_p50", "ms"),
      Def(s"clickpipeline.$q.trigger_ms_p50", "ms"),
      Def(s"clickpipeline.$q.trigger_ms_p99", "ms"),
      Def(s"clickpipeline.$q.trigger_self_ms_p50", "ms"),
      Def(s"clickpipeline.$q.rows_per_trigger_p50", "rows"),
      Def(s"clickpipeline.$q.source_backlog_files_max", "files"))) ++
    Seq(
      Def("clickpipeline.agg.state_rows_max", "rows"),
      Def("clickpipeline.agg.state_memory_bytes_max", "bytes"),
      Def("clickpipeline.rollup_s", "s"),
      Def("anomalydetector.s", "s"),
      Def("anomalydetector.state_rows", "rows"),
      Def("clickpipeline.parse_dropped_rows", "rows"),
      Def("clickpipeline.agg.rows_dropped_by_watermark", "rows"),
      Def("clickpipeline.raw.created_at_latency_p50_ms", "ms"),
      Def("clickpipeline.raw.event_latency_p99_ms", "ms"),
      Def("clickpipeline.raw.stamp_to_visible_ms_p50", "ms"),
      Def("spark.jobs", "count"),
      Def("spark.stages", "count"),
      Def("spark.tasks", "count"),
      Def("spark.task_run_ms", "ms"),
      Def("spark.task_cpu_ms", "ms"),
      Def("spark.gc_ms", "ms"),
      Def("spark.shuffle_read_bytes", "bytes"),
      Def("spark.shuffle_write_bytes", "bytes"),
      Def("spark.spill_bytes", "bytes"),
      Def("spark.driver_gap_ms", "ms"),
      Def("spark.driver_gap_share", "ratio")) ++
    Seq("entries", "sql", "search").flatMap(k => Seq(
      Def(s"sqlgateway.$k.latency_p50_ms", "ms"),
      Def(s"sqlgateway.$k.pre_exec_ms_p50", "ms"),
      Def(s"sqlgateway.$k.exec_ms_p50", "ms"),
      Def(s"sqlgateway.$k.post_exec_ms_p50", "ms"),
      Def(s"sqlgateway.$k.jobs_per_request", "jobs"))) ++
    Seq(Def("sqlgateway.metrics.latency_p50_ms", "ms"),
      Def("sqlgateway.request_latency_p90_ms", "ms"),
      Def("sqlgateway.requests_per_s", "req/s")) ++
    Dashboard.EntryNames.map(n => Def(s"referencequeries.${n.take(3)}.latency_p50_ms", "ms")) ++
    Seq(
      Def("similaritysearch.hybrid.latency_p50_ms", "ms"),
      Def("similaritysearch.pq.latency_p50_ms", "ms"),
      Def("loadgen.events_sent", "count"),
      Def("loadgen.malformed_sent", "count"),
      Def("loadgen.late_sent", "count"),
      Def("loadgen.late_ms_max", "ms"),
      Def("setup.session_s", "s"),
      Def("setup.warmup_s", "s"),
      Def("setup.stage_s", "s"),
      Def("setup.search_index_s", "s"),
      Def("correctness.failed_share", "ratio"),
      Def("tracing.spans", "count"))
}

/** What one run measured and checked. Metrics a workload does not
  * exercise read 0 in the traced output. */
final class Result {
  private var attemptedN = 0L
  private var failedN = 0L
  val values = mutable.LinkedHashMap[String, Double]()

  def attempted: Long = attemptedN
  def failed: Long = failedN

  /** Records `attempted` checked operations of which `failed` failed. */
  def check(what: String, attempted: Long, failed: Long): Unit = synchronized {
    attemptedN += attempted
    failedN += failed
    if (failed > 0) System.err.println(s"check failed: $what ($failed of $attempted)")
  }

  def set(name: String, v: Double): Unit = values(name) = v

  /** The result line: end-to-end metrics, or per-layer ones when traced. */
  def json(traced: Boolean): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
    val defs = if (traced) Metrics.PerLayer else Metrics.EndToEnd
    val ms = defs.map { d =>
      s""""${d.name}":{"value":${num(values.getOrElse(d.name, 0.0))},"unit":"${d.unit}"}"""
    }
    s"""{"correct":${failedN == 0 && attemptedN > 0},"attempted":${math.max(attemptedN, 1L)},""" +
      s""""failed":$failedN,"metrics":{${ms.mkString(",")}}}"""
  }
}
