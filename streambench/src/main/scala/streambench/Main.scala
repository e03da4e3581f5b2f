package streambench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --bench-dir <dir> --work-dir <dir>`. Prints the result
  * as the last line of standard output. */
object Main {
  val Workloads: Map[String, (Ctx, Long) => Unit] = Map(
    "backfill_replay" -> Backfill.run,
    "dashboard_live" -> Dashboard.run)

  def main(args: Array[String]): Unit = {
    val setupStart = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(opts("workload"))
    val traced = opts("trace") == "1"
    val work = new File(opts("work-dir"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)

    val clock = new Clock
    val spark = GraftSession.configure(SparkSession.builder()
        .master(s"local[$cpus]").appName("streambench")
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000000"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val recorder = if (traced) Some(new Recorder) else None
    recorder.foreach(_.attach(spark))
    val ctx = new Ctx(spark, clock, work, new File(opts("bench-dir")), opts("seed").toLong,
      opts("seconds").toInt, recorder)
    ctx.result.set("setup.session_s", ctx.secondsSince(setupStart))

    workload(ctx, setupStart)

    val r = ctx.result
    recorder.foreach { rec =>
      // the traced run's own end-to-end figures, for the tracing overhead
      System.err.println(s"traced end-to-end: ${r.json(traced = false)}")
      rec.detach(spark)
      r.set("correctness.failed_share", r.failed.toDouble / math.max(1L, r.attempted))
      r.set("tracing.spans", ctx.spans.size.toDouble)
      Recorder.writeSpans(ctx.spans.toSeq,
        new File(work.getParentFile, s"traces/${opts("workload")}-seed${opts("seed")}.json"))
    }
    spark.stop()
    println(r.json(traced))
    Console.out.flush()
    sys.exit(0)
  }
}
