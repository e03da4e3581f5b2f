package streambench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SqlGateway

/** A live dashboard panel: one of the benchmark's Spark SQL files over
  * the live raw sink. Its answer must be non-empty, carry the columns
  * the file declares (`-- columns:`) and keep the declared percentile
  * columns in order (`-- ordered:`). */
final class LiveSql(val name: String, sqlText: String, sinkRoot: String) extends Request {
  private def header(key: String): Seq[String] =
    sqlText.linesIterator.collectFirst {
      case l if l.startsWith(s"-- $key:") => l.stripPrefix(s"-- $key:").split(',').map(_.trim).toSeq
    }.getOrElse(Nil)
  private val columns = header("columns").toSet
  private val ordered = header("ordered")
  private val sql = sqlText.replace("${sink}", sinkRoot)

  def kind = "sql"
  def path = "/sql?limit=1000"
  def body(id: Long): String = s"/* bench-req=$id */ $sql"
  def check(body: String): Boolean = {
    val rows = Http.lines(body).map(Http.parse)
    rows.nonEmpty && rows.forall { n =>
      val names = mutable.Set[String]()
      n.fieldNames.forEachRemaining(f => names += f)
      names == columns &&
        ordered.map(n.get(_).asDouble).sliding(2).forall(p => p.size < 2 || p(0) <= p(1))
    }
  }
}

object LiveSql {
  def load(ctx: Ctx, name: String, sinkRoot: String): LiveSql =
    new LiveSql(name, new String(Files.readAllBytes(
      new File(ctx.benchDir, s"sql/$name.sql").toPath), UTF_8), sinkRoot)

  val Panels = Seq("latency_stats", "freshness", "top_pages")
}

/** A fixture-backed read whose answer must equal the first one the
  * gateway gave in set-up: a canned reference query served by `/entries`
  * (rows compared as a set) or a `/search` top-k (rows compared in rank
  * order). */
sealed abstract class FixtureRead extends Request {
  var expected: Seq[String] = Nil
  protected def rows(body: String): Seq[String]
  def record(body: String): Unit = expected = rows(body)
  def check(body: String): Boolean = expected.nonEmpty && rows(body) == expected
}

final class EntryRequest(val name: String) extends FixtureRead {
  def kind = "entries"
  def path = s"/entries/$name"
  def body(id: Long): String = ""
  protected def rows(body: String): Seq[String] = Http.canonicalLines(body).sorted
}

/** The request id rides as an out-of-vocabulary query token, which the
  * lexical arm cannot match and the pq route ignores. */
final class SearchRequest(val name: String, vecId: Long, text: String) extends FixtureRead {
  def kind = "search"
  def path = s"/search?mode=$name&vec_id=$vecId&k=10"
  def body(id: Long): String = s"zzbenchreq$id $text"
  protected def rows(body: String): Seq[String] = Http.canonicalLines(body)
}

/** Shared reporting of a workload's gateway replies. */
object Requests {
  def report(ctx: Ctx, replies: Seq[Reply], fromNs: Long, toNs: Long): Unit = {
    val r = ctx.result
    r.check("gateway requests answered correctly", replies.size, replies.count(!_.ok))
    val window = replies.filter(q => q.sendNs >= fromNs && q.sendNs < toNs)
    val lat = window.map(_.latencyMs)
    r.set("request_latency_p50_ms", Stats.percentile(lat, 0.5))
    r.set("sqlgateway.request_latency_p90_ms", Stats.percentile(lat, 0.9))
    // closed-loop throughput: the window's requests over the time until
    // the last of them completed
    if (window.nonEmpty)
      r.set("sqlgateway.requests_per_s", window.size / ((window.map(_.recvNs).max - fromNs) / 1e9))
    window.filter(_.kind == "entries").groupBy(_.name).foreach { case (n, qs) =>
      r.set(s"referencequeries.${n.take(3)}.latency_p50_ms", Stats.median(qs.map(_.latencyMs)))
    }
    window.filter(_.kind == "search").groupBy(_.name).foreach { case (n, qs) =>
      r.set(s"similaritysearch.$n.latency_p50_ms", Stats.median(qs.map(_.latencyMs)))
    }
    if (ctx.recorder.isDefined) Layers.gateway(ctx, window)
  }
}

/** `dashboard_live`: two closed-loop clients on loopback into
  * `SqlGateway.serve` refreshing a dashboard of canned reference reads,
  * live SQL panels over the raw sink and similarity searches, while a
  * low-rate paced ingest keeps writing that sink. */
object Dashboard {
  val EntryNames: Seq[String] = Seq(
    "q01_events_per_minute", "q02_latency_stats", "q03_rows_per_minute", "q04_freshness",
    "q05_pipeline_health", "q06_throughput_summary", "q07_top_pages", "q08_traffic_trend",
    "q09_geo_analysis", "q10_device_analytics", "q11_top_page_country",
    "q12_agg_rollup_status", "q13_recent_activity", "q14_minute_agg", "q15_5min_agg",
    "q16_hourly_agg", "q17_anomaly_batch")
  val Clients = 2
  val IngestRate = 2000
  val WarmupMs = 4000L

  /** Dashboard refreshes: every read once per refresh, in a seeded
    * order, shared by the clients; refreshes repeat until `untilNs`, and
    * the last one started is completed, so every run measures whole
    * refreshes and the same mix of requests whatever the seed. */
  final class Refreshes(all: Seq[Request], seed: Long, untilNs: Long) {
    private val order = new scala.util.Random(seed).shuffle(all)
    private var taken = 0L
    def next(): Option[Request] = synchronized {
      if (taken % order.size == 0 && System.nanoTime() >= untilNs) None
      else { taken += 1; Some(order(((taken - 1) % order.size).toInt)) }
    }
  }

  private def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
  }

  def run(ctx: Ctx, setupStartNs: Long): Unit = {
    val spark = ctx.spark
    val r = ctx.result
    val stageStart = System.nanoTime()
    val fixture = ctx.dir("fixture").getPath
    Fixture.write(spark, fixture, ctx.seed)
    r.set("setup.stage_s", ctx.secondsSince(stageStart))

    val warmStart = System.nanoTime()
    var gw = SqlGateway.serve(spark, 0, entriesDir = Some(fixture))
    val ids = new AtomicLong(0)
    // set-up answers: each fixture read's first answer is its expected
    // one, and a mode's first search builds that mode's index. They are
    // fetched over one connection per core, index builds first.
    val rng = new SplittableRandom(ctx.seed ^ 0x5EA7C4L)
    val words = Fixture.Vocabulary
    val searches = Seq("hybrid", "pq").map(mode =>
      new SearchRequest(mode, rng.nextInt(Fixture.Embeddings).toLong,
        Seq.fill(4)(words(rng.nextInt(words.length))).mkString(" ")))
    val entries = EntryNames.map(new EntryRequest(_))
    val reads: Seq[FixtureRead] = searches ++ entries
    val connections = Runtime.getRuntime.availableProcessors
    val took = inParallel((0 until connections).map(c => reads.indices.filter(_ % connections == c))) { mine =>
      val client = new GatewayClient(gw.port)
      mine.map { i =>
        val q = reads(i)
        val t = System.nanoTime()
        val (status, body) = client.send(q, ids.incrementAndGet())
        if (status == 200) q.record(body)
        r.check(s"set-up request ${q.kind} ${q.name}", 1, if (q.expected.nonEmpty) 0 else 1)
        i -> ctx.secondsSince(t)
      }
    }.flatten.toMap
    r.set("setup.search_index_s", searches.indices.map(took).sum)

    // the live ingest warms up under the live panels' first reads
    val ingest = new LiveIngest(ctx, IngestRate, WarmupMs)
    ingest.start()
    LiveIngest.waitUntil(60000L, "the first raw batch") {
      Option(ingest.rawDir.list()).exists(_.exists(n => new File(ingest.rawDir, s"$n/_SUCCESS").exists()))
    }
    val panels = LiveSql.Panels.map(LiveSql.load(ctx, _, ingest.rawDir.getPath))
    val client = new GatewayClient(gw.port)
    panels.foreach { q =>
      val (status, body) = client.send(q, ids.incrementAndGet())
      r.check(s"set-up request sql ${q.name}", 1, if (status == 200 && q.check(body)) 0 else 1)
    }
    r.set("setup.warmup_s", ctx.secondsSince(warmStart))
    ingest.startWindow(System.nanoTime())
    ingest.awaitNs(ingest.windowStartNs)
    r.set("setup_s", (ingest.windowStartNs - setupStartNs) / 1e9)

    val refreshes = new Refreshes(entries ++ panels ++ searches, ctx.seed,
      ingest.windowStartNs + ctx.seconds * 1000000000L)
    val clients = (0 until Clients).map(i =>
      new ClosedLoopClient(i, gw.port, ids, () => refreshes.next(), 0L))
    clients.foreach(_.start())
    clients.foreach(_.join())
    ingest.endWindow(System.nanoTime())
    gw.stop()
    // A stopped server keeps its connections' write buffers, each as large
    // as the largest answer it sent, while it is referenced; which
    // connection sent which answer is timing, not the engine's footprint.
    gw = null
    ingest.finish()
    Requests.report(ctx, clients.flatMap(_.replies), ingest.windowStartNs, ingest.windowEndNs)
    ctx.recorder.foreach { _ =>
      val (from, to) = (ctx.clock.epochMs(ingest.windowStartNs), ctx.clock.epochMs(ingest.windowEndNs))
      val files = ingest.writer.fileTimesNs.toArray.map(t => ctx.clock.epochMs(t.asInstanceOf[Long])).toSeq
      Layers.pipeline(ctx, "raw", _.id == ingest.raw.id, from, to, files)
      Layers.pipeline(ctx, "agg", _.id == ingest.agg.id, from, to, files)
      Layers.engine(ctx, from, to)
    }
  }
}

/** A seeded fixture in the shape of the repo's test tables: `events`
  * (10k rows over January 2024), `documents` (1000 texts) and
  * `embeddings` (500 clustered 64-d vectors). */
object Fixture {
  val Events = 10000
  val Documents = 1000
  val Embeddings = 500
  val Dim = 64
  val Vocabulary: Array[String] = ("a the data spark stream batch window query table join " +
    "filter group sort hash scan key value row column order line part customer vector " +
    "index merge agg fast slow big small event user page click session state sink").split(' ')

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    val rng = new SplittableRandom(seed ^ 0xF1C7L)
    val start = 1704067200000L // 2024-01-01T00:00:00Z
    val span = 30L * 86400000L
    val types = Array("view", "click", "signup", "purchase", "error")
    val events = (0 until Events).map { i =>
      Row(i.toLong, new java.sql.Timestamp(start + i * (span / Events) + rng.nextInt(25000)),
        (1 + rng.nextInt(1500)).toLong, types(rng.nextInt(types.length)),
        math.round(rng.nextDouble() * 20000) / 100.0, s"""{"k": ${rng.nextInt(100)}}""")
    }
    val langs = Array("en", "en", "en", "zh", "es", "fr", "de")
    val docs = (0 until Documents).map { i =>
      val text = Seq.fill(10 + rng.nextInt(50))(Vocabulary(rng.nextInt(Vocabulary.length))).mkString(" ")
      Row(i.toLong, text, langs(rng.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
    }
    val centers = Array.fill(10, Dim)(rng.nextDouble() * 2 - 1)
    val embs = (0 until Embeddings).map { i =>
      val label = rng.nextInt(10)
      Row(i.toLong, centers(label).map(c => (0.1 * c + 0.05 * (rng.nextDouble() * 2 - 1)).toFloat).toSeq, label)
    }
    def save(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save(events, StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))), "events")
    save(docs, StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))), "documents")
    save(embs, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))), "embeddings")
  }
}
