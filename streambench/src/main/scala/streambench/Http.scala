package streambench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One kind of dashboard request. `body(id)` embeds the request id where
  * the gateway copies it into Spark's job description, so the traced run
  * can attribute jobs to requests. */
trait Request {
  def kind: String
  def name: String
  def path: String
  /** A read without a body (GET); otherwise the body is POSTed. */
  def isGet: Boolean = false
  def body(id: Long): String
  /** Whether a 200 response body is a correct answer. */
  def check(body: String): Boolean
}

final case class Reply(id: Long, kind: String, name: String, client: Int,
                       sendNs: Long, recvNs: Long, status: Int, ok: Boolean) {
  def latencyMs: Double = (recvNs - sendNs) / 1e6
}

object Http {
  private val mapper = new ObjectMapper()

  def lines(body: String): Seq[String] = body.split('\n').toSeq.filter(_.nonEmpty)

  def parse(line: String): JsonNode = mapper.readTree(line)

  /** One JSON line with every number rounded to 9 significant digits
    * and fields in name order, so answers computed along different
    * paths compare exactly. */
  def canonical(line: String): String = {
    def render(n: JsonNode): String =
      if (n.isObject) n.fieldNames.asScala.toSeq.sorted
        .map(f => "\"" + f + "\":" + render(n.get(f))).mkString("{", ",", "}")
      else if (n.isArray) n.elements.asScala.map(render).mkString("[", ",", "]")
      else if (n.isIntegralNumber) n.asText
      else if (n.isNumber) new java.math.BigDecimal(n.asDouble)
        .round(new java.math.MathContext(9)).stripTrailingZeros.toString
      else n.toString
    render(parse(line))
  }

  def canonicalLines(body: String): Seq[String] = lines(body).map(canonical)
}

/** A loopback HTTP/1.1 client of the gateway. */
final class GatewayClient(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  def send(q: Request, id: Long): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${q.path}"))
      .timeout(Duration.ofSeconds(120))
    val req = (if (q.isGet) b.GET() else b.POST(HttpRequest.BodyPublishers.ofString(q.body(id)))).build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }
}

/** A closed-loop client: sends its next request only after the previous
  * one completes (and `thinkMs` passes), until `next` has no more. */
final class ClosedLoopClient(index: Int, port: Int, ids: AtomicLong,
                             next: () => Option[Request], thinkMs: Long)
    extends Thread(s"streambench-client-$index") {
  setDaemon(true)
  val replies = mutable.ArrayBuffer[Reply]()

  override def run(): Unit = {
    val client = new GatewayClient(port)
    var req = next()
    while (req.isDefined) {
      val q = req.get
      val id = ids.incrementAndGet()
      val send = System.nanoTime()
      val (status, answer) =
        try client.send(q, id)
        catch { case e: Exception => (-1, String.valueOf(e.getMessage)) }
      val recv = System.nanoTime()
      val ok = status == 200 && (try q.check(answer) catch { case _: Exception => false })
      if (!ok) System.err.println(
        s"request ${q.kind} ${q.name} failed: status $status ${answer.take(300)}")
      replies.synchronized(replies += Reply(id, q.kind, q.name, index, send, recv, status, ok))
      if (thinkMs > 0) Thread.sleep(thinkMs)
      req = next()
    }
  }
}
