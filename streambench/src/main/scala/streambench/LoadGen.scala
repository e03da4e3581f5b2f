package streambench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

/** What the generator made of one sequence number. */
object Kind {
  val OnTime = 0
  /** Created up to 8 s before it is sent: inside the 10 s watermark. */
  val OutOfOrder = 1
  /** Created 3-5 min before it is sent: its minute window is closed. */
  val Late = 2
  /** A line that is not JSON; the parser must drop it. */
  val Malformed = 3
  /** An event far ahead in event time that closes every earlier window. */
  val Flush = 4
}

final case class Click(seq: Long, kind: Int, eventId: String, userId: String,
                       tsMs: Long, page: String, referrer: String,
                       country: String, device: String) {
  def windowStartMs: Long = Math.floorDiv(tsMs, 60000L) * 60000L

  /** The wire line, in produce.py's field order. */
  def line: String =
    if (kind == Kind.Malformed) s"~~ malformed click $seq ~~"
    else s"""{"event_id":"$eventId","user_id":"$userId","ts":$tsMs,""" +
      s""""page":"$page","referrer":"$referrer","country":"$country","device":"$device"}"""
}

/** Shares of injected irregular events, each drawn per sequence number. */
final case class Mix(outOfOrder: Double, late: Double, malformed: Double)

/** The benchmark's own seeded click generator. It copies the reference
  * producer's distributions (weighted pages, countries and devices, a
  * 5000-user active pool with 70% reuse and 5% session expiry, and
  * per-session referrer chains) but shares no code with the engine's
  * generator, so a program change cannot change the benchmark's inputs.
  *
  * The stream is a pure function of the seed and of the sequence of
  * `next` calls, so a run re-creates it after the fact to check the
  * sink instead of holding every sent event in the measured heap. */
final class ClickStream(seed: Long, mix: Mix) {
  import ClickStream._

  private val rng = new SplittableRandom(seed)
  private final class Session(val user: String, val country: String,
                              val device: String, var lastPage: String)
  private val active = new Array[Session](ActivePool)
  private var nActive = 0
  // late events get distinct (window, page, country, user) keys, so the
  // engine's count of watermark-dropped state rows equals the count of
  // dropped events whatever partial aggregation merges
  private val lateKeys = mutable.HashSet[(Long, String, String, String)]()

  private def weighted(choices: Array[(String, Double)]): String = {
    val u = rng.nextDouble()
    var acc = 0.0
    var i = 0
    while (i < choices.length - 1) {
      acc += choices(i)._2
      if (u < acc) return choices(i)._1
      i += 1
    }
    choices.last._1
  }

  private def eventId(seq: Long): String =
    f"${rng.nextInt() & 0xffffffffL}%08x-${rng.nextInt(0x10000)}%04x-4${rng.nextInt(0x1000)}%03x-" +
      f"${0x8000 | rng.nextInt(0x4000)}%04x-$seq%012x"

  /** The event with sequence number `seq`, created at `createdMs`.
    * Late events are drawn only when `allowLate`. */
  def next(seq: Long, createdMs: Long, allowLate: Boolean): Click = {
    val u = rng.nextDouble()
    if (u < mix.malformed)
      return Click(seq, Kind.Malformed, "", "", createdMs, "", "", "", "")
    val kind =
      if (allowLate && u < mix.malformed + mix.late) Kind.Late
      else if (u < mix.malformed + mix.late + mix.outOfOrder) Kind.OutOfOrder
      else Kind.OnTime

    val reuse = nActive > 0 && rng.nextDouble() < ReuseProbability
    val slot = if (reuse) rng.nextInt(nActive) else {
      val s = new Session(f"u${1 + rng.nextInt(999999)}%06d",
        weighted(Countries), weighted(Devices), "/")
      val i = if (nActive < ActivePool) { nActive += 1; nActive - 1 }
              else rng.nextInt(ActivePool)
      active(i) = s
      i
    }
    val s = active(slot)
    val page = if (!reuse && rng.nextDouble() < 0.4) "/" else weighted(Pages)
    val referrer = s.lastPage
    s.lastPage = page
    if (rng.nextDouble() < ExpiryProbability) {
      nActive -= 1
      active(slot) = active(nActive)
      active(nActive) = null
    }

    var ts = kind match {
      case Kind.OutOfOrder => createdMs - 500 - rng.nextInt(7500)
      case Kind.Late => createdMs - 180000 - rng.nextInt(120000)
      case _ => createdMs
    }
    if (kind == Kind.Late) {
      while (lateKeys.contains((Math.floorDiv(ts, 60000L), page, s.country, s.user)))
        ts -= 60000L
      lateKeys += ((Math.floorDiv(ts, 60000L), page, s.country, s.user))
    }
    Click(seq, kind, eventId(seq), s.user, ts, page, referrer, s.country, s.device)
  }

  /** The flush event: two minutes past `lastTsMs`, so the watermark
    * passes the end of every window that holds a sent event. */
  def flush(seq: Long, lastTsMs: Long): Click =
    Click(seq, Kind.Flush, eventId(seq), "u000000", lastTsMs + 120000L,
      "/", "/", "US", "desktop")
}

object ClickStream {
  val Pages: Array[(String, Double)] = Array(
    "/" -> 0.25, "/search" -> 0.15, "/product/42" -> 0.12, "/cart" -> 0.10,
    "/product/101" -> 0.08, "/checkout" -> 0.08, "/user/profile" -> 0.07,
    "/product/205" -> 0.05, "/help" -> 0.05, "/about" -> 0.03, "/contact" -> 0.02)
  val Countries: Array[(String, Double)] = Array(
    "US" -> 0.35, "IN" -> 0.20, "DE" -> 0.12, "FR" -> 0.10,
    "JP" -> 0.08, "GB" -> 0.07, "CA" -> 0.05, "AU" -> 0.03)
  val Devices: Array[(String, Double)] = Array(
    "mobile" -> 0.60, "desktop" -> 0.35, "tablet" -> 0.05)
  val ActivePool = 5000
  val ReuseProbability = 0.7
  val ExpiryProbability = 0.05

  /** Writes `lines` as one file of `dir`: staged in `staging`, then
    * renamed, so the file source never lists a half-written file. */
  def writeFile(staging: File, dir: File, name: String, lines: Iterator[String]): Unit = {
    val tmp = new File(staging, name)
    val w = Files.newBufferedWriter(tmp.toPath, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Wall-clock anchor: the run's monotonic clock mapped to epoch ms, so
  * event `ts`, Spark's `created_at` and the run's own timings compare. */
final class Clock {
  val epoch0Ms: Long = System.currentTimeMillis()
  val nano0: Long = System.nanoTime()
  def epochMs(nanos: Long): Long = epoch0Ms + (nanos - nano0) / 1000000L
}

/** Open-loop paced source: one thread writes, every `tickMs`, one file
  * holding the events due since the previous tick. Event `seq` is due
  * at `t0 + seq / rate`; the schedule never waits for the system, so a
  * stall shows as latency on the events due during it. Late events are
  * drawn only for events due at or after `lateFromNs` (once the
  * watermark has advanced); generation stops with the events due
  * before `endNs`, which may be moved while the writer runs.
  *
  * The generator's clock runs `skewMs` behind the wall clock, chosen so
  * that `t0` falls at the same second of an event-time minute in every
  * run: window boundaries, and with them the aggregate's state size,
  * then fall at the same point of every run. */
final class PacedWriter(stream: ClickStream, clock: Clock, srcDir: File,
                        stagingDir: File, rateEps: Int, tickMs: Int,
                        val t0Ns: Long, lateFromNs: Long, @volatile var endNs: Long,
                        val skewMs: Long)
    extends Thread("streambench-loadgen") {
  setDaemon(true)
  @volatile var lateNsMax: Long = 0L
  @volatile var nextSeq: Long = 0L
  @volatile var lastTsMs: Long = 0L
  /** Monotonic time each file became visible to the source, in order. */
  val fileTimesNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val counts = new Array[Long](5)

  def dueNs(seq: Long): Long = t0Ns + seq * 1000000000L / rateEps

  /** The events this writer sent, re-created from a fresh stream with
    * the same seed and schedule, followed by `extra` (e.g. the flush). */
  def replay(fresh: ClickStream): Iterator[Click] =
    Iterator.range(0L, nextSeq).map { seq =>
      val due = dueNs(seq)
      fresh.next(seq, clock.epochMs(due) - skewMs, due >= lateFromNs)
    }

  override def run(): Unit = {
    val tickNs = tickMs * 1000000L
    var i = 1L
    while (t0Ns + (i - 1) * tickNs < endNs) {
      val target = t0Ns + i * tickNs
      var now = System.nanoTime()
      while (now < target) {
        LockSupport.parkNanos(target - now)
        now = System.nanoTime()
      }
      lateNsMax = math.max(lateNsMax, now - target)
      val until = math.min(target, endNs)
      val buf = mutable.ArrayBuffer[String]()
      while (dueNs(nextSeq) < until) {
        val due = dueNs(nextSeq)
        val c = stream.next(nextSeq, clock.epochMs(due) - skewMs, due >= lateFromNs)
        counts(c.kind) += 1
        if (c.kind != Kind.Malformed) lastTsMs = math.max(lastTsMs, c.tsMs)
        buf += c.line
        nextSeq += 1
      }
      ClickStream.writeFile(stagingDir, srcDir, f"tick-$i%07d.json", buf.iterator)
      fileTimesNs.add(System.nanoTime())
      i += 1
    }
  }
}

/** Polls a sink directory for committed micro-batch outputs
  * (`batch=<id>/_SUCCESS`) and records the first time each is seen:
  * the moment a dashboard reader of the directory can read the batch. */
final class SinkWatcher(dir: File, pollMs: Long = 5)
    extends Thread("streambench-sink-watcher") {
  setDaemon(true)
  @volatile private var stopped = false
  val visibleNs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  /** Stops polling, then scans once more so a batch committed just
    * before the stop is not missed. */
  def halt(): Unit = { stopped = true; join(10000); scan() }

  private def scan(): Unit =
    Option(dir.list()).foreach(_.foreach { n =>
      if (n.startsWith("batch=")) {
        val id = n.stripPrefix("batch=").toInt
        if (!visibleNs.containsKey(id) && new File(dir, s"$n/_SUCCESS").exists())
          visibleNs.put(id, System.nanoTime())
      }
    })

  override def run(): Unit =
    while (!stopped) { scan(); Thread.sleep(pollMs) }
}
