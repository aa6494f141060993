package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, IOException, InputStream}
import java.net.{InetAddress, ServerSocket, Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Which captured requests answer 429 (`Retry-After: 0`) on their first
  * attempt in a pass. A pure function of the seed and the captured key
  * set: `round(rate × keys)` keys, at least one when the rate is
  * positive, drawn by a seeded shuffle of the sorted keys. */
object FaultSchedule {
  def apply(seed: Long, keys: Iterable[String], rate: Double): Set[String] =
    if (rate <= 0 || keys.isEmpty) Set.empty
    else {
      val sorted = keys.toVector.sorted
      val n = math.max(1, math.round(sorted.size * rate).toInt)
      new scala.util.Random(seed * 31L + 7L).shuffle(sorted).take(n).toSet
    }
}

/** Per-pass counters the replay server observed. */
final case class ServerStats(requests: Long, faults: Long, unknown: Long,
    bytes: Long, cpuMs: Double, inflightMean: Double)

/**
 * Loopback HTTP/1.1 server owned by the benchmark. It first RECORDS:
 * every request is forwarded to the fixture stub and the 200 body is
 * kept, keyed by the request target (path + raw query). It then
 * REPLAYS: each request is answered from the captured bytes, so a
 * timed pass measures the connector and Spark, not the fixture
 * renderer.
 *
 *  - Sockets run with TCP_NODELAY: a response is one write of headers
 *    and body, and no Nagle/delayed-ACK stall sits between them.
 *  - One thread per connection, from an unbounded pool. The connector
 *    never has more requests in flight than open connections, so a
 *    response held for the injected latency never queues another.
 *  - A target that was not captured gets 404 and counts as `unknown`.
 *  - `faults` answer 429 on the first attempt of a pass.
 */
final class ReplayServer extends AutoCloseable {
  private val socket = new ServerSocket(0, 256, InetAddress.getLoopbackAddress)
  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "replay-conn"); t.setDaemon(true); t
  }
  private val open = ConcurrentHashMap.newKeySet[Socket]()
  private val store = new ConcurrentHashMap[String, Array[Byte]]()
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  @volatile private var upstream: Option[String] = None
  @volatile private var latencyMs = 0L
  @volatile private var faults = Set.empty[String]
  private val faulted = ConcurrentHashMap.newKeySet[String]()

  private val requests = new AtomicLong
  private val faultsServed = new AtomicLong
  private val unknown = new AtomicLong
  private val bytes = new AtomicLong
  private val cpuNanos = new AtomicLong
  private val upstreamNanos = new AtomicLong
  // time-weighted in-flight integral since the last reset
  private var inflight = 0
  private var areaNanos = 0.0
  private var lastChange = System.nanoTime()
  private var passStart = lastChange

  private lazy val forwardClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private val acceptor = new Thread(() => acceptLoop(), "replay-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Base URL to hand the connector as its `endpoint` option. */
  def endpoint: String = s"http://127.0.0.1:${socket.getLocalPort}/v2"
  def port: Int = socket.getLocalPort

  /** Forward to `base` (scheme://host:port) and keep every 200 body. */
  def record(base: String): Unit = { upstream = Some(base.stripSuffix("/")) }

  /** Serve only captured bytes, with this latency and 429 schedule. */
  def replay(latency: Long, faultKeys: Set[String]): Unit = {
    upstream = None
    latencyMs = latency
    faults = faultKeys
  }

  def keys: Seq[String] = store.keySet.asScala.toSeq.sorted
  def page(key: String): Array[Byte] = store.get(key)
  def capturedBytes: Long = store.values.asScala.map(_.length.toLong).sum
  /** Total time recorded requests waited on the upstream, seconds. */
  def upstreamS: Double = upstreamNanos.get / 1e9

  /** Starts a pass: zeroes the counters and re-arms the 429 schedule. */
  def resetPass(): Unit = {
    faulted.clear()
    requests.set(0); faultsServed.set(0); unknown.set(0); bytes.set(0); cpuNanos.set(0)
    synchronized {
      val now = System.nanoTime()
      areaNanos = 0; lastChange = now; passStart = now
    }
  }

  def stats(): ServerStats = {
    val mean = synchronized {
      val now = System.nanoTime()
      val area = areaNanos + inflight * (now - lastChange).toDouble
      if (now > passStart) area / (now - passStart) else 0.0
    }
    ServerStats(requests.get, faultsServed.get, unknown.get, bytes.get,
      cpuNanos.get / 1e6, mean)
  }

  private def inflightDelta(d: Int): Unit = synchronized {
    val now = System.nanoTime()
    areaNanos += inflight * (now - lastChange).toDouble
    lastChange = now
    inflight += d
  }

  private def acceptLoop(): Unit =
    try {
      while (!socket.isClosed) {
        val s = socket.accept()
        s.setTcpNoDelay(true)
        open.add(s)
        pool.execute(() => serve(s))
      }
    } catch { case _: IOException => () }

  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') {
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  private def serve(s: Socket): Unit = {
    val in = new BufferedInputStream(s.getInputStream, 8192)
    val out = new BufferedOutputStream(s.getOutputStream, 1 << 16)
    try {
      var keepAlive = true
      while (keepAlive) {
        val requestLine = readLine(in)
        if (requestLine == null || requestLine.isEmpty) keepAlive = false
        else {
          var contentLength = 0L
          var h = readLine(in)
          while (h != null && h.nonEmpty) {
            val i = h.indexOf(':')
            if (i > 0) {
              val name = h.substring(0, i).trim.toLowerCase
              val value = h.substring(i + 1).trim
              if (name == "connection" && value.equalsIgnoreCase("close")) keepAlive = false
              if (name == "content-length") contentLength = value.toLong
            }
            h = readLine(in)
          }
          in.skipNBytes(contentLength)
          val target = requestLine.split(' ')(1)
          inflightDelta(1)
          try {
            val cpu0 = threads.getCurrentThreadCpuTime
            val (code, body, extra) = answer(target)
            val head = new StringBuilder
            head.append(s"HTTP/1.1 $code ${reason(code)}\r\n")
            head.append("Content-Type: application/json\r\n")
            head.append(s"Content-Length: ${body.length}\r\n")
            extra.foreach { case (k, v) => head.append(s"$k: $v\r\n") }
            head.append("\r\n")
            out.write(head.toString.getBytes(StandardCharsets.US_ASCII))
            cpuNanos.addAndGet(threads.getCurrentThreadCpuTime - cpu0)
            if (latencyMs > 0) Thread.sleep(latencyMs)
            val cpu1 = threads.getCurrentThreadCpuTime
            out.write(body)
            out.flush()
            cpuNanos.addAndGet(threads.getCurrentThreadCpuTime - cpu1)
            bytes.addAndGet(body.length.toLong)
          } finally inflightDelta(-1)
        }
      }
    } catch {
      case _: IOException | _: InterruptedException => ()
    } finally {
      open.remove(s)
      s.close()
    }
  }

  private def reason(code: Int): String = code match {
    case 200 => "OK"
    case 404 => "Not Found"
    case 429 => "Too Many Requests"
    case _ => "Status"
  }

  private def answer(target: String): (Int, Array[Byte], Seq[(String, String)]) = {
    requests.incrementAndGet()
    upstream match {
      case Some(base) =>
        val t = System.nanoTime()
        val resp = forwardClient.send(
          HttpRequest.newBuilder(URI.create(base + target)).GET().build(),
          HttpResponse.BodyHandlers.ofByteArray())
        upstreamNanos.addAndGet(System.nanoTime() - t)
        if (resp.statusCode == 200) store.put(target, resp.body)
        (resp.statusCode, resp.body, Nil)
      case None =>
        val body = store.get(target)
        if (body == null) {
          unknown.incrementAndGet()
          (404, s"""{"message": "not captured: $target"}""".getBytes(StandardCharsets.UTF_8), Nil)
        } else if (faults.contains(target) && faulted.add(target)) {
          faultsServed.incrementAndGet()
          (429, """{"message": "rate limit exceeded"}""".getBytes(StandardCharsets.UTF_8),
            Seq("Retry-After" -> "0"))
        } else (200, body, Nil)
    }
  }

  override def close(): Unit = {
    socket.close()
    open.asScala.foreach(s => try s.close() catch { case _: IOException => () })
    pool.shutdownNow()
    acceptor.join(5000)
  }
}
