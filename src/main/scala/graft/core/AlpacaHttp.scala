package graft.core

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import com.fasterxml.jackson.databind.ObjectMapper
import org.slf4j.LoggerFactory

/** Pure, Spark-free HTTP/pagination core (the testable seam of
  * SURVEY §3.3). JDK-only: `java.net.http.HttpClient` + the Jackson
  * that ships with Spark.
  *
  * Mirrors the reference's fetch pipeline semantics:
  *  - URL building with encoded params, None values skipped
  *    (`common.py:62-87`)
  *  - connect timeout 10 s / read timeout 30 s (`common.py:126`);
  *    unlike the reference, the read timeout and retry count are
  *    CONFIGURABLE (`timeout`/`retries` — promised by its
  *    USAGE.md:74-75 but hardcoded in its code)
  *  - retry on HTTP 429/500/502/503/504 with exponential backoff
  *    0.5s/1s/2s, GET only (`common.py:139-163`)
  *  - pagination over `next_page_token` (`common.py:166-205`)
  *  - optional inter-page rate-limit sleep (`common.py:203-205`)
  */
class AlpacaHttpClient(
    endpoint: String,
    headers: Map[String, String],
    pathElements: Seq[String],
    maxRetries: Int = AlpacaHttpClient.MaxRetries,
    readTimeoutSec: Double = AlpacaOptions.DefaultTimeoutSec,
    rateLimitRps: Double = 0.0) {

  private val log = LoggerFactory.getLogger(getClass)
  // JVM-shared: a new HttpClient per partition would open fresh TCP
  // connections for every task (one executor runs thousands of tasks
  // over a scan); the shared client's keep-alive pool reuses them.
  private def client = AlpacaHttpClient.sharedHttpClient
  private val mapper = new ObjectMapper()

  def buildUrl(params: Seq[(String, String)]): String = {
    val path = pathElements.mkString("/")
    val qs = params.collect { case (k, v) if v != null =>
      s"$k=${URLEncoder.encode(v, StandardCharsets.UTF_8).replace("+", "%20")}"
    }.mkString("&")
    s"$endpoint/$path?$qs"
  }

  /** Fetches one page as raw UTF-8 bytes; retries retryable statuses
    * with backoff, fails the (Spark) task on anything else — task
    * retry covers the rest. Bytes (not String) so the JSON layer can
    * stream-parse without a 2× char-decode pass. */
  def getPageBytes(params: Seq[(String, String)], pageToken: Option[String]): Array[Byte] = {
    val url = buildUrl(params ++ pageToken.map("page_token" -> _))
    var attempt = 0
    while (true) {
      // every attempt (retries included) draws from the shared budget
      if (rateLimitRps > 0)
        AlpacaHttpClient.pacerFor(endpoint, rateLimitRps).acquire()
      val builder = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofMillis(math.max(1L, (readTimeoutSec * 1000).toLong)))
        .GET()
      headers.foreach { case (k, v) => builder.header(k, v) }
      val response =
        try client.send(builder.build(), HttpResponse.BodyHandlers.ofByteArray())
        catch {
          case e: java.io.IOException =>
            throw new RuntimeException(s"Network request failed: ${e.getMessage}", e)
        }
      val code = response.statusCode()
      if (code >= 200 && code < 300) {
        val body = response.body()
        // HTTP 200 with an empty body is a malformed API response, not
        // "no data" (the API's empty page is an explicit JSON envelope
        // with an empty data map). Silently treating it as empty would
        // turn a broken proxy/server into missing rows — fail the page
        // (task retry covers transient causes), mirroring the
        // reference's record-skip vs page-fail asymmetry
        // (common.py:484-486: only RECORD-level damage is skippable).
        // Scoped to 200 only: a 204 No Content is empty BY DEFINITION,
        // but this GET-a-page API never legitimately returns one — a
        // 204 here means a misbehaving middlebox ate the envelope, so
        // it fails with its own message rather than the generic
        // "malformed" one (and other empty 2xx follow the 200 rule).
        if (code == 204)
          throw new RuntimeException(
            s"HTTP 204 No Content for $url — this endpoint always returns a " +
              "JSON envelope; a 204 indicates a broken proxy or gateway")
        if (body.isEmpty)
          throw new RuntimeException(
            s"HTTP $code with empty body for $url — malformed API response")
        return body
      } else if (AlpacaHttpClient.RetryStatuses.contains(code) && attempt < maxRetries) {
        // the server's own Retry-After (seconds form; the rate-limit
        // reply the real API sends on 429) takes precedence over the
        // client's guess — clamped into [0, 2 min] like the
        // exponential path, so a hostile/buggy header can neither
        // park the task for hours nor go negative
        val retryAfterMs: Option[Long] = {
          val h = response.headers().firstValue("Retry-After")
          if (h.isPresent)
            h.get.trim.toLongOption // seconds form only; HTTP-date falls back
              .map(s => math.min(math.max(0L, s) * 1000L, 120000L))
          else None
        }
        // 0.5s, 1s, 2s, … capped at 2 min: `retries` is user-settable
        // now, and an uncapped shift both over-sleeps (retries=30 →
        // multi-day waits) and overflows negative past attempt 62
        // (Thread.sleep would throw instead of retrying)
        val backoffMs = retryAfterMs.getOrElse(
          math.min(500L << math.min(attempt, 8), 120000L))
        log.warn(s"HTTP $code for $url; retry ${attempt + 1}/$maxRetries in ${backoffMs}ms" +
          retryAfterMs.fold("")(_ => " (server Retry-After)"))
        Thread.sleep(backoffMs)
        attempt += 1
      } else {
        throw new RuntimeException(
          s"HTTP error $code for $url: ${new String(response.body(), StandardCharsets.UTF_8).take(500)}")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Streaming skim for `next_page_token` PLUS an independent record
    * count — one lex-only pass over the whole page (the old token-only
    * skim `skipChildren`'d the data field, which lexes the same bytes
    * anyway; walking them explicitly costs the same and yields the
    * count for free). `arrayObjectCount` is the number of objects whose
    * immediate parent container is an ARRAY — for flat-record
    * array-envelope sources (bars/trades/quotes) that IS the page's
    * record count, computed by a second, independent code path from the
    * consumer's record parse. The scan-integrity check compares the
    * two, so a parser-side drop/duplicate (vector drift, walker
    * misalignment) fails the task loudly instead of silently skewing
    * downstream aggregates. Runs on the prefetch thread — overlapped
    * with the consumer's parse of the previous page, so the count adds
    * no wall-clock to the scan's critical path. */
  private def skimPage(bytes: Array[Byte]): (Option[String], Long) = {
    import com.fasterxml.jackson.core.JsonToken._
    val jp = mapper.createParser(bytes)
    try {
      var tok: Option[String] = None
      var count = 0L
      // container stack: bit set = that nesting level is an ARRAY
      var depth = 0
      var arrayBits = 0L // API pages nest ≤6 deep; 64 is headroom
      var pendingToken = false // last token was the top-level token field name
      var tk = jp.nextToken()
      while (tk != null) {
        tk match {
          case START_OBJECT =>
            if (depth > 0 && ((arrayBits >> (depth - 1)) & 1L) == 1L) count += 1
            if (depth >= 64) throw new IllegalArgumentException(
              "page JSON nested deeper than 64 levels")
            arrayBits &= ~(1L << depth); depth += 1
            pendingToken = false
          case START_ARRAY =>
            if (depth >= 64) throw new IllegalArgumentException(
              "page JSON nested deeper than 64 levels")
            arrayBits |= 1L << depth; depth += 1
            pendingToken = false
          case END_OBJECT | END_ARRAY =>
            depth -= 1
            pendingToken = false
          case FIELD_NAME =>
            pendingToken = depth == 1 && jp.currentName() == "next_page_token"
          case VALUE_STRING if pendingToken =>
            tok = Some(jp.getText).filter(_.nonEmpty)
            pendingToken = false
          case _ =>
            pendingToken = false
        }
        tk = jp.nextToken()
      }
      (tok, count)
    } finally jp.close()
  }

  /** Lazy page iterator: yields each page's raw bytes with the skim's
    * independent record count (see [[skimPage]]; the reader's
    * scan-integrity cross-check consumes it) while a
    * `next_page_token` is present. The consumer stream-parses each
    * page; the token needed to chain requests comes from the cheap
    * lex-only skim, so the full parse stays on the consumer's side of
    * the pipeline.
    *
    * With no rate-limit delay, the NEXT page's HTTP request is issued
    * asynchronously as soon as the current page's bytes arrive, so
    * network/server time overlaps the consumer's parse time (the
    * multi-page chain is each partition's critical path; the reference
    * fetches strictly sequentially, `common.py:166-205`). One page of
    * lookahead bounds buffered memory at a single response body. When
    * `rateLimitDelaySec` is configured, pagination stays strictly
    * sequential so the inter-page sleep keeps its meaning (H5). */
  def fetchAllPagesCounted(
      params: Seq[(String, String)],
      rateLimitDelaySec: Double = 0.0): Iterator[AlpacaHttpClient.FetchedPage] =
    if (rateLimitDelaySec > 0)
      new Iterator[AlpacaHttpClient.FetchedPage] {
        private var numPages = 0
        private var nextToken: Option[String] = None
        private val seen = new TokenCycleGuard
        override def hasNext: Boolean = numPages < 1 || nextToken.isDefined
        override def next(): AlpacaHttpClient.FetchedPage = {
          if (numPages > 0)
            Thread.sleep((rateLimitDelaySec * 1000).toLong)
          val pg = getPageBytes(params, nextToken)
          numPages += 1
          val (tok, count) = skimPage(pg)
          nextToken = tok
          nextToken.foreach(seen.check)
          AlpacaHttpClient.FetchedPage(pg, count)
        }
      }
    else
      new Iterator[AlpacaHttpClient.FetchedPage] {
        private var inFlight: java.util.concurrent.CompletableFuture[(Array[Byte], Option[String], Long)] = _
        private var done = false
        private val seen = new TokenCycleGuard
        private def submit(tok: Option[String]): Unit =
          inFlight = java.util.concurrent.CompletableFuture.supplyAsync(
            () => {
              val b = getPageBytes(params, tok)
              val (nxt, count) = skimPage(b)
              (b, nxt, count)
            },
            AlpacaHttpClient.prefetchPool)
        override def hasNext: Boolean = !done
        override def next(): AlpacaHttpClient.FetchedPage = {
          if (inFlight == null) submit(None)
          val (bytes, tok, count) =
            try inFlight.join()
            catch {
              case e: java.util.concurrent.CompletionException =>
                throw Option(e.getCause).getOrElse(e)
            }
          tok match {
            case some @ Some(t) =>
              seen.check(t)
              submit(some)
            case None => done = true
          }
          AlpacaHttpClient.FetchedPage(bytes, count)
        }
      }

  /** A server that re-issues a `next_page_token` it already served
    * would page forever (the reference's loop has the same hang,
    * `common.py:166-205`). Tokens within one partition's pagination are
    * tracked and a repeat fails the page chain loudly. Memory is one
    * small string per page actually fetched — bounded by the data the
    * partition legitimately reads. */
  private final class TokenCycleGuard {
    private val seen = scala.collection.mutable.HashSet[String]()
    def check(token: String): Unit =
      if (!seen.add(token))
        throw new RuntimeException(
          s"pagination cycle: next_page_token '$token' repeated — " +
            "aborting page chain (server paging bug would loop forever)")
  }
}

object AlpacaHttpClient {
  /** One fetched API page: raw body + the skim's independent count of
    * array-parented record objects (see `skimPage`). */
  final case class FetchedPage(bytes: Array[Byte], arrayRecordCount: Long)

  /** reference: `common.py:25,151-156` */
  val MaxRetries = 3
  val RetryStatuses: Set[Int] = Set(429, 500, 502, 503, 504)

  /** Per-JVM request pacer (`rate_limit_rps`): ALL tasks on this
    * executor drawing on the same endpoint share one budget — the
    * coordination `rate_limit_delay` (a per-TASK sleep between pages)
    * cannot express. A scan with 32 concurrent tasks and
    * rate_limit_rps=10 makes ≤10 requests/second TOTAL from this JVM;
    * on a cluster the option is a PER-EXECUTOR budget (divide the API
    * quota by executor count). Minimum-interval form: each acquire
    * reserves the next slot under the lock, then sleeps OUTSIDE it,
    * so a slow request never blocks the queue behind its sleep. */
  final class RequestPacer(rps: Double) {
    private val intervalNanos = (1e9 / rps).toLong
    private var nextAtNanos = 0L
    def acquire(): Unit = {
      var sleepNanos = 0L
      synchronized {
        val now = System.nanoTime()
        val at = math.max(now, nextAtNanos)
        nextAtNanos = at + intervalNanos
        sleepNanos = at - now
      }
      if (sleepNanos > 0)
        Thread.sleep(sleepNanos / 1000000L, (sleepNanos % 1000000L).toInt)
    }
  }

  private val pacers =
    new java.util.concurrent.ConcurrentHashMap[(String, Double), RequestPacer]()

  /** One pacer per (endpoint, rps): scans of the same endpoint at the
    * same configured budget share it; a different rps is a different
    * (deliberate) budget. */
  def pacerFor(endpoint: String, rps: Double): RequestPacer =
    pacers.computeIfAbsent((endpoint, rps), _ => new RequestPacer(rps))

  /** One JDK HttpClient per executor JVM: connection pooling +
    * keep-alive across all partition readers (timeouts are
    * per-request, so sharing loses nothing). */
  lazy val sharedHttpClient: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10))
      .build()

  /** Shared daemon pool for one-page-ahead prefetch. Cached: grows to
    * the number of concurrently-fetching partitions on this executor
    * (each holds at most one in-flight request) and idle threads die
    * after 60 s, so it never pins the JVM or leaks across queries. */
  private[core] lazy val prefetchPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool((r: Runnable) => {
      val t = new Thread(r, "alpaca-prefetch")
      t.setDaemon(true)
      t
    })
}
