package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.HttpServer
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.AlpacaHttpClient

/** Unit layer for the pure HTTP core (the Spark-free seam of SURVEY
  * §3.3), mirroring the reference's unit tests for URL building and
  * pagination token plumbing (`tests/unit/test_common.py`). */
class HttpCoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var endpoint: String = _
  @volatile private var requests = Vector.empty[String]

  private val mapper = new ObjectMapper()
  private def readTree(bytes: Array[Byte]): JsonNode = mapper.readTree(bytes)
  private def jsonPages(c: AlpacaHttpClient, params: Seq[(String, String)]): Iterator[JsonNode] =
    c.fetchAllPagesCounted(params).map(p => readTree(p.bytes))

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v2/pages", { ex =>
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      synchronized { requests :+= q }
      val token = "(?:^|&)page_token=([^&]*)".r.findFirstMatchIn(q).map(_.group(1))
      val body = token match {
        case None => """{"n": 1, "next_page_token": "t2"}"""
        case Some("t2") => """{"n": 2, "next_page_token": "t3"}"""
        case Some("t3") => """{"n": 3, "next_page_token": null}"""
        case other => s"""{"error": "unexpected token $other"}"""
      }
      val b = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/v2"
  }

  override def afterAll(): Unit = server.stop(0)

  test("URL building: param encoding, path join, skipped nulls") {
    val c = new AlpacaHttpClient("https://x.example/v2", Map.empty, Seq("stocks", "bars"))
    val url = c.buildUrl(Seq(
      "symbols" -> "AAPL,MSFT",
      "start" -> "2021-01-01T00:00:00+00:00",
      "skip" -> null,
      "spacey" -> "a b"))
    assert(url == "https://x.example/v2/stocks/bars?" +
      "symbols=AAPL%2CMSFT&start=2021-01-01T00%3A00%3A00%2B00%3A00&spacey=a%20b")
  }

  test("pagination: token sequence walked lazily until null") {
    val c = new AlpacaHttpClient(endpoint, Map.empty, Seq("pages"))
    val it = jsonPages(c, Seq("q" -> "1"))
    val before = requests.size
    assert(it.hasNext) // iterator is lazy: nothing fetched yet at creation
    val pages = it.map(_.get("n").asInt()).toList
    assert(pages == List(1, 2, 3))
    assert(requests.size - before == 3)
    // tokens echoed back in order
    val tokens = requests.drop(before).map(q =>
      "(?:^|&)page_token=([^&]*)".r.findFirstMatchIn(q).map(_.group(1)))
    assert(tokens == Vector(None, Some("t2"), Some("t3")))
  }

  test("stub grid paging: multi-page asc/desc tile the fixture sequence exactly") {
    // The bars endpoint pages by direct time-grid index (O(page) per
    // request). Multi-page asc must tile bars() in order; desc must
    // tile the REVERSED sequence — the same contract as the
    // materialize-reverse-slice form it replaced and as the real
    // API's server-side `sort` (`stocks/trades.py:54-57`).
    import graft.stub.{AlpacaFixtures, AlpacaStubServer}
    val stub = AlpacaStubServer.endpoint.stripSuffix("/v2")
    val c = new AlpacaHttpClient(stub, Map.empty, Seq("v2", "stocks", "bars"))
    val base = Seq(
      "symbols" -> "GRID",
      "start" -> "2021-01-04T00:00:00+00:00",
      "end" -> "2021-01-05T02:00:00+00:00", // 26 hourly bars
      "timeframe" -> "1Hour",
      "limit" -> "7") // 4 pages: 7+7+7+5
    val expectAsc = AlpacaFixtures.bars("GRID",
      1609718400000000L, 1609812000000000L, 3600L * 1000000L).map(_.timeUs)
    assert(expectAsc.size == 26)

    def times(sort: String): Seq[Long] =
      jsonPages(c, base :+ ("sort" -> sort)).flatMap { pg =>
        val arr = pg.get("bars").get("GRID")
        (0 until arr.size).map(i =>
          graft.core.AlpacaOptions.parseIsoMicros(arr.get(i).get("t").asText()).get)
      }.toList

    assert(times("asc") == expectAsc)
    assert(times("desc") == expectAsc.reverse)
  }

  test("configurable read timeout: slow response fails fast, default rides it out") {
    server.createContext("/v2/slow", { ex =>
      Thread.sleep(700)
      val b = """{"n": 1, "next_page_token": null}""".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    // 0.2 s budget against a 0.7 s server: the request times out and the
    // IOException surfaces through the network-failure path
    val fast = new AlpacaHttpClient(endpoint, Map.empty, Seq("slow"),
      readTimeoutSec = 0.2)
    val e = intercept[RuntimeException](fast.getPageBytes(Seq("q" -> "1"), None))
    assert(e.getMessage.contains("Network request failed"), s"unexpected: $e")
    // an adequate budget succeeds against the same endpoint
    val ok = new AlpacaHttpClient(endpoint, Map.empty, Seq("slow"),
      readTimeoutSec = 5.0)
    assert(readTree(ok.getPageBytes(Seq("q" -> "1"), None)).get("n").asInt() == 1)
  }

  test("prefetch path surfaces mid-pagination HTTP errors unwrapped") {
    // /pages yields page 1 fine; an unknown-token request 404s. The
    // error happens inside the prefetch future — the consumer must
    // see the original RuntimeException (message intact), not a
    // CompletionException wrapper.
    server.createContext("/v2/flaky_pages", { ex =>
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      val token = "(?:^|&)page_token=([^&]*)".r.findFirstMatchIn(q).map(_.group(1))
      val (code, body) = token match {
        case None => (200, """{"n": 1, "next_page_token": "boom"}""")
        case Some(_) => (404, """{"message": "no such page"}""")
      }
      val b = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    val c = new AlpacaHttpClient(endpoint, Map.empty, Seq("flaky_pages"))
    val it = jsonPages(c, Seq("q" -> "1"))
    assert(it.next().get("n").asInt() == 1)
    val e = intercept[RuntimeException](it.next())
    assert(e.getMessage.contains("404") && e.getMessage.contains("no such page"),
      s"unexpected: $e")
  }

  test("RequestPacer: concurrent acquires space to the configured rate") {
    import graft.core.AlpacaHttpClient
    val pacer = new AlpacaHttpClient.RequestPacer(100.0) // 10ms interval
    val t0 = System.nanoTime()
    val threads = (1 to 4).map { _ =>
      new Thread(() => (1 to 5).foreach(_ => pacer.acquire()))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    // 20 acquires at 10ms spacing: >= 190ms by construction (first is
    // free); generous lower bound to stay timing-robust
    assert(elapsedMs >= 150, s"20 acquires at 100rps took only ${elapsedMs}ms")
    // distinct (endpoint, rps) pairs get distinct pacers; same pair shares
    val a = AlpacaHttpClient.pacerFor("http://x", 5.0)
    assert(AlpacaHttpClient.pacerFor("http://x", 5.0) eq a)
    assert(AlpacaHttpClient.pacerFor("http://x", 7.0) ne a)
  }
}
