package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.stub.AlpacaStubServer

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
  private lazy val workDir = Files.createTempDirectory("perfbench-spec")
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private def stubBase = AlpacaStubServer.endpoint.stripSuffix("/v2")

  private def get(url: String): (Int, Array[Byte]) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    (r.statusCode, r.body)
  }

  /** A small trades grid: 2 symbols × 2 days, 4 one-page partitions. */
  private def smallGrid(seed: Long) = new TradesGrid(seed, days = 2, symbolCount = 2)

  private def captured(seed: Long): Seq[String] = {
    val server = new ReplayServer
    try {
      server.record(stubBase)
      Capture(spark, smallGrid(seed), server, 2, workDir)
      server.keys
    } finally server.close()
  }

  override def afterAll(): Unit = {
    spark.stop()
    val paths = Files.walk(workDir)
    try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.delete(p))
    finally paths.close()
  }

  test("replayed bytes are identical to the stub's for a sample of requests") {
    val server = new ReplayServer
    try {
      server.record(stubBase)
      Capture(spark, new StreamBars(3), server, 2, workDir)
      Capture(spark, smallGrid(3), server, 2, workDir)
      server.replay(0L, Set.empty)
      val sample = new scala.util.Random(11).shuffle(server.keys).take(20)
      assert(sample.size == 20)
      sample.foreach { key =>
        val (stubCode, stubBody) = get(stubBase + key)
        val (code, body) = get(s"http://127.0.0.1:${server.port}$key")
        assert(stubCode == 200 && code == 200, key)
        assert(java.util.Arrays.equals(stubBody, body), key)
      }
      server.resetPass()
      val (code, _) = get(s"http://127.0.0.1:${server.port}/v2/stocks/bars?symbols=NOPE")
      assert(code == 404)
      assert(server.stats().unknown == 1)
    } finally server.close()
  }

  test("with no injected latency a replayed trades request completes in under 5 ms") {
    val server = new ReplayServer
    try {
      server.record(stubBase)
      Capture(spark, smallGrid(4), server, 2, workDir)
      server.replay(0L, Set.empty)
      val urls = server.keys.map(k => s"http://127.0.0.1:${server.port}$k")
      (1 to 20).foreach(i => get(urls(i % urls.size))) // JIT and connection warm-up
      val ms = (1 to 100).map { i =>
        val t = System.nanoTime()
        assert(get(urls(i % urls.size))._1 == 200)
        (System.nanoTime() - t) / 1e6
      }.sorted
      assert(ms(50) < 5.0, s"median ${ms(50)} ms")
    } finally server.close()
  }

  test("the seeded 429 schedule answers each scheduled request once per pass") {
    val server = new ReplayServer
    try {
      server.record(stubBase)
      Capture(spark, smallGrid(5), server, 2, workDir)
      val faults = FaultSchedule(5, server.keys, 0.5)
      server.replay(0L, faults)
      server.resetPass()
      val codes = server.keys.map(k => get(s"http://127.0.0.1:${server.port}$k")._1)
      assert(codes.count(_ == 429) == faults.size)
      val again = faults.toSeq.map(k => get(s"http://127.0.0.1:${server.port}$k")._1)
      assert(again.forall(_ == 200))
      assert(server.stats().faults == faults.size)
    } finally server.close()
  }

  test("the same seed gives the same request set and fault schedule") {
    val a = captured(7)
    val b = captured(7)
    assert(a.nonEmpty && a == b)
    assert(FaultSchedule(7, a, 0.01) == FaultSchedule(7, b, 0.01))
    assert(FaultSchedule(7, a, 0.01).size == 1)
    Workloads.Names.foreach { n =>
      assert(Workloads(n, 7).options == Workloads(n, 7).options)
      assert(Workloads(n, 7).symbols == Workloads(n, 7).symbols)
    }
  }

  test("a different seed gives different symbols") {
    Workloads.Names.foreach { n =>
      val symbolSets = (1L to 5L).map(s => Workloads(n, s).symbols).toSet
      assert(symbolSets.size > 1, n)
    }
    assert(captured(1) != captured(2))
  }

  private def runBench(workload: Workload): String = {
    val out = new java.io.ByteArrayOutputStream
    val args = Main.Args(workload.name, 1, 0.1, trace = false, workDir)
    Console.withOut(out)(new Bench(spark, workload, args, 2, 0.5).run())
    new String(out.toByteArray, "UTF-8")
  }

  private def resultOf(out: String): Map[String, Any] = {
    val line = out.linesIterator.find(_.startsWith("PERFBENCH_RESULT ")).get
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(line.stripPrefix("PERFBENCH_RESULT "))
    Map("correct" -> node.get("correct").asBoolean, "failed" -> node.get("failed").asInt,
      "attempted" -> node.get("attempted").asInt)
  }

  private def errorRate(out: String): Double =
    out.linesIterator.collectFirst {
      case l if l.startsWith("metric error_rate") => l.split("\\s+")(2).toDouble
    }.get

  test("a correct run reports error_rate 0 and a wrong expectation raises it") {
    val good = runBench(smallGrid(9))
    assert(resultOf(good)("correct") == true, good)
    assert(errorRate(good) == 0.0)

    val wrong = runBench(new TradesGrid(9, days = 2, symbolCount = 2) {
      override protected def expected = super.expected.map { case (k, (n, s, c)) =>
        k -> ((n + 1, s, c))
      }
    })
    val r = resultOf(wrong)
    assert(r("correct") == false)
    assert(r("failed").asInstanceOf[Int] >= 1) // every measured pass
    assert(errorRate(wrong) > 0.0)
  }
}
