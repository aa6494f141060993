package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.connector.{AlpacaScan, SymbolTimeRangePartition}
import graft.core.{AlpacaHttpClient, AlpacaOptions, VectorWriteSupport}
import graft.stub.AlpacaStubServer

/** One measured pass: wall time, what the server and Spark saw, and the
  * correctness verdict. */
final case class PassResult(id: Int, traced: Boolean, wallS: Double, server: ServerStats,
    ledger: PassLedger, peakHeapMb: Double, errors: Seq[String])

/** A printed metric. */
final case class Metric(name: String, value: Double, unit: String)

/** Peak post-GC heap: the largest heap occupancy any collection left
  * behind during a pass (GC notifications carry each pool's usage after
  * the collection). A pass without a collection reports the pools'
  * collection usage, i.e. the heap the last collection left. */
object HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val heapNames = heapPools.map(_.getName).toSet
  @volatile private var peak = -1L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: javax.management.NotificationEmitter =>
      emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapNames.contains(pool) => u.getUsed
          }.sum
          synchronized { peak = math.max(peak, after) }
        }, null, null)
    case _ => ()
  }

  def reset(): Unit = synchronized { peak = -1L }

  def peakMb: Double = {
    val p = synchronized(peak)
    val bytes = if (p >= 0) p
      else heapPools.flatMap(pool => Option(pool.getCollectionUsage)).map(_.getUsed).sum
    bytes / 1048576.0
  }
}

/** Share of CPU time the hypervisor gave to other guests (`steal` in
  * /proc/stat), a diagnostic for run-to-run noise on shared hosts. */
object HostSteal {
  def sample(): Option[Array[Long]] =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
      Some(line.split("\\s+").drop(1).map(_.toLong))
    } catch { case NonFatal(_) => None }

  def share(a: Option[Array[Long]], b: Option[Array[Long]]): Option[Double] =
    for (x <- a; y <- b if x.length > 7 && y.length > 7) yield {
      val total = y.sum - x.sum
      if (total > 0) (y(7) - x(7)).toDouble / total else 0.0
    }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell–Davis estimate of the q-quantile: a Beta-weighted mean of
    * all order statistics. Spark times tasks and triggers in whole
    * milliseconds; this estimator resolves their percentiles below that
    * tick instead of snapping to it. */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else if (xs.size == 1) xs.head
    else {
      val s = xs.sorted
      val n = s.size
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        q * (n + 1), (1 - q) * (n + 1))
      var prev = 0.0
      var acc = 0.0
      for (i <- 1 to n) {
        val cdf = beta.cumulativeProbability(i.toDouble / n)
        acc += (cdf - prev) * s(i - 1)
        prev = cdf
      }
      acc
    }
}

/** Records every page a workload's scan requests: the connector's own
  * reader factory reads each partition the scan plans (for a stream,
  * each partition of each trigger's offset range, stepping offsets as
  * Spark does) through the recording server, `threads` partitions at a
  * time and without a Spark job. */
object Capture {
  def apply(spark: SparkSession, workload: Workload, server: ReplayServer, threads: Int,
      workDir: Path): Unit = {
    val scan = scanOf(workload.batchQuery(spark, server.endpoint))
    val work: Seq[(PartitionReaderFactory, InputPartition)] =
      if (workload.minTriggers == 0) {
        val factory = scan.createReaderFactory()
        scan.planInputPartitions().toSeq.map(factory -> _)
      } else {
        val stream = scan.toMicroBatchStream(
          workDir.resolve("checkpoints").resolve("capture").toString)
        val factory = stream.createReaderFactory()
        val admission = stream.asInstanceOf[SupportsAdmissionControl]
        val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
        var start = stream.initialOffset()
        var end = admission.latestOffset(start, ReadLimit.allAvailable())
        while (end != start) {
          parts ++= stream.planInputPartitions(start, end)
          start = end
          end = admission.latestOffset(start, ReadLimit.allAvailable())
        }
        parts.toSeq.map(factory -> _)
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      work.map { case (factory, p) =>
        pool.submit[Unit] { () =>
          val r = factory.createColumnarReader(p)
          try while (r.next()) () finally r.close()
        }
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  def scanOf(df: org.apache.spark.sql.DataFrame): AlpacaScan =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b.scan }
      .collect { case s: AlpacaScan => s }
      .getOrElse(throw new IllegalStateException("no Alpaca scan in the plan"))
}

/**
 * Closed-loop benchmark driver: one query at a time against the replay
 * server, Spark `local[N]` with N = available processors.
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *
 * Set-up starts the session, captures every page the workload's scan
 * requests from the fixture stub (see [[Capture]]), and runs one
 * warm-up pass against the replay. Then passes repeat until
 * `--seconds` have elapsed. `--trace 0` reports end-to-end metrics;
 * `--trace 1` interleaves untraced and traced passes, runs the layer
 * micro-benchmarks, reports per-layer metrics and writes the spans.
 * The last stdout line is the JSON result.
 */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      workDir: Path)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v
    }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      m.getOrElse("trace", "0") == "1",
      Paths.get(m.getOrElse("work-dir", "perfbench/work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = parseArgs(argv)
    val workload = Workloads(args.workload, args.seed)
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(args.workDir)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", args.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.workDir.resolve("warehouse").toString)
      // checkpoint and state files go through Hadoop's FileSystem API on
      // the local disk, with permissions set in-process
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .getOrCreate()
    val code =
      try new Bench(spark, workload, args, cores, (System.nanoTime() - t0) / 1e9).run()
      finally spark.stop()
    sys.exit(code)
  }
}

final class Bench(spark: SparkSession, workload: Workload, args: Main.Args, cores: Int,
    sessionS: Double) {
  private val sc = spark.sparkContext
  private val ledger = new Ledger
  private val spans = new Spans(args.trace)
  private val server = new ReplayServer
  private var nextPass = 0
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def log(msg: String): Unit = println(s"[perfbench] $msg")

  def run(): Int = {
    sc.setLogLevel("ERROR")
    sc.addSparkListener(ledger)
    spark.streams.addListener(ledger.streaming)
    log(s"workload ${workload.name} seed ${args.seed}: ${workload.describe}")
    log(s"local[$cores], ${args.seconds} s, trace ${if (args.trace) 1 else 0}")
    try {
      // ---- set-up: capture, then warm up against the replay
      val tCapture = System.nanoTime()
      server.record(AlpacaStubServer.endpoint.stripSuffix("/v2"))
      val captureErrors =
        try { Capture(spark, workload, server, cores, args.workDir); Nil }
        catch { case NonFatal(e) => Seq(s"capture failed: $e") }
      val faults = FaultSchedule(args.seed, server.keys, workload.faultRate)
      server.replay(workload.latencyMs, faults)
      val captureS = (System.nanoTime() - tCapture) / 1e9
      val tWarm = System.nanoTime()
      val wantRequests = server.keys.size + faults.size
      val warm = pass(workload.warmup, traced = false, None)
      val warmS = (System.nanoTime() - tWarm) / 1e9
      val setupS = sessionS + captureS + warmS
      log(f"set-up: session $sessionS%.3f s, capture $captureS%.3f s " +
        f"(${server.keys.size} pages, ${server.capturedBytes / 1e6}%.1f MB, " +
        f"${server.upstreamS}%.3f s waiting on the stub, ${faults.size} scheduled 429s), " +
        f"warm-up $warmS%.3f s")
      val setupErrors = captureErrors ++ warm.errors

      // ---- measured passes
      val steal0 = HostSteal.sample()
      val tMeasure = System.nanoTime()
      val passes = scala.collection.mutable.ArrayBuffer.empty[PassResult]
      def elapsed = (System.nanoTime() - tMeasure) / 1e9
      while (passes.isEmpty || elapsed < args.seconds || (args.trace && passes.size < 4)) {
        // traced runs go untraced, traced, traced, untraced, ...: the
        // warm-up drift across a run cancels out of the tracing overhead
        val traced = args.trace && (passes.size % 4 == 1 || passes.size % 4 == 2)
        passes += pass(workload, traced, Some(wantRequests))
      }
      HostSteal.share(steal0, HostSteal.sample()).foreach(share =>
        log(f"host CPU steal during the measured passes: ${share * 100}%.1f%%"))
      passes.foreach(p => log(f"pass ${p.id}%d${if (p.traced) " traced" else ""}: " +
        f"${p.wallS}%.4f s, ${p.server.requests} requests, heap ${p.peakHeapMb}%.1f MB" +
        (if (p.errors.isEmpty) "" else s", ERRORS: ${p.errors.mkString("; ")}")))
      setupErrors.foreach(e => log(s"set-up ERROR: $e"))

      val (metrics, microErrors) =
        if (args.trace) layerMetrics(passes.toSeq) else (endToEnd(setupS, passes.toSeq), Nil)
      val unmeasured = metrics.filter(m => m.value.isNaN || m.value.isInfinite)
      val attempted = passes.size + 2 + (if (args.trace) 1 else 0)
      val failed = passes.count(_.errors.nonEmpty) +
        Seq(captureErrors, warm.errors).count(_.nonEmpty) +
        (if (microErrors.nonEmpty || unmeasured.nonEmpty) 1 else 0)
      microErrors.foreach(e => log(s"micro-benchmark ERROR: $e"))
      unmeasured.foreach(m => log(s"ERROR: ${m.name} was not measured"))
      val errorRate = failed.toDouble / attempted
      (metrics :+ Metric("error_rate", errorRate, "ratio")).foreach(m =>
        println(f"metric ${m.name}%-24s ${m.value}%16.6f ${m.unit}"))
      val metricsJson = metrics.map { m =>
        val v = if (m.value.isNaN || m.value.isInfinite) 0.0 else m.value
        s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
      }.mkString("{", ", ", "}")
      println(s"""PERFBENCH_RESULT {"correct": ${failed == 0}, "attempted": $attempted, """ +
        s""""failed": $failed, "metrics": $metricsJson}""")
      0
    } finally server.close()
  }

  /** One closed-loop pass of `w` plus its correctness checks.
    * `wantRequests` is the exact request count a full pass must make:
    * every captured page once plus one retry per scheduled 429. */
  private def pass(w: Workload, traced: Boolean, wantRequests: Option[Int]): PassResult = {
    val id = nextPass
    nextPass += 1
    val ctx = PassContext(id, server.endpoint, ledger,
      if (traced) spans else new Spans(false), args.workDir)
    sc.setLocalProperty(Ledger.PassKey, id.toString)
    server.resetPass()
    // every pass starts from a collected heap, so neither its wall time
    // nor its peak post-GC heap depends on garbage an earlier pass left
    System.gc()
    HeapWatch.reset()
    val t = System.nanoTime()
    val outcome: Either[String, Array[Row]] =
      try Right(ctx.spans(id, "pass")(w.execute(spark, ctx)))
      catch { case NonFatal(e) => Left(s"pass failed: $e") }
    val wallS = (System.nanoTime() - t) / 1e9
    val heap = HeapWatch.peakMb
    val st = server.stats()
    deleteRecursively(args.workDir.resolve("checkpoints"))
    sc.setLocalProperty(Ledger.PassKey, null)
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    val l = ledger.pass(id)
    if (traced) l.synchronized(l.triggerTimes.toList).foreach { case (start, dur) =>
      val s = spans.epochToMs(start)
      spans.add(Span(id, "trigger", "execute", s, s + dur))
    }
    val errors = outcome match {
      case Left(e) => Seq(e)
      case Right(rows) =>
        w.check(rows) ++
          (if (st.unknown > 0) Seq(s"${st.unknown} requests were not captured (404)") else Nil) ++
          wantRequests.filter(_ != st.requests).map(want =>
            s"${st.requests} HTTP requests, want $want (every captured page once " +
              "plus one retry per scheduled 429)") ++
          (if (l.triggers.size < w.minTriggers)
            Seq(s"${l.triggers.size} data triggers, want >= ${w.minTriggers}")
          else Nil)
    }
    PassResult(id, traced, wallS, st, l, heap, errors)
  }

  private def deleteRecursively(dir: Path): Unit =
    if (Files.exists(dir)) {
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }

  private def endToEnd(setupS: Double, passes: Seq[PassResult]): Seq[Metric] = {
    val wall = Stats.median(passes.map(_.wallS))
    val unitMs =
      if (workload.minTriggers > 0)
        passes.flatMap(_.ledger.triggers.map(_.getOrElse("triggerExecution", 0L).toDouble))
      else passes.flatMap(_.ledger.scanTaskMs)
    Seq(
      Metric("setup_s", setupS, "s"),
      Metric("wall_s", wall, "s"),
      Metric("records_per_s", workload.records / wall, "1/s"),
      Metric("trigger_ms_p50", Stats.hdQuantile(unitMs, 0.5), "ms"),
      Metric("trigger_ms_p90", Stats.hdQuantile(unitMs, 0.9), "ms"),
      Metric("http_requests", Stats.median(passes.map(_.server.requests.toDouble)), "count"),
      Metric("peak_heap_mb", Stats.median(passes.map(_.peakHeapMb)), "MB"))
  }

  // ------------------------------------------------------------ traced run

  private def layerMetrics(passes: Seq[PassResult]): (Seq[Metric], Seq[String]) = {
    val traced = passes.filter(_.traced)
    val untraced = passes.filterNot(_.traced)
    def med(f: PassResult => Double) = Stats.median(traced.map(f))
    // 0 on batch workloads, which run no triggers
    def trig(key: String) = {
      val xs = traced.flatMap(_.ledger.triggers.map(_.getOrElse(key, 0L).toDouble))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val micro = new Micro
    val out = Seq(
      Metric("plan.ms", micro.planMs, "ms"),
      Metric("plan.partitions", micro.planPartitions, "count"),
      Metric("http.requests", med(_.server.requests.toDouble), "count"),
      Metric("http.retries", med(_.server.faults.toDouble), "count"),
      Metric("http.bytes", med(_.server.bytes.toDouble), "bytes"),
      Metric("http.inflight_mean", med(_.server.inflightMean), "count"),
      Metric("http.pages_per_s", micro.httpPagesPerS, "1/s"),
      Metric("decode.records_per_s", micro.decodeRecordsPerS, "1/s"),
      Metric("reader.records_per_s", micro.readerRecordsPerS, "1/s"),
      Metric("reader.batches", micro.readerBatches, "count"),
      Metric("stream.triggers", med(_.ledger.triggers.size.toDouble), "count"),
      Metric("stream.latest_offset_ms", trig("latestOffset"), "ms"),
      Metric("stream.planning_ms", trig("queryPlanning"), "ms"),
      Metric("stream.add_batch_ms", trig("addBatch"), "ms"),
      Metric("stream.wal_commit_ms", trig("walCommit"), "ms"),
      Metric("stream.commit_ms", trig("commitOffsets"), "ms"),
      Metric("dispatch.jobs", med(_.ledger.jobs.toDouble), "count"),
      Metric("dispatch.stages", med(_.ledger.stages.toDouble), "count"),
      Metric("dispatch.tasks", med(_.ledger.tasks.toDouble), "count"),
      Metric("dispatch.floor_ms", micro.dispatchFloorMs, "ms"),
      Metric("exec.task_run_ms", med(_.ledger.taskRunMs.toDouble), "ms"),
      Metric("exec.task_cpu_ms", med(_.ledger.taskCpuNanos / 1e6), "ms"),
      Metric("exec.shuffle_write_bytes", med(_.ledger.shuffleWriteBytes.toDouble), "bytes"),
      Metric("exec.spill_bytes", med(_.ledger.spillBytes.toDouble), "bytes"),
      Metric("exec.gc_ms", med(_.ledger.gcMs.toDouble), "ms"),
      Metric("server.cpu_ms", med(_.server.cpuMs), "ms"),
      Metric("server.requests", med(_.server.requests.toDouble), "count"),
      Metric("trace.overhead_s",
        Stats.median(traced.map(_.wallS)) - Stats.median(untraced.map(_.wallS)), "s"))
    val path = args.workDir.resolve("traces")
      .resolve(s"${workload.name}_seed${args.seed}.json")
    spans.writeJson(path)
    log(s"spans written to $path")
    spans.summary.foreach { case (name, n, total, self) =>
      log(f"span $name%-10s n=$n%-5d total $total%10.1f ms  self $self%10.1f ms")
    }
    (out, micro.errors.toSeq)
  }

  /** Layer micro-benchmarks through the connector's public entry points,
    * each timed for about one second over the captured requests. */
  private final class Micro {
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    private val budgetNs = 1000000000L
    private val microPass = -1

    private def timed[T](name: String)(f: => T): T = spans(microPass, name)(f)

    /** Captured first-page requests: (path, ordered decoded params). */
    private val firstPages: Seq[(String, Seq[(String, String)])] =
      server.keys.filterNot(_.contains("page_token=")).map { key =>
        val Array(path, query) = key.split("\\?", 2)
        path -> query.split("&").toSeq.map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k -> URLDecoder.decode(v, StandardCharsets.UTF_8)
        }
      }

    private val scan = Capture.scanOf(workload.batchQuery(spark, server.endpoint))

    private def loop(n: Int)(f: Int => Long): (Long, Long, Double) = {
      val t = System.nanoTime()
      var i = 0
      var work = 0L
      while (i == 0 || (System.nanoTime() - t < budgetNs && i < n * 50)) {
        work += f(i % n)
        i += 1
      }
      (i.toLong, work, (System.nanoTime() - t) / 1e9)
    }

    val (planMs, planPartitions) = timed("micro.plan") {
      val times = (0 until 7).map { _ =>
        val t = System.nanoTime()
        workload.batchQuery(spark, server.endpoint).queryExecution.executedPlan
        (System.nanoTime() - t) / 1e6
      }
      (Stats.median(times), scan.planInputPartitions().length.toDouble)
    }

    val httpPagesPerS: Double = timed("micro.http") {
      server.resetPass()
      val base = server.endpoint.stripSuffix("/v2")
      val (_, pages, secs) = loop(firstPages.size) { i =>
        val (path, params) = firstPages(i)
        val client = new AlpacaHttpClient(base, Map("APCA-API-KEY-ID" -> "bench-key",
          "APCA-API-SECRET-KEY" -> "bench-secret"), path.stripPrefix("/").split("/").toSeq)
        client.fetchAllPagesCounted(params).size.toLong
      }
      if (server.stats().unknown > 0) errors += "http micro-benchmark requested uncaptured pages"
      pages / secs
    }

    val decodeRecordsPerS: Double = timed("micro.decode") {
      val parser = scan.sourceDef.parser match {
        case vp: VectorWriteSupport => vp
        case other => throw new IllegalStateException(s"$other has no vector decode")
      }
      val schema = scan.sourceDef.parser.schema
      val vecs = OnHeapColumnVector.allocateColumns(16384, schema)
        .asInstanceOf[Array[WritableColumnVector]]
      val fieldToOut = schema.fields.indices.toArray
      val pages = server.keys.map(server.page)
      val dataKey = scan.sourceDef.dataKey
      val (_, recs, secs) = loop(pages.size) { i =>
        vecs.foreach(_.reset())
        decodePage(pages(i), dataKey, parser, vecs, fieldToOut)
      }
      recs / secs
    }

    /** Envelope walk `{dataKey: {SYMBOL: [record, …]}, …}` calling the
      * parser's vector decode once per record. */
    private def decodePage(bytes: Array[Byte], dataKey: String, vp: VectorWriteSupport,
        vecs: Array[WritableColumnVector], fieldToOut: Array[Int]): Long = {
      import com.fasterxml.jackson.core.JsonToken._
      val jp = json.createParser(bytes)
      var row = 0
      try {
        jp.nextToken()
        while (jp.nextToken() == FIELD_NAME) {
          val name = jp.currentName()
          if (name == dataKey && jp.nextToken() == START_OBJECT) {
            while (jp.nextToken() == FIELD_NAME) {
              val sym = UTF8String.fromString(jp.currentName())
              jp.nextToken() // START_ARRAY
              while (jp.nextToken() == START_OBJECT) {
                vecs.foreach(_.reserve(row + 1))
                vp.parseIntoVectors(sym, jp, vecs, fieldToOut, row)
                row += 1
              }
            }
          } else {
            if (name != dataKey) jp.nextToken()
            jp.skipChildren()
          }
        }
      } finally jp.close()
      row.toLong
    }

    private val partitions: Seq[SymbolTimeRangePartition] = firstPages.map { case (_, ps) =>
      val m = ps.toMap
      def us(k: String) = AlpacaOptions.parseIsoMicros(m(k)).get
      SymbolTimeRangePartition(m("symbols"), us("start"), us("end"))
    }

    val (readerRecordsPerS, readerBatches) = timed("micro.reader") {
      server.resetPass()
      val factory = scan.createReaderFactory()
      var batches = 0L
      val (n, recs, secs) = loop(partitions.size) { i =>
        val r: PartitionReader[ColumnarBatch] = factory.createColumnarReader(partitions(i))
        var rows = 0L
        try while (r.next()) { rows += r.get().numRows; batches += 1 } finally r.close()
        rows
      }
      if (server.stats().unknown > 0) errors += "reader micro-benchmark requested uncaptured pages"
      (recs / secs, batches.toDouble / n)
    }

    val dispatchFloorMs: Double = timed("micro.dispatch") {
      Stats.median((0 until 21).map { _ =>
        val t = System.nanoTime()
        sc.parallelize(Seq(1), 1).count()
        (System.nanoTime() - t) / 1e6
      })
    }
  }
}
