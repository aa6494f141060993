package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What Spark's listener surfaces reported for one pass. */
final class PassLedger {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNanos = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  /** Durations of leaf-stage (scan) tasks. */
  val scanTaskMs = ArrayBuffer.empty[Double]
  /** `StreamingQueryProgress.durationMs` of each trigger that read data. */
  val triggers = ArrayBuffer.empty[Map[String, Long]]
  /** (start epoch ms, duration ms) of each trigger, for its span. */
  val triggerTimes = ArrayBuffer.empty[(Long, Long)]
}

/**
 * The benchmark's one Spark listener plus streaming-progress collector.
 * A pass tags its jobs with the local property [[Ledger.PassKey]]; a
 * streaming query inherits it on its execution thread. Jobs, stages
 * and tasks are attributed to the pass through that tag, triggers
 * through the query name registered with [[watch]].
 */
final class Ledger extends SparkListener {
  private val passes = new ConcurrentHashMap[Int, PassLedger]()
  private val stagePass = new ConcurrentHashMap[Int, (Int, Boolean)]()
  private val queryPass = new ConcurrentHashMap[String, Int]()

  def pass(id: Int): PassLedger = passes.computeIfAbsent(id, _ => new PassLedger)

  def watch(queryName: String, passId: Int): Unit = queryPass.put(queryName, passId)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Ledger.PassKey))).foreach { id =>
      val l = pass(id.toInt)
      l.synchronized {
        l.jobs += 1
        l.stages += e.stageInfos.size
      }
      e.stageInfos.foreach(s => stagePass.put(s.stageId, (id.toInt, s.parentIds.isEmpty)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stagePass.get(e.stageId)).foreach { case (id, leaf) =>
      val l = pass(id)
      l.synchronized {
        l.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          l.taskRunMs += m.executorRunTime
          l.taskCpuNanos += m.executorCpuTime
          l.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          l.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          l.gcMs += m.jvmGCTime
        }
        if (leaf && e.taskInfo != null) l.scanTaskMs += e.taskInfo.duration.toDouble
      }
    }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(p.name).flatMap(n => Option(queryPass.get(n))).filter(_ => p.numInputRows > 0).foreach { id =>
        val l = pass(id)
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        l.synchronized {
          l.triggers += d
          l.triggerTimes += ((java.time.Instant.parse(p.timestamp).toEpochMilli,
            d.getOrElse("triggerExecution", 0L)))
        }
      }
    }
  }
}

object Ledger {
  val PassKey = "perfbench.pass"
}

/** One timed call into a layer. Times are ms since the run started. */
final case class Span(pass: Int, name: String, parent: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder for the traced run; written out at the end. */
final class Spans(enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  private val buf = ArrayBuffer.empty[Span]

  def nowMs: Double = (System.nanoTime() - t0) / 1e6
  def epochToMs(epochMs: Long): Double = (epochMs - epoch0).toDouble

  def apply[T](pass: Int, name: String, parent: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val s = nowMs
      try f finally buf.synchronized { buf += Span(pass, name, parent, s, nowMs) }
    }

  def add(span: Span): Unit = if (enabled) buf.synchronized { buf += span }

  def all: Seq[Span] = buf.synchronized(buf.toList)

  /** Per span name: count, total ms, and self ms (total minus the part
    * covered by child spans of the same pass). */
  def summary: Seq[(String, Int, Double, Double)] = {
    val spans = all
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(_.durMs).sum
      val covered = ss.map { s =>
        spans.filter(c => c.pass == s.pass && c.parent == name &&
          c.startMs >= s.startMs && c.endMs <= s.endMs).map(_.durMs).sum
      }.sum
      (name, ss.size, total, total - covered)
    }
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      f"""{"pass": ${s.pass}, "name": "${s.name}", "parent": "${s.parent}", """ +
        f""""start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      lines.mkString("[\n", ",\n", "\n]\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
