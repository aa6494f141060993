package graft.connector

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}

/** Stream offset = high-water mark in epoch micros (self-describing,
  * so checkpoint restart needs no external state). */
case class TimeOffset(micros: Long) extends Offset {
  override def json(): String = micros.toString
}

/** Wall clock for LIVE streams (no fixed `end`): each trigger's
  * high-water mark clamps to `nowMicros()`. Driver-side only —
  * latestOffset runs on the driver, so a process-local override is
  * sound. Overridable for deterministic tests; production leaves the
  * default. */
object AlpacaWallClock {
  @volatile private[graft] var nowMicros: () => Long =
    () => System.currentTimeMillis() * 1000L
  private[graft] def reset(): Unit =
    nowMicros = () => System.currentTimeMillis() * 1000L
}

/**
 * Micro-batch streaming over the Alpaca endpoints — the natural
 * extension the reference lacks (SURVEY §2.11). Each trigger advances
 * the time high-water mark by `stream_step` (clamped to the configured
 * `end`) and plans one symbol × [prev, next) slice per symbol; the
 * batch PartitionReader is reused verbatim, so pagination/retry/parse
 * behavior is identical to the batch path.
 *
 * Intervals are half-open and contiguous (matching the batch partition
 * tiling), so no bar is ever emitted twice across micro-batches.
 *
 * Two bounding modes:
 *  - `end` configured: replay mode — offsets step toward the fixed
 *    bound and the stream drains dry there (deterministic; what the
 *    correctness gates exercise).
 *  - `end` omitted: LIVE mode — each trigger clamps to
 *    [[AlpacaWallClock.nowMicros]] (wall clock; stub-injectable for
 *    tests), so the stream follows real time forever. Offsets stay
 *    self-describing, so a checkpoint restart resumes exactly at the
 *    committed high-water mark in either mode, and a replay checkpoint
 *    restarted without `end` upgrades to live seamlessly.
 *
 * The stream is STATELESS: it implements `SupportsAdmissionControl`
 * so each trigger's high-water mark is `restored start + step`,
 * derived from the offset Spark passes in. (An earlier internal
 * `currentEnd` var regressed on checkpoint restart — Spark may call
 * latestOffset() before deserializeOffset() — and re-planned
 * already-committed slices: 36 duplicate bars in the restart spec.)
 */
class AlpacaMicroBatchStream(
    sourceDef: AlpacaSourceDef,
    cfg: AlpacaScanConfig,
    stepMicros: Long,
    outSchema: org.apache.spark.sql.types.StructType,
    limitOpt: Option[Int])
  extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset = TimeOffset(cfg.startMicros)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[TimeOffset].micros
    val cap =
      if (cfg.endMicros == AlpacaScanConfig.LiveEnd) AlpacaWallClock.nowMicros()
      else cfg.endMicros
    // never step past the cap; never step BACKWARD either (a live
    // clock behind the committed mark — clock skew, or a start in the
    // future — must yield an empty trigger, not a regressing offset)
    TimeOffset(math.max(s, math.min(cap, Math.addExact(s, stepMicros))))
  }

  override def deserializeOffset(json: String): Offset =
    TimeOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TimeOffset].micros
    val e = end.asInstanceOf[TimeOffset].micros
    if (e <= s) Array.empty
    else cfg.groupedSymbols.map(SymbolTimeRangePartition(_, s, e)).toArray[InputPartition]
  }

  /** Columnar, exactly like the batch path: each API page decodes
    * straight into a ColumnarBatch (token→vector, no InternalRow) and
    * MicroBatchScanExec reports columnar support per partition.
    * Stateless pass-through streams (append sinks) consume the
    * vectors through codegen'd ColumnarToRow; stateful plans are
    * unaffected because Spark inserts the row transition wherever a
    * consumer needs rows — the reader does not need to know the
    * downstream shape. The scan's pruned schema and pushed limit are
    * honored so emitted batches always match readSchema(). */
  override def createReaderFactory(): PartitionReaderFactory =
    new AlpacaReaderFactory(cfg, sourceDef.versionedPath, sourceDef.dataKey,
      sourceDef.parser, outSchema, limitOpt, checkable = sourceDef.integrityCheckable)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
