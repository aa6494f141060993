package graft.connector

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonToken
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{AlpacaHttpClient, AlpacaOptions}

/** Reference-data dimension endpoints (`/v2/stocks/meta/...` — the
  * code→name maps every tape consumer joins against to decode
  * exchange and sale-condition codes). Not in the reference (its
  * surface stops at bars/trades/corporate-actions), but the FIRST
  * join a trades user needs. Two ways these differ from every other
  * source, hence a dedicated provider rather than AlpacaSourceDef:
  *
  *  - The response body is a BARE JSON object (`{"V": "IEX", ...}`) —
  *    no envelope key, no per-symbol map, no `next_page_token`; one
  *    GET is the whole table.
  *  - There is no symbols × time grid: the scan plans exactly ONE
  *    partition, and the table is dozens of rows by construction —
  *    the canonical broadcast side. Statistics report that bound so
  *    the optimizer always broadcasts it without an AQE runtime
  *    detour.
  *
  * Exchanges: `Alpaca_Meta_Exchanges` → (code, name).
  * Conditions: `Alpaca_Meta_Conditions` → (condition_type, tape,
  * code, name); options `condition_type` ∈ {trade, quote} (a PATH
  * element in the real API) and `tape` ∈ {A, B, C} (query param),
  * both validated at load() like every other source option. */
sealed trait MetaSourceDef extends Serializable {
  def shortName: String
  def schema: StructType
  /** Versioned request path, derived from validated options. */
  def path(params: Map[String, String]): Seq[String]
  /** Query params forwarded to the GET. */
  def query(params: Map[String, String]): Seq[(String, String)] = Seq.empty
  /** Leading output columns prepended before (code, name). */
  def contextColumns(params: Map[String, String]): Seq[String] = Seq.empty
  def validate(params: Map[String, String]): Unit = ()
}

object MetaExchangesDef extends MetaSourceDef {
  override val shortName = "Alpaca_Meta_Exchanges"
  override val schema: StructType = StructType.fromDDL("code STRING, name STRING")
  override def path(params: Map[String, String]): Seq[String] =
    Seq("v2", "stocks", "meta", "exchanges")
}

object MetaConditionsDef extends MetaSourceDef {
  override val shortName = "Alpaca_Meta_Conditions"
  override val schema: StructType =
    StructType.fromDDL("condition_type STRING, tape STRING, code STRING, name STRING")
  private val ValidTypes = Set("trade", "quote")
  private val ValidTapes = Set("A", "B", "C")
  override def validate(params: Map[String, String]): Unit = {
    val ct = params.getOrElse("condition_type", "trade")
    if (!ValidTypes.contains(ct))
      throw new IllegalArgumentException(
        s"Invalid 'condition_type' value: '$ct' (expected trade/quote)")
    val tape = params.getOrElse("tape", "A")
    if (!ValidTapes.contains(tape))
      throw new IllegalArgumentException(
        s"Invalid 'tape' value: '$tape' (expected A/B/C)")
  }
  override def path(params: Map[String, String]): Seq[String] =
    Seq("v2", "stocks", "meta", "conditions",
      params.getOrElse("condition_type", "trade"))
  override def query(params: Map[String, String]): Seq[(String, String)] =
    Seq("tape" -> params.getOrElse("tape", "A"))
  override def contextColumns(params: Map[String, String]): Seq[String] =
    Seq(params.getOrElse("condition_type", "trade"), params.getOrElse("tape", "A"))
}

abstract class AlpacaMetaTableProvider(sourceDef: MetaSourceDef)
  extends TableProvider with DataSourceRegister {

  override def shortName(): String = sourceDef.shortName

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = options.asScala.toMap
    AlpacaOptions.endpointConfig(opts) // key/endpoint validation at load()
    sourceDef.validate(opts.map { case (k, v) => k.toLowerCase -> v })
    sourceDef.schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AlpacaMetaTable(sourceDef)
}

class AlpacaMetaTable(sourceDef: MetaSourceDef) extends Table with SupportsRead {
  override def name(): String = sourceDef.shortName
  override def schema(): StructType = sourceDef.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = options.asScala.toMap.map { case (k, v) => k.toLowerCase -> v }
    val endpointCfg = AlpacaOptions.endpointConfig(opts)
    sourceDef.validate(opts)
    new AlpacaMetaScan(sourceDef,
      AlpacaOptions.stripApiVersion(endpointCfg.endpoint),
      endpointCfg.apiKeyId, endpointCfg.apiKeySecret,
      endpointCfg.timeoutSec, endpointCfg.maxRetries, opts)
  }
}

/** Dozens of rows, one partition: reported statistics pin the
  * broadcast decision without needing AQE to discover it at runtime. */
class AlpacaMetaScan(sourceDef: MetaSourceDef, endpoint: String,
    apiKeyId: String, apiKeySecret: String, timeoutSec: Double,
    maxRetries: Int, params: Map[String, String])
  extends ScanBuilder with Scan with Batch with SupportsReportStatistics {

  override def build(): Scan = this
  override def readSchema(): StructType = sourceDef.schema
  override def toBatch: Batch = this
  override def description(): String = sourceDef.shortName

  override def estimateStatistics(): Statistics = new Statistics {
    // a code map is ≤ ~100 entries of ~40 bytes — always broadcastable
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(4096L)
    override def numRows(): util.OptionalLong = util.OptionalLong.of(100L)
  }

  override def planInputPartitions(): Array[InputPartition] =
    Array(MetaPartition(params))

  override def createReaderFactory(): PartitionReaderFactory =
    new AlpacaMetaReaderFactory(sourceDef, endpoint, apiKeyId, apiKeySecret,
      timeoutSec, maxRetries)
}

case class MetaPartition(params: Map[String, String]) extends InputPartition

class AlpacaMetaReaderFactory(sourceDef: MetaSourceDef, endpoint: String,
    apiKeyId: String, apiKeySecret: String, timeoutSec: Double,
    maxRetries: Int) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val params = partition.asInstanceOf[MetaPartition].params
    val client = new AlpacaHttpClient(endpoint,
      Map(
        "Content-Type" -> "application/json",
        "APCA-API-KEY-ID" -> apiKeyId,
        "APCA-API-SECRET-KEY" -> apiKeySecret),
      sourceDef.path(params),
      maxRetries = maxRetries,
      readTimeoutSec = timeoutSec)
    val ctx = sourceDef.contextColumns(params).map(UTF8String.fromString)

    new PartitionReader[InternalRow] {
      private var rows: Iterator[InternalRow] = _
      private var current: InternalRow = _

      private def fetch(): Iterator[InternalRow] = {
        // one GET, bare-object body: FIELD_NAME → code, its string
        // value → name; anything non-string is skipped structurally
        // (tolerant of additive drift like nested detail objects)
        val bytes = client.getPageBytes(sourceDef.query(params), None)
        val jp = AlpacaColumnarPartitionReader.mapper.createParser(bytes)
        val out = Seq.newBuilder[InternalRow]
        try {
          if (jp.nextToken() != JsonToken.START_OBJECT)
            throw new RuntimeException(
              s"${sourceDef.shortName}: response is not a JSON object")
          var tk = jp.nextToken()
          while (tk == JsonToken.FIELD_NAME) {
            val code = jp.currentName()
            tk = jp.nextToken()
            if (tk == JsonToken.VALUE_STRING)
              out += InternalRow.fromSeq(
                ctx ++ Seq(UTF8String.fromString(code),
                  UTF8String.fromString(jp.getText)))
            else if (tk != null && tk.isStructStart) jp.skipChildren()
            tk = jp.nextToken()
          }
        } finally jp.close()
        out.result().iterator
      }

      override def next(): Boolean = {
        if (rows == null) rows = fetch()
        if (rows.hasNext) { current = rows.next(); true } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

class MetaExchangesDataSource extends AlpacaMetaTableProvider(MetaExchangesDef)
class MetaConditionsDataSource extends AlpacaMetaTableProvider(MetaConditionsDef)
