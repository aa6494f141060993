package graft.core

import java.nio.charset.StandardCharsets

import scala.annotation.switch

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The three fixed schemas (SURVEY §1.3), single source of truth —
  * no duplicate DDL/Arrow pair as in the reference. */
object Schemas {
  /** reference: `bars.py:115-127` */
  val bars: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, open DOUBLE, high DOUBLE, low DOUBLE, " +
      "close DOUBLE, volume BIGINT, trade_count BIGINT, vwap DOUBLE")

  /** reference: `stocks/trades.py:70-80` */
  val trades: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, exchange STRING, price DOUBLE, " +
      "size BIGINT, conditions STRING, id BIGINT, tape STRING")

  /** Crypto trades (v1beta3 family; the reference ships only the
    * empty crypto module, `crypto/__init__.py:1`). Unlike stock
    * trades, `size` is a DOUBLE (fractional coin quantities) and the
    * venue fields (exchange/conditions/tape) are replaced by the
    * single `taker_side` ("B"/"S"). */
  val cryptoTrades: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, price DOUBLE, size DOUBLE, " +
      "id BIGINT, taker_side STRING")

  /** Crypto quotes (v1beta3): best bid/ask snapshot stream. All four
    * price/size fields are DOUBLEs (fractional coin sizes). */
  val cryptoQuotes: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, bid_price DOUBLE, bid_size DOUBLE, " +
      "ask_price DOUBLE, ask_size DOUBLE")

  /** Stock NBBO quotes (v2; no reference twin — it ships only
    * bars/trades/corporate-actions). Sizes are integer round lots;
    * `conditions` flattens to CSV exactly like trades. */
  val stockQuotes: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, ask_exchange STRING, ask_price DOUBLE, " +
      "ask_size BIGINT, bid_exchange STRING, bid_price DOUBLE, " +
      "bid_size BIGINT, conditions STRING, tape STRING")

  /** Option-contract trades (v2 options family; the reference's only
    * options surface is bars, `options/bars.py:17-48` — trades/quotes
    * complete the family against the public endpoint shape). Sizes are
    * integer contract counts; `condition` is the single-character
    * option sale condition (a scalar in the API, unlike the stock
    * trades condition ARRAY), absent → empty string. */
  val optionTrades: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, exchange STRING, price DOUBLE, " +
      "size BIGINT, condition STRING")

  /** Option-contract NBBO quotes (v2 options family): integer contract
    * sizes, single scalar `condition` like option trades. */
  val optionQuotes: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, ask_exchange STRING, ask_price DOUBLE, " +
      "ask_size BIGINT, bid_exchange STRING, bid_price DOUBLE, " +
      "bid_size BIGINT, condition STRING")

  /** reference: `corporate_actions.py:93-104` */
  val corporateActions: StructType = StructType.fromDDL(
    "symbol STRING, ex_date TIMESTAMP, record_date TIMESTAMP, " +
      "payable_date TIMESTAMP, type STRING, amount DOUBLE, ratio DOUBLE, " +
      "new_symbol STRING, old_symbol STRING")

  /** News articles (v1beta1; no reference twin — the public API's
    * text endpoint, and the bridge from the market-data connector to
    * the text-curation operators). `symbol` is the REQUESTED symbol:
    * the news envelope is a FLAT array, not a per-symbol map, so a
    * cross-listed article arrives once per requested-symbol partition
    * — consumers dedup by `id` (gated). `symbols` flattens the
    * article's full ticker list to CSV exactly like trade conditions;
    * `updated_at` is nullable (absent on never-revised articles). */
  val news: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, updated_at TIMESTAMP, id BIGINT, " +
      "headline STRING, author STRING, summary STRING, content STRING, " +
      "symbols STRING, source STRING, url STRING")

  /** Opening/closing auction prints (v2 `/stocks/auctions`; no
    * reference twin — the daily-auction endpoint completes the stocks
    * family). The API groups prints into one record PER TRADING DAY
    * (`d` + `o`/`c` print arrays); the source flattens each daily
    * record into one row per print — `auction_date` is the record's
    * day (midnight UTC, like corporate-action dates), `auction_type`
    * is 'O'/'C' for the array the print came from. */
  val auctions: StructType = StructType.fromDDL(
    "symbol STRING, auction_date TIMESTAMP, auction_type STRING, " +
      "time TIMESTAMP, exchange STRING, price DOUBLE, size BIGINT, " +
      "condition STRING")

  /** Point-in-time market snapshot (v2 `/stocks/snapshots`; no
    * reference twin). The envelope maps each symbol to ONE nested
    * OBJECT (latestTrade/latestQuote/minuteBar/dailyBar/prevDailyBar)
    * — not an array — flattened here to one wide row per symbol; an
    * absent section (e.g. no prev-day bar on a new listing) nulls its
    * columns. */
  val snapshots: StructType = StructType.fromDDL(
    "symbol STRING, latest_trade_time TIMESTAMP, latest_trade_price DOUBLE, " +
      "latest_trade_size BIGINT, latest_quote_time TIMESTAMP, " +
      "bid_price DOUBLE, bid_size BIGINT, ask_price DOUBLE, ask_size BIGINT, " +
      "minute_bar_time TIMESTAMP, minute_close DOUBLE, minute_volume BIGINT, " +
      "daily_bar_time TIMESTAMP, daily_open DOUBLE, daily_high DOUBLE, " +
      "daily_low DOUBLE, daily_close DOUBLE, daily_volume BIGINT, " +
      "prev_daily_close DOUBLE")

  /** Option-contract snapshot with risk metrics (v1beta1
    * `/options/snapshots`): per-OCC-symbol OBJECT record carrying
    * `impliedVolatility`, a nested `greeks` object, and the latest
    * quote/trade — flattened to one wide row. A brand-new contract
    * has no greeks/IV yet and an untraded one no latestTrade: absent
    * sections null their columns. */
  val optionSnapshots: StructType = StructType.fromDDL(
    "symbol STRING, iv DOUBLE, delta DOUBLE, gamma DOUBLE, " +
      "theta DOUBLE, vega DOUBLE, rho DOUBLE, bid_price DOUBLE, " +
      "ask_price DOUBLE, last_price DOUBLE, last_size BIGINT")

  /** Crypto point-in-time snapshot (v1beta3 `/crypto/us/snapshots`):
    * same five-section shape as stock snapshots but under a KEYED
    * `snapshots` envelope, with fractional trade/quote sizes and no
    * venue fields. */
  val cryptoSnapshots: StructType = StructType.fromDDL(
    "symbol STRING, latest_trade_time TIMESTAMP, latest_trade_price DOUBLE, " +
      "latest_trade_size DOUBLE, latest_quote_time TIMESTAMP, " +
      "bid_price DOUBLE, bid_size DOUBLE, ask_price DOUBLE, ask_size DOUBLE, " +
      "minute_bar_time TIMESTAMP, minute_close DOUBLE, minute_volume BIGINT, " +
      "daily_bar_time TIMESTAMP, daily_open DOUBLE, daily_high DOUBLE, " +
      "daily_low DOUBLE, daily_close DOUBLE, daily_volume BIGINT, " +
      "prev_daily_close DOUBLE")

  /** Screener: most-active symbols by volume (v1beta1
    * `/screener/stocks/most-actives`) — market-wide, no symbols
    * requested; the record carries its OWN symbol. */
  val mostActives: StructType = StructType.fromDDL(
    "symbol STRING, volume BIGINT, trade_count BIGINT")

  /** Screener: top market movers (v1beta1 `/screener/stocks/movers`)
    * — the response body holds TWO arrays (`gainers`, `losers`);
    * each registers as its own source over the shared endpoint. */
  val movers: StructType = StructType.fromDDL(
    "symbol STRING, percent_change DOUBLE, change DOUBLE, price DOUBLE")

  /** Crypto latest-orderbook depth levels (v1beta3
    * `/crypto/us/latest/orderbooks`): one row per level per side,
    * `level` 1-based from the top of book in the venue's own order.
    * All prices/sizes DOUBLE (fractional coin sizes). */
  val orderbooks: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, side STRING, level INT, " +
      "price DOUBLE, size DOUBLE")
}

/** Decodes one API record straight into output column vectors — the
  * one decode path of every source (SURVEY §2.4 E1-E3): HTTP bytes →
  * Jackson tokens → column vectors → codegen'd ColumnarToRow.
  *
  * Contract: enter ON the record's START_OBJECT and consume the record
  * through its END_OBJECT. A malformed record throws
  * IllegalArgumentException with the record consumed all the same, so
  * the reader can warn and skip it (E4, `common.py:484-486`) and reuse
  * its row slots: whatever a failed record wrote at or after `row` is
  * overwritten by the next record. */
trait RecordParser extends Serializable {
  def schema: StructType

  /** @param fieldToOut output-vector ordinal for each field of
    *   [[schema]] (−1 = pruned away); `vecs` is indexed by those
    *   output ordinals.
    * @return rows written from `row` on: 1 for a plain record, 0..N
    *   for a fan-out record (auctions, orderbooks) */
  def parseIntoVectors(symbol: UTF8String, jp: JsonParser,
      vecs: Array[WritableColumnVector], fieldToOut: Array[Int], row: Int): Int

  protected final def putStr(vecs: Array[WritableColumnVector], out: Int, row: Int,
      s: String): Unit =
    if (out >= 0) {
      val b = s.getBytes(StandardCharsets.UTF_8)
      vecs(out).putByteArray(row, b, 0, b.length)
    }

  protected final def putUtf8(vecs: Array[WritableColumnVector], out: Int, row: Int,
      s: UTF8String): Unit =
    if (out >= 0) {
      val b = s.getBytes
      vecs(out).putByteArray(row, b, 0, b.length)
    }
}

object FlatRecordParser {
  // Field kinds. The required ones fail the record when absent or null;
  // the optional ones default to "".
  final val Time = 0
  final val Dbl = 1
  final val Lng = 2
  final val Str = 3
  /** Optional array of condition codes, joined to CSV (reference:
    * `stocks/trades.py:128`). */
  final val Csv = 4
  /** Optional scalar string (the option-record condition). */
  final val OptStr = 5
}

/** A flat tick/bar record of scalar fields, `{t, …}`: record field `i`
  * lands in schema column `i + 1` (column 0 is the symbol). One token
  * walk serves all of them, with no per-record DOM; a null field reads
  * as absent and unknown keys (additive schema drift) are skipped. */
abstract class FlatRecordParser(override val schema: StructType,
    fields: (String, Int)*) extends RecordParser {
  import FlatRecordParser._

  private val names = fields.map(_._1).toArray
  private val kinds = fields.map(_._2).toArray
  private val required =
    kinds.indices.foldLeft(0)((m, i) => if (kinds(i) < Csv) m | (1 << i) else m)

  /** Index of field `name`, probing from `from` first: the API writes
    * fields in a fixed order, so the probe almost always hits. */
  private def indexOf(name: String, from: Int): Int = {
    var i = from
    var k = 0
    while (k < names.length) {
      if (i == names.length) i = 0
      if (names(i) == name) return i
      i += 1
      k += 1
    }
    -1
  }

  /** Numeric and string fields write through as they are read; the
    * seen-mask gates completeness once the record ends. */
  override def parseIntoVectors(symbol: UTF8String, jp: JsonParser,
      vecs: Array[WritableColumnVector], fieldToOut: Array[Int], row: Int): Int = {
    var seen = 0
    var next = 0
    try {
      var tk = jp.nextToken()
      while (tk == JsonToken.FIELD_NAME) {
        val i = indexOf(jp.currentName(), next)
        val vt = jp.nextToken()
        if (i < 0 || vt == JsonToken.VALUE_NULL) {
          if (vt.isStructStart) jp.skipChildren()
        } else {
          val out = fieldToOut(i + 1)
          val key = names(i)
          (kinds(i): @switch) match {
            case Time =>
              val v = streamTs(jp, key)
              if (out >= 0) vecs(out).putLong(row, v)
            case Dbl =>
              val v = streamDbl(jp, key)
              if (out >= 0) vecs(out).putDouble(row, v)
            case Lng =>
              val v = streamLng(jp, key)
              if (out >= 0) vecs(out).putLong(row, v)
            case Csv => putStr(vecs, out, row, streamCsv(jp, key))
            case _ => putStr(vecs, out, row, streamStr(jp, key))
          }
          seen |= 1 << i
          next = i + 1
        }
        tk = jp.nextToken()
      }
    } catch { case e: Throwable => skipRecord(jp); throw e }
    if ((seen & required) != required)
      throw new IllegalArgumentException(
        s"missing field '${names(Integer.numberOfTrailingZeros(~seen & required))}'")
    var i = 0
    while (i < names.length) {
      if ((seen & (1 << i)) == 0) putStr(vecs, fieldToOut(i + 1), row, "")
      i += 1
    }
    putUtf8(vecs, fieldToOut(0), row, symbol)
    1
  }

  /** Realign to the current record's END_OBJECT after a mid-record
    * failure (value tokens already consumed are scalars; an
    * unconsumed struct value is skipped wholesale). */
  private def skipRecord(jp: JsonParser): Unit = {
    try {
      var tk = jp.currentToken()
      if (tk != null && tk.isStructStart) jp.skipChildren()
      tk = jp.nextToken()
      while (tk != null && tk != JsonToken.END_OBJECT) {
        if (tk.isStructStart) jp.skipChildren()
        tk = jp.nextToken()
      }
    } catch { case _: java.io.IOException => () }
  }

  private def streamTs(jp: JsonParser, key: String): Long = {
    val raw = jp.getText
    AlpacaOptions.parseIsoMicros(raw).getOrElse(
      throw new IllegalArgumentException(s"bad timestamp '$raw' in '$key'"))
  }

  private def streamDbl(jp: JsonParser, key: String): Double = {
    import JsonToken._
    jp.currentToken() match {
      case VALUE_NUMBER_INT | VALUE_NUMBER_FLOAT => jp.getDoubleValue
      case VALUE_STRING =>
        try jp.getText.toDouble
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"bad double '${jp.getText}' in '$key'") }
      case _ => throw new IllegalArgumentException(s"bad double in '$key'")
    }
  }

  private def streamLng(jp: JsonParser, key: String): Long = {
    import JsonToken._
    jp.currentToken() match {
      case VALUE_NUMBER_INT => jp.getLongValue
      case VALUE_NUMBER_FLOAT => jp.getDoubleValue.toLong
      case VALUE_STRING =>
        try jp.getText.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"bad long '${jp.getText}' in '$key'") }
      case _ => throw new IllegalArgumentException(s"bad long in '$key'")
    }
  }

  /** A scalar read as text; an array or object here is record-level
    * damage, and `getText` on it would leave the walk mid-struct. */
  private def streamStr(jp: JsonParser, key: String): String = {
    if (!jp.currentToken().isScalarValue)
      throw new IllegalArgumentException(s"bad string in '$key'")
    jp.getText
  }

  /** An array of scalar codes joined to CSV; any other value reads as
    * no codes. */
  private def streamCsv(jp: JsonParser, key: String): String =
    if (jp.currentToken() != JsonToken.START_ARRAY) { jp.skipChildren(); "" }
    else {
      val sb = new java.lang.StringBuilder
      while (jp.nextToken() != JsonToken.END_ARRAY) {
        if (sb.length > 0) sb.append(',')
        sb.append(streamStr(jp, key))
      }
      sb.toString
    }
}

import FlatRecordParser._

/** `{t,o,h,l,c,v,n,vw}` → bar row (reference: `bars.py:199-225`). */
object BarParser extends FlatRecordParser(Schemas.bars,
  "t" -> Time, "o" -> Dbl, "h" -> Dbl, "l" -> Dbl, "c" -> Dbl,
  "v" -> Lng, "n" -> Lng, "vw" -> Dbl)

/** `{t,x,p,s,c,i,z}` → trade row; the `c` array of condition codes is
  * flattened to a CSV string, absent → "" (reference:
  * `stocks/trades.py:113-140`, join at `:128`). */
object TradeParser extends FlatRecordParser(Schemas.trades,
  "t" -> Time, "x" -> Str, "p" -> Dbl, "s" -> Lng, "c" -> Csv,
  "i" -> Lng, "z" -> Str)

/** `{t,p,s,i,tks}` → crypto trade row (public Alpaca v1beta3 crypto
  * record shape; no reference code exists to mirror —
  * `crypto/__init__.py:1` is empty). `s` stays a DOUBLE (fractional
  * sizes), `tks` is the taker side. */
object CryptoTradeParser extends FlatRecordParser(Schemas.cryptoTrades,
  "t" -> Time, "p" -> Dbl, "s" -> Dbl, "i" -> Lng, "tks" -> Str)

/** `{t,ax,ap,as,bx,bp,bs,c,z}` → stock NBBO quote row (public Alpaca
  * v2 quote shape; the `c` condition array flattens to CSV like
  * trades). */
object StockQuoteParser extends FlatRecordParser(Schemas.stockQuotes,
  "t" -> Time, "ax" -> Str, "ap" -> Dbl, "as" -> Lng,
  "bx" -> Str, "bp" -> Dbl, "bs" -> Lng, "c" -> Csv, "z" -> Str)

/** `{t,bp,bs,ap,as}` → crypto quote row (public Alpaca v1beta3 quote
  * shape). */
object CryptoQuoteParser extends FlatRecordParser(Schemas.cryptoQuotes,
  "t" -> Time, "bp" -> Dbl, "bs" -> Dbl, "ap" -> Dbl, "as" -> Dbl)

/** `{t,x,p,s,c}` → option trade row (public Alpaca v2 options trade
  * shape; the reference's options family has bars only,
  * `options/bars.py:17-48`). Unlike stock trades the `c` condition is
  * a SCALAR string, absent → "", and there is no id/tape. */
object OptionTradeParser extends FlatRecordParser(Schemas.optionTrades,
  "t" -> Time, "x" -> Str, "p" -> Dbl, "s" -> Lng, "c" -> OptStr)

/** `{t,ax,ap,as,bx,bp,bs,c}` → option NBBO quote row (public Alpaca
  * v2 options quote shape): integer contract sizes, scalar `c`
  * condition, no tape. */
object OptionQuoteParser extends FlatRecordParser(Schemas.optionQuotes,
  "t" -> Time, "ax" -> Str, "ap" -> Dbl, "as" -> Lng,
  "bx" -> Str, "bp" -> Dbl, "bs" -> Lng, "c" -> OptStr)

/** The low-rate record shapes — news, corporate actions, auctions,
  * orderbooks, snapshots, screeners — read each record as a small DOM:
  * nested sections and fan-out are plain there, and at a handful of
  * records per page a token walk buys nothing. All of a record's rows
  * are built, and so validated, before the first is written: a
  * malformed record is skipped as a unit (E4). */
abstract class DomRecordParser extends RecordParser {
  /** One record → its output rows, each a schema-ordered value list:
    * String or UTF8String, Long (BIGINT and TIMESTAMP µs), Double,
    * Int, or null for SQL NULL. */
  protected def rows(symbol: UTF8String, rec: JsonNode): Seq[Seq[Any]]

  final override def parseIntoVectors(symbol: UTF8String, jp: JsonParser,
      vecs: Array[WritableColumnVector], fieldToOut: Array[Int], row: Int): Int = {
    // readValueAsTree consumes the whole record, so a validation
    // failure in rows() leaves the stream aligned
    val out = rows(symbol, jp.readValueAsTree[JsonNode]())
    var r = row
    out.foreach { values =>
      vecs.foreach(_.reserve(r + 1))
      var c = 0
      values.foreach { v =>
        val o = fieldToOut(c)
        if (o >= 0) v match {
          case null => vecs(o).putNull(r)
          case s: String => putStr(vecs, o, r, s)
          case s: UTF8String => putUtf8(vecs, o, r, s)
          case l: Long => vecs(o).putLong(r, l)
          case d: Double => vecs(o).putDouble(r, d)
          case i: Int => vecs(o).putInt(r, i)
        }
        c += 1
      }
      r += 1
    }
    out.size
  }

  protected def reqNode(rec: JsonNode, key: String): JsonNode = {
    val n = rec.get(key)
    if (n == null || n.isNull)
      throw new IllegalArgumentException(s"missing field '$key'")
    n
  }
  protected def isoMicros(rec: JsonNode, key: String): Long = {
    val raw = reqNode(rec, key).asText()
    AlpacaOptions.parseIsoMicros(raw).getOrElse(
      throw new IllegalArgumentException(s"bad timestamp '$raw' in '$key'"))
  }
  protected def dbl(rec: JsonNode, key: String): Double = {
    val n = reqNode(rec, key)
    if (n.isNumber) n.asDouble()
    else try n.asText().toDouble
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(s"bad double '$n' in '$key'") }
  }
  protected def lng(rec: JsonNode, key: String): Long = {
    val n = reqNode(rec, key)
    if (n.isIntegralNumber) n.asLong()
    else if (n.isFloatingPointNumber) n.asDouble().toLong
    else try n.asText().toLong
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(s"bad long '$n' in '$key'") }
  }
  /** Optional text; absent/null → `default`. */
  protected def text(rec: JsonNode, key: String, default: String = ""): String = {
    val n = rec.get(key)
    if (n == null || n.isNull) default else n.asText()
  }
  /** Optional timestamp; absent/null/empty → NULL. */
  protected def optIsoMicros(rec: JsonNode, key: String): Any = {
    val raw = text(rec, key)
    if (raw.isEmpty) null
    else AlpacaOptions.parseIsoMicros(raw).getOrElse(
      throw new IllegalArgumentException(s"bad timestamp in '$key'"))
  }
  /** Optional nested object: absent/null → None (its columns NULL); a
    * present non-object fails the record. */
  protected def section(rec: JsonNode, key: String): Option[JsonNode] = {
    val n = rec.get(key)
    if (n == null || n.isNull) None
    else if (!n.isObject)
      throw new IllegalArgumentException(s"snapshot '$key' is not an object")
    else Some(n)
  }
  protected def optDbl(o: Option[JsonNode], key: String): Any = o.map(dbl(_, key)).orNull
  protected def optLng(o: Option[JsonNode], key: String): Any = o.map(lng(_, key)).orNull
}

/** Corporate-action row with nullable dates and defaults; `ratio`
  * defaults to 0.0 as the reference code does (not the 1.0 its schema
  * comment claims — `corporate_actions.py:101` vs `:164`). */
object CorporateActionParser extends DomRecordParser {
  override val schema: StructType = Schemas.corporateActions

  private def dblDefault(rec: JsonNode, key: String): Double =
    if (text(rec, key, null) == null) 0.0 else dbl(rec, key)

  override protected def rows(symbol: UTF8String, rec: JsonNode): Seq[Seq[Any]] =
    Seq(Seq(symbol,
      optIsoMicros(rec, "ex_date"), optIsoMicros(rec, "record_date"),
      optIsoMicros(rec, "payable_date"),
      text(rec, "type"), dblDefault(rec, "amount"), dblDefault(rec, "ratio"),
      text(rec, "new_symbol"), text(rec, "old_symbol")))
}

/** Flat-envelope news article (v1beta1 `/news`): full-name keys
  * (`created_at`, `headline`, …), `symbols` array → CSV like trade
  * conditions, nullable `updated_at`. Required fields are
  * id/created_at/headline; everything else defaults (record-shape
  * tolerance, E4 discipline). */
object NewsParser extends DomRecordParser {
  override val schema: StructType = Schemas.news

  private def csv(rec: JsonNode, key: String): String = {
    val n = rec.get(key)
    val sb = new StringBuilder
    if (n != null) n.elements().forEachRemaining { e =>
      if (sb.nonEmpty) sb.append(',')
      sb.append(e.asText())
    }
    sb.toString
  }

  override protected def rows(symbol: UTF8String, rec: JsonNode): Seq[Seq[Any]] =
    Seq(Seq(symbol,
      isoMicros(rec, "created_at"), optIsoMicros(rec, "updated_at"),
      lng(rec, "id"), reqNode(rec, "headline").asText(),
      text(rec, "author"), text(rec, "summary"), text(rec, "content"),
      csv(rec, "symbols"), text(rec, "source"), text(rec, "url")))
}

/** Daily auction record (v2 `/stocks/auctions`): `{d, o: [print…],
  * c: [print…]}` → one row per print, tagged 'O'/'C'. `d` is required;
  * either print array may be absent or empty (half-days have no close;
  * halted days no open); print fields t/x/p/s are required, condition
  * `c` optional → "". A bad print anywhere drops the whole day. */
object AuctionParser extends DomRecordParser {
  override val schema: StructType = Schemas.auctions

  private def prints(symbol: UTF8String, dateUs: Long, tpe: String,
      arr: JsonNode): Seq[Seq[Any]] = {
    if (arr == null || arr.isNull) return Nil
    if (!arr.isArray)
      throw new IllegalArgumentException(s"auction '$tpe' is not an array")
    (0 until arr.size).map { i =>
      val p = arr.get(i)
      Seq(symbol, dateUs, tpe, isoMicros(p, "t"), reqNode(p, "x").asText(),
        dbl(p, "p"), lng(p, "s"), text(p, "c"))
    }
  }

  override protected def rows(symbol: UTF8String, rec: JsonNode): Seq[Seq[Any]] = {
    val dRaw = reqNode(rec, "d").asText()
    val dateUs = AlpacaOptions.parseIsoMicros(dRaw).getOrElse(
      throw new IllegalArgumentException(s"bad date '$dRaw' in 'd'"))
    prints(symbol, dateUs, "O", rec.get("o")) ++ prints(symbol, dateUs, "C", rec.get("c"))
  }
}

/** Latest-orderbook record (v1beta3 `/crypto/us/latest/orderbooks`):
  * the symbol's OBJECT value carries `t` and two arrays of `{p, s}`
  * depth levels, flattened to one row per level with its 1-based
  * position from the top of book. Either side may be absent or empty
  * (one-sided books happen around halts); levels keep ARRAY ORDER (the
  * venue's price-priority order) rather than re-sorting client-side. */
object OrderbookParser extends DomRecordParser {
  override val schema: StructType = Schemas.orderbooks

  private def levels(symbol: UTF8String, timeUs: Long, side: String,
      arr: JsonNode): Seq[Seq[Any]] = {
    if (arr == null || arr.isNull) return Nil
    if (!arr.isArray)
      throw new IllegalArgumentException(s"orderbook '$side' is not an array")
    (0 until arr.size).map { i =>
      val p = arr.get(i)
      Seq(symbol, timeUs, side, i + 1, dbl(p, "p"), dbl(p, "s"))
    }
  }

  override protected def rows(symbol: UTF8String, rec: JsonNode): Seq[Seq[Any]] = {
    val timeUs = isoMicros(rec, "t")
    levels(symbol, timeUs, "B", rec.get("b")) ++ levels(symbol, timeUs, "A", rec.get("a"))
  }
}

/** Snapshot record: the symbol's OBJECT value with five optional nested
  * sections (latestTrade/latestQuote/minuteBar/dailyBar/prevDailyBar),
  * flattened to one wide row. A present section with a malformed
  * required field fails the record; an ABSENT section is legitimate
  * (a new listing has no prevDailyBar) and nulls its columns. Stock
  * and crypto snapshots differ only in trade/quote size types. */
sealed class SectionSnapshotParser(override val schema: StructType,
    fractionalSizes: Boolean) extends DomRecordParser {
  override protected def rows(symbol: UTF8String, rec: JsonNode): Seq[Seq[Any]] = {
    val lt = section(rec, "latestTrade")
    val lq = section(rec, "latestQuote")
    val mb = section(rec, "minuteBar")
    val db = section(rec, "dailyBar")
    val pd = section(rec, "prevDailyBar")
    def ts(o: Option[JsonNode]): Any = o.map(isoMicros(_, "t")).orNull
    def size(o: Option[JsonNode], k: String): Any =
      if (fractionalSizes) optDbl(o, k) else optLng(o, k)
    Seq(Seq(symbol,
      ts(lt), optDbl(lt, "p"), size(lt, "s"),
      ts(lq), optDbl(lq, "bp"), size(lq, "bs"), optDbl(lq, "ap"), size(lq, "as"),
      ts(mb), optDbl(mb, "c"), optLng(mb, "v"),
      ts(db), optDbl(db, "o"), optDbl(db, "h"), optDbl(db, "l"), optDbl(db, "c"),
      optLng(db, "v"),
      optDbl(pd, "c")))
  }
}

object SnapshotParser extends SectionSnapshotParser(Schemas.snapshots, fractionalSizes = false)

/** Crypto snapshot (v1beta3): the stock snapshot's five-section
  * flatten with fractional trade/quote sizes and no venues. */
object CryptoSnapshotParser
  extends SectionSnapshotParser(Schemas.cryptoSnapshots, fractionalSizes = true)

/** Option-snapshot record: `impliedVolatility` scalar + nested
  * `greeks`/`latestQuote`/`latestTrade` objects → one wide row.
  * Absent sections are legitimate (new contracts have no greeks,
  * untraded ones no latestTrade) and null their columns; a PRESENT
  * section with a malformed required field fails the record. */
object OptionSnapshotParser extends DomRecordParser {
  override val schema: StructType = Schemas.optionSnapshots

  override protected def rows(symbol: UTF8String, rec: JsonNode): Seq[Seq[Any]] = {
    val greeks = section(rec, "greeks")
    val lq = section(rec, "latestQuote")
    val lt = section(rec, "latestTrade")
    val ivNode = rec.get("impliedVolatility")
    val iv: Any =
      if (ivNode == null || ivNode.isNull) null
      else if (ivNode.isNumber) ivNode.asDouble()
      else throw new IllegalArgumentException("bad double in 'impliedVolatility'")
    Seq(Seq(symbol, iv,
      optDbl(greeks, "delta"), optDbl(greeks, "gamma"), optDbl(greeks, "theta"),
      optDbl(greeks, "vega"), optDbl(greeks, "rho"),
      optDbl(lq, "bp"), optDbl(lq, "ap"),
      optDbl(lt, "p"), optLng(lt, "s")))
  }
}

/** Screener records carry their OWN symbol field — the passed-in
  * symbol is the partition's (empty for market-wide requests) and is
  * ignored. */
object MostActivesParser extends DomRecordParser {
  override val schema: StructType = Schemas.mostActives
  override protected def rows(symbol: UTF8String, rec: JsonNode): Seq[Seq[Any]] =
    Seq(Seq(reqNode(rec, "symbol").asText(), lng(rec, "volume"), lng(rec, "trade_count")))
}

object MoverParser extends DomRecordParser {
  override val schema: StructType = Schemas.movers
  override protected def rows(symbol: UTF8String, rec: JsonNode): Seq[Seq[Any]] =
    Seq(Seq(reqNode(rec, "symbol").asText(),
      dbl(rec, "percent_change"), dbl(rec, "change"), dbl(rec, "price")))
}
