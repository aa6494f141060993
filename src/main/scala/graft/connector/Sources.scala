package graft.connector

import org.apache.spark.sql.types.StructType

import graft.core._

/** Shared bars family (SURVEY §2.1 S9): schema + timeframe/sort
  * validation + volume-aware partition sizing, specialized by stocks
  * and options below (reference: `bars.py:76-225`). */
trait BarsSourceDef extends AlpacaSourceDef {
  override def schema: StructType = Schemas.bars
  override def dataKey: String = "bars"
  override def parser: RecordParser = BarParser
  override def integrityCheckable: Boolean = true

  override def apiParams: Seq[ApiParam] = Seq(
    ApiParam("symbols", required = true),
    ApiParam("start", required = false),
    ApiParam("end", required = false),
    ApiParam("limit", required = false),
    ApiParam("timeframe", required = true),
    ApiParam("sort", required = false))

  override def extraValidate(params: Map[String, String]): Unit = {
    Timeframe.validate(params.getOrElse("timeframe",
      throw new IllegalArgumentException("Missing required options: timeframe")))
    params.get("sort").map(_.toLowerCase).foreach { s =>
      if (s.nonEmpty && s != "asc" && s != "desc")
        throw new IllegalArgumentException(s"Invalid 'sort' value: '$s'")
    }
  }

  override def partitionIntervalMicros(startUs: Long, endUs: Long, limit: Int,
      params: Map[String, String]): Long =
    AlpacaPartitioning.barsIntervalMicros(startUs, endUs,
      Timeframe.parseMicros(params("timeframe")), limit)

  /** At most one bar per timeframe grid step — the a-priori density
    * bound that powers SupportsReportStatistics. */
  override def estimatedRowsPerSymbol(startUs: Long, endUs: Long,
      params: Map[String, String]): Option[Long] =
    params.get("timeframe").map { tf =>
      val tfUs = Timeframe.parseMicros(tf)
      math.max(0L, (endUs - startUs + tfUs - 1) / tfUs)
    }
}

/** Stock OHLCV bars — format "Alpaca_Stocks_Bars"
  * (reference: `stocks/bars.py:23-89`). */
object StockBarsDef extends BarsSourceDef {
  override val shortName = "Alpaca_Stocks_Bars"
  override val pathElements = Seq("stocks", "bars")

  private val ValidAdjustments = Set("raw", "split", "dividend", "all")
  private val ValidFeeds = Set("iex", "sip", "delayed_sip", "otc")

  override def apiParams: Seq[ApiParam] = super.apiParams ++ Seq(
    ApiParam("adjustment", required = false),
    ApiParam("feed", required = false),
    ApiParam("currency", required = false),
    ApiParam("asof", required = false))

  override def extraValidate(params: Map[String, String]): Unit = {
    params.get("adjustment").map(_.toLowerCase).foreach { a =>
      if (a.nonEmpty && !ValidAdjustments.contains(a))
        throw new IllegalArgumentException(s"Invalid 'adjustment' value: '$a'")
    }
    params.get("feed").map(_.toLowerCase).foreach { f =>
      if (f.nonEmpty && !ValidFeeds.contains(f))
        throw new IllegalArgumentException(s"Invalid 'feed' value: '$f'")
    }
    params.get("asof").foreach { a =>
      if (a.nonEmpty && !a.matches("^\\d{4}-\\d{2}-\\d{2}$"))
        throw new IllegalArgumentException(s"Invalid 'asof' format: '$a'")
    }
    super.extraValidate(params)
  }
}

/** Option-contract OHLCV bars (OCC symbols) — format
  * "Alpaca_Options_Bars" (reference: `options/bars.py:17-48`). */
object OptionBarsDef extends BarsSourceDef {
  override val shortName = "Alpaca_Options_Bars"
  override val pathElements = Seq("options", "bars")
}

/** Crypto OHLCV bars — format "Alpaca_Crypto_Bars". The reference
  * ships only an EMPTY crypto module (`crypto/__init__.py:1` — the
  * declared-but-unbuilt source); this completes it against the
  * public Alpaca crypto endpoint shape (`/v1beta3/crypto/us/bars`,
  * slash symbols like BTC/USD — URL-encoded by the shared HTTP core,
  * same bar record schema, no stock-only adjustment/feed/asof
  * options). Everything else — volume-aware partitioning, pagination,
  * retry, columnar batches — is inherited from the bars family. */
object CryptoBarsDef extends BarsSourceDef {
  override val shortName = "Alpaca_Crypto_Bars"
  override val pathElements = Seq("crypto", "us", "bars")
  override val apiVersion = "v1beta3"
}

/** Tick-by-tick stock trades — format "Alpaca_Stocks_Trades"
  * (reference: `stocks/trades.py:25-141`). */
object StockTradesDef extends AlpacaSourceDef {
  override val shortName = "Alpaca_Stocks_Trades"
  override val pathElements = Seq("stocks", "trades")
  override val dataKey = "trades"
  override def schema: StructType = Schemas.trades
  override def parser: RecordParser = TradeParser
  override def integrityCheckable: Boolean = true

  private val ValidFeeds = Set("iex", "sip", "delayed_sip", "otc")

  override def apiParams: Seq[ApiParam] = Seq(
    ApiParam("symbols", required = true),
    ApiParam("start", required = false),
    ApiParam("end", required = false),
    ApiParam("limit", required = false),
    ApiParam("sort", required = false),
    ApiParam("feed", required = false),
    ApiParam("currency", required = false))

  override def extraValidate(params: Map[String, String]): Unit = {
    params.get("sort").map(_.toLowerCase).foreach { s =>
      if (s.nonEmpty && s != "asc" && s != "desc")
        throw new IllegalArgumentException(s"Invalid 'sort' value: '$s'")
    }
    params.get("feed").map(_.toLowerCase).foreach { f =>
      if (f.nonEmpty && !ValidFeeds.contains(f))
        throw new IllegalArgumentException(s"Invalid 'feed' value: '$f'")
    }
  }
}

/** Tick-by-tick crypto trades — format "Alpaca_Crypto_Trades"
  * (`/v1beta3/crypto/us/trades`, the next v1beta3 endpoint a
  * market-data user hits after bars; the reference's crypto module is
  * empty, `crypto/__init__.py:1`). Slash symbols (BTC/USD) are
  * URL-encoded by the shared HTTP core; no stock-only feed/currency
  * options, no condition/tape fields — see Schemas.cryptoTrades. */
object CryptoTradesDef extends AlpacaSourceDef {
  override val shortName = "Alpaca_Crypto_Trades"
  override val pathElements = Seq("crypto", "us", "trades")
  override val apiVersion = "v1beta3"
  override val dataKey = "trades"
  override def schema: StructType = Schemas.cryptoTrades
  override def parser: RecordParser = CryptoTradeParser
  override def integrityCheckable: Boolean = true

  override def apiParams: Seq[ApiParam] = Seq(
    ApiParam("symbols", required = true),
    ApiParam("start", required = false),
    ApiParam("end", required = false),
    ApiParam("limit", required = false),
    ApiParam("sort", required = false))

  override def extraValidate(params: Map[String, String]): Unit =
    params.get("sort").map(_.toLowerCase).foreach { s =>
      if (s.nonEmpty && s != "asc" && s != "desc")
        throw new IllegalArgumentException(s"Invalid 'sort' value: '$s'")
    }
}

/** Stock NBBO quotes — format "Alpaca_Stocks_Quotes"
  * (`/v2/stocks/quotes`; no reference twin — it ships only
  * bars/trades/corporate-actions, and quotes are the next data type a
  * market-data user requests). Option surface mirrors stock trades
  * (feed/currency enums included). */
object StockQuotesDef extends AlpacaSourceDef {
  override val shortName = "Alpaca_Stocks_Quotes"
  override val pathElements = Seq("stocks", "quotes")
  override val dataKey = "quotes"
  override def schema: StructType = Schemas.stockQuotes
  override def parser: RecordParser = StockQuoteParser
  override def integrityCheckable: Boolean = true

  private val ValidFeeds = Set("iex", "sip", "delayed_sip", "otc")

  override def apiParams: Seq[ApiParam] = Seq(
    ApiParam("symbols", required = true),
    ApiParam("start", required = false),
    ApiParam("end", required = false),
    ApiParam("limit", required = false),
    ApiParam("sort", required = false),
    ApiParam("feed", required = false),
    ApiParam("currency", required = false))

  override def extraValidate(params: Map[String, String]): Unit = {
    params.get("sort").map(_.toLowerCase).foreach { s =>
      if (s.nonEmpty && s != "asc" && s != "desc")
        throw new IllegalArgumentException(s"Invalid 'sort' value: '$s'")
    }
    params.get("feed").map(_.toLowerCase).foreach { f =>
      if (f.nonEmpty && !ValidFeeds.contains(f))
        throw new IllegalArgumentException(s"Invalid 'feed' value: '$f'")
    }
  }
}

/** Best-bid/ask crypto quotes — format "Alpaca_Crypto_Quotes"
  * (`/v1beta3/crypto/us/quotes`; completes the v1beta3 read family
  * with bars and trades). Same option surface as crypto trades. */
object CryptoQuotesDef extends AlpacaSourceDef {
  override val shortName = "Alpaca_Crypto_Quotes"
  override val pathElements = Seq("crypto", "us", "quotes")
  override val apiVersion = "v1beta3"
  override val dataKey = "quotes"
  override def schema: StructType = Schemas.cryptoQuotes
  override def parser: RecordParser = CryptoQuoteParser
  override def integrityCheckable: Boolean = true

  override def apiParams: Seq[ApiParam] = Seq(
    ApiParam("symbols", required = true),
    ApiParam("start", required = false),
    ApiParam("end", required = false),
    ApiParam("limit", required = false),
    ApiParam("sort", required = false))

  override def extraValidate(params: Map[String, String]): Unit =
    params.get("sort").map(_.toLowerCase).foreach { s =>
      if (s.nonEmpty && s != "asc" && s != "desc")
        throw new IllegalArgumentException(s"Invalid 'sort' value: '$s'")
    }
}

/** Tick-by-tick option-contract trades — format
  * "Alpaca_Options_Trades" (`/v2/options/trades`; the reference's
  * options family is bars-only, `options/bars.py:17-48` — trades and
  * quotes complete it). OCC symbols ride the shared symbol handling;
  * no stock-only feed/currency options. */
object OptionTradesDef extends AlpacaSourceDef {
  override val shortName = "Alpaca_Options_Trades"
  override val pathElements = Seq("options", "trades")
  override val dataKey = "trades"
  override def schema: StructType = Schemas.optionTrades
  override def parser: RecordParser = OptionTradeParser
  override def integrityCheckable: Boolean = true

  override def apiParams: Seq[ApiParam] = Seq(
    ApiParam("symbols", required = true),
    ApiParam("start", required = false),
    ApiParam("end", required = false),
    ApiParam("limit", required = false),
    ApiParam("sort", required = false))

  override def extraValidate(params: Map[String, String]): Unit =
    params.get("sort").map(_.toLowerCase).foreach { s =>
      if (s.nonEmpty && s != "asc" && s != "desc")
        throw new IllegalArgumentException(s"Invalid 'sort' value: '$s'")
    }
}

/** Option-contract NBBO quotes — format "Alpaca_Options_Quotes"
  * (`/v2/options/quotes`). Same option surface as option trades. */
object OptionQuotesDef extends AlpacaSourceDef {
  override val shortName = "Alpaca_Options_Quotes"
  override val pathElements = Seq("options", "quotes")
  override val dataKey = "quotes"
  override def schema: StructType = Schemas.optionQuotes
  override def parser: RecordParser = OptionQuoteParser
  override def integrityCheckable: Boolean = true

  override def apiParams: Seq[ApiParam] = Seq(
    ApiParam("symbols", required = true),
    ApiParam("start", required = false),
    ApiParam("end", required = false),
    ApiParam("limit", required = false),
    ApiParam("sort", required = false))

  override def extraValidate(params: Map[String, String]): Unit =
    params.get("sort").map(_.toLowerCase).foreach { s =>
      if (s.nonEmpty && s != "asc" && s != "desc")
        throw new IllegalArgumentException(s"Invalid 'sort' value: '$s'")
    }
}

/** Opening/closing auction prints — format "Alpaca_Stocks_Auctions"
  * (`/v2/stocks/auctions`; the reference's stocks family is
  * bars/trades only — auctions complete the daily-lifecycle surface).
  * The endpoint's record is a DAILY envelope (`d` + `o`/`c` print
  * arrays), the one fan-out record shape in the API: the parser
  * flattens each daily record to one row per print (its decode
  * returns the print count). Pagination counts daily records (the API's own
  * unit), so the default 1-day partition interval gives at most a
  * handful of records per request — estimatedRowsPerSymbol bounds the
  * scan for the cost model at 8 prints/day. */
object StockAuctionsDef extends AlpacaSourceDef {
  override val shortName = "Alpaca_Stocks_Auctions"
  override val pathElements = Seq("stocks", "auctions")
  override val dataKey = "auctions"
  override def schema: StructType = Schemas.auctions
  override def parser: RecordParser = AuctionParser

  private val ValidFeeds = Set("iex", "sip", "delayed_sip", "otc")

  override def apiParams: Seq[ApiParam] = Seq(
    ApiParam("symbols", required = true),
    ApiParam("start", required = false),
    ApiParam("end", required = false),
    ApiParam("limit", required = false),
    ApiParam("sort", required = false),
    ApiParam("feed", required = false))

  override def extraValidate(params: Map[String, String]): Unit = {
    params.get("sort").map(_.toLowerCase).foreach { s =>
      if (s.nonEmpty && s != "asc" && s != "desc")
        throw new IllegalArgumentException(s"Invalid 'sort' value: '$s'")
    }
    params.get("feed").map(_.toLowerCase).foreach { f =>
      if (f.nonEmpty && !ValidFeeds.contains(f))
        throw new IllegalArgumentException(s"Invalid 'feed' value: '$f'")
    }
  }

  /** ≤ ~8 auction prints per symbol-day (open + close + reopenings). */
  override def estimatedRowsPerSymbol(startUs: Long, endUs: Long,
      params: Map[String, String]): Option[Long] =
    Some(8L * math.max(1L,
      (endUs - startUs + AlpacaPartitioning.DayMicros - 1) / AlpacaPartitioning.DayMicros))
}

/** Point-in-time snapshots — format "Alpaca_Stocks_Snapshots"
  * (`/v2/stocks/snapshots`; the "where is the market right now" call
  * every dashboard makes). Three ways it differs from the row-stream
  * sources, all exercised here: the envelope maps each symbol to ONE
  * OBJECT at the TOP level of the body — no envelope key at all (the
  * bare-envelope walker branch) — there is NO time grid
  * (`timeless` — start/end neither accepted nor sent, one partition
  * per symbol group), and exactly one row per symbol comes back
  * (estimatedRowsPerSymbol = 1, so the optimizer knows a snapshot
  * join side is broadcast-sized no matter how many symbols). */
object StockSnapshotsDef extends AlpacaSourceDef {
  override val shortName = "Alpaca_Stocks_Snapshots"
  override val pathElements = Seq("stocks", "snapshots")
  // the real multi-symbol response has NO envelope key: symbols are
  // the top-level fields — empty dataKey selects the bare-envelope
  // walker branch
  override val dataKey = ""
  override def schema: StructType = Schemas.snapshots
  override def parser: RecordParser = SnapshotParser
  override def timeless: Boolean = true
  override def timeColumn: Option[String] = None

  private val ValidFeeds = Set("iex", "sip", "delayed_sip", "otc")

  override def apiParams: Seq[ApiParam] = Seq(
    ApiParam("symbols", required = true),
    ApiParam("feed", required = false),
    ApiParam("currency", required = false))

  override def extraValidate(params: Map[String, String]): Unit =
    params.get("feed").map(_.toLowerCase).foreach { f =>
      if (f.nonEmpty && !ValidFeeds.contains(f))
        throw new IllegalArgumentException(s"Invalid 'feed' value: '$f'")
    }

  override def estimatedRowsPerSymbol(startUs: Long, endUs: Long,
      params: Map[String, String]): Option[Long] = Some(1L)
}

/** Latest crypto orderbooks — format "Alpaca_Crypto_Orderbooks"
  * (`/v1beta3/crypto/us/latest/orderbooks`; completes the crypto
  * family with the DEPTH data type). Combines the two newest
  * connector paths: a timeless point-in-time fetch (like snapshots)
  * whose keyed-envelope record is an OBJECT that fans out (like
  * auctions) — one row per depth level per side, array order
  * preserved (the venue's price priority). Depth is bounded by the
  * venue's book-levels cap, so rows/symbol is a small constant. */
object CryptoOrderbooksDef extends AlpacaSourceDef {
  override val shortName = "Alpaca_Crypto_Orderbooks"
  override val pathElements = Seq("crypto", "us", "latest", "orderbooks")
  override val apiVersion = "v1beta3"
  override val dataKey = "orderbooks"
  override def schema: StructType = Schemas.orderbooks
  override def parser: RecordParser = OrderbookParser
  override def timeless: Boolean = true
  override def timeColumn: Option[String] = None

  override def apiParams: Seq[ApiParam] = Seq(
    ApiParam("symbols", required = true))

  /** ≤ ~2 × max book depth (both sides); venues cap depth well under
    * this. */
  override def estimatedRowsPerSymbol(startUs: Long, endUs: Long,
      params: Map[String, String]): Option[Long] = Some(100L)
}

/** Latest-record family (`/v2/stocks/{trades,quotes,bars}/latest`):
  * the point-in-time twin of each row-stream source — same schema,
  * same parser, but the keyed envelope maps each symbol to ONE object
  * record (the object-record walker branch) and the fetch is
  * timeless. One row per symbol, statistics say so, so a
  * latest-price join side always broadcasts. */
trait LatestSourceDef extends AlpacaSourceDef {
  override def timeless: Boolean = true
  override def timeColumn: Option[String] = None
  override def apiParams: Seq[ApiParam] = Seq(
    ApiParam("symbols", required = true),
    ApiParam("feed", required = false),
    ApiParam("currency", required = false))
  override def estimatedRowsPerSymbol(startUs: Long, endUs: Long,
      params: Map[String, String]): Option[Long] = Some(1L)
}

object LatestTradesDef extends LatestSourceDef {
  override val shortName = "Alpaca_Stocks_Trades_Latest"
  override val pathElements = Seq("stocks", "trades", "latest")
  override val dataKey = "trades"
  override def schema: StructType = Schemas.trades
  override def parser: RecordParser = TradeParser
}

object LatestQuotesDef extends LatestSourceDef {
  override val shortName = "Alpaca_Stocks_Quotes_Latest"
  override val pathElements = Seq("stocks", "quotes", "latest")
  override val dataKey = "quotes"
  override def schema: StructType = Schemas.stockQuotes
  override def parser: RecordParser = StockQuoteParser
}

object LatestBarsDef extends LatestSourceDef {
  override val shortName = "Alpaca_Stocks_Bars_Latest"
  override val pathElements = Seq("stocks", "bars", "latest")
  override val dataKey = "bars"
  override def schema: StructType = Schemas.bars
  override def parser: RecordParser = BarParser
}

/** Option-contract snapshots with risk metrics — format
  * "Alpaca_Options_Snapshots" (`/v1beta1/options/snapshots`): IV +
  * greeks + latest quote/trade per OCC symbol, the input to every
  * vol-surface and exposure computation. Timeless keyed-object
  * envelope like stock snapshots; one row per contract. */
object OptionSnapshotsDef extends AlpacaSourceDef {
  override val shortName = "Alpaca_Options_Snapshots"
  override val pathElements = Seq("options", "snapshots")
  override val apiVersion = "v1beta1"
  override val dataKey = "snapshots"
  override def schema: StructType = Schemas.optionSnapshots
  override def parser: RecordParser = OptionSnapshotParser
  override def timeless: Boolean = true
  override def timeColumn: Option[String] = None

  override def apiParams: Seq[ApiParam] = Seq(
    ApiParam("symbols", required = true),
    ApiParam("feed", required = false))

  override def estimatedRowsPerSymbol(startUs: Long, endUs: Long,
      params: Map[String, String]): Option[Long] = Some(1L)
}

/** Crypto latest-record family + snapshots (v1beta3
  * `/crypto/us/latest/{trades,quotes,bars}` and `/crypto/us/
  * snapshots`): the point-in-time surface for the crypto asset
  * class, completing the asset×datatype matrix. Same timeless
  * object-record machinery as stocks; the crypto snapshot envelope
  * is KEYED (`snapshots` data key), unlike the bare stock one —
  * both envelope conventions are exercised. */
trait CryptoLatestSourceDef extends AlpacaSourceDef {
  override val apiVersion = "v1beta3"
  override def timeless: Boolean = true
  override def timeColumn: Option[String] = None
  override def apiParams: Seq[ApiParam] = Seq(ApiParam("symbols", required = true))
  override def estimatedRowsPerSymbol(startUs: Long, endUs: Long,
      params: Map[String, String]): Option[Long] = Some(1L)
}

object CryptoLatestTradesDef extends CryptoLatestSourceDef {
  override val shortName = "Alpaca_Crypto_Trades_Latest"
  override val pathElements = Seq("crypto", "us", "latest", "trades")
  override val dataKey = "trades"
  override def schema: StructType = Schemas.cryptoTrades
  override def parser: RecordParser = CryptoTradeParser
}

object CryptoLatestQuotesDef extends CryptoLatestSourceDef {
  override val shortName = "Alpaca_Crypto_Quotes_Latest"
  override val pathElements = Seq("crypto", "us", "latest", "quotes")
  override val dataKey = "quotes"
  override def schema: StructType = Schemas.cryptoQuotes
  override def parser: RecordParser = CryptoQuoteParser
}

object CryptoLatestBarsDef extends CryptoLatestSourceDef {
  override val shortName = "Alpaca_Crypto_Bars_Latest"
  override val pathElements = Seq("crypto", "us", "latest", "bars")
  override val dataKey = "bars"
  override def schema: StructType = Schemas.bars
  override def parser: RecordParser = BarParser
}

object CryptoSnapshotsDef extends CryptoLatestSourceDef {
  override val shortName = "Alpaca_Crypto_Snapshots"
  override val pathElements = Seq("crypto", "us", "snapshots")
  override val dataKey = "snapshots"
  override def schema: StructType = Schemas.cryptoSnapshots
  override def parser: RecordParser = CryptoSnapshotParser
}

/** Screener endpoints (v1beta1 `/screener/stocks/...`): MARKET-WIDE
  * timeless fetches — the one family that takes NO symbols at all
  * (records carry their own), planned as a single partition. `top`
  * bounds the answer server-side. The movers response holds TWO
  * arrays (`gainers`/`losers`); each registers as its own source
  * over the shared endpoint, selected by dataKey. */
trait ScreenerSourceDef extends AlpacaSourceDef {
  override val apiVersion = "v1beta1"
  override def timeless: Boolean = true
  override def timeColumn: Option[String] = None
  override def apiParams: Seq[ApiParam] = Seq(ApiParam("top", required = false))
  override def extraValidate(params: Map[String, String]): Unit =
    params.get("top").foreach { v =>
      val t = try v.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"Invalid 'top' option: '$v' is not an integer")
      }
      if (t <= 0 || t > 100)
        throw new IllegalArgumentException(
          s"Invalid 'top' option: must be in [1, 100], got '$v'")
    }
  /** One bounded top-N list per request. */
  override def estimatedRowsPerSymbol(startUs: Long, endUs: Long,
      params: Map[String, String]): Option[Long] =
    Some(params.get("top").map(_.trim.toLong).getOrElse(10L))
}

object MostActivesDef extends ScreenerSourceDef {
  override val shortName = "Alpaca_Screener_MostActives"
  override val pathElements = Seq("screener", "stocks", "most-actives")
  override val dataKey = "most_actives"
  override def schema: StructType = Schemas.mostActives
  override def parser: RecordParser = MostActivesParser
  override def apiParams: Seq[ApiParam] =
    super.apiParams :+ ApiParam("by", required = false)
  override def extraValidate(params: Map[String, String]): Unit = {
    super.extraValidate(params)
    params.get("by").foreach { b =>
      if (b.nonEmpty && b != "volume" && b != "trades")
        throw new IllegalArgumentException(
          s"Invalid 'by' value: '$b' (expected volume/trades)")
    }
  }
}

object MoversGainersDef extends ScreenerSourceDef {
  override val shortName = "Alpaca_Screener_Gainers"
  override val pathElements = Seq("screener", "stocks", "movers")
  override val dataKey = "gainers"
  override def schema: StructType = Schemas.movers
  override def parser: RecordParser = MoverParser
}

object MoversLosersDef extends ScreenerSourceDef {
  override val shortName = "Alpaca_Screener_Losers"
  override val pathElements = Seq("screener", "stocks", "movers")
  override val dataKey = "losers"
  override def schema: StructType = Schemas.movers
  override def parser: RecordParser = MoverParser
}

/** Market news — format "Alpaca_News" (`/v1beta1/news`; no reference
  * twin — the public API's TEXT endpoint, and the bridge from the
  * market-data connector to the text-curation operator family). The
  * envelope is a FLAT article array, not a per-symbol map (the one
  * such shape in the API) — the page source's array branch assigns
  * the partition's requested symbol, so cross-listed articles arrive
  * once per requested symbol and consumers dedup by `id` (gated by
  * `alpaca_news_dedup`). */
object NewsDef extends AlpacaSourceDef {
  override val shortName = "Alpaca_News"
  override val pathElements = Seq("news")
  override val apiVersion = "v1beta1"
  override val dataKey = "news"
  override def schema: StructType = Schemas.news
  override def parser: RecordParser = NewsParser

  override def apiParams: Seq[ApiParam] = Seq(
    ApiParam("symbols", required = true),
    ApiParam("start", required = false),
    ApiParam("end", required = false),
    ApiParam("limit", required = false),
    ApiParam("sort", required = false),
    ApiParam("include_content", required = false),
    ApiParam("exclude_contentless", required = false))

  override def extraValidate(params: Map[String, String]): Unit = {
    params.get("sort").map(_.toLowerCase).foreach { s =>
      if (s.nonEmpty && s != "asc" && s != "desc")
        throw new IllegalArgumentException(s"Invalid 'sort' value: '$s'")
    }
    Seq("include_content", "exclude_contentless").foreach { k =>
      params.get(k).map(_.toLowerCase).foreach { v =>
        if (v.nonEmpty && v != "true" && v != "false")
          throw new IllegalArgumentException(
            s"Invalid '$k' value: '$v' (expected true/false)")
      }
    }
  }
}

/** Dividends/splits/mergers/spinoffs — format
  * "Alpaca_Corporate_Actions" (reference:
  * `corp_actions/corporate_actions.py:38-175`). */
object CorporateActionsDef extends AlpacaSourceDef {
  override val shortName = "Alpaca_Corporate_Actions"
  override val pathElements = Seq("stocks", "corporate_actions")
  override val dataKey = "corporate_actions"
  override def schema: StructType = Schemas.corporateActions
  override def parser: RecordParser = CorporateActionParser
  // Time filtering is option-driven (`types`/`date_type`), not by a
  // single time column — no predicate-pushdown time narrowing here.
  override def timeColumn: Option[String] = None

  private val ValidTypes =
    Set("dividend", "split", "merger", "spinoff", "stock_dividend", "all")
  private val ValidDateTypes = Set("ex_date", "record_date", "payable_date")

  override def apiParams: Seq[ApiParam] = Seq(
    ApiParam("symbols", required = true),
    ApiParam("start", required = false),
    ApiParam("end", required = false),
    ApiParam("limit", required = false),
    ApiParam("sort", required = false),
    ApiParam("types", required = false),
    ApiParam("date_type", required = false))

  override def extraValidate(params: Map[String, String]): Unit = {
    params.get("sort").map(_.toLowerCase).foreach { s =>
      if (s.nonEmpty && s != "asc" && s != "desc")
        throw new IllegalArgumentException(s"Invalid 'sort' value: '$s'")
    }
    params.get("types").foreach { ts =>
      val invalid = ts.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty)
        .filterNot(ValidTypes.contains)
      if (invalid.nonEmpty)
        throw new IllegalArgumentException(s"Invalid 'types' values: ${invalid.mkString(",")}")
    }
    params.get("date_type").foreach { d =>
      if (!ValidDateTypes.contains(d))
        throw new IllegalArgumentException(s"Invalid 'date_type' value: '$d'")
    }
  }
}

// DataSourceRegister entry points (META-INF/services), one per source.
class StockBarsDataSource extends AlpacaTableProvider(StockBarsDef)
class OptionBarsDataSource extends AlpacaTableProvider(OptionBarsDef)
class CryptoBarsDataSource extends AlpacaTableProvider(CryptoBarsDef)
class StockTradesDataSource extends AlpacaTableProvider(StockTradesDef)
class CryptoTradesDataSource extends AlpacaTableProvider(CryptoTradesDef)
class CryptoQuotesDataSource extends AlpacaTableProvider(CryptoQuotesDef)
class StockQuotesDataSource extends AlpacaTableProvider(StockQuotesDef)
class OptionTradesDataSource extends AlpacaTableProvider(OptionTradesDef)
class OptionQuotesDataSource extends AlpacaTableProvider(OptionQuotesDef)
class CorporateActionsDataSource extends AlpacaTableProvider(CorporateActionsDef)
class NewsDataSource extends AlpacaTableProvider(NewsDef)
class StockAuctionsDataSource extends AlpacaTableProvider(StockAuctionsDef)
class StockSnapshotsDataSource extends AlpacaTableProvider(StockSnapshotsDef)
class CryptoOrderbooksDataSource extends AlpacaTableProvider(CryptoOrderbooksDef)
class LatestTradesDataSource extends AlpacaTableProvider(LatestTradesDef)
class LatestQuotesDataSource extends AlpacaTableProvider(LatestQuotesDef)
class LatestBarsDataSource extends AlpacaTableProvider(LatestBarsDef)
class OptionSnapshotsDataSource extends AlpacaTableProvider(OptionSnapshotsDef)
class MostActivesDataSource extends AlpacaTableProvider(MostActivesDef)
class MoversGainersDataSource extends AlpacaTableProvider(MoversGainersDef)
class MoversLosersDataSource extends AlpacaTableProvider(MoversLosersDef)
class CryptoLatestTradesDataSource extends AlpacaTableProvider(CryptoLatestTradesDef)
class CryptoLatestQuotesDataSource extends AlpacaTableProvider(CryptoLatestQuotesDef)
class CryptoLatestBarsDataSource extends AlpacaTableProvider(CryptoLatestBarsDef)
class CryptoSnapshotsDataSource extends AlpacaTableProvider(CryptoSnapshotsDef)
