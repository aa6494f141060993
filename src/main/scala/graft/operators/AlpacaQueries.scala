package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.AlpacaOptions
import graft.stub.{AlpacaFixtures, AlpacaStubServer}

/**
 * Correctness-gate entries for the DSv2 Alpaca connector (SURVEY §2.1–
 * §2.4): each query reads through the full connector path — option
 * validation, partition planning, HTTP pagination, JSON parsing —
 * against the in-process stub, and its oracle is a DuckDB VALUES table
 * generated from the same pure fixture functions the stub serves. Any
 * drift in partition math (gaps/overlaps), pagination, or parsing
 * breaks the hash match.
 *
 * Timestamps are projected as formatted strings; doubles sit on a 0.25
 * grid so literals round-trip bit-exactly (see AlpacaFixtures).
 */
object AlpacaQueries {

  private val Hour = AlpacaFixtures.HourUs
  private val Day = AlpacaFixtures.DayUs

  private[operators] def us(iso: String): Long = AlpacaOptions.parseIsoMicros(iso).get

  private[operators] def fmtTs(usVal: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(usVal / 1000000L))

  private[operators] def fmtD(d: Double): String =
    if (d == d.toLong.toDouble) d.toLong.toString + ".0" else d.toString

  private[operators] def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Stub endpoint: in-process by default; GRAFT_STUB_ENDPOINT points
    * the gates at an external stub JVM — used when benchmarking so the
    * fixture server gets its own process exactly like the reference
    * bench does, instead of competing with Spark for this JVM's
    * CPUs/heap. */
  private[operators] def baseOptions(sym: String*): Map[String, String] = Map(
    "endpoint" -> sys.env.getOrElse("GRAFT_STUB_ENDPOINT", AlpacaStubServer.endpoint),
    "APCA-API-KEY-ID" -> "test-key",
    "APCA-API-SECRET-KEY" -> "test-secret",
    "symbols" -> sym.mkString("['", "','", "']"))

  // ------------------------------------------------------------- bars
  private val barsStart = "2021-01-04T00:00:00Z"
  private val barsEnd = "2021-01-06T00:00:00Z"
  private val barsSymbols = Seq("AAPL", "MSFT")

  private def barsDf(spark: SparkSession, extra: Map[String, String],
      format: String = "Alpaca_Stocks_Bars", symbols: Seq[String] = barsSymbols,
      timeframe: String = "1Hour"): DataFrame =
    spark.read.format(format)
      .options(baseOptions(symbols: _*) ++ Map(
        "timeframe" -> timeframe, "start" -> barsStart, "end" -> barsEnd) ++ extra)
      .load()

  private def barsProjection(df: DataFrame): DataFrame =
    df.select(col("symbol"),
      date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("bar_time"),
      col("open"), col("high"), col("low"), col("close"),
      col("volume"), col("trade_count"), col("vwap"))
      .orderBy(col("symbol"), col("bar_time"))

  private def barsValuesSql(symbols: Seq[String], startUs: Long, endUs: Long,
      tfUs: Long): String =
    barsValuesSqlFromRows(symbols.sorted.flatMap { s =>
      AlpacaFixtures.bars(s, startUs, endUs, tfUs)
    })

  private def barsValuesSqlFromRows(barRows: Seq[AlpacaFixtures.Bar]): String = {
    val rows = barRows.map { b =>
      s"(${sqlStr(b.symbol)}, ${sqlStr(fmtTs(b.timeUs))}, ${fmtD(b.open)}, " +
        s"${fmtD(b.high)}, ${fmtD(b.low)}, ${fmtD(b.close)}, ${b.volume}, " +
        s"${b.tradeCount}, ${fmtD(b.vwap)})"
    }
    s"""SELECT symbol, bar_time, CAST(open AS DOUBLE) AS open,
       |  CAST(high AS DOUBLE) AS high, CAST(low AS DOUBLE) AS low,
       |  CAST(close AS DOUBLE) AS close, CAST(volume AS BIGINT) AS volume,
       |  CAST(trade_count AS BIGINT) AS trade_count, CAST(vwap AS DOUBLE) AS vwap
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, bar_time, open, high, low, close, volume, trade_count, vwap)
       |ORDER BY symbol, bar_time""".stripMargin
  }

  /** Full scan through the connector: 2 symbols × 48 hourly bars. */
  def barsScan(spark: SparkSession, dir: String): DataFrame =
    barsProjection(barsDf(spark, Map.empty))

  def barsScanSql: String =
    barsValuesSql(barsSymbols, us(barsStart), us(barsEnd), Hour)

  /** Multi-symbol batched requests (`symbol_batch`): 6 symbols ride in
    * 2 comma-joined request chains (3 symbols each) instead of 6 — the
    * connector-side fix for the 5 000-symbols × short-range shape,
    * where one-symbol-per-request turns the partition grid into 5 000
    * HTTP round-trips when ~50 would do. The stub paginates the
    * combined stream symbol-major with pages spanning symbol
    * boundaries (the real API's multi-symbol behavior), and the
    * low `limit` forces that spanning to actually happen. Hash parity
    * with the same per-symbol VALUES oracle proves batched ∪ ==
    * unbatched. */
  private val multiSymbols = Seq("AAPL", "MSFT", "GOOG", "AMZN", "TSLA", "NVDA")
  def barsMultiSymbol(spark: SparkSession, dir: String): DataFrame =
    barsProjection(barsDf(spark,
      Map("symbol_batch" -> "3", "limit" -> "17"), symbols = multiSymbols))

  def barsMultiSymbolSql: String =
    barsValuesSql(multiSymbols, us(barsStart), us(barsEnd), Hour)

  /** Same scan with symbol + time predicates: exercises
    * SupportsPushDownFilters partition pruning (fewer planned API
    * calls) with identical results. */
  def barsPushdown(spark: SparkSession, dir: String): DataFrame = {
    val lo = "2021-01-04 06:00:00"
    val hi = "2021-01-05 18:00:00"
    barsProjection(barsDf(spark, Map.empty)
      .filter(col("symbol") === "AAPL" &&
        col("time") >= lit(lo).cast("timestamp") &&
        col("time") < lit(hi).cast("timestamp")))
  }

  def barsPushdownSql: String =
    barsValuesSql(Seq("AAPL"), us("2021-01-04T06:00:00Z"), us("2021-01-05T18:00:00Z"), Hour)

  /** `time <= bound` pushdown with the bound exactly ON the hourly
    * grid: fetches are half-open [start,end), so narrowing the planned
    * end to the literal (instead of the next micro) would silently
    * drop the boundary bar — the round-1 advisor finding. */
  def barsPushdownLe(spark: SparkSession, dir: String): DataFrame = {
    val lo = "2021-01-04 06:00:00"
    val hi = "2021-01-05 18:00:00" // exactly on the hourly grid
    barsProjection(barsDf(spark, Map.empty)
      .filter(col("symbol") === "AAPL" &&
        col("time") >= lit(lo).cast("timestamp") &&
        col("time") <= lit(hi).cast("timestamp")))
  }

  def barsPushdownLeSql: String =
    barsValuesSql(Seq("AAPL"), us("2021-01-04T06:00:00Z"),
      us("2021-01-05T18:00:00Z") + 1, Hour)

  /** `sort=desc` passthrough proven end-to-end
    * (`stocks/trades.py:54-57`): a pushed LIMIT over a single
    * partition returns whichever rows the SERVER serves first, so only
    * a desc-honoring fetch+parse path yields the three LATEST bars. */
  def barsSortedDesc(spark: SparkSession, dir: String): DataFrame =
    barsProjection(barsDf(spark,
      Map("sort" -> "desc", "start" -> tradesStart, "end" -> tradesEnd),
      symbols = Seq("AAPL")).limit(3))

  def barsSortedDescSql: String =
    barsValuesSqlFromRows(
      AlpacaFixtures.bars("AAPL", us(tradesStart), us(tradesEnd), Hour)
        .reverse.take(3))

  /** Small page size (limit=7) forces multi-page pagination AND the
    * bars volume-aware partition split; results must be identical. */
  def barsPaginated(spark: SparkSession, dir: String): DataFrame =
    barsProjection(barsDf(spark, Map("limit" -> "7")))

  def barsPaginatedSql: String = barsScanSql

  /** Option-contract bars via the shared bars family (OCC symbol). */
  private val occSymbol = "AAPL210115C00150000"
  def optionBarsScan(spark: SparkSession, dir: String): DataFrame =
    barsProjection(barsDf(spark, Map.empty, format = "Alpaca_Options_Bars",
      symbols = Seq(occSymbol)))

  def optionBarsScanSql: String =
    barsValuesSql(Seq(occSymbol), us(barsStart), us(barsEnd), Hour)

  /** Crypto bars through the completed S7 source: slash symbols
    * (BTC/USD) exercise URL-encoding end-to-end; everything else is
    * the shared bars family. */
  private val cryptoSymbols = Seq("BTC/USD", "ETH/USD")
  def cryptoBarsScan(spark: SparkSession, dir: String): DataFrame =
    barsProjection(barsDf(spark, Map.empty, format = "Alpaca_Crypto_Bars",
      symbols = cryptoSymbols))

  def cryptoBarsScanSql: String =
    barsValuesSql(cryptoSymbols, us(barsStart), us(barsEnd), Hour)

  // ----------------------------------------------------------- trades
  private val tradesStart = "2021-01-04T00:00:00Z"
  private val tradesEnd = "2021-01-05T00:00:00Z"
  private val tradesSymbols = Seq("AAPL", "MSFT")

  /** Crypto trades through the v1beta3 source: fractional DOUBLE
    * sizes, taker side instead of venue fields, slash symbols
    * URL-encoded end-to-end (no reference twin — its crypto module
    * is empty, `crypto/__init__.py:1`). */
  def cryptoTradesScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("Alpaca_Crypto_Trades")
      .options(baseOptions(cryptoSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> tradesEnd))
      .load()
      .select(col("symbol"),
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("trade_time"),
        col("price"), col("size"), col("id"), col("taker_side"))
      .orderBy(col("symbol"), col("trade_time"))

  def cryptoTradesScanSql: String = {
    val rows = cryptoSymbols.sorted.flatMap { s =>
      AlpacaFixtures.cryptoTrades(s, us(tradesStart), us(tradesEnd))
    }.map { t =>
      s"(${sqlStr(t.symbol)}, ${sqlStr(fmtTs(t.timeUs))}, ${fmtD(t.price)}, " +
        s"${fmtD(t.size)}, ${t.id}, ${sqlStr(t.takerSide)})"
    }
    s"""SELECT symbol, trade_time, CAST(price AS DOUBLE) AS price,
       |  CAST(size AS DOUBLE) AS size, CAST(id AS BIGINT) AS id, taker_side
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, trade_time, price, size, id, taker_side)
       |ORDER BY symbol, trade_time""".stripMargin
  }

  /** The Alpaca MICRO-BATCH STREAM as a correctness gate: replay the
    * bars range in 6-hour steps through the columnar streaming reader
    * and drain append-mode into a table. Equality with the batch
    * VALUES oracle proves the offset tiling (no duplicates, no gaps
    * across micro-batches) AND the vectorized stream decode
    * end-to-end — the same plan a production job runs with a live
    * endpoint and wall-clock-advancing offsets. */
  def streamBarsScan(spark: SparkSession, dir: String): DataFrame = {
    val stream = spark.readStream.format("Alpaca_Stocks_Bars")
      .options(baseOptions(barsSymbols: _*) ++ Map(
        "timeframe" -> "1Hour", "start" -> barsStart, "end" -> barsEnd,
        "stream_step" -> "6Hours"))
      .load()
    barsProjection(Streaming.drainToTable(spark, stream, "append"))
  }

  def streamBarsScanSql: String =
    barsValuesSql(barsSymbols, us(barsStart), us(barsEnd), Hour)

  private val quotesScanEnd = "2021-01-04T06:00:00Z"

  /** Stock NBBO quotes: full scan incl. the conditions flatten (same
    * CSV discipline as trades) over a 6-hour window. */
  def stockQuotesScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("Alpaca_Stocks_Quotes")
      .options(baseOptions(tradesSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> quotesScanEnd))
      .load()
      .select(col("symbol"),
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("quote_time"),
        col("ask_exchange"), col("ask_price"), col("ask_size"),
        col("bid_exchange"), col("bid_price"), col("bid_size"),
        col("conditions"), col("tape"))
      .orderBy(col("symbol"), col("quote_time"))

  def stockQuotesScanSql: String = {
    val rows = tradesSymbols.sorted.flatMap { s =>
      AlpacaFixtures.stockQuotes(s, us(tradesStart), us(quotesScanEnd))
    }.map { qt =>
      s"(${sqlStr(qt.symbol)}, ${sqlStr(fmtTs(qt.timeUs))}, ${sqlStr(qt.askExchange)}, " +
        s"${fmtD(qt.askPrice)}, ${qt.askSize}, ${sqlStr(qt.bidExchange)}, " +
        s"${fmtD(qt.bidPrice)}, ${qt.bidSize}, " +
        s"${sqlStr(qt.conditions.mkString(","))}, ${sqlStr(qt.tape)})"
    }
    s"""SELECT symbol, quote_time, ask_exchange,
       |  CAST(ask_price AS DOUBLE) AS ask_price,
       |  CAST(ask_size AS BIGINT) AS ask_size, bid_exchange,
       |  CAST(bid_price AS DOUBLE) AS bid_price,
       |  CAST(bid_size AS BIGINT) AS bid_size, conditions, tape
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, quote_time, ask_exchange, ask_price, ask_size,
       |       bid_exchange, bid_price, bid_size, conditions, tape)
       |ORDER BY symbol, quote_time""".stripMargin
  }

  /** Time-weighted average spread per symbol — the canonical quote
    * analytic (a plain AVG over quote events is wrong whenever quote
    * arrival is bursty; each spread must be weighted by how long it
    * was the standing book). Each quote holds until the next one,
    * the last until the window end; weights are exact µs longs and
    * spreads are exact quarter-grid ints (spread×4), so the single
    * double division at the end is bit-identical in both engines.
    * One window + one aggregation, both on the symbol shuffle key. */
  /** Plain TWA core over prepared quotes(symbol, t_us, spread4).
    * Exposed for the hot-symbol equivalence spec. */
  private[graft] def twaPlain(quotes: DataFrame, endUs: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("t_us"))
    quotes
      .withColumn("dur",
        coalesce(lead(col("t_us"), 1).over(w), lit(endUs)) - col("t_us"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_quotes"),
        (sum(col("spread4") * col("dur")).cast("double") /
          sum(col("dur")).cast("double") / 4.0).as("twa_spread"),
        (max(col("spread4")).cast("double") / 4.0).as("max_spread"))
      .orderBy(col("symbol"))
  }

  /** Bucketed TWA core: the duration-stitching instance of the
    * hot-key technique. Each quote's reign ends at the NEXT quote
    * (or the window end); within a (symbol, time-bucket) that is an
    * in-bucket lead, and only each bucket's LAST quote needs
    * cross-bucket information — the first quote instant of the
    * nearest later non-empty bucket, which is a per-bucket min rolled
    * backward over the tiny spine (bucket time-ordering makes the
    * nearest later bucket's min the global next). Σ spread·dur is
    * invariant to how durations are grouped, so the final per-symbol
    * aggregate is bit-identical to the plain form. */
  private[graft] def twaBucketed(quotes0: DataFrame, endUs: Long,
      bucketUs: Long): DataFrame = {
    val W = bucketUs
    val wExpr = org.apache.spark.sql.expressions.Window
    val quotes = quotes0
      .withColumn("b", expr(s"(t_us - pmod(t_us, ${W}L)) DIV ${W}L"))
      .filter(col("symbol").isNotNull && col("b").isNotNull) // see effSpreadBucketed
    // ONE window pass computes the in-bucket lead AND nominates a
    // representative row per (symbol, bucket) — the rn==1 rows ARE
    // the spine carrying each bucket's first quote instant, so the
    // quotes relation is scanned ONCE (the spine branch re-consumes
    // the identical shuffle; ReuseExchange collapses it). spread4
    // joins the ordering as a never-reached tiebreak so both
    // consumers prune to the same columns — unequal pruning would
    // break exchange canonical equality and resurrect the r6
    // verdict's "second spine scan".
    val wB = wExpr.partitionBy(col("symbol"), col("b"))
      .orderBy(col("t_us"), col("spread4"))
    // bucket_first as a full-partition window value (not read off the
    // rn==1 row): a row_number-ONLY window under an rn==1 filter
    // triggers Spark's WindowGroupLimit rewrite, which inserts a
    // partial limit BELOW the shuffle on the spine branch only —
    // breaking the exchange equality that deduplicates the scan. The
    // aggregate window expression blocks that rewrite; saving a whole
    // scan beats saving the spine branch's shuffle rows.
    val winRows = quotes
      .withColumn("lead_us", lead(col("t_us"), 1).over(wB))
      .withColumn("bucket_first", first(col("t_us"))
        .over(wB.rowsBetween(wExpr.unboundedPreceding, wExpr.unboundedFollowing)))
      .withColumn("rn", row_number().over(wB))
    // nearest later non-empty bucket's first instant, rolled backward
    // over the tiny spine (bucket time-ordering makes it the global
    // next); the only serial window, on |symbols|×|buckets| rows
    val wNext = wExpr.partitionBy(col("symbol")).orderBy(col("b"))
      .rowsBetween(1, wExpr.unboundedFollowing)
    val nextFirst = winRows.filter(col("rn") === 1)
      .select(col("symbol"), col("b"), col("bucket_first").as("first_us"))
      .withColumn("next_first", first(col("first_us"), ignoreNulls = true).over(wNext))
      .select(col("symbol"), col("b"), col("next_first"))
    winRows
      .join(nextFirst.hint("merge"), Seq("symbol", "b")) // linear spine, never broadcast
      .withColumn("dur",
        coalesce(col("lead_us"), col("next_first"), lit(endUs)) - col("t_us"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_quotes"),
        (sum(col("spread4") * col("dur")).cast("double") /
          sum(col("dur")).cast("double") / 4.0).as("twa_spread"),
        (max(col("spread4")).cast("double") / 4.0).as("max_spread"))
      .orderBy(col("symbol"))
  }

  private def twaQuotesPrepared(spark: SparkSession): DataFrame =
    spark.read.format("Alpaca_Stocks_Quotes")
      .options(baseOptions(tradesSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> quotesScanEnd))
      .load()
      .select(col("symbol"), unix_micros(col("time")).as("t_us"),
        round((col("ask_price") - col("bid_price")) * 4).cast("long").as("spread4"))

  def quoteSpreadTwa(spark: SparkSession, dir: String): DataFrame =
    twaPlain(twaQuotesPrepared(spark), us(quotesScanEnd))

  def quoteSpreadTwaBucketed(spark: SparkSession, dir: String): DataFrame =
    twaBucketed(twaQuotesPrepared(spark), us(quotesScanEnd), 3600L * 1000000L)

  def quoteSpreadTwaSql: String = {
    val endUs = us(quotesScanEnd)
    val rows = tradesSymbols.sorted.flatMap { s =>
      AlpacaFixtures.stockQuotes(s, us(tradesStart), endUs)
    }.map { qt =>
      val spread4 = math.round((qt.askPrice - qt.bidPrice) * 4)
      s"(${sqlStr(qt.symbol)}, ${qt.timeUs}, $spread4)"
    }
    s"""WITH v(symbol, t_us, spread4) AS (VALUES ${rows.mkString(",\n  ")}),
       |d AS (
       |  SELECT symbol, spread4,
       |    COALESCE(LEAD(t_us) OVER (PARTITION BY symbol ORDER BY t_us),
       |             $endUs) - t_us AS dur
       |  FROM v)
       |SELECT symbol, COUNT(*) AS n_quotes,
       |  CAST(SUM(spread4 * dur) AS DOUBLE) / CAST(SUM(dur) AS DOUBLE) / 4.0
       |    AS twa_spread,
       |  CAST(MAX(spread4) AS DOUBLE) / 4.0 AS max_spread
       |FROM d GROUP BY symbol
       |ORDER BY symbol""".stripMargin
  }

  /** Effective spread per symbol: each trade joined AS-OF to the
    * prevailing NBBO quote (latest quote at-or-before the trade;
    * a quote landing on the trade's instant counts as prevailing),
    * then 2·|price − mid| averaged. The as-of is the union-window
    * trick (one shuffle on symbol, linear within symbol — the same
    * shape as the asof_join gates, no range-join blowup): quotes and
    * trades interleave on (t_us, is_trade) with quotes first at ties,
    * and last_value(ignoreNulls) carries the standing mid forward.
    * Prices sit on the 1/8 grid so everything is exact ints until
    * one final double division; the oracle uses DuckDB's native
    * ASOF JOIN — two independent as-of implementations agreeing. */
  /** Core of the plain form over prepared inputs:
    * trades(symbol, t_us, price8), quotes(symbol, t_us, mid8).
    * Exposed for ScaleTechniquesSpec's hot-symbol equivalence proof.
    * Determinism contract: quote instants must be unique per symbol —
    * two quotes at the same µs have no defined winner here (real
    * feeds disambiguate with a sequence number; add it to the window
    * ordering when ingesting such a feed). */
  private[graft] def effSpreadPlain(trades: DataFrame, quotes: DataFrame): DataFrame = {
    val t = trades.select(col("symbol"), col("t_us"), col("price8"),
      lit(1).as("is_trade"), lit(null).cast("long").as("q_mid8"))
    val q = quotes.select(col("symbol"), col("t_us"),
      lit(null).cast("long").as("price8"), lit(0).as("is_trade"),
      col("mid8").as("q_mid8"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("t_us"), col("is_trade"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    t.unionByName(q)
      .withColumn("mid8", last(col("q_mid8"), ignoreNulls = true).over(w))
      .filter(col("is_trade") === 1 && col("mid8").isNotNull)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_trades"),
        (sum(abs(col("price8") - col("mid8")) * 2).cast("double") /
          count(lit(1)).cast("double") / 8.0).as("avg_eff_spread"))
      .orderBy(col("symbol"))
  }

  private def tradesPrepared(spark: SparkSession): DataFrame =
    spark.read.format("Alpaca_Stocks_Trades")
      .options(baseOptions(tradesSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> quotesScanEnd))
      .load()
      // round(), not a raw long cast: the cast truncates toward zero,
      // which is only exact while prices sit on the fixture's dyadic
      // 1/8 grid — off-grid real data must round to the nearest grid
      // point to stay consistent with the round()-based oracles
      .select(col("symbol"), unix_micros(col("time")).as("t_us"),
        round(col("price") * 8).cast("long").as("price8"))

  private def quotesPrepared(spark: SparkSession): DataFrame =
    spark.read.format("Alpaca_Stocks_Quotes")
      .options(baseOptions(tradesSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> quotesScanEnd))
      .load()
      .select(col("symbol"), unix_micros(col("time")).as("t_us"),
        round((col("bid_price") + col("ask_price")) * 4).cast("long").as("mid8"))

  def effectiveSpread(spark: SparkSession, dir: String): DataFrame =
    effSpreadPlain(tradesPrepared(spark), quotesPrepared(spark))

  def effectiveSpreadSql: String = {
    val tRows = tradesSymbols.sorted.flatMap { s =>
      AlpacaFixtures.trades(s, us(tradesStart), us(quotesScanEnd))
    }.map { t =>
      s"(${sqlStr(t.symbol)}, ${t.timeUs}, ${math.round(t.price * 8)})"
    }
    val qRows = tradesSymbols.sorted.flatMap { s =>
      AlpacaFixtures.stockQuotes(s, us(tradesStart), us(quotesScanEnd))
    }.map { qt =>
      s"(${sqlStr(qt.symbol)}, ${qt.timeUs}, " +
        s"${math.round((qt.bidPrice + qt.askPrice) * 4)})"
    }
    s"""WITH t(symbol, t_us, price8) AS (VALUES ${tRows.mkString(",\n  ")}),
       |q(symbol, t_us, mid8) AS (VALUES ${qRows.mkString(",\n  ")}),
       |j AS (
       |  SELECT t.symbol, t.price8, q.mid8
       |  FROM t ASOF JOIN q
       |    ON t.symbol = q.symbol AND t.t_us >= q.t_us)
       |SELECT symbol, COUNT(*) AS n_trades,
       |  CAST(SUM(2 * ABS(price8 - mid8)) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) / 8.0 AS avg_eff_spread
       |FROM j GROUP BY symbol
       |ORDER BY symbol""".stripMargin
  }

  /** The SCALE form of the effective-spread as-of: the plain
    * union-window is linear-but-SERIAL within each symbol (one task
    * owns a symbol's whole history — the hot-symbol wall at 100 TB).
    * Here events are bucketed into fixed time windows and the window
    * runs per (symbol, bucket), so a hot symbol parallelizes across
    * its buckets. Correctness across bucket boundaries comes from a
    * SEED relation: the latest quote per (symbol, bucket) is a
    * partial-aggregable max(struct(t_us, mid)); a running max over
    * the TINY per-bucket spine (|symbols|×|buckets| rows — the only
    * serial window left, on a relation ~6 orders smaller than the
    * data) yields the standing quote entering each bucket, injected
    * as a pseudo-quote at the bucket's start instant ordered before
    * real events. Same result set as [[effectiveSpread]] BY GATE
    * (identical oracle); the two forms cross-prove each other. */
  /** Core of the bucketed form over the same prepared inputs.
    * Exposed for ScaleTechniquesSpec's hot-symbol equivalence proof. */
  private[graft] def effSpreadBucketed(trades0: DataFrame, quotes0: DataFrame,
      bucketUs: Long): DataFrame = {
    val W = bucketUs
    val wExpr = org.apache.spark.sql.expressions.Window
    // FLOOR division, not `div` (which truncates toward zero): a
    // pre-1970 timestamp must land in the bucket BELOW it, or the
    // cross-bucket carry ordering breaks. pmod keeps it exact on longs.
    val bCol = expr(s"(t_us - pmod(t_us, ${W}L)) DIV ${W}L")
    // heavy relations: tag-union once; window is per (symbol, bucket)
    // — parallel in buckets
    val tRows = trades0.select(col("symbol"), col("t_us"),
      col("price8"), lit(1).as("is_trade"), lit(null).cast("long").as("q_mid8"))
    val qRows = quotes0.select(col("symbol"), col("t_us"),
      lit(null).cast("long").as("price8"), lit(0).as("is_trade"),
      col("mid8").as("q_mid8"))
    // explicit non-null symbol contract (the API never emits one, and
    // keeping the filter on the shared subtree — rather than letting
    // the join infer it on one branch only — keeps both consumers
    // plan-identical for ReuseExchange)
    val rows = tRows.unionByName(qRows).withColumn("b", bCol)
      .filter(col("symbol").isNotNull && col("b").isNotNull)
    // ONE window pass computes, per row, the in-bucket standing mid
    // (PRECEDING frame; quotes sort before trades at equal instants →
    // a same-instant quote counts as prevailing) AND, per bucket, its
    // closing mid (full-partition frame; quote instants are unique per
    // the determinism contract, so "last non-null q_mid8 in time
    // order" IS max_by(mid8, t_us)) plus a row number nominating one
    // representative row per bucket. The rn==1 rows ARE the
    // (symbol, bucket) spine — no separate aggregate/distinct pass, so
    // each input relation is scanned ONCE: the spine branch
    // re-consumes the identical shuffle and ReuseExchange collapses it
    // onto the first. price8 joins the ordering as a never-reached
    // tiebreak precisely so both consumers prune to the same columns —
    // unequal pruning would break exchange canonical equality and
    // resurrect the r6 verdict's "second spine scan".
    val wBucket = wExpr.partitionBy(col("symbol"), col("b"))
      .orderBy(col("t_us"), col("is_trade"), col("price8"))
    val winRows = rows
      .withColumn("in_mid8", last(col("q_mid8"), ignoreNulls = true)
        .over(wBucket.rowsBetween(wExpr.unboundedPreceding, 0)))
      .withColumn("bucket_qm", last(col("q_mid8"), ignoreNulls = true)
        .over(wBucket.rowsBetween(wExpr.unboundedPreceding, wExpr.unboundedFollowing)))
      .withColumn("rn", row_number().over(wBucket))
    // standing quote entering bucket k = the latest preceding bucket's
    // close: buckets are ordered, so last(ignoreNulls) over the spine
    // IS the cross-bucket carry — the only serial window left, on a
    // relation |symbols|×|buckets|, orders of magnitude below the data
    val wSpine = wExpr.partitionBy(col("symbol")).orderBy(col("b"))
      .rowsBetween(wExpr.unboundedPreceding, -1)
    val entries = winRows.filter(col("rn") === 1)
      .select(col("symbol"), col("b"), col("bucket_qm"))
      .withColumn("entry", last(col("bucket_qm"), ignoreNulls = true).over(wSpine))
      .select(col("symbol"), col("b"), col("entry"))
    // merge-pinned: entries is |symbols|×|buckets| — linear in the
    // corpus, never broadcastable at scale. INNER ≡ left here (rn==1
    // guarantees a spine row per non-empty group) and keeps
    // null-inference symmetric across branches for ReuseExchange.
    winRows.join(entries.hint("merge"), Seq("symbol", "b"))
      .withColumn("mid8", coalesce(col("in_mid8"), col("entry")))
      .filter(col("is_trade") === 1 && col("mid8").isNotNull)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_trades"),
        (sum(abs(col("price8") - col("mid8")) * 2).cast("double") /
          count(lit(1)).cast("double") / 8.0).as("avg_eff_spread"))
      .orderBy(col("symbol"))
  }

  def effectiveSpreadBucketed(spark: SparkSession, dir: String): DataFrame =
    effSpreadBucketed(tradesPrepared(spark), quotesPrepared(spark),
      3600L * 1000000L) // 1-hour buckets; 100 TB tunes to taste

  /** Same oracle as the plain form — the bucketed plan must reproduce
    * it exactly. */
  def effectiveSpreadBucketedSql: String = effectiveSpreadSql

  /** Tick→bar resampling: hourly OHLCV bars built from raw trades —
    * the canonical market-data aggregation, and the scale-perfect
    * shape: every component (open = earliest price via min_by,
    * close = latest via max_by, high/low/volume/count) is a
    * partial-aggregable hash aggregate, so the ticks combine map-side
    * and only (symbol, hour) groups cross the wire. NO window — a
    * windowed first/last formulation would serialize per symbol.
    * Trade instants are unique per symbol in-fixture (the operator's
    * determinism contract for min_by/max_by ties, as with the as-of
    * family); oracle via DuckDB's ARG_MIN/ARG_MAX. */
  def tradeBars(spark: SparkSession, dir: String): DataFrame = {
    val HourUs = 3600L * 1000000L
    spark.read.format("Alpaca_Stocks_Trades")
      .options(baseOptions(tradesSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> tradesEnd))
      .load()
      .select(col("symbol"), unix_micros(col("time")).as("t_us"),
        col("price"), col("size"))
      .withColumn("hour_us", expr(s"t_us div $HourUs") * HourUs)
      .groupBy(col("symbol"), col("hour_us"))
      .agg(min_by(col("price"), col("t_us")).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), col("t_us")).as("close"),
        sum(col("size")).as("volume"),
        count(lit(1)).as("n_trades"))
      .select(col("symbol"),
        date_format(timestamp_micros(col("hour_us")), "yyyy-MM-dd HH:mm:ss")
          .as("bar_time"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n_trades"))
      .orderBy(col("symbol"), col("bar_time"))
  }

  def tradeBarsSql: String = {
    val rows = tradesSymbols.sorted.flatMap { s =>
      AlpacaFixtures.trades(s, us(tradesStart), us(tradesEnd))
    }.map { t =>
      s"(${sqlStr(t.symbol)}, ${t.timeUs}, ${fmtD(t.price)}, ${t.size})"
    }
    s"""WITH v(symbol, t_us, price, size) AS (VALUES ${rows.mkString(",\n  ")})
       |SELECT symbol,
       |  STRFTIME(MAKE_TIMESTAMP((t_us // 3600000000) * 3600000000),
       |           '%Y-%m-%d %H:%M:%S') AS bar_time,
       |  CAST(ARG_MIN(price, t_us) AS DOUBLE) AS open,
       |  CAST(MAX(price) AS DOUBLE) AS high,
       |  CAST(MIN(price) AS DOUBLE) AS low,
       |  CAST(ARG_MAX(price, t_us) AS DOUBLE) AS close,
       |  CAST(SUM(size) AS BIGINT) AS volume,
       |  COUNT(*) AS n_trades
       |FROM v
       |GROUP BY symbol, t_us // 3600000000
       |ORDER BY symbol, bar_time""".stripMargin
  }

  /** Crypto quotes (v1beta3): scan plus the derived mid/spread the
    * consumer of a quote stream always computes — all on the exact
    * 0.25 grid, so the arithmetic is bit-identical in both engines. */
  private val quotesEnd = "2021-01-04T12:00:00Z"
  def cryptoQuotesScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("Alpaca_Crypto_Quotes")
      .options(baseOptions(cryptoSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> quotesEnd))
      .load()
      .select(col("symbol"),
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("quote_time"),
        col("bid_price"), col("bid_size"), col("ask_price"), col("ask_size"),
        ((col("bid_price") + col("ask_price")) / 2).as("mid"),
        (col("ask_price") - col("bid_price")).as("spread"))
      .orderBy(col("symbol"), col("quote_time"))

  def cryptoQuotesScanSql: String = {
    val rows = cryptoSymbols.sorted.flatMap { s =>
      AlpacaFixtures.cryptoQuotes(s, us(tradesStart), us(quotesEnd))
    }.map { qt =>
      s"(${sqlStr(qt.symbol)}, ${sqlStr(fmtTs(qt.timeUs))}, ${fmtD(qt.bidPrice)}, " +
        s"${fmtD(qt.bidSize)}, ${fmtD(qt.askPrice)}, ${fmtD(qt.askSize)})"
    }
    s"""SELECT symbol, quote_time,
       |  CAST(bid_price AS DOUBLE) AS bid_price,
       |  CAST(bid_size AS DOUBLE) AS bid_size,
       |  CAST(ask_price AS DOUBLE) AS ask_price,
       |  CAST(ask_size AS DOUBLE) AS ask_size,
       |  CAST((bid_price + ask_price) / 2 AS DOUBLE) AS mid,
       |  CAST(ask_price - bid_price AS DOUBLE) AS spread
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, quote_time, bid_price, bid_size, ask_price, ask_size)
       |ORDER BY symbol, quote_time""".stripMargin
  }

  // ------------------------------------------ option trades / quotes
  private val occSymbols = Seq("AAPL210115C00150000", "AAPL210115P00150000")

  /** Option trades scan (the reference's options family is bars-only,
    * `options/bars.py:17-48`): scalar `c` condition with the absent-key
    * default exercised live — every third fixture record omits `c`
    * entirely and must land as the empty string. */
  def optionTradesScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("Alpaca_Options_Trades")
      .options(baseOptions(occSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> tradesEnd))
      .load()
      .select(col("symbol"),
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("trade_time"),
        col("exchange"), col("price"), col("size"), col("condition"))
      .orderBy(col("symbol"), col("trade_time"))

  def optionTradesScanSql: String = {
    val rows = occSymbols.sorted.flatMap { s =>
      AlpacaFixtures.optionTrades(s, us(tradesStart), us(tradesEnd))
    }.map { t =>
      s"(${sqlStr(t.symbol)}, ${sqlStr(fmtTs(t.timeUs))}, ${sqlStr(t.exchange)}, " +
        s"${fmtD(t.price)}, ${t.size}, ${sqlStr(t.condition)})"
    }
    s"""SELECT symbol, trade_time, exchange, CAST(price AS DOUBLE) AS price,
       |  CAST(size AS BIGINT) AS size, condition
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, trade_time, exchange, price, size, condition)
       |ORDER BY symbol, trade_time""".stripMargin
  }

  /** Option NBBO quotes scan: integer contract sizes, scalar condition
    * (absent-key default exercised), plus the derived mid/spread every
    * quote consumer computes — all on the exact 0.25 grid. */
  def optionQuotesScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("Alpaca_Options_Quotes")
      .options(baseOptions(occSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> quotesScanEnd))
      .load()
      .select(col("symbol"),
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("quote_time"),
        col("ask_exchange"), col("ask_price"), col("ask_size"),
        col("bid_exchange"), col("bid_price"), col("bid_size"),
        col("condition"),
        ((col("bid_price") + col("ask_price")) / 2).as("mid"),
        (col("ask_price") - col("bid_price")).as("spread"))
      .orderBy(col("symbol"), col("quote_time"))

  def optionQuotesScanSql: String = {
    val rows = occSymbols.sorted.flatMap { s =>
      AlpacaFixtures.optionQuotes(s, us(tradesStart), us(quotesScanEnd))
    }.map { qt =>
      s"(${sqlStr(qt.symbol)}, ${sqlStr(fmtTs(qt.timeUs))}, ${sqlStr(qt.askExchange)}, " +
        s"${fmtD(qt.askPrice)}, ${qt.askSize}, ${sqlStr(qt.bidExchange)}, " +
        s"${fmtD(qt.bidPrice)}, ${qt.bidSize}, ${sqlStr(qt.condition)})"
    }
    s"""SELECT symbol, quote_time, ask_exchange,
       |  CAST(ask_price AS DOUBLE) AS ask_price,
       |  CAST(ask_size AS BIGINT) AS ask_size, bid_exchange,
       |  CAST(bid_price AS DOUBLE) AS bid_price,
       |  CAST(bid_size AS BIGINT) AS bid_size, condition,
       |  CAST((bid_price + ask_price) / 2 AS DOUBLE) AS mid,
       |  CAST(ask_price - bid_price AS DOUBLE) AS spread
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, quote_time, ask_exchange, ask_price, ask_size,
       |       bid_exchange, bid_price, bid_size, condition)
       |ORDER BY symbol, quote_time""".stripMargin
  }

  /** Option-chain summary with OCC symbol PARSING — the piece every
    * options workflow needs and the reference leaves entirely to the
    * user (its options family just passes OCC strings through,
    * `options/bars.py:17-48`). The OCC format is positional from the
    * RIGHT (root is variable-width): …ROOT + YYMMDD + C/P + 8-digit
    * strike×1000. Parsed with pure codegen'd string functions in the
    * scan projection (no UDF), then rolled up per (underlying, expiry,
    * right): contracts, strike range, total volume. Both engines run
    * the identical substring arithmetic and the same IEEE /1000.0, so
    * parity is structural. */
  private val chainSymbols = Seq(
    "AAPL210115C00150000", "AAPL210115P00150000",
    "AAPL210115C00152500", "AAPL210115P00152500",
    "MSFT210219C00220000", "MSFT210219P00220000")
  def optionChain(spark: SparkSession, dir: String): DataFrame = {
    val parsed = barsDf(spark, Map.empty, format = "Alpaca_Options_Bars",
      symbols = chainSymbols)
      .select(
        expr("substring(symbol, 1, length(symbol) - 15)").as("underlying"),
        to_date(expr("substring(symbol, length(symbol) - 14, 6)"), "yyMMdd")
          .as("expiry"),
        expr("substring(symbol, length(symbol) - 8, 1)").as("right"),
        (expr("cast(substring(symbol, length(symbol) - 7, 8) AS BIGINT)") / 1000.0)
          .as("strike"),
        col("volume"))
    parsed.groupBy(col("underlying"), col("expiry"), col("right"))
      .agg(count(lit(1)).as("n_bars"),
        min(col("strike")).as("min_strike"),
        max(col("strike")).as("max_strike"),
        sum(col("volume")).as("total_volume"))
      .select(col("underlying"),
        date_format(col("expiry"), "yyyy-MM-dd").as("expiry_d"),
        col("right"), col("n_bars"), col("min_strike"), col("max_strike"),
        col("total_volume"))
      .orderBy(col("underlying"), col("expiry_d"), col("right"))
  }

  def optionChainSql: String = {
    val rows = chainSymbols.sorted.flatMap { s =>
      AlpacaFixtures.bars(s, us(barsStart), us(barsEnd), Hour)
    }.map { b => s"(${sqlStr(b.symbol)}, ${b.volume})" }
    s"""WITH raw AS (
       |  SELECT symbol, volume
       |  FROM (VALUES ${rows.mkString(",\n  ")}) AS v(symbol, volume)),
       |parsed AS (
       |  SELECT
       |    SUBSTR(symbol, 1, LENGTH(symbol) - 15) AS underlying,
       |    STRPTIME(SUBSTR(symbol, LENGTH(symbol) - 14, 6), '%y%m%d') AS expiry,
       |    SUBSTR(symbol, LENGTH(symbol) - 8, 1) AS "right",
       |    CAST(SUBSTR(symbol, LENGTH(symbol) - 7, 8) AS BIGINT) / 1000.0 AS strike,
       |    volume
       |  FROM raw)
       |SELECT underlying, STRFTIME(expiry, '%Y-%m-%d') AS expiry_d, "right",
       |  COUNT(*) AS n_bars,
       |  CAST(MIN(strike) AS DOUBLE) AS min_strike,
       |  CAST(MAX(strike) AS DOUBLE) AS max_strike,
       |  CAST(SUM(volume) AS BIGINT) AS total_volume
       |FROM parsed
       |GROUP BY underlying, expiry_d, "right"
       |ORDER BY underlying, expiry_d, "right"""".stripMargin
  }

  // ---------------------------------- storage-partitioned joins (SPJ)
  /** Storage-partitioned join between TWO connector scans: both sides
    * load with `cluster_by_symbol`, so each reports
    * KeyGroupedPartitioning(identity(symbol)) and plans symbol-pure
    * partitions. With v2 bucketing on, the per-symbol aggregates run
    * directly over each scan AND the join of the two aggregates
    * satisfies its distribution from storage — ZERO shuffle exchanges
    * in the whole plan (asserted in PlanAuditSpec). At 100 TB this is
    * the bars⋈trades reconciliation running without either corpus
    * ever shuffling: the network cost is exactly the API fetch. */
  def spjBarsTrades(spark: SparkSession, dir: String): DataFrame = {
    graft.core.SessionTuning.enableSpj(spark)
    val bars = spark.read.format("Alpaca_Stocks_Bars")
      .options(baseOptions(barsSymbols: _*) ++ Map(
        "timeframe" -> "1Hour", "start" -> barsStart, "end" -> barsEnd,
        "cluster_by_symbol" -> "true"))
      .load()
    val trades = spark.read.format("Alpaca_Stocks_Trades")
      .options(baseOptions(barsSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> tradesEnd,
        "cluster_by_symbol" -> "true"))
      .load()
    // merge-pinned for the same reason as barsTradesJoin: accurate
    // scan stats would broadcast at gate scale, hiding exactly the
    // exchange-free SPJ this gate exists to prove
    bars.groupBy(col("symbol"))
      .agg(sum(col("volume")).as("bar_volume"), count(lit(1)).as("n_bars"))
      .hint("merge")
      .join(trades.groupBy(col("symbol"))
        .agg(sum(col("size")).as("trade_size"), count(lit(1)).as("n_trades")),
        "symbol")
      .orderBy(col("symbol"))
  }

  def spjBarsTradesSql: String = {
    val rows = barsSymbols.sorted.map { s =>
      val bs = AlpacaFixtures.bars(s, us(barsStart), us(barsEnd), Hour)
      val ts = AlpacaFixtures.trades(s, us(tradesStart), us(tradesEnd))
      s"(${sqlStr(s)}, ${bs.map(_.volume).sum}, ${bs.size}, " +
        s"${ts.map(_.size).sum}, ${ts.size})"
    }
    s"""SELECT symbol, CAST(bar_volume AS BIGINT) AS bar_volume,
       |  CAST(n_bars AS BIGINT) AS n_bars,
       |  CAST(trade_size AS BIGINT) AS trade_size,
       |  CAST(n_trades AS BIGINT) AS n_trades
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, bar_volume, n_bars, trade_size, n_trades)
       |ORDER BY symbol""".stripMargin
  }

  /** Connector scan ⋈ parquet with the shuffle on the PARQUET side
    * only: `v2.bucketing.shuffle.enabled` lets Spark shuffle the
    * non-key-grouped side INTO the scan's KeyGroupedPartitioning
    * (`Exchange keygroupedpartitioning(symbol, …)` over the FileScan;
    * asserted in PlanAuditSpec), so the SCAN side never exchanges.
    * At scale this is the fact-side-never-moves enrichment join: the
    * 100 TB API corpus stays put and only the (comparatively tiny)
    * lake-side dimension pays a shuffle. The merge hint pins SMJ so
    * the plan proves the shuffle routing rather than broadcasting
    * around it. */
  private val spjSectors = Seq(("AAPL", "hardware", 2L), ("MSFT", "software", 3L))
  def spjParquetEnrich(spark: SparkSession, dir: String): DataFrame = {
    graft.core.SessionTuning.enableSpj(spark)
    val dimPath = graft.core.Scratch.dir("spj_dim", dir)
    import spark.implicits._
    spjSectors.toDF("symbol", "sector", "weight")
      .write.mode("overwrite").parquet(dimPath)
    val bars = spark.read.format("Alpaca_Stocks_Bars")
      .options(baseOptions(barsSymbols: _*) ++ Map(
        "timeframe" -> "1Hour", "start" -> barsStart, "end" -> barsEnd,
        "cluster_by_symbol" -> "true"))
      .load()
    bars.groupBy(col("symbol"))
      .agg(sum(col("volume")).as("bar_volume"))
      .join(spark.read.parquet(dimPath).hint("merge"), "symbol")
      .select(col("symbol"), col("sector"),
        col("bar_volume"), (col("bar_volume") * col("weight")).as("weighted_volume"))
      .orderBy(col("symbol"))
  }

  def spjParquetEnrichSql: String = {
    val rows = spjSectors.sortBy(_._1).map { case (s, sector, w) =>
      val vol = AlpacaFixtures.bars(s, us(barsStart), us(barsEnd), Hour)
        .map(_.volume).sum
      s"(${sqlStr(s)}, ${sqlStr(sector)}, $vol, ${vol * w})"
    }
    s"""SELECT symbol, sector, CAST(bar_volume AS BIGINT) AS bar_volume,
       |  CAST(weighted_volume AS BIGINT) AS weighted_volume
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, sector, bar_volume, weighted_volume)
       |ORDER BY symbol""".stripMargin
  }

  /** Trades scan incl. the conditions array→CSV flatten (E2). */
  def tradesScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("Alpaca_Stocks_Trades")
      .options(baseOptions(tradesSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> tradesEnd))
      .load()
      .select(col("symbol"),
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("trade_time"),
        col("exchange"), col("price"), col("size"), col("conditions"),
        col("id"), col("tape"))
      .orderBy(col("symbol"), col("trade_time"))

  def tradesScanSql: String = {
    val rows = tradesSymbols.sorted.flatMap { s =>
      AlpacaFixtures.trades(s, us(tradesStart), us(tradesEnd))
    }.map { t =>
      s"(${sqlStr(t.symbol)}, ${sqlStr(fmtTs(t.timeUs))}, ${sqlStr(t.exchange)}, " +
        s"${fmtD(t.price)}, ${t.size}, ${sqlStr(t.conditions.mkString(","))}, " +
        s"${t.id}, ${sqlStr(t.tape)})"
    }
    s"""SELECT symbol, trade_time, exchange, CAST(price AS DOUBLE) AS price,
       |  CAST(size AS BIGINT) AS size, conditions, CAST(id AS BIGINT) AS id, tape
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, trade_time, exchange, price, size, conditions, id, tape)
       |ORDER BY symbol, trade_time""".stripMargin
  }

  // ----------------------------------------- corporate actions
  private val caStart = "2021-01-01T00:00:00Z"
  private val caEnd = "2021-03-01T00:00:00Z"
  private val caSymbols = Seq("AAPL", "MSFT")

  /** Corporate-actions scan incl. nullable dates + defaults (E3). */
  def corpActionsScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("Alpaca_Corporate_Actions")
      .options(baseOptions(caSymbols: _*) ++ Map(
        "start" -> caStart, "end" -> caEnd, "types" -> "dividend,split"))
      .load()
      .select(col("symbol"),
        date_format(col("ex_date"), "yyyy-MM-dd").as("ex_d"),
        date_format(col("record_date"), "yyyy-MM-dd").as("record_d"),
        date_format(col("payable_date"), "yyyy-MM-dd").as("payable_d"),
        col("type"), col("amount"), col("ratio"),
        col("new_symbol"), col("old_symbol"))
      .orderBy(col("symbol"), col("ex_d"))

  def corpActionsScanSql: String = {
    val rows = caSymbols.sorted.flatMap { s =>
      AlpacaFixtures.corpActions(s, us(caStart), us(caEnd))
    }.map { c =>
      def d(o: Option[Long]): String = o.map(u => sqlStr(fmtTs(u).take(10))).getOrElse("NULL")
      s"(${sqlStr(c.symbol)}, ${d(c.exDateUs)}, ${d(c.recordDateUs)}, " +
        s"${d(c.payableDateUs)}, ${sqlStr(c.tpe)}, ${fmtD(c.amount)}, " +
        s"${fmtD(c.ratio)}, ${sqlStr(c.newSymbol)}, ${sqlStr(c.oldSymbol)})"
    }
    s"""SELECT symbol, ex_d, record_d, payable_d, type,
       |  CAST(amount AS DOUBLE) AS amount, CAST(ratio AS DOUBLE) AS ratio,
       |  new_symbol, old_symbol
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, ex_d, record_d, payable_d, type, amount, ratio, new_symbol, old_symbol)
       |ORDER BY symbol, ex_d""".stripMargin
  }

  // ------------------------------------------------------------- meta dims
  /** Conditions dimension scan (tape B: carries the one extra code
    * the other tapes don't — green proves the `tape`/`condition_type`
    * options actually reach the request path/query). */
  def metaConditionsScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("Alpaca_Meta_Conditions")
      .options(baseOptions() ++ Map("condition_type" -> "trade", "tape" -> "B"))
      .load()
      .orderBy(col("code"))

  def metaConditionsScanSql: String =
    s"""SELECT condition_type, tape, code, name
       |FROM (VALUES
       |  ('trade', 'B', '@', 'Regular Sale'),
       |  ('trade', 'B', 'F', 'Intermarket Sweep'),
       |  ('trade', 'B', 'I', 'Odd Lot Trade'),
       |  ('trade', 'B', 'T', 'Extended Hours Trade'),
       |  ('trade', 'B', 'W', 'Average Price Trade'))
       |  AS v(condition_type, tape, code, name)
       |ORDER BY code""".stripMargin

  /** Venue enrichment — the first join every trades consumer runs:
    * decode the exchange code against the meta dimension. The dim
    * reports ~100-row statistics from the scan, so the optimizer
    * broadcasts it unconditionally (plan golden pins the
    * BroadcastHashJoin) — the fact side never shuffles for the join;
    * the only exchange is the per-venue aggregation. */
  def tradesEnriched(spark: SparkSession, dir: String): DataFrame = {
    val dim = spark.read.format("Alpaca_Meta_Exchanges")
      .options(baseOptions()).load()
      .withColumnRenamed("code", "exchange")
    spark.read.format("Alpaca_Stocks_Trades")
      .options(baseOptions(tradesSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> tradesEnd))
      .load()
      .join(dim, Seq("exchange"))
      .groupBy(col("name").as("venue"))
      .agg(count(lit(1)).as("n_trades"), sum(col("size")).as("total_size"))
      .orderBy(col("venue"))
  }

  def tradesEnrichedSql: String = {
    val names = Map("V" -> "IEX", "N" -> "New York Stock Exchange", "Q" -> "NASDAQ")
    val rows = tradesSymbols.flatMap { s =>
      AlpacaFixtures.trades(s, us(tradesStart), us(tradesEnd))
    }.groupBy(t => names(t.exchange)).toSeq.sortBy(_._1).map { case (venue, ts) =>
      s"(${sqlStr(venue)}, ${ts.size}, ${ts.map(_.size).sum})"
    }
    s"""SELECT venue, CAST(n_trades AS BIGINT) AS n_trades,
       |  CAST(total_size AS BIGINT) AS total_size
       |FROM (VALUES ${rows.mkString(",\n  ")}) AS v(venue, n_trades, total_size)
       |ORDER BY venue""".stripMargin
  }

  /** Sale-condition decode: the CSV conditions column explodes to one
    * row per code, joins the (broadcast) conditions dimension, and
    * counts per decoded name — explode + broadcast equi-join, the
    * fact side's only exchange is the final per-code aggregation. */
  def tradeConditionsDecoded(spark: SparkSession, dir: String): DataFrame = {
    val dim = spark.read.format("Alpaca_Meta_Conditions")
      .options(baseOptions() ++ Map("condition_type" -> "trade", "tape" -> "A"))
      .load()
      .select(col("code"), col("name"))
    spark.read.format("Alpaca_Stocks_Trades")
      .options(baseOptions(tradesSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> tradesEnd))
      .load()
      .select(explode(split(col("conditions"), ",")).as("code"))
      .filter(col("code") =!= "")
      .join(dim, Seq("code"))
      .groupBy(col("code"), col("name"))
      .agg(count(lit(1)).as("n_prints"))
      .orderBy(col("code"))
  }

  def tradeConditionsDecodedSql: String = {
    val names = Map("@" -> "Regular Sale", "F" -> "Intermarket Sweep",
      "I" -> "Odd Lot Trade", "T" -> "Extended Hours Trade")
    val rows = tradesSymbols.flatMap { s =>
      AlpacaFixtures.trades(s, us(tradesStart), us(tradesEnd))
    }.flatMap(_.conditions).groupBy(identity).toSeq.sortBy(_._1)
      .map { case (c, cs) => s"(${sqlStr(c)}, ${sqlStr(names(c))}, ${cs.size})" }
    s"""SELECT code, name, CAST(n_prints AS BIGINT) AS n_prints
       |FROM (VALUES ${rows.mkString(",\n  ")}) AS v(code, name, n_prints)
       |ORDER BY code""".stripMargin
  }

  // --------------------------------------------------------- latest family
  /** The dashboard join: latest trade ⋈ latest quote ⋈ latest minute
    * bar per symbol, each side a timeless object-record scan
    * reporting 1 row/symbol — the optimizer broadcasts both join
    * sides off those statistics, no AQE needed. Output adds the
    * spread and last-trade-vs-mid sign every monitor computes. */
  def latestFamily(spark: SparkSession, dir: String): DataFrame = {
    def src(fmt: String) = spark.read.format(fmt)
      .options(baseOptions(snapSymbols: _*)).load()
    val lt = src("Alpaca_Stocks_Trades_Latest")
      .select(col("symbol"),
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("trade_time"),
        col("price").as("last_price"), col("size").as("last_size"))
    val lq = src("Alpaca_Stocks_Quotes_Latest")
      .select(col("symbol"), col("bid_price"), col("ask_price"))
    val lb = src("Alpaca_Stocks_Bars_Latest")
      .select(col("symbol"), col("close").as("minute_close"),
        col("volume").as("minute_volume"))
    lt.join(lq, Seq("symbol")).join(lb, Seq("symbol"))
      .withColumn("spread4",
        round((col("ask_price") - col("bid_price")) * 4).cast("bigint"))
      .withColumn("above_mid",
        (col("last_price") * 2 > col("bid_price") + col("ask_price")).cast("int"))
      .orderBy(col("symbol"))
  }

  def latestFamilySql: String = {
    val rows = snapSymbols.sorted.map { s =>
      val sn = AlpacaFixtures.snapshot(s)
      val spread4 = math.round((sn.latestQuote.askPrice - sn.latestQuote.bidPrice) * 4)
      val aboveMid =
        if (sn.latestTrade.price * 2 > sn.latestQuote.bidPrice + sn.latestQuote.askPrice) 1
        else 0
      s"(${sqlStr(s)}, ${sqlStr(fmtTs(sn.latestTrade.timeUs))}, " +
        s"${fmtD(sn.latestTrade.price)}, ${sn.latestTrade.size}, " +
        s"${fmtD(sn.latestQuote.bidPrice)}, ${fmtD(sn.latestQuote.askPrice)}, " +
        s"${fmtD(sn.minuteBar.close)}, ${sn.minuteBar.volume}, $spread4, $aboveMid)"
    }
    s"""SELECT symbol, trade_time, CAST(last_price AS DOUBLE) AS last_price,
       |  CAST(last_size AS BIGINT) AS last_size,
       |  CAST(bid_price AS DOUBLE) AS bid_price, CAST(ask_price AS DOUBLE) AS ask_price,
       |  CAST(minute_close AS DOUBLE) AS minute_close,
       |  CAST(minute_volume AS BIGINT) AS minute_volume,
       |  CAST(spread4 AS BIGINT) AS spread4, CAST(above_mid AS INT) AS above_mid
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, trade_time, last_price, last_size, bid_price, ask_price,
       |    minute_close, minute_volume, spread4, above_mid)
       |ORDER BY symbol""".stripMargin
  }

  // -------------------------------------------------------------- screeners
  /** Market-wide screener scan (no symbols at all — the records carry
    * their own): top-7 most-actives by volume. */
  def mostActivesScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("Alpaca_Screener_MostActives")
      .options(baseOptions() - "symbols" ++ Map("top" -> "7", "by" -> "volume"))
      .load()
      .orderBy(col("volume").desc)

  def mostActivesScanSql: String = {
    val rows = AlpacaFixtures.mostActives(7).map(a =>
      s"(${sqlStr(a.symbol)}, ${a.volume}, ${a.tradeCount})")
    s"""SELECT symbol, CAST(volume AS BIGINT) AS volume,
       |  CAST(trade_count AS BIGINT) AS trade_count
       |FROM (VALUES ${rows.mkString(",\n  ")}) AS v(symbol, volume, trade_count)
       |ORDER BY volume DESC""".stripMargin
  }

  /** Both movers boards in one frame: the response body holds two
    * arrays, each its own source over the shared endpoint — the union
    * tags the direction. */
  def moversBoard(spark: SparkSession, dir: String): DataFrame = {
    def side(fmt: String, tag: String) =
      spark.read.format(fmt)
        .options(baseOptions() - "symbols" ++ Map("top" -> "4")).load()
        .withColumn("direction", lit(tag))
    side("Alpaca_Screener_Gainers", "G")
      .union(side("Alpaca_Screener_Losers", "L"))
      .select(col("direction"), col("symbol"), col("percent_change"),
        col("change"), col("price"))
      .orderBy(col("direction"), col("symbol"))
  }

  def moversBoardSql: String = {
    val rows =
      AlpacaFixtures.moverGainers(4).map(m => ("G", m)) ++
        AlpacaFixtures.moverLosers(4).map(m => ("L", m))
    val values = rows.map { case (d, m) =>
      s"(${sqlStr(d)}, ${sqlStr(m.symbol)}, ${fmtD(m.percentChange)}, " +
        s"${fmtD(m.change)}, ${fmtD(m.price)})"
    }
    s"""SELECT direction, symbol, CAST(percent_change AS DOUBLE) AS percent_change,
       |  CAST(change AS DOUBLE) AS change, CAST(price AS DOUBLE) AS price
       |FROM (VALUES ${values.mkString(",\n  ")})
       |  AS v(direction, symbol, percent_change, change, price)
       |ORDER BY direction, symbol""".stripMargin
  }

  /** Cross-family composition — the production monitor page in one
    * plan: the most-actives board (market-wide, symbol-less) joined
    * to each symbol's latest trade and quote and the venue decoded
    * against the meta dim. Every join side is either the bounded
    * screener output or a 1-row-per-symbol timeless source, all with
    * reported statistics — the whole plan is broadcast joins with no
    * shuffle until the final presentation sort. */
  def marketDashboard(spark: SparkSession, dir: String): DataFrame = {
    val actives = spark.read.format("Alpaca_Screener_MostActives")
      .options(baseOptions() - "symbols" ++ Map("top" -> "7", "by" -> "volume"))
      .load()
      .select(col("symbol"), col("volume").as("day_volume"))
    // the board symbols drive the point-in-time lookups (static here;
    // in production the same list feeds the next batch's symbols)
    val boardSyms = Seq("TSLA", "AAPL", "NVDA", "AMD", "MSFT", "AMZN", "META")
    val lt = spark.read.format("Alpaca_Stocks_Trades_Latest")
      .options(baseOptions(boardSyms: _*)).load()
      .select(col("symbol"), col("exchange"), col("price").as("last_price"))
    val lq = spark.read.format("Alpaca_Stocks_Quotes_Latest")
      .options(baseOptions(boardSyms: _*)).load()
      .select(col("symbol"), col("bid_price"), col("ask_price"))
    val venues = spark.read.format("Alpaca_Meta_Exchanges")
      .options(baseOptions()).load()
      .withColumnRenamed("code", "exchange").withColumnRenamed("name", "venue")
    actives.join(lt, Seq("symbol")).join(lq, Seq("symbol"))
      .join(venues, Seq("exchange"))
      .select(col("symbol"), col("day_volume"), col("last_price"),
        col("bid_price"), col("ask_price"), col("venue"))
      .orderBy(col("symbol"))
  }

  def marketDashboardSql: String = {
    val names = Map("V" -> "IEX", "N" -> "New York Stock Exchange", "Q" -> "NASDAQ")
    val rows = AlpacaFixtures.mostActives(7).map { a =>
      val sn = AlpacaFixtures.snapshot(a.symbol)
      s"(${sqlStr(a.symbol)}, ${a.volume}, ${fmtD(sn.latestTrade.price)}, " +
        s"${fmtD(sn.latestQuote.bidPrice)}, ${fmtD(sn.latestQuote.askPrice)}, " +
        s"${sqlStr(names(sn.latestTrade.exchange))})"
    }
    s"""SELECT symbol, CAST(day_volume AS BIGINT) AS day_volume,
       |  CAST(last_price AS DOUBLE) AS last_price,
       |  CAST(bid_price AS DOUBLE) AS bid_price, CAST(ask_price AS DOUBLE) AS ask_price,
       |  venue
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, day_volume, last_price, bid_price, ask_price, venue)
       |ORDER BY symbol""".stripMargin
  }

  // ----------------------------------------- option snapshots / vol smile
  /** 2 underlyings × 2 expiries × 3 strikes × C/P = 24 OCC
    * contracts; the fixture nulls greeks/IV on "new listings" and
    * latestTrade on untraded ones, so both absent-section paths are
    * green in the scan. */
  private val osContracts: Seq[String] = for {
    u <- Seq("AAPL", "MSFT"); exp <- Seq("240119", "240216")
    r <- Seq("C", "P"); k <- Seq(140, 150, 160)
  } yield f"$u$exp$r${k * 1000}%08d"

  private def optionSnapshotDf(spark: SparkSession): DataFrame =
    spark.read.format("Alpaca_Options_Snapshots")
      .options(baseOptions(osContracts: _*))
      .load()

  def optionSnapshotScan(spark: SparkSession, dir: String): DataFrame =
    optionSnapshotDf(spark).orderBy(col("symbol"))

  private def optionSnapValues: String =
    osContracts.sorted.map { s =>
      val o = AlpacaFixtures.optionSnapshot(s)
      def od(v: Option[Double]) = v.map(fmtD).getOrElse("NULL")
      // the stub omits the WHOLE greeks object on new listings
      // (delta None), so all five greek columns are NULL together
      def g(v: Double) = if (o.delta.isEmpty) "NULL" else fmtD(v)
      s"(${sqlStr(s)}, ${od(o.iv)}, ${od(o.delta)}, ${g(o.gamma)}, " +
        s"${g(o.theta)}, ${g(o.vega)}, ${g(o.rho)}, " +
        s"${fmtD(o.bidPrice)}, ${fmtD(o.askPrice)}, ${od(o.lastPrice)}, " +
        s"${o.lastSize.map(_.toString).getOrElse("NULL")})"
    }.mkString(",\n  ")

  def optionSnapshotScanSql: String =
    s"""SELECT symbol, CAST(iv AS DOUBLE) AS iv, CAST(delta AS DOUBLE) AS delta,
       |  CAST(gamma AS DOUBLE) AS gamma, CAST(theta AS DOUBLE) AS theta,
       |  CAST(vega AS DOUBLE) AS vega, CAST(rho AS DOUBLE) AS rho,
       |  CAST(bid_price AS DOUBLE) AS bid_price, CAST(ask_price AS DOUBLE) AS ask_price,
       |  CAST(last_price AS DOUBLE) AS last_price, CAST(last_size AS BIGINT) AS last_size
       |FROM (VALUES $optionSnapValues)
       |  AS v(symbol, iv, delta, gamma, theta, vega, rho, bid_price, ask_price,
       |    last_price, last_size)
       |ORDER BY symbol""".stripMargin

  /** Vol-smile rollup — the surface-construction aggregation: parse
    * underlying/expiry/right/strike from the OCC tail (the codegen'd
    * positional parse the chain gate established), drop greeks-less
    * new listings, and aggregate per (underlying, expiry, right): IV
    * range across strikes (the smile's width), mean IV (exact dyadic
    * sum, one division) and the NET DELTA exposure of the slice. At a
    * full chain (10⁵ contracts × 10³ underlyings) this is a pure
    * partial aggregation — the shuffle carries slice rows, never
    * contracts. */
  def ivSmile(spark: SparkSession, dir: String): DataFrame =
    optionSnapshotDf(spark)
      .filter(col("iv").isNotNull)
      .select(
        expr("substring(symbol, 1, length(symbol) - 15)").as("underlying"),
        to_date(expr("substring(symbol, length(symbol) - 14, 6)"), "yyMMdd")
          .as("expiry"),
        expr("substring(symbol, length(symbol) - 8, 1)").as("right"),
        col("iv"), col("delta"))
      .groupBy(col("underlying"),
        date_format(col("expiry"), "yyyy-MM-dd").as("expiry_d"), col("right"))
      .agg(count(col("iv")).as("n_quoted"),
        min(col("iv")).as("min_iv"),
        max(col("iv")).as("max_iv"),
        (sum(col("iv")) / count(col("iv")).cast("double")).as("mean_iv"),
        sum(col("delta")).as("net_delta"))
      .orderBy(col("underlying"), col("expiry_d"), col("right"))

  def ivSmileSql: String =
    s"""WITH raw AS (
       |  SELECT symbol, CAST(iv AS DOUBLE) AS iv, CAST(delta AS DOUBLE) AS delta
       |  FROM (VALUES $optionSnapValues)
       |    AS v(symbol, iv, delta, gamma, theta, vega, rho, bid_price, ask_price,
       |      last_price, last_size)
       |  WHERE iv IS NOT NULL),
       |parsed AS (
       |  SELECT SUBSTR(symbol, 1, LENGTH(symbol) - 15) AS underlying,
       |    STRPTIME(SUBSTR(symbol, LENGTH(symbol) - 14, 6), '%y%m%d') AS expiry,
       |    SUBSTR(symbol, LENGTH(symbol) - 8, 1) AS "right", iv, delta
       |  FROM raw)
       |SELECT underlying, STRFTIME(expiry, '%Y-%m-%d') AS expiry_d, "right",
       |  CAST(COUNT(iv) AS BIGINT) AS n_quoted,
       |  CAST(MIN(iv) AS DOUBLE) AS min_iv, CAST(MAX(iv) AS DOUBLE) AS max_iv,
       |  CAST(SUM(iv) / COUNT(iv) AS DOUBLE) AS mean_iv,
       |  CAST(SUM(delta) AS DOUBLE) AS net_delta
       |FROM parsed
       |GROUP BY underlying, expiry_d, "right"
       |ORDER BY underlying, expiry_d, "right"""".stripMargin

  /** Put–call delta parity audit: Δ_C − Δ_P = 1 for same
    * (underlying, expiry, strike) under put–call parity — the
    * deviation is the desk's consistency check on a vendor's greeks.
    * One FILTERed-aggregate pass pivots each contract pair's deltas
    * (every group holds exactly one call and one put); a side whose
    * greeks are missing (new listing) yields a NULL gap — flagged,
    * not guessed. Deltas are exact dyadics so the gap arithmetic is
    * exact. */
  def putCallParity(spark: SparkSession, dir: String): DataFrame =
    optionSnapshotDf(spark)
      .select(
        expr("substring(symbol, 1, length(symbol) - 15)").as("underlying"),
        to_date(expr("substring(symbol, length(symbol) - 14, 6)"), "yyMMdd")
          .as("expiry"),
        expr("substring(symbol, length(symbol) - 8, 1)").as("right"),
        (expr("cast(substring(symbol, length(symbol) - 7, 8) AS BIGINT)") / 1000.0)
          .as("strike"),
        col("delta"))
      .groupBy(col("underlying"),
        date_format(col("expiry"), "yyyy-MM-dd").as("expiry_d"), col("strike"))
      .agg(
        expr("max(delta) FILTER (WHERE right = 'C')").as("call_delta"),
        expr("max(delta) FILTER (WHERE right = 'P')").as("put_delta"))
      .withColumn("parity_gap",
        col("call_delta") - col("put_delta") - lit(1.0))
      .orderBy(col("underlying"), col("expiry_d"), col("strike"))

  def putCallParitySql: String =
    s"""WITH raw AS (
       |  SELECT symbol, CAST(delta AS DOUBLE) AS delta
       |  FROM (VALUES $optionSnapValues)
       |    AS v(symbol, iv, delta, gamma, theta, vega, rho, bid_price, ask_price,
       |      last_price, last_size)),
       |parsed AS (
       |  SELECT SUBSTR(symbol, 1, LENGTH(symbol) - 15) AS underlying,
       |    STRFTIME(STRPTIME(SUBSTR(symbol, LENGTH(symbol) - 14, 6), '%y%m%d'), '%Y-%m-%d') AS expiry_d,
       |    SUBSTR(symbol, LENGTH(symbol) - 8, 1) AS "right",
       |    CAST(SUBSTR(symbol, LENGTH(symbol) - 7, 8) AS BIGINT) / 1000.0 AS strike,
       |    delta
       |  FROM raw)
       |SELECT underlying, expiry_d, CAST(strike AS DOUBLE) AS strike,
       |  CAST(max(delta) FILTER (WHERE "right" = 'C') AS DOUBLE) AS call_delta,
       |  CAST(max(delta) FILTER (WHERE "right" = 'P') AS DOUBLE) AS put_delta,
       |  CAST(max(delta) FILTER (WHERE "right" = 'C') -
       |    max(delta) FILTER (WHERE "right" = 'P') - 1.0 AS DOUBLE) AS parity_gap
       |FROM parsed
       |GROUP BY underlying, expiry_d, strike
       |ORDER BY underlying, expiry_d, strike""".stripMargin

  /** Quote-to-trade intensity — the message-traffic ratio every
    * venue-quality and HFT-activity study starts from: quotes per
    * trade per (symbol, hour). Both sides aggregate BEFORE the join
    * (|symbol-hours| rows meet, never prints) and the ratio is one
    * IEEE division of exact counts. */
  def quoteIntensity(spark: SparkSession, dir: String): DataFrame = {
    def hourAgg(fmt: String, outCol: String) =
      spark.read.format(fmt)
        .options(baseOptions(tradesSymbols: _*) ++ Map(
          "start" -> tradesStart, "end" -> quotesScanEnd))
        .load()
        .withColumn("hr", expr("unix_micros(time) div 3600000000"))
        .groupBy(col("symbol"), col("hr"))
        .agg(count(lit(1)).as(outCol))
    hourAgg("Alpaca_Stocks_Quotes", "n_quotes")
      .join(hourAgg("Alpaca_Stocks_Trades", "n_trades"), Seq("symbol", "hr"))
      .withColumn("quote_trade_ratio",
        col("n_quotes").cast("double") / col("n_trades").cast("double"))
      .orderBy(col("symbol"), col("hr"))
  }

  def quoteIntensitySql: String = {
    val rows = tradesSymbols.sorted.flatMap { s =>
      val qs = AlpacaFixtures.stockQuotes(s, us(tradesStart), us(quotesScanEnd))
        .groupBy(_.timeUs / (3600L * 1000000L)).view.mapValues(_.size)
      val ts = AlpacaFixtures.trades(s, us(tradesStart), us(quotesScanEnd))
        .groupBy(_.timeUs / (3600L * 1000000L)).view.mapValues(_.size)
      qs.keySet.intersect(ts.keySet).toSeq.sorted.map { hr =>
        s"(${sqlStr(s)}, $hr, ${qs(hr)}, ${ts(hr)})"
      }
    }
    s"""SELECT symbol, CAST(hr AS BIGINT) AS hr,
       |  CAST(n_quotes AS BIGINT) AS n_quotes, CAST(n_trades AS BIGINT) AS n_trades,
       |  CAST(n_quotes AS DOUBLE) / CAST(n_trades AS DOUBLE) AS quote_trade_ratio
       |FROM (VALUES ${rows.mkString(",\n  ")}) AS v(symbol, hr, n_quotes, n_trades)
       |ORDER BY symbol, hr""".stripMargin
  }

  /** Cumulative depth curve — liquidity-at-distance, the execution
    * scheduler's input: running size and notional by level down each
    * side of the book. One window pass per (symbol, side) over the
    * bounded depth; price×size products are exact on the grid. */
  def orderbookDepthCurve(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol"), col("side")).orderBy(col("level"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    orderbookDf(spark)
      .withColumn("cum_size", sum(col("size")).over(w))
      .withColumn("cum_notional", sum(col("price") * col("size")).over(w))
      .select(col("symbol"), col("side"), col("level"), col("price"),
        col("size"), col("cum_size"), col("cum_notional"))
      .orderBy(col("symbol"), col("side"), col("level"))
  }

  def orderbookDepthCurveSql: String =
    s"""SELECT symbol, side, CAST(level AS INT) AS level,
       |  CAST(price AS DOUBLE) AS price, CAST(size AS DOUBLE) AS size,
       |  CAST(SUM(size) OVER w AS DOUBLE) AS cum_size,
       |  CAST(SUM(price * size) OVER w AS DOUBLE) AS cum_notional
       |FROM (VALUES $orderbookValues)
       |  AS v(symbol, book_time, side, level, price, size)
       |WINDOW w AS (PARTITION BY symbol, side ORDER BY level
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY symbol, side, level""".stripMargin

  // ------------------------------------------------ crypto point-in-time
  /** BTC has no prevDailyBar in the fixture (hash % 3) — the crypto
    * snapshot's absent-section path rides the same gate. */
  private val cryptoSnapSymbols = Seq("BTC/USD", "ETH/USD", "LTC/USD")

  def cryptoSnapshotScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("Alpaca_Crypto_Snapshots")
      .options(baseOptions(cryptoSnapSymbols: _*))
      .load()
      .select(col("symbol"),
        date_format(col("latest_trade_time"), "yyyy-MM-dd HH:mm:ss").as("lt_time"),
        col("latest_trade_price"), col("latest_trade_size"),
        date_format(col("latest_quote_time"), "yyyy-MM-dd HH:mm:ss").as("lq_time"),
        col("bid_price"), col("bid_size"), col("ask_price"), col("ask_size"),
        col("minute_close"), col("daily_open"), col("daily_close"),
        col("prev_daily_close"))
      .orderBy(col("symbol"))

  def cryptoSnapshotScanSql: String = {
    val rows = cryptoSnapSymbols.sorted.map { s =>
      val sn = AlpacaFixtures.cryptoSnapshot(s)
      val prev = sn.prevDailyBar.map(b => fmtD(b.close)).getOrElse("NULL")
      s"(${sqlStr(s)}, ${sqlStr(fmtTs(sn.latestTrade.timeUs))}, " +
        s"${fmtD(sn.latestTrade.price)}, ${fmtD(sn.latestTrade.size)}, " +
        s"${sqlStr(fmtTs(sn.latestQuote.timeUs))}, ${fmtD(sn.latestQuote.bidPrice)}, " +
        s"${fmtD(sn.latestQuote.bidSize)}, ${fmtD(sn.latestQuote.askPrice)}, " +
        s"${fmtD(sn.latestQuote.askSize)}, ${fmtD(sn.minuteBar.close)}, " +
        s"${fmtD(sn.dailyBar.open)}, ${fmtD(sn.dailyBar.close)}, $prev)"
    }
    s"""SELECT symbol, lt_time, CAST(latest_trade_price AS DOUBLE) AS latest_trade_price,
       |  CAST(latest_trade_size AS DOUBLE) AS latest_trade_size, lq_time,
       |  CAST(bid_price AS DOUBLE) AS bid_price, CAST(bid_size AS DOUBLE) AS bid_size,
       |  CAST(ask_price AS DOUBLE) AS ask_price, CAST(ask_size AS DOUBLE) AS ask_size,
       |  CAST(minute_close AS DOUBLE) AS minute_close,
       |  CAST(daily_open AS DOUBLE) AS daily_open,
       |  CAST(daily_close AS DOUBLE) AS daily_close,
       |  CAST(prev_daily_close AS DOUBLE) AS prev_daily_close
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, lt_time, latest_trade_price, latest_trade_size, lq_time,
       |    bid_price, bid_size, ask_price, ask_size, minute_close, daily_open,
       |    daily_close, prev_daily_close)
       |ORDER BY symbol""".stripMargin
  }

  /** Crypto market-state join: latest trade ⋈ latest quote ⋈ latest
    * minute bar, all 1-row-per-symbol timeless scans — the stocks
    * latest-family shape on the v1beta3 endpoints, with the taker
    * side and fractional sizes riding through. */
  def cryptoLatestFamily(spark: SparkSession, dir: String): DataFrame = {
    def src(fmt: String) = spark.read.format(fmt)
      .options(baseOptions(cryptoSnapSymbols: _*)).load()
    val lt = src("Alpaca_Crypto_Trades_Latest")
      .select(col("symbol"), col("price").as("last_price"),
        col("size").as("last_size"), col("taker_side"))
    val lq = src("Alpaca_Crypto_Quotes_Latest")
      .select(col("symbol"), col("bid_price"), col("ask_price"))
    val lb = src("Alpaca_Crypto_Bars_Latest")
      .select(col("symbol"), col("close").as("minute_close"))
    lt.join(lq, Seq("symbol")).join(lb, Seq("symbol"))
      .orderBy(col("symbol"))
  }

  def cryptoLatestFamilySql: String = {
    val rows = cryptoSnapSymbols.sorted.map { s =>
      val sn = AlpacaFixtures.cryptoSnapshot(s)
      s"(${sqlStr(s)}, ${fmtD(sn.latestTrade.price)}, ${fmtD(sn.latestTrade.size)}, " +
        s"${sqlStr(sn.latestTrade.takerSide)}, ${fmtD(sn.latestQuote.bidPrice)}, " +
        s"${fmtD(sn.latestQuote.askPrice)}, ${fmtD(sn.minuteBar.close)})"
    }
    s"""SELECT symbol, CAST(last_price AS DOUBLE) AS last_price,
       |  CAST(last_size AS DOUBLE) AS last_size, taker_side,
       |  CAST(bid_price AS DOUBLE) AS bid_price, CAST(ask_price AS DOUBLE) AS ask_price,
       |  CAST(minute_close AS DOUBLE) AS minute_close
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, last_price, last_size, taker_side, bid_price, ask_price,
       |    minute_close)
       |ORDER BY symbol""".stripMargin
  }

  // ----------------------------------------------------------- orderbooks
  /** BTC thin asks (3 levels), ETH full book, GRT one-sided (no bids
    * — the absent-array path live): the three book shapes in one
    * scan. */
  private val obSymbols = Seq("BTC/USD", "ETH/USD", "GRT/USD")

  private def orderbookDf(spark: SparkSession): DataFrame =
    spark.read.format("Alpaca_Crypto_Orderbooks")
      .options(baseOptions(obSymbols: _*))
      .load()

  def orderbookScan(spark: SparkSession, dir: String): DataFrame =
    orderbookDf(spark)
      .select(col("symbol"),
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("book_time"),
        col("side"), col("level"), col("price"), col("size"))
      .orderBy(col("symbol"), col("side"), col("level"))

  private def orderbookValues: String =
    obSymbols.sorted.flatMap { s =>
      val ob = AlpacaFixtures.orderbook(s)
      val t = fmtTs(ob.timeUs)
      ob.bids.zipWithIndex.map { case (l, i) =>
        s"(${sqlStr(s)}, ${sqlStr(t)}, 'B', ${i + 1}, ${fmtD(l.price)}, ${fmtD(l.size)})"
      } ++ ob.asks.zipWithIndex.map { case (l, i) =>
        s"(${sqlStr(s)}, ${sqlStr(t)}, 'A', ${i + 1}, ${fmtD(l.price)}, ${fmtD(l.size)})"
      }
    }.mkString(",\n  ")

  def orderbookScanSql: String =
    s"""SELECT symbol, book_time, side, CAST(level AS INT) AS level,
       |  CAST(price AS DOUBLE) AS price, CAST(size AS DOUBLE) AS size
       |FROM (VALUES $orderbookValues)
       |  AS v(symbol, book_time, side, level, price, size)
       |ORDER BY symbol, side, level""".stripMargin

  /** Top-of-book microstructure from the depth levels, one
    * partial-aggregable pass per symbol: best bid/ask (FILTERed
    * max/min), sizes AT the best (max_by/min_by on price), total
    * depth per side, the depth imbalance (bid−ask)/(bid+ask) and the
    * size-weighted microprice. A one-sided book (GRT: no bids) yields
    * NULL best_bid/imbalance/microprice in BOTH engines — empty
    * FILTERed aggregates are NULL, and the honest answer for a halted
    * side is no number at all. All prices/sizes sit on the 0.25 grid
    * so every product/sum is exact; the two divisions are single IEEE
    * ops on identical operands. */
  def orderbookImbalance(spark: SparkSession, dir: String): DataFrame =
    orderbookDf(spark)
      .groupBy(col("symbol"))
      .agg(
        expr("max(price) FILTER (WHERE side = 'B')").as("best_bid"),
        expr("min(price) FILTER (WHERE side = 'A')").as("best_ask"),
        expr("max_by(size, price) FILTER (WHERE side = 'B')").as("bid1_size"),
        expr("min_by(size, price) FILTER (WHERE side = 'A')").as("ask1_size"),
        expr("sum(size) FILTER (WHERE side = 'B')").as("bid_depth"),
        expr("sum(size) FILTER (WHERE side = 'A')").as("ask_depth"),
        count(lit(1)).as("n_levels"))
      .withColumn("imbalance",
        (col("bid_depth") - col("ask_depth")) /
          (col("bid_depth") + col("ask_depth")))
      .withColumn("microprice",
        (col("best_bid") * col("ask1_size") + col("best_ask") * col("bid1_size")) /
          (col("bid1_size") + col("ask1_size")))
      .orderBy(col("symbol"))

  def orderbookImbalanceSql: String =
    s"""SELECT symbol,
       |  CAST(max(price) FILTER (WHERE side = 'B') AS DOUBLE) AS best_bid,
       |  CAST(min(price) FILTER (WHERE side = 'A') AS DOUBLE) AS best_ask,
       |  CAST(max_by(size, price) FILTER (WHERE side = 'B') AS DOUBLE) AS bid1_size,
       |  CAST(min_by(size, price) FILTER (WHERE side = 'A') AS DOUBLE) AS ask1_size,
       |  CAST(sum(size) FILTER (WHERE side = 'B') AS DOUBLE) AS bid_depth,
       |  CAST(sum(size) FILTER (WHERE side = 'A') AS DOUBLE) AS ask_depth,
       |  CAST(count(*) AS BIGINT) AS n_levels,
       |  CAST((sum(size) FILTER (WHERE side = 'B') - sum(size) FILTER (WHERE side = 'A')) /
       |    (sum(size) FILTER (WHERE side = 'B') + sum(size) FILTER (WHERE side = 'A')) AS DOUBLE) AS imbalance,
       |  CAST((max(price) FILTER (WHERE side = 'B') * min_by(size, price) FILTER (WHERE side = 'A') +
       |    min(price) FILTER (WHERE side = 'A') * max_by(size, price) FILTER (WHERE side = 'B')) /
       |    (max_by(size, price) FILTER (WHERE side = 'B') + min_by(size, price) FILTER (WHERE side = 'A')) AS DOUBLE) AS microprice
       |FROM (VALUES $orderbookValues)
       |  AS v(symbol, book_time, side, level, price, size)
       |GROUP BY symbol
       |ORDER BY symbol""".stripMargin

  // ------------------------------------------------------------ snapshots
  /** Point-in-time snapshot scan: one wide row per symbol from the
    * bare symbol-keyed envelope (nested object record, no time grid —
    * the `timeless` source path). GOOG's fixture snapshot has no
    * prevDailyBar, so the absent-section null path is green in the
    * same gate. */
  private val snapSymbols = Seq("AAPL", "GOOG", "MSFT", "TSLA")

  def snapshotScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("Alpaca_Stocks_Snapshots")
      .options(baseOptions(snapSymbols: _*))
      .load()
      .select(col("symbol"),
        date_format(col("latest_trade_time"), "yyyy-MM-dd HH:mm:ss").as("lt_time"),
        col("latest_trade_price"), col("latest_trade_size"),
        date_format(col("latest_quote_time"), "yyyy-MM-dd HH:mm:ss").as("lq_time"),
        col("bid_price"), col("bid_size"), col("ask_price"), col("ask_size"),
        date_format(col("minute_bar_time"), "yyyy-MM-dd HH:mm:ss").as("mb_time"),
        col("minute_close"), col("minute_volume"),
        date_format(col("daily_bar_time"), "yyyy-MM-dd HH:mm:ss").as("db_time"),
        col("daily_open"), col("daily_high"), col("daily_low"),
        col("daily_close"), col("daily_volume"), col("prev_daily_close"))
      .orderBy(col("symbol"))

  def snapshotScanSql: String = {
    val rows = snapSymbols.sorted.map { s =>
      val sn = AlpacaFixtures.snapshot(s)
      val prev = sn.prevDailyBar.map(b => fmtD(b.close)).getOrElse("NULL")
      s"(${sqlStr(s)}, ${sqlStr(fmtTs(sn.latestTrade.timeUs))}, " +
        s"${fmtD(sn.latestTrade.price)}, ${sn.latestTrade.size}, " +
        s"${sqlStr(fmtTs(sn.latestQuote.timeUs))}, ${fmtD(sn.latestQuote.bidPrice)}, " +
        s"${sn.latestQuote.bidSize}, ${fmtD(sn.latestQuote.askPrice)}, " +
        s"${sn.latestQuote.askSize}, ${sqlStr(fmtTs(sn.minuteBar.timeUs))}, " +
        s"${fmtD(sn.minuteBar.close)}, ${sn.minuteBar.volume}, " +
        s"${sqlStr(fmtTs(sn.dailyBar.timeUs))}, ${fmtD(sn.dailyBar.open)}, " +
        s"${fmtD(sn.dailyBar.high)}, ${fmtD(sn.dailyBar.low)}, " +
        s"${fmtD(sn.dailyBar.close)}, ${sn.dailyBar.volume}, $prev)"
    }
    s"""SELECT symbol, lt_time, CAST(latest_trade_price AS DOUBLE) AS latest_trade_price,
       |  CAST(latest_trade_size AS BIGINT) AS latest_trade_size, lq_time,
       |  CAST(bid_price AS DOUBLE) AS bid_price, CAST(bid_size AS BIGINT) AS bid_size,
       |  CAST(ask_price AS DOUBLE) AS ask_price, CAST(ask_size AS BIGINT) AS ask_size,
       |  mb_time, CAST(minute_close AS DOUBLE) AS minute_close,
       |  CAST(minute_volume AS BIGINT) AS minute_volume, db_time,
       |  CAST(daily_open AS DOUBLE) AS daily_open, CAST(daily_high AS DOUBLE) AS daily_high,
       |  CAST(daily_low AS DOUBLE) AS daily_low, CAST(daily_close AS DOUBLE) AS daily_close,
       |  CAST(daily_volume AS BIGINT) AS daily_volume,
       |  CAST(prev_daily_close AS DOUBLE) AS prev_daily_close
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, lt_time, latest_trade_price, latest_trade_size, lq_time,
       |    bid_price, bid_size, ask_price, ask_size, mb_time, minute_close,
       |    minute_volume, db_time, daily_open, daily_high, daily_low, daily_close,
       |    daily_volume, prev_daily_close)
       |ORDER BY symbol""".stripMargin
  }

  // ------------------------------------------------------------- auctions
  /** 12 days: covers the fixture's full %3 (reopening prints) × %4
    * (no closing auction) × %5 (halted open) cycle, so every record
    * shape — multi-print fan-out, omitted `c` key, empty `o` array —
    * crosses the parser at least twice. */
  private val aucStart = "2021-01-04T00:00:00Z"
  private val aucEnd = "2021-01-16T00:00:00Z"
  private val aucSymbols = Seq("AAPL", "MSFT")

  private def auctionsDf(spark: SparkSession): DataFrame =
    spark.read.format("Alpaca_Stocks_Auctions")
      .options(baseOptions(aucSymbols: _*) ++ Map(
        "start" -> aucStart, "end" -> aucEnd))
      .load()

  /** Flattened auction-print scan: one daily API record fans out to
    * one row per opening/closing print (a fan-out decode — the one
    * record shape in the API where record ≠ row). */
  def auctionsScan(spark: SparkSession, dir: String): DataFrame =
    auctionsDf(spark)
      .select(col("symbol"),
        date_format(col("auction_date"), "yyyy-MM-dd").as("auction_day"),
        col("auction_type"),
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("print_time"),
        col("exchange"), col("price"), col("size"), col("condition"))
      .orderBy(col("symbol"), col("auction_day"), col("auction_type"),
        col("print_time"))

  private def auctionPrintRows: Seq[(String, String, String, Long, String, Double, Long, String)] =
    aucSymbols.sorted.flatMap { s =>
      AlpacaFixtures.auctionDays(s, us(aucStart), us(aucEnd)).flatMap { day =>
        val dStr = fmtTs(day.dateUs).take(10)
        day.opens.map(p => (s, dStr, "O", p.timeUs, p.exchange, p.price, p.size, p.condition)) ++
          day.closes.map(p => (s, dStr, "C", p.timeUs, p.exchange, p.price, p.size, p.condition))
      }
    }

  private def auctionValues: String =
    auctionPrintRows.map { case (s, d, tpe, tUs, x, p, sz, c) =>
      s"(${sqlStr(s)}, ${sqlStr(d)}, ${sqlStr(tpe)}, ${sqlStr(fmtTs(tUs))}, " +
        s"${sqlStr(x)}, ${fmtD(p)}, $sz, ${sqlStr(c)})"
    }.mkString(",\n  ")

  def auctionsScanSql: String =
    s"""SELECT symbol, auction_day, auction_type, print_time, exchange,
       |  CAST(price AS DOUBLE) AS price, CAST(size AS BIGINT) AS size, condition
       |FROM (VALUES $auctionValues)
       |  AS v(symbol, auction_day, auction_type, print_time, exchange, price, size, condition)
       |ORDER BY symbol, auction_day, auction_type, print_time""".stripMargin

  /** Live E4 fan-out skip: the stub corrupts each request's first
    * opens-bearing daily record (one print missing its price), so the
    * parser must drop that ENTIRE day atomically — no half-parsed
    * fan-out — while every record behind it survives. With 1-day
    * partitions every opens-bearing day is "first" in its own
    * request, so the surviving rows are exactly the closes of the
    * opens-less days — derived from the fixture, not hand-listed. */
  def auctionsMalformedSkip(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("Alpaca_Stocks_Auctions")
      .options(baseOptions("MALFORMED") ++ Map(
        "start" -> aucStart, "end" -> aucEnd))
      .load()
      .select(col("symbol"),
        date_format(col("auction_date"), "yyyy-MM-dd").as("auction_day"),
        col("auction_type"),
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("print_time"),
        col("price"), col("size"))
      .orderBy(col("auction_day"), col("print_time"))

  def auctionsMalformedSkipSql: String = {
    val rows = AlpacaFixtures.auctionDays("MALFORMED", us(aucStart), us(aucEnd))
      .filter(_.opens.isEmpty) // opens-bearing days are corrupted + dropped
      .flatMap { day =>
        val dStr = fmtTs(day.dateUs).take(10)
        day.closes.map(p =>
          s"('MALFORMED', ${sqlStr(dStr)}, 'C', ${sqlStr(fmtTs(p.timeUs))}, " +
            s"${fmtD(p.price)}, ${p.size})")
      }
    s"""SELECT symbol, auction_day, auction_type, print_time,
       |  CAST(price AS DOUBLE) AS price, CAST(size AS BIGINT) AS size
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, auction_day, auction_type, print_time, price, size)
       |ORDER BY auction_day, print_time""".stripMargin
  }

  /** Official daily auction summary: the opening price is the FIRST
    * opening print (min_by time — reopenings don't overwrite it), the
    * closing price the LAST closing print; auction volume sums both
    * sides. One partial-aggregable groupBy — FILTERed min_by/max_by
    * partial-aggregate like any other agg, so at a 5000-symbol ×
    * years scale the shuffle carries |symbol-days| summary rows, never
    * prints. Half-days (no close) yield NULL official_close — the
    * honest answer, not a carried-forward guess. */
  def auctionSummary(spark: SparkSession, dir: String): DataFrame =
    auctionsDf(spark)
      .groupBy(col("symbol"),
        date_format(col("auction_date"), "yyyy-MM-dd").as("auction_day"))
      .agg(
        expr("min_by(price, time) FILTER (WHERE auction_type = 'O')").as("official_open"),
        expr("max_by(price, time) FILTER (WHERE auction_type = 'C')").as("official_close"),
        sum(col("size")).as("auction_volume"),
        count(when(col("auction_type") === "O", 1)).as("open_prints"),
        count(when(col("auction_type") === "C", 1)).as("close_prints"))
      .orderBy(col("symbol"), col("auction_day"))

  def auctionSummarySql: String =
    s"""SELECT symbol, auction_day,
       |  min_by(CAST(price AS DOUBLE), print_time) FILTER (WHERE auction_type = 'O') AS official_open,
       |  max_by(CAST(price AS DOUBLE), print_time) FILTER (WHERE auction_type = 'C') AS official_close,
       |  CAST(sum(size) AS BIGINT) AS auction_volume,
       |  CAST(count(*) FILTER (WHERE auction_type = 'O') AS BIGINT) AS open_prints,
       |  CAST(count(*) FILTER (WHERE auction_type = 'C') AS BIGINT) AS close_prints
       |FROM (VALUES $auctionValues)
       |  AS v(symbol, auction_day, auction_type, print_time, exchange, price, size, condition)
       |GROUP BY symbol, auction_day
       |ORDER BY symbol, auction_day""".stripMargin

  /** Overnight-gap decomposition — the close-auction → next
    * open-auction return split every overnight-risk model starts
    * from: per (symbol, day), official open/close from the auction
    * prints (same FILTERed min_by/max_by as the summary gate), then
    * one lag() window per symbol splits each day's move into the
    * overnight gap (prev close → today's open) and the intraday move
    * (open → close), in exact cents. The window runs over the
    * ALREADY-AGGREGATED |symbol-days| rows — never over prints — and
    * half-days (no close) yield NULL gaps downstream, the honest
    * answer. */
  def auctionOvernightGap(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("auction_day"))
    auctionsDf(spark)
      .groupBy(col("symbol"),
        date_format(col("auction_date"), "yyyy-MM-dd").as("auction_day"))
      .agg(
        expr("min_by(price, time) FILTER (WHERE auction_type = 'O')").as("open_px"),
        expr("max_by(price, time) FILTER (WHERE auction_type = 'C')").as("close_px"))
      .withColumn("prev_close", lag(col("close_px"), 1).over(w))
      .withColumn("overnight_gap_cents",
        ((col("open_px") - col("prev_close")) * 100).cast("bigint"))
      .withColumn("intraday_move_cents",
        ((col("close_px") - col("open_px")) * 100).cast("bigint"))
      .orderBy(col("symbol"), col("auction_day"))
  }

  def auctionOvernightGapSql: String =
    s"""WITH daily AS (
       |  SELECT symbol, auction_day,
       |    min_by(CAST(price AS DOUBLE), print_time) FILTER (WHERE auction_type = 'O') AS open_px,
       |    max_by(CAST(price AS DOUBLE), print_time) FILTER (WHERE auction_type = 'C') AS close_px
       |  FROM (VALUES $auctionValues)
       |    AS v(symbol, auction_day, auction_type, print_time, exchange, price, size, condition)
       |  GROUP BY symbol, auction_day)
       |SELECT symbol, auction_day, open_px, close_px,
       |  LAG(close_px, 1) OVER (PARTITION BY symbol ORDER BY auction_day) AS prev_close,
       |  CAST((open_px - LAG(close_px, 1) OVER (PARTITION BY symbol ORDER BY auction_day)) * 100 AS BIGINT) AS overnight_gap_cents,
       |  CAST((close_px - open_px) * 100 AS BIGINT) AS intraday_move_cents
       |FROM daily
       |ORDER BY symbol, auction_day""".stripMargin

  /** NBBO consolidation — the consolidated-tape computation: at each
    * instant, the best bid is the max across venues and the best
    * offer the min (the "MV" fixture emits one quote per venue V/N/Q
    * at the SAME timestamp, venue offsets rotating so the best venue
    * changes and ties occur on schedule). Rather than an argmax venue
    * (whose tie rule every tape provider defines differently), the
    * output counts venues AT the best on each side — deterministic
    * with no tie convention, and the liquidity-fragmentation signal a
    * consolidated feed actually publishes. All prices on the 0.25
    * grid; one shuffle on (symbol, instant), window + aggregate on
    * the same clustering. */
  private val mvSymbols = Seq("MVAAPL", "MVMSFT")
  def nbbo(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol"), col("time"))
    spark.read.format("Alpaca_Stocks_Quotes")
      .options(baseOptions(mvSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> quotesScanEnd))
      .load()
      .select(col("symbol"), col("time"),
        col("bid_price"), col("ask_price"))
      .withColumn("nbb", max(col("bid_price")).over(w))
      .withColumn("nbo", min(col("ask_price")).over(w))
      // group on the RAW instant (the window's own partition keys, so
      // the aggregate reuses the window's clustering — no second
      // exchange); the presentation string is projected after
      .groupBy(col("symbol"), col("time"))
      .agg(max(col("nbb")).as("nbb"), min(col("nbo")).as("nbo"),
        (min(col("nbo")) - max(col("nbb"))).as("nbbo_spread"),
        sum(when(col("bid_price") === col("nbb"), 1L).otherwise(0L)).as("n_at_bid"),
        sum(when(col("ask_price") === col("nbo"), 1L).otherwise(0L)).as("n_at_ask"),
        count(lit(1)).as("n_quotes"))
      .select(col("symbol"),
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("quote_time"),
        col("nbb"), col("nbo"), col("nbbo_spread"),
        col("n_at_bid"), col("n_at_ask"), col("n_quotes"))
      .orderBy(col("symbol"), col("quote_time"))
  }

  def nbboSql: String = {
    val rows = mvSymbols.sorted.flatMap { s =>
      AlpacaFixtures.stockQuotesMulti(s, us(tradesStart), us(quotesScanEnd))
    }.map { qt =>
      s"(${sqlStr(qt.symbol)}, ${sqlStr(fmtTs(qt.timeUs))}, " +
        s"${fmtD(qt.bidPrice)}, ${fmtD(qt.askPrice)})"
    }
    s"""WITH q AS (
       |  SELECT * FROM (VALUES ${rows.mkString(",\n  ")})
       |    AS v(symbol, quote_time, bid, ask)),
       |w AS (
       |  SELECT symbol, quote_time, bid, ask,
       |    MAX(bid) OVER (PARTITION BY symbol, quote_time) AS nbb,
       |    MIN(ask) OVER (PARTITION BY symbol, quote_time) AS nbo
       |  FROM q)
       |SELECT symbol, quote_time,
       |  CAST(MAX(nbb) AS DOUBLE) AS nbb,
       |  CAST(MIN(nbo) AS DOUBLE) AS nbo,
       |  CAST(MIN(nbo) - MAX(nbb) AS DOUBLE) AS nbbo_spread,
       |  CAST(SUM(CASE WHEN bid = nbb THEN 1 ELSE 0 END) AS BIGINT) AS n_at_bid,
       |  CAST(SUM(CASE WHEN ask = nbo THEN 1 ELSE 0 END) AS BIGINT) AS n_at_ask,
       |  COUNT(*) AS n_quotes
       |FROM w
       |GROUP BY symbol, quote_time
       |ORDER BY symbol, quote_time""".stripMargin
  }

  /** Streaming NBBO — the batch consolidation above run through the
    * connector's micro-batch stream: per-venue quotes arrive in
    * stream_step slices, and each (symbol, instant) consolidates to
    * best bid / best offer / venues-at-the-best. Windows don't exist
    * on streams, so the per-instant venue comparison folds through
    * collect_list + array HOFs instead — sound because the list is
    * bounded by the VENUE COUNT (3 here, ~16 on a real tape), never
    * by data volume, and order-free because max/min/count-equal are
    * commutative. Complete mode keeps every instant so the batch
    * oracle matches exactly; production runs the same plan in append
    * mode with a watermark (the state key (symbol, instant) then ages
    * out at the watermark, exactly like `stream_event_bars_append`).
    * Shares `nbboSql` with the batch gate — stream and batch
    * cross-prove each other against one oracle. */
  def streamNbbo(spark: SparkSession, dir: String): DataFrame = {
    val stream = spark.readStream.format("Alpaca_Stocks_Quotes")
      .options(baseOptions(mvSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> quotesScanEnd,
        "stream_step" -> "2Hours"))
      .load()
      .select(col("symbol"), col("time"), col("bid_price"), col("ask_price"))
      .groupBy(col("symbol"), col("time"))
      .agg(collect_list(col("bid_price")).as("bids"),
        collect_list(col("ask_price")).as("asks"))
    Streaming.drainToTable(spark, stream, "complete")
      .select(col("symbol"),
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("quote_time"),
        array_max(col("bids")).as("nbb"), array_min(col("asks")).as("nbo"),
        (array_min(col("asks")) - array_max(col("bids"))).as("nbbo_spread"),
        size(filter(col("bids"), _ === array_max(col("bids"))))
          .cast("long").as("n_at_bid"),
        size(filter(col("asks"), _ === array_min(col("asks"))))
          .cast("long").as("n_at_ask"),
        size(col("bids")).cast("long").as("n_quotes"))
      .orderBy(col("symbol"), col("quote_time"))
  }

  /** Tick-rule trade classification (the Lee–Ready tick test): each
    * trade is a BUY if it printed above the previous different price,
    * a SELL below; a trade at the SAME price inherits the last
    * nonzero direction (zero-tick rule). Directions are exact
    * integers (sign of a 0.25-grid difference) and the carry is a
    * last(ignoreNulls) window — the same LOCF primitive as the as-of
    * family — so both engines classify identically, including the
    * leading unclassified run before the first price change. Output:
    * per-symbol signed flow (buy/sell volume and counts).
    *
    * Scale shape: one shuffle on the symbol key, two window passes on
    * the same clustering (lag + carry), one partial-aggregable sum —
    * order flow at 100 TB never pays more than the symbol window. */
  def tickRule(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("time"))
    spark.read.format("Alpaca_Stocks_Trades")
      .options(baseOptions(tradesSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> tradesEnd))
      .load()
      .select(col("symbol"), col("time"), col("price"), col("size"))
      .withColumn("tick", signum(col("price") - lag(col("price"), 1).over(w))
        .cast("int"))
      .withColumn("dir", last(nullif(col("tick"), lit(0)), ignoreNulls = true)
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("symbol"))
      .agg(sum(when(col("dir") === 1, col("size")).otherwise(0L)).as("buy_volume"),
        sum(when(col("dir") === -1, col("size")).otherwise(0L)).as("sell_volume"),
        count(when(col("dir") === 1, 1)).as("n_buys"),
        count(when(col("dir") === -1, 1)).as("n_sells"),
        count(when(col("dir").isNull, 1)).as("n_unclassified"))
      .orderBy(col("symbol"))
  }

  def tickRuleSql: String = {
    val rows = tradesSymbols.sorted.flatMap { s =>
      AlpacaFixtures.trades(s, us(tradesStart), us(tradesEnd))
    }.map { t =>
      s"(${sqlStr(t.symbol)}, ${t.timeUs}, ${fmtD(t.price)}, ${t.size})"
    }
    s"""WITH tr AS (
       |  SELECT * FROM (VALUES ${rows.mkString(",\n  ")})
       |    AS v(symbol, t_us, price, size)),
       |ticked AS (
       |  SELECT symbol, t_us, size,
       |    CAST(SIGN(price - LAG(price) OVER (
       |      PARTITION BY symbol ORDER BY t_us)) AS INTEGER) AS tick
       |  FROM tr),
       |classified AS (
       |  SELECT symbol, size,
       |    LAST_VALUE(NULLIF(tick, 0) IGNORE NULLS) OVER (
       |      PARTITION BY symbol ORDER BY t_us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dir
       |  FROM ticked)
       |SELECT symbol,
       |  CAST(SUM(CASE WHEN dir = 1 THEN size ELSE 0 END) AS BIGINT) AS buy_volume,
       |  CAST(SUM(CASE WHEN dir = -1 THEN size ELSE 0 END) AS BIGINT) AS sell_volume,
       |  COUNT(CASE WHEN dir = 1 THEN 1 END) AS n_buys,
       |  COUNT(CASE WHEN dir = -1 THEN 1 END) AS n_sells,
       |  COUNT(CASE WHEN dir IS NULL THEN 1 END) AS n_unclassified
       |FROM classified
       |GROUP BY symbol ORDER BY symbol""".stripMargin
  }

  /** Calendar-spine gap fill — the time-series regularization step
    * between ingestion and any fixed-step model input: rebuild the
    * full hourly grid per symbol (`sequence` between the observed
    * bounds), left-join the observed bars back, and carry the last
    * close forward over gaps (LOCF). Gaps are carved deterministically
    * from the dense fixture (hours ≡ 2 mod 5 dropped) so the fill
    * path is exercised at every SF. Closes sit on the 0.25 grid —
    * carried values are bit-exact in both engines.
    *
    * Scale shape — SINGLE PASS, no spine join: lead() finds each
    * bar's successor, and one explode generates exactly the grid
    * stamps in the gap up to it, inheriting the bar's close — LOCF by
    * construction, so there is no separate bounds aggregate, no spine
    * relation, no (symbol, hour) join, and the bars relation is
    * scanned ONCE (a spine + left-join + LOCF-window formulation read
    * it twice; the oracle keeps that formulation, so the two shapes
    * cross-prove each other). One shuffle on the symbol key, one
    * window, one generate. */
  def barsGapfill(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("time"))
    barsDf(spark, Map.empty, symbols = Seq("AAPL"))
      .select(col("symbol"), col("time"), col("close"))
      // UTC-hour-of-day via epoch arithmetic, NOT hour(): hour() reads
      // the session timezone and a non-UTC session would carve
      // different gaps than the UTC-based oracle
      .filter(expr(s"(unix_micros(time) DIV ${Hour}L) % 24 % 5") =!= 2)
      .withColumn("next_t", lead(col("time"), 1).over(w))
      .withColumn("t", explode(expr(
        "sequence(time, coalesce(next_t - interval 1 hour, time), interval 1 hour)")))
      .select(col("symbol"),
        date_format(col("t"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
        (col("t") =!= col("time")).as("is_gap"),
        col("close").as("close_filled"))
      .orderBy(col("symbol"), col("hour_ts"))
  }

  def barsGapfillSql: String = {
    val rows = AlpacaFixtures.bars("AAPL", us(barsStart), us(barsEnd), Hour)
      .filter(b => (b.timeUs / Hour) % 24 % 5 != 2)
      .map(b => s"(${sqlStr(b.symbol)}, ${sqlStr(fmtTs(b.timeUs))}, ${fmtD(b.close)})")
    s"""WITH bars AS (
       |  SELECT symbol, CAST(ts AS TIMESTAMP) AS ts, close
       |  FROM (VALUES ${rows.mkString(",\n  ")}) AS v(symbol, ts, close)),
       |spine AS (
       |  SELECT symbol, UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS t
       |  FROM (SELECT symbol, MIN(ts) AS mn, MAX(ts) AS mx
       |        FROM bars GROUP BY symbol))
       |SELECT s.symbol, STRFTIME(s.t, '%Y-%m-%d %H:%M:%S') AS hour_ts,
       |  b.close IS NULL AS is_gap,
       |  CAST(LAST_VALUE(b.close IGNORE NULLS) OVER (
       |    PARTITION BY s.symbol ORDER BY s.t
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    AS close_filled
       |FROM spine s LEFT JOIN bars b ON s.symbol = b.symbol AND s.t = b.ts
       |ORDER BY s.symbol, hour_ts""".stripMargin
  // (the oracle keeps the spine+LOCF formulation on purpose — equality
  // with the single-pass lead()+explode plan proves both correct)
  }

  /** Client-side split adjustment — the cross-source workflow the
    * corporate-actions source exists FOR (the reference ships the
    * source, `corporate_actions.py:38-175`, and leaves applying it to
    * users): raw daily bars joined to later splits, adjusted close =
    * close / Π(ratio of splits with ex_date strictly after the bar).
    * The factor is an EXACT integer product — ratios are integral,
    * folded as BIGINTs over collect_list (commutative, so the
    * nondeterministic list order cannot change the product) — and the
    * adjustment is one IEEE division of identical operands in both
    * engines, so parity is structural, never a tolerance.
    *
    * Scale shape: splits stay tiny relative to bars at ANY corpus
    * size (thousands of rows against 100 TB of bars), so the
    * broadcast is genuinely bounded — the bars side never shuffles
    * for the join; the per-bar aggregation shuffles (symbol, day)
    * groups only. */
  def splitAdjusted(spark: SparkSession, dir: String): DataFrame = {
    val bars = barsDf(spark, Map("start" -> caStart, "end" -> caEnd),
      symbols = caSymbols, timeframe = "1Day")
      .select(col("symbol"), col("time"), col("close"))
    val splits = spark.read.format("Alpaca_Corporate_Actions")
      .options(baseOptions(caSymbols: _*) ++ Map(
        "start" -> caStart, "end" -> caEnd, "types" -> "split"))
      .load()
      .filter(col("type") === "split")
      .select(col("symbol").as("s_sym"), col("ex_date"),
        col("ratio").cast("bigint").as("ratio_l"))
    bars.join(broadcast(splits),
        col("symbol") === col("s_sym") && col("ex_date") > col("time"), "left")
      .groupBy(col("symbol"), col("time"), col("close"))
      .agg(collect_list(col("ratio_l")).as("rl"))
      .withColumn("factor",
        expr("aggregate(rl, CAST(1 AS BIGINT), (a, x) -> a * x)"))
      .select(col("symbol"),
        date_format(col("time"), "yyyy-MM-dd").as("day"),
        col("close"), col("factor"),
        (col("close") / col("factor").cast("double")).as("adj_close"))
      .orderBy(col("symbol"), col("day"))
  }

  def splitAdjustedSql: String = {
    val barRows = caSymbols.sorted.flatMap { s =>
      AlpacaFixtures.bars(s, us(caStart), us(caEnd), Day)
    }.map { b =>
      s"(${sqlStr(b.symbol)}, ${sqlStr(fmtTs(b.timeUs).take(10))}, ${fmtD(b.close)})"
    }
    val splitRows = caSymbols.sorted.flatMap { s =>
      AlpacaFixtures.corpActions(s, us(caStart), us(caEnd))
    }.filter(_.tpe == "split").map { c =>
      s"(${sqlStr(c.symbol)}, ${sqlStr(fmtTs(c.exDateUs.get).take(10))}, ${fmtD(c.ratio)})"
    }
    s"""WITH bars AS (
       |  SELECT * FROM (VALUES ${barRows.mkString(",\n  ")})
       |    AS v(symbol, day, close)),
       |splits AS (
       |  SELECT * FROM (VALUES ${splitRows.mkString(",\n  ")})
       |    AS s(symbol, ex_day, ratio))
       |SELECT b.symbol, b.day, CAST(b.close AS DOUBLE) AS close,
       |  CAST(COALESCE((SELECT PRODUCT(s.ratio) FROM splits s
       |    WHERE s.symbol = b.symbol AND s.ex_day > b.day), 1.0) AS BIGINT)
       |    AS factor,
       |  CAST(b.close AS DOUBLE) / CAST(CAST(COALESCE((SELECT PRODUCT(s.ratio)
       |    FROM splits s WHERE s.symbol = b.symbol AND s.ex_day > b.day), 1.0)
       |    AS BIGINT) AS DOUBLE) AS adj_close
       |FROM bars b
       |ORDER BY b.symbol, b.day""".stripMargin
  }

  /** Malformed-record tolerance (E4): the stub injects one bad record;
    * the scan must return exactly the well-formed rows. */
  def barsMalformedSkip(spark: SparkSession, dir: String): DataFrame =
    barsProjection(barsDf(spark, Map.empty, symbols = Seq("MALFORMED"),
      timeframe = "1Day"))

  def barsMalformedSkipSql: String =
    barsValuesSql(Seq("MALFORMED"), us(barsStart), us(barsEnd), Day)

  // -------------------------------- bars ⋈ trades (USAGE.md flagship)
  /** The reference docs' flagship multi-source analysis
    * (USAGE.md:247-280): bars equi+interval-joined to trades, per-bar
    * trade stats — both sides read through the connector, join and
    * aggregation delegated to Catalyst.
    *
    * Skew design: bars sit on the hourly grid, so "trade inside the
    * bar's hour" IS an equi-join on (symbol, date_trunc(hour, time)).
    * The hour bucket joins the shuffle key, so a hot symbol (think
    * SPY at 100 TB: one symbol = a whole executor's worth of trades
    * under a symbol-only key) spreads across 24×days tasks; the range
    * predicates remain as residuals for semantic robustness. */
  def barsTradesJoin(spark: SparkSession, dir: String): DataFrame = {
    val bars = barsDf(spark, Map("start" -> tradesStart, "end" -> tradesEnd))
      .select(col("symbol"), col("time").as("bar_time"), col("close"))
    val trades = spark.read.format("Alpaca_Stocks_Trades")
      .options(baseOptions(tradesSymbols: _*) ++ Map(
        "start" -> tradesStart, "end" -> tradesEnd))
      .load()
      .select(col("symbol").as("t_symbol"), col("time").as("t_time"),
        col("price"), col("size"))
    // merge-pinned: with SupportsReportStatistics the gate-scale bars
    // side reports a few KB and cost-model-broadcasts — correct at THIS
    // size, but the gate pins the at-scale shape (5y × 10k symbols of
    // bars reports large and shuffles), so the hint keeps the compound
    // shuffle key auditable
    bars.hint("merge").join(trades,
        col("symbol") === col("t_symbol") &&
          date_trunc("hour", col("t_time")) === col("bar_time") &&
          col("t_time") >= col("bar_time") &&
          col("t_time") < col("bar_time") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("symbol"),
        date_format(col("bar_time"), "yyyy-MM-dd HH:mm:ss").as("bar_hour"))
      .agg(count(lit(1)).as("n_trades"),
        sum(col("size")).as("sum_size"),
        sum((col("price").cast("decimal(18,2)") * col("size")))
          .cast("double").as("notional"))
      .orderBy(col("symbol"), col("bar_hour"))
  }

  def barsTradesJoinSql: String = {
    // same join+agg computed from the shared fixture functions
    val rows = tradesSymbols.sorted.flatMap { s =>
      val bars = AlpacaFixtures.bars(s, us(tradesStart), us(tradesEnd), Hour)
      val trades = AlpacaFixtures.trades(s, us(tradesStart), us(tradesEnd))
      bars.flatMap { b =>
        val in = trades.filter(t => t.timeUs >= b.timeUs && t.timeUs < b.timeUs + Hour)
        if (in.isEmpty) None
        else {
          // decimal(18,2) price × integer size summed exactly, as double.
          // Mirror Spark's double→decimal(18,2) cast (shortest decimal
          // repr, HALF_UP) — math.round(price*100) diverges for prices
          // like 123.455 whose binary value is 123.45499….
          val notionalCents = in.map(t => BigDecimal.valueOf(t.price)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP)
            .*(BigDecimal(100)).toLongExact * t.size).sum
          Some((s, fmtTs(b.timeUs), in.size, in.map(_.size).sum,
            notionalCents / 100.0))
        }
      }
    }.map { case (sym, hr, n, sz, notional) =>
      s"(${sqlStr(sym)}, ${sqlStr(hr)}, $n, $sz, ${fmtD(notional)})"
    }
    s"""SELECT symbol, bar_hour, CAST(n_trades AS BIGINT) AS n_trades,
       |  CAST(sum_size AS BIGINT) AS sum_size, CAST(notional AS DOUBLE) AS notional
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, bar_hour, n_trades, sum_size, notional)
       |ORDER BY symbol, bar_hour""".stripMargin
  }

  // --------------------------- runtime partition pruning (DPP, r8)
  /** Dynamic partition pruning through the connector: a 4-symbol bars
    * scan joined to a FILTERED dimension (2 region rows mapped to 2
    * symbols). Nothing in the WHERE clause names a symbol, so static
    * pushdown can't narrow the scan — but `AlpacaScan` declares
    * `symbol` runtime-filterable, Spark injects a DPP subquery over
    * the dim side's broadcast, and only the 2 surviving symbols'
    * partitions fetch (ConnectorSpec proves the negative via
    * per-symbol stub request counts). At 100 TB this is the
    * watchlist-join shape: the universe you scan is decided by a
    * table, not a literal, and pruning still happens before any HTTP
    * request is issued. */
  private val pruneSymbols = Seq("AAPL", "MSFT", "GOOG", "AMZN")

  def runtimePrune(spark: SparkSession, dir: String): DataFrame = {
    val bars = spark.read.format("Alpaca_Stocks_Bars")
      .options(baseOptions(pruneSymbols: _*) ++ Map(
        "timeframe" -> "1Hour", "start" -> barsStart, "end" -> barsEnd))
      .load()
    val dim = Tables.t(spark, dir, "region")
      .filter(col("r_regionkey") <= 1)
      .select(expr("CASE r_regionkey WHEN 0 THEN 'AAPL' ELSE 'GOOG' END")
        .as("symbol"), col("r_name"))
    bars.join(dim, Seq("symbol"))
      .groupBy(col("symbol"), col("r_name"))
      .agg(count(lit(1)).as("n_bars"),
        sum(col("volume")).as("sum_volume"),
        max(col("close")).as("max_close"))
      .orderBy(col("symbol"))
  }

  def runtimePruneSql: String = {
    val rows = Seq("AAPL", "GOOG").map { s =>
      val bs = AlpacaFixtures.bars(s, us(barsStart), us(barsEnd), Hour)
      s"(${sqlStr(s)}, ${bs.size}, ${bs.map(_.volume).sum}, " +
        s"${fmtD(bs.map(_.close).max)})"
    }
    s"""SELECT v.symbol, d.r_name, CAST(v.n_bars AS BIGINT) AS n_bars,
       |  CAST(v.sum_volume AS BIGINT) AS sum_volume,
       |  CAST(v.max_close AS DOUBLE) AS max_close
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, n_bars, sum_volume, max_close)
       |JOIN (SELECT CASE r_regionkey WHEN 0 THEN 'AAPL' ELSE 'GOOG' END
       |        AS symbol, r_name FROM region WHERE r_regionkey <= 1) d
       |  ON v.symbol = d.symbol
       |ORDER BY v.symbol""".stripMargin
  }

  // ------------------------------------- scan-throughput gate (r2)
  /** Scan-heavy connector gate: one full YEAR of 10-minute trades × 2
    * symbols (~105k records, 730 planned symbol×day partitions, one
    * page each) flows through HTTP fetch → JSON parse → per-page
    * ColumnarBatch → partial monthly aggregation. The other alpaca_*
    * gates verify semantics on ≤300 rows; this one makes connector
    * THROUGHPUT a measured, regression-guarded number in BENCH. The
    * oracle stays compact (24 monthly rows computed from the shared
    * fixture functions). */
  private val yearStart = "2021-01-01T00:00:00Z"
  private val yearEnd = "2022-01-01T00:00:00Z"

  def tradesThroughput(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("Alpaca_Stocks_Trades")
      .options(baseOptions(tradesSymbols: _*) ++ Map(
        "start" -> yearStart, "end" -> yearEnd))
      .load()
      .groupBy(col("symbol"), date_format(col("time"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_trades"),
        sum(col("size")).as("sum_size"),
        sum(col("price").cast("decimal(18,2)") * col("size"))
          .cast("double").as("notional"))
      .orderBy(col("symbol"), col("month"))

  def tradesThroughputSql: String = {
    val rows = tradesSymbols.sorted.flatMap { s =>
      AlpacaFixtures.trades(s, us(yearStart), us(yearEnd))
        .groupBy(t => (t.symbol, fmtTs(t.timeUs).take(7)))
        .toSeq.sortBy(_._1)
        .map { case ((sym, month), ts) =>
          // Mirror Spark's double→decimal(18,2) cast exactly: it
          // rounds the double's SHORTEST decimal representation
          // HALF_UP, which math.round(price*100) diverges from for
          // prices like 123.455 (binary 123.45499…).
          val notionalCents = ts.map(t => BigDecimal.valueOf(t.price)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP)
            .*(BigDecimal(100)).toLongExact * t.size).sum
          s"(${sqlStr(sym)}, ${sqlStr(month)}, ${ts.size}, ${ts.map(_.size).sum}, " +
            s"${fmtD(notionalCents / 100.0)})"
        }
    }
    s"""SELECT symbol, month, CAST(n_trades AS BIGINT) AS n_trades,
       |  CAST(sum_size AS BIGINT) AS sum_size, CAST(notional AS DOUBLE) AS notional
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, month, n_trades, sum_size, notional)
       |ORDER BY symbol, month""".stripMargin
  }

  // ------------------------------------- bars scan-throughput gate (r3)
  /** Bars twin of tradesThroughput, 10× the volume: a full year of
    * MINUTE bars × 2 symbols (~1.05M records) through HTTP → JSON →
    * ColumnarBatch → monthly partial agg. Volume-aware partition
    * planning caps each partition at limit×5 = 50k expected rows
    * (~11 intervals/symbol). This is the workload REFBENCH.md times
    * against the reference connector. Fixture closes sit on a
    * 0.25 grid, so the decimal sum is exact. */
  def barsThroughput(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("Alpaca_Stocks_Bars")
      .options(baseOptions(tradesSymbols: _*) ++ Map(
        "start" -> yearStart, "end" -> yearEnd, "timeframe" -> "1Min"))
      .load()
      .groupBy(col("symbol"), date_format(col("time"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_bars"),
        sum(col("volume")).as("sum_volume"),
        sum(col("close").cast("decimal(18,2)")).cast("double").as("sum_close"))
      .orderBy(col("symbol"), col("month"))

  def barsThroughputSql: String = {
    val tfUs = 60L * 1000000L
    val rows = tradesSymbols.sorted.flatMap { s =>
      AlpacaFixtures.bars(s, us(yearStart), us(yearEnd), tfUs)
        .groupBy(b => (b.symbol, fmtTs(b.timeUs).take(7)))
        .toSeq.sortBy(_._1)
        .map { case ((sym, month), bs) =>
          val closeCents = bs.map(b => BigDecimal.valueOf(b.close)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP)
            .*(BigDecimal(100)).toLongExact).sum
          s"(${sqlStr(sym)}, ${sqlStr(month)}, ${bs.size}, ${bs.map(_.volume).sum}, " +
            s"${fmtD(closeCents / 100.0)})"
        }
    }
    s"""SELECT symbol, month, CAST(n_bars AS BIGINT) AS n_bars,
       |  CAST(sum_volume AS BIGINT) AS sum_volume, CAST(sum_close AS DOUBLE) AS sum_close
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS v(symbol, month, n_bars, sum_volume, sum_close)
       |ORDER BY symbol, month""".stripMargin
  }

  val all: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "alpaca_bars_trades_join" -> ((barsTradesJoin _, barsTradesJoinSql)),
    "alpaca_runtime_prune" -> ((runtimePrune _, runtimePruneSql)),
    "alpaca_bars_scan" -> ((barsScan _, barsScanSql)),
    "alpaca_bars_multisymbol" -> ((barsMultiSymbol _, barsMultiSymbolSql)),
    "alpaca_bars_pushdown" -> ((barsPushdown _, barsPushdownSql)),
    "alpaca_bars_pushdown_le" -> ((barsPushdownLe _, barsPushdownLeSql)),
    "alpaca_bars_sorted" -> ((barsSortedDesc _, barsSortedDescSql)),
    "alpaca_bars_paginated" -> ((barsPaginated _, barsPaginatedSql)),
    "alpaca_option_bars_scan" -> ((optionBarsScan _, optionBarsScanSql)),
    "alpaca_option_trades_scan" -> ((optionTradesScan _, optionTradesScanSql)),
    "alpaca_spj_bars_trades" -> ((spjBarsTrades _, spjBarsTradesSql)),
    "alpaca_spj_parquet_enrich" -> ((spjParquetEnrich _, spjParquetEnrichSql)),
    "alpaca_option_quotes_scan" -> ((optionQuotesScan _, optionQuotesScanSql)),
    "alpaca_option_chain" -> ((optionChain _, optionChainSql)),
    "alpaca_crypto_bars_scan" -> ((cryptoBarsScan _, cryptoBarsScanSql)),
    "alpaca_crypto_trades_scan" -> ((cryptoTradesScan _, cryptoTradesScanSql)),
    "alpaca_crypto_quotes_scan" -> ((cryptoQuotesScan _, cryptoQuotesScanSql)),
    "alpaca_stock_quotes_scan" -> ((stockQuotesScan _, stockQuotesScanSql)),
    "alpaca_stream_bars_scan" -> ((streamBarsScan _, streamBarsScanSql)),
    "alpaca_quote_spread_twa" -> ((quoteSpreadTwa _, quoteSpreadTwaSql)),
    "alpaca_quote_spread_twa_bucketed" ->
      ((quoteSpreadTwaBucketed _, quoteSpreadTwaSql)),
    "alpaca_effective_spread" -> ((effectiveSpread _, effectiveSpreadSql)),
    "alpaca_effective_spread_bucketed" ->
      ((effectiveSpreadBucketed _, effectiveSpreadBucketedSql)),
    "alpaca_trade_bars" -> ((tradeBars _, tradeBarsSql)),
    "alpaca_trades_scan" -> ((tradesScan _, tradesScanSql)),
    "alpaca_trades_throughput" -> ((tradesThroughput _, tradesThroughputSql)),
    "alpaca_bars_throughput" -> ((barsThroughput _, barsThroughputSql)),
    "alpaca_corp_actions_scan" -> ((corpActionsScan _, corpActionsScanSql)),
    "alpaca_auctions_scan" -> ((auctionsScan _, auctionsScanSql)),
    "alpaca_snapshot_scan" -> ((snapshotScan _, snapshotScanSql)),
    "alpaca_crypto_orderbook_scan" -> ((orderbookScan _, orderbookScanSql)),
    "alpaca_latest_family" -> ((latestFamily _, latestFamilySql)),
    "alpaca_option_snapshot_scan" -> ((optionSnapshotScan _, optionSnapshotScanSql)),
    "alpaca_iv_smile" -> ((ivSmile _, ivSmileSql)),
    "alpaca_put_call_parity" -> ((putCallParity _, putCallParitySql)),
    "alpaca_most_actives" -> ((mostActivesScan _, mostActivesScanSql)),
    "alpaca_movers" -> ((moversBoard _, moversBoardSql)),
    "alpaca_market_dashboard" -> ((marketDashboard _, marketDashboardSql)),
    "alpaca_crypto_snapshot_scan" -> ((cryptoSnapshotScan _, cryptoSnapshotScanSql)),
    "alpaca_crypto_latest_family" -> ((cryptoLatestFamily _, cryptoLatestFamilySql)),
    "alpaca_orderbook_imbalance" -> ((orderbookImbalance _, orderbookImbalanceSql)),
    "alpaca_quote_intensity" -> ((quoteIntensity _, quoteIntensitySql)),
    "alpaca_orderbook_depth_curve" ->
      ((orderbookDepthCurve _, orderbookDepthCurveSql)),
    "alpaca_auction_summary" -> ((auctionSummary _, auctionSummarySql)),
    "alpaca_auctions_malformed_skip" ->
      ((auctionsMalformedSkip _, auctionsMalformedSkipSql)),
    "alpaca_overnight_gap" -> ((auctionOvernightGap _, auctionOvernightGapSql)),
    "alpaca_split_adjusted" -> ((splitAdjusted _, splitAdjustedSql)),
    "alpaca_bars_gapfill" -> ((barsGapfill _, barsGapfillSql)),
    "alpaca_tick_rule" -> ((tickRule _, tickRuleSql)),
    "alpaca_nbbo" -> ((nbbo _, nbboSql)),
    "alpaca_stream_nbbo" -> ((streamNbbo _, nbboSql)),
    "alpaca_meta_conditions_scan" -> ((metaConditionsScan _, metaConditionsScanSql)),
    "alpaca_trades_enriched" -> ((tradesEnriched _, tradesEnrichedSql)),
    "alpaca_trade_conditions_decoded" ->
      ((tradeConditionsDecoded _, tradeConditionsDecodedSql)),
    "alpaca_malformed_skip" -> ((barsMalformedSkip _, barsMalformedSkipSql)))
}
