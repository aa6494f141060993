package perfbench

import java.time.{LocalDate, ZoneOffset, ZonedDateTime}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.AlpacaOptions
import graft.stub.AlpacaFixtures

/** Everything one pass needs besides the workload itself. */
final case class PassContext(id: Int, endpoint: String, ledger: Ledger, spans: Spans,
    workDir: java.nio.file.Path)

/**
 * A named, seeded workload. The seed picks symbols and dates; the
 * connector sees only the generated options. Expected results come
 * straight from `AlpacaFixtures`, the functions the stub renders pages
 * from, never from an earlier run.
 */
trait Workload {
  def name: String
  def format: String
  /** Injected latency per replayed response, ms. */
  def latencyMs: Long = 0L
  /** Share of captured requests that answer 429 on their first attempt. */
  def faultRate: Double = 0.0
  /** Data triggers a pass must run (streaming workloads). */
  def minTriggers: Int = 0
  /** What the set-up's warm-up pass runs: the same symbols and start over
    * a prefix of the range, long enough to load and compile the pass's
    * code paths without costing a full pass of set-up time. */
  def warmup: Workload = this
  def symbols: Seq[String]
  /** Source options without the endpoint/credential keys. */
  def options: Map[String, String]
  def describe: String

  final def sourceOptions(endpoint: String): Map[String, String] = options ++ Map(
    "endpoint" -> endpoint,
    "APCA-API-KEY-ID" -> "bench-key",
    "APCA-API-SECRET-KEY" -> "bench-secret",
    "symbols" -> symbols.mkString("['", "','", "']"))

  /** The batch query this workload plans (for a stream: the same
    * aggregate over a batch read of the same range). */
  def batchQuery(spark: SparkSession, endpoint: String): DataFrame

  /** Runs one closed-loop pass and returns its result rows. */
  def execute(spark: SparkSession, ctx: PassContext): Array[Row]

  /** Mismatches between result rows and the fixture expectation. */
  def check(rows: Array[Row]): Seq[String]

  /** Records the scan delivers in one pass. */
  def records: Long
}

object Workloads {
  val Names: Seq[String] = Seq("bars_bulk", "trades_grid", "stream_bars")

  /** Symbols the seed draws from. The stub derives each symbol's price
    * level from its name, so different draws give different data. */
  val Universe: Seq[String] = Seq("AAPL", "ABT", "ADBE", "AMZN", "BAC", "CRM", "CSCO",
    "CVX", "DIS", "GOOG", "HD", "IBM", "INTC", "JNJ", "JPM", "KO", "MA", "MCD", "META",
    "MRK", "MSFT", "NFLX", "NKE", "NVDA", "ORCL", "PEP", "PFE", "PG", "TSLA", "UNH",
    "V", "WMT", "XOM")

  def apply(name: String, seed: Long): Workload = name match {
    case "bars_bulk" => new BarsBulk(seed)
    case "trades_grid" => new TradesGrid(seed)
    case "stream_bars" => new StreamBars(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
  }

  def pick(rnd: scala.util.Random, n: Int): Seq[String] =
    rnd.shuffle(Universe).take(n).sorted

  def iso(d: ZonedDateTime): String = AlpacaOptions.microsToIso(micros(d))
  def micros(d: ZonedDateTime): Long = d.toInstant.getEpochSecond * 1000000L
  def utc(y: Int, m: Int, d: Int): ZonedDateTime =
    ZonedDateTime.of(y, m, d, 0, 0, 0, 0, ZoneOffset.UTC)

  val MinuteUs: Long = 60L * 1000000L

  /** Exact cents of a fixture price, as Spark's cast to decimal(18,2)
    * rounds it. */
  def cents(price: Double): Long =
    BigDecimal.valueOf(price).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(100)).toLongExact

  def centsToDouble(c: Long): Double = (BigDecimal(c) / 100).toDouble

  /** Compares keyed aggregate rows against expectations. */
  def compare[K](label: String, got: Map[K, Seq[Any]], want: Map[K, Seq[Any]]): Seq[String] = {
    val missing = want.keySet.diff(got.keySet).toSeq.map(k => s"$label: missing group $k")
    val extra = got.keySet.diff(want.keySet).toSeq.map(k => s"$label: unexpected group $k")
    val wrong = want.toSeq.flatMap { case (k, w) =>
      got.get(k).filter(_ != w).map(g => s"$label: group $k got $g, want $w")
    }
    (missing ++ extra ++ wrong).take(5)
  }
}

import Workloads._

/** Bulk backfill: 365 days of 1Min bars from a seeded month start, for
  * 2 seeded symbols, aggregated per (symbol, month). */
class BarsBulk(seed: Long) extends Workload {
  private val rnd = new scala.util.Random(seed)
  val name = "bars_bulk"
  val format = "Alpaca_Stocks_Bars"
  val symbols: Seq[String] = pick(rnd, 2)
  private val start = utc(2016 + rnd.nextInt(8), 1 + rnd.nextInt(12), 1)
  private val end = start.plusDays(365)
  val options: Map[String, String] =
    Map("start" -> iso(start), "end" -> iso(end), "timeframe" -> "1Min")
  def describe = s"$format 1Min ${symbols.mkString(",")} [${iso(start)}, ${iso(end)})"

  private def aggregate(df: DataFrame): DataFrame =
    df.groupBy(col("symbol"), date_format(col("time"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"), sum(col("volume")).as("sum_volume"),
        sum(col("close").cast("decimal(18,2)")).cast("double").as("sum_close"))

  def batchQuery(spark: SparkSession, endpoint: String): DataFrame =
    aggregate(spark.read.format(format).options(sourceOptions(endpoint)).load())

  def execute(spark: SparkSession, ctx: PassContext): Array[Row] = {
    val df = ctx.spans(ctx.id, "submit", "pass")(batchQuery(spark, ctx.endpoint))
    ctx.spans(ctx.id, "plan", "pass")(df.queryExecution.executedPlan)
    ctx.spans(ctx.id, "execute", "pass")(df.collect())
  }

  /** (symbol, month) → (bars, Σvolume, Σclose cents). */
  protected def expected: Map[(String, String), (Long, Long, Long)] = fixtureTotals

  private lazy val fixtureTotals: Map[(String, String), (Long, Long, Long)] = {
    val acc = mutable.HashMap.empty[(String, String), Array[Long]]
    val (s, e) = (micros(start), micros(end))
    for (sym <- symbols) {
      var t = AlpacaFixtures.gridFirst(s, MinuteUs)
      var day = Long.MinValue
      var slot: Array[Long] = null
      while (t < e) {
        val d = Math.floorDiv(t, AlpacaFixtures.DayUs)
        if (d != day) {
          day = d
          val date = LocalDate.ofEpochDay(d)
          slot = acc.getOrElseUpdate((sym, f"${date.getYear}%04d-${date.getMonthValue}%02d"),
            new Array[Long](3))
        }
        val b = AlpacaFixtures.barAt(sym, t, MinuteUs)
        slot(0) += 1; slot(1) += b.volume; slot(2) += cents(b.close)
        t += MinuteUs
      }
    }
    acc.map { case (k, v) => k -> ((v(0), v(1), v(2))) }.toMap
  }

  lazy val records: Long = fixtureTotals.values.map(_._1).sum

  def check(rows: Array[Row]): Seq[String] = compare(name,
    rows.map(r => (r.getString(0), r.getString(1)) ->
      Seq[Any](r.getLong(2), r.getLong(3), r.getDouble(4))).toMap,
    expected.map { case (k, (n, v, c)) => k -> Seq[Any](n, v, centsToDouble(c)) })
}

/** Symbol×day tick pull: 91 days (a quarter) of trades from a seeded
  * quarter start, for 8 seeded symbols, one partition (one small page)
  * per symbol-day, aggregated
  * per (symbol, day). Replayed with a fixed 20 ms latency per response
  * and a seeded 1 % of first attempts refused with 429. */
class TradesGrid(seed: Long, days: Int = 91, symbolCount: Int = 8) extends Workload {
  override def warmup: Workload = new TradesGrid(seed, math.min(days, 28), symbolCount)
  private val rnd = new scala.util.Random(seed)
  val name = "trades_grid"
  val format = "Alpaca_Stocks_Trades"
  override val latencyMs = 20L
  override val faultRate = 0.01
  val symbols: Seq[String] = pick(rnd, symbolCount)
  private val start = utc(2016 + rnd.nextInt(8), 1 + 3 * rnd.nextInt(4), 1)
  private val end = start.plusDays(days)
  val options: Map[String, String] = Map("start" -> iso(start), "end" -> iso(end))
  def describe = s"$format ${symbols.mkString(",")} [${iso(start)}, ${iso(end)}), " +
    s"latency ${latencyMs}ms, 429 on ${faultRate * 100}% of first attempts"

  private def aggregate(df: DataFrame): DataFrame =
    df.groupBy(col("symbol"), date_format(col("time"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"), sum(col("size")).as("sum_size"),
        sum(col("price").cast("decimal(18,2)") * col("size")).cast("double").as("notional"))

  def batchQuery(spark: SparkSession, endpoint: String): DataFrame =
    aggregate(spark.read.format(format).options(sourceOptions(endpoint)).load())

  def execute(spark: SparkSession, ctx: PassContext): Array[Row] = {
    val df = ctx.spans(ctx.id, "submit", "pass")(batchQuery(spark, ctx.endpoint))
    ctx.spans(ctx.id, "plan", "pass")(df.queryExecution.executedPlan)
    ctx.spans(ctx.id, "execute", "pass")(df.collect())
  }

  /** (symbol, day) → (trades, Σsize, Σ price cents × size). */
  protected def expected: Map[(String, String), (Long, Long, Long)] = fixtureTotals

  private lazy val fixtureTotals: Map[(String, String), (Long, Long, Long)] = {
    val acc = mutable.HashMap.empty[(String, String), Array[Long]]
    for (sym <- symbols; tr <- AlpacaFixtures.trades(sym, micros(start), micros(end))) {
      val day = LocalDate.ofEpochDay(Math.floorDiv(tr.timeUs, AlpacaFixtures.DayUs)).toString
      val slot = acc.getOrElseUpdate((sym, day), new Array[Long](3))
      slot(0) += 1; slot(1) += tr.size; slot(2) += cents(tr.price) * tr.size
    }
    acc.map { case (k, v) => k -> ((v(0), v(1), v(2))) }.toMap
  }

  lazy val records: Long = fixtureTotals.values.map(_._1).sum

  def check(rows: Array[Row]): Seq[String] = compare(name,
    rows.map(r => (r.getString(0), r.getString(1)) ->
      Seq[Any](r.getLong(2), r.getLong(3), r.getDouble(4))).toMap,
    expected.map { case (k, (n, s, c)) => k -> Seq[Any](n, s, centsToDouble(c)) })
}

/** Incremental ingestion: `readStream` over 1Min bars for 2 seeded
  * symbols, a fixed `end` `hours` (100) after a seeded start and
  * `stream_step` 1Hour, so a pass runs one data trigger per hour. A per-symbol
  * stateful aggregate writes to a memory sink with a local-disk
  * checkpoint. */
class StreamBars(seed: Long, hours: Int = 100) extends Workload {
  private val rnd = new scala.util.Random(seed)
  val name = "stream_bars"
  val format = "Alpaca_Stocks_Bars"
  override val minTriggers = hours
  override def warmup: Workload = new StreamBars(seed, math.min(hours, 30))
  val StateWidth = 2
  val symbols: Seq[String] = pick(rnd, 2)
  private val start = utc(2016 + rnd.nextInt(8), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28))
  private val end = start.plusHours(hours)
  val options: Map[String, String] = Map("start" -> iso(start), "end" -> iso(end),
    "timeframe" -> "1Min", "stream_step" -> "1Hour")
  def describe = s"readStream $format 1Min ${symbols.mkString(",")} " +
    s"[${iso(start)}, ${iso(end)}) step 1Hour"

  private def aggregate(df: DataFrame): DataFrame =
    df.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"), sum(col("volume")).as("sum_volume"),
        sum(col("close").cast("decimal(18,2)")).cast("double").as("sum_close"))

  def batchQuery(spark: SparkSession, endpoint: String): DataFrame =
    aggregate(spark.read.format(format).options(sourceOptions(endpoint)).load())

  def execute(spark: SparkSession, ctx: PassContext): Array[Row] = {
    val qname = s"perfbench_stream_${ctx.id}_${System.nanoTime()}"
    val ckpt = ctx.workDir.resolve("checkpoints").resolve(qname)
    ctx.ledger.watch(qname, ctx.id)
    // the state width the repo's own streaming gates use for small input
    spark.conf.set("spark.sql.shuffle.partitions", StateWidth.toString)
    val q = ctx.spans(ctx.id, "submit", "pass") {
      aggregate(spark.readStream.format(format).options(sourceOptions(ctx.endpoint)).load())
        .writeStream.outputMode("complete").format("memory").queryName(qname)
        .option("checkpointLocation", ckpt.toString)
        .start()
    }
    try ctx.spans(ctx.id, "execute", "pass")(q.processAllAvailable())
    finally ctx.spans(ctx.id, "stop", "pass")(q.stop())
    spark.conf.unset("spark.sql.shuffle.partitions")
    val rows = ctx.spans(ctx.id, "result", "pass")(spark.table(qname).collect())
    spark.catalog.dropTempView(qname)
    rows
  }

  /** symbol → (bars, Σvolume, Σclose cents). */
  protected def expected: Map[String, (Long, Long, Long)] = fixtureTotals

  private lazy val fixtureTotals: Map[String, (Long, Long, Long)] = symbols.map { sym =>
    val bs = AlpacaFixtures.bars(sym, micros(start), micros(end), MinuteUs)
    sym -> ((bs.size.toLong, bs.map(_.volume).sum, bs.map(b => cents(b.close)).sum))
  }.toMap

  lazy val records: Long = fixtureTotals.values.map(_._1).sum

  def check(rows: Array[Row]): Seq[String] = compare(name,
    rows.map(r => r.getString(0) -> Seq[Any](r.getLong(1), r.getLong(2), r.getDouble(3))).toMap,
    expected.map { case (k, (n, v, c)) => k -> Seq[Any](n, v, centsToDouble(c)) })
}
