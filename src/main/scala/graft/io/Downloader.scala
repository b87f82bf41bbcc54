package graft.io

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** The reference's E1 downloader pipeline assembled end-to-end
  * (data_download_yahoo.py:67-112): ticker list → fixed-size chunked
  * fetch → per-ticker wide→long flatten (G5) → fixed 8-column
  * projection (P1) → per-day partitioned gzip sink (S4).
  *
  * The HTTP fetch itself (yfinance) is out of engine scope (SURVEY.md
  * §2 S2); it is a pluggable `fetch` function so tests inject a
  * deterministic wide fixture shaped like yf.download's
  * group_by="ticker" frame. Everything downstream of the fetch is the
  * real engine path.
  *
  * Scale: each chunk's wide frame flattens via one generate (explode of
  * per-ticker structs) — no shuffle; chunk results union lazily and hit
  * the sink as ONE distributed write. The driver only holds ticker
  * *names* (the reference's ~500-symbol list), never bar data.
  */
object Downloader {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** G4: break a list into fixed-size chunks — full chunks first, then
    * the remainder (reference break_chunks, utils.py:89-107).
    */
  def breakChunks[T](xs: Seq[T], chunkSize: Int): Seq[Seq[T]] = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    val n = xs.length / chunkSize
    val full = (0 until n).map(i => xs.slice(i * chunkSize, (i + 1) * chunkSize))
    if (xs.length % chunkSize != 0) full :+ xs.drop(n * chunkSize) else full
  }

  /** Wide multi-ticker frame → long bars (G5 + P1): the Spark shape of
    * get_ticker_dict + get_formatted_df (data_download_yahoo.py:27-64).
    *
    * Expects `window_start` plus, per ticker, columns named
    * `{ticker}:{Field}` with yfinance field names (`Volume Open Close
    * High Low Adj Close`); emits the fixed 8-column [[Schemas.rawBars]]
    * layout, NaN cells as nulls. One explode of per-ticker structs —
    * row-local, no shuffle.
    */
  def flattenWide(wide: DataFrame, tickers: Seq[String]): DataFrame = {
    val fields = Seq("Volume", "Open", "Close", "High", "Low", "Adj Close")
    val present = wide.columns.toSet
    val have = tickers.filter(t => fields.forall(f => present(s"$t:$f")))
    val dropped = tickers.diff(have)
    if (dropped.nonEmpty)
      log.warn(s"flattenWide: dropping ${dropped.size} ticker(s) with " +
        s"incomplete column sets: ${dropped.mkString(", ")}")
    // All tickers incomplete → explode(array()) would yield
    // ArrayType(NullType) and the r.* accesses below would throw; the
    // correct result is simply an empty bars frame.
    if (have.isEmpty)
      return wide.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), Schemas.rawBars)
    val rows = have.map { t =>
      struct(
        lit(t).as("ticker") +:
          fields.map(f => col(s"`$t:$f`").cast("double")
            .as(f.toLowerCase.replace(" ", "_"))): _*)
    }
    // A NaN cell becomes null, as pandas → pyarrow writes it: Interpolate
    // fills nulls, while a NaN would poison every later Wilder/EMA state
    // of its island and P4's dropna would then drop the rest of it.
    // Mapped after the explode: 6 expressions, not 6 per ticker.
    def cell(c: String): Column =
      nanvl(col(s"r.$c"), lit(null).cast("double")).as(c)
    wide
      .select(col("window_start").cast("long").as("window_start"),
        explode(array(rows: _*)).as("r"))
      .select(col("r.ticker").as("ticker"), cell("volume"), cell("open"),
        cell("close"), cell("high"), cell("low"), cell("adj_close"),
        col("window_start"))
  }

  /** E1 main: the full downloader task for one logical date.
    *
    * @param tickerCsv  S&P member CSV (S1 [[BarsIO.tickerList]])
    * @param ds         logical date %Y-%m-%d (Airflow execution_date)
    * @param interval   bar interval tag for the sink layout
    * @param base       sink base directory (S4 layout)
    * @param chunkSize  fetch batch size (reference: 10)
    * @param fetch      per-chunk wide-frame fetch; None ≙ yf.download
    *                   returning an empty frame (chunk skipped)
    * @return number of bar rows written, counted by an `Observation` on
    *         the write itself (0 = no data, no day partition written —
    *         mirrors the reference's early return)
    */
  def run(
      spark: SparkSession,
      tickerCsv: String,
      ds: String,
      interval: String,
      base: String,
      chunkSize: Int = 10)(
      fetch: Seq[String] => Option[DataFrame]): Long = {
    val tickers = BarsIO.tickerList(spark, tickerCsv)
    val chunks = breakChunks(tickers, chunkSize)
    val parts = chunks.flatMap(tc => fetch(tc).map(flattenWide(_, tc)))
    if (parts.isEmpty) return 0L
    // The write counts its own rows, so the flatten runs exactly once;
    // a write of zero rows creates no partition directory.
    val rows = Observation()
    val all = parts.reduce(_.unionByName(_))
      .select(Schemas.rawBars.fieldNames.map(col).toIndexedSeq: _*)
      .observe(rows, count(lit(1)).as("n"))
    BarsIO.writePartitioned(all, base, interval, ds)
    rows.get("n").asInstanceOf[Long]
  }
}
