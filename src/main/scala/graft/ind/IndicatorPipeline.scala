package graft.ind

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{MarketCalendar, SeriesScan}
import graft.model.{IndicatorConfig, Schemas}

/** The reference's flagship E2 pipeline as ONE declarative DataFrame
  * transform (SURVEY.md §3 "Spark shape of the whole of E2"):
  *
  *   raw bars → ticker/market-hours filters → [[SeriesScan]] (sessionize
  *   into islands → 60s grid densify → linear interpolate, one sorted
  *   pass) → frame + recursive indicators → 18-column project → warm-up
  *   dropna.
  *
  * Replaces the reference's per-ticker Python loop
  * (data_indicators.py:48-62) with partitioning on the series keys:
  * `ticker` for one day ([[run]]), `(ticker, ds)` for a range of days
  * ([[runRange]]). One hash exchange on the series keys and one
  * (series, ts) sort feed the scan; its output is already ordered by
  * (series, island, ts), so the indicator kernels' one Window node
  * needs no sort of its own. The whole pipeline is one exchange, one
  * sort and one Window node.
  *
  * [[run]] and [[runRange]] differ only in their market-hours front
  * end; both call the same key-generic body, and the registry's
  * pipeline_* queries call its public [[tail]] directly.
  *
  * Scale notes (100 TB): the per-day filter folds to literals and
  * pushes into the parquet scan; the scan's cost is linear in a
  * series' length and it holds one island at a time (a ticker-day is
  * ≤ ~420 rows, SURVEY.md §7.4). Nothing collects to the driver.
  */
object IndicatorPipeline {

  /** Run the full pipeline for one trading date over raw bars
    * (schema [[Schemas.rawBars]], `window_start` in epoch ns).
    */
  def run(raw: DataFrame, date: LocalDate,
      cfg: IndicatorConfig = IndicatorConfig()): DataFrame = {
    val (mst, met) = MarketCalendar.marketOpenCloseNanos(date)
    val ts = col(cfg.timeColumn)
    body(raw, ts >= lit(mst) && ts < lit(met), Seq("ticker"), cfg) // P2
  }

  /** Multi-day variant — the 100 TB shape: N trading days in ONE job.
    *
    * Replaces the reference's one-process-per-day Airflow fan-out
    * (airflow_dag.py:26, max_active_runs=8) with a single plan: each
    * row's Eastern trading date `ds` looks its [open, close) bounds up
    * in a literal date → bounds map (no join, no per-day driver loop;
    * a day not in `dates` looks up null and drops), and series identity
    * is (ticker, ds), so the whole range is ONE exchange on
    * hash(ticker, ds). Output carries `ds` for a date-partitioned sink
    * (partition pruning on read — BarsIO layout).
    */
  def runRange(raw: DataFrame, dates: Seq[LocalDate],
      cfg: IndicatorConfig = IndicatorConfig()): DataFrame = {
    val ts = col(cfg.timeColumn)
    val byDate = typedLit(dates.map(d =>
      d.toString -> MarketCalendar.marketOpenCloseNanos(d)).toMap)
    val bounds = byDate(col("ds"))
    val withDs = raw.withColumn("ds", date_format(from_utc_timestamp(
      timestamp_seconds(ts / lit(1000000000d)),
      MarketCalendar.Eastern.getId), "yyyy-MM-dd"))
    body(withDs, ts >= bounds("_1") && ts < bounds("_2"), Seq("ticker", "ds"), cfg)
  }

  /** Filters → [[SeriesScan]] (sessionize, densify, interpolate) →
    * [[tail]], keyed by the `series` columns (which always include
    * `ticker`, the sub-ticker label source). */
  private def body(raw: DataFrame, marketHours: Column, series: Seq[String],
      cfg: IndicatorConfig): DataFrame = {
    val ts = cfg.timeColumn
    val filtered = raw
      .filter(col(ts).isNotNull)                       // P5 analog for time
      .filter(col("ticker").isNotNull)                 // P5 (data_indicators.py:49-50)
      .filter(marketHours)
      .withColumn(cfg.volumeColumn, col(cfg.volumeColumn).cast("double")) // P6

    val filled = SeriesScan(filtered, series, ts,
      Some((cfg.allowedGapsSec.map(_ * 1000000000L), "ticker")),          // F1
      Some(cfg.gridStepSec * 1000000000L),                                 // F2
      Seq(cfg.volumeColumn, "open", cfg.closeUnadjColumn, cfg.highColumn,
        cfg.lowColumn, cfg.closeColumn))                                   // F3
    tail(filled, series, cfg)
  }

  /** Indicator tail over sessionized, gap-free bars (columns: `series`
    * keys, `island`, `sub_ticker` and the `cfg` source columns): frame
    * indicators plus the fused recursive kernel over ONE
    * (series, island) window — the exchange and order the caller's
    * [[SeriesScan]] already made — then the 18
    * [[Schemas.indicatorColumns]] (plus any non-`ticker` series key)
    * and, when `cfg.skipNa`, the warm-up dropna (P4).
    *
    * The kernel's RSI and CMO share one Wilder state, so split periods
    * are rejected here, at call time.
    */
  def tail(df: DataFrame, series: Seq[String], cfg: IndicatorConfig): DataFrame = {
    require(cfg.rsiPeriod == cfg.cmoPeriod,
      "RSI/CMO share one Wilder state; rsiPeriod must equal cmoPeriod")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val ts = cfg.timeColumn
    val part = series :+ "island"
    val framed = FrameIndicators.addAll(df, part, Seq(ts),
      price = cfg.closeColumn, cfg = cfg)
    val x = expr(s"graft_ind_w(${cfg.closeColumn}, ${cfg.highColumn}, " +
      s"${cfg.lowColumn}, ${cfg.closeUnadjColumn}, ${cfg.rsiPeriod}, " +
      s"${cfg.adxPeriod})").over(Window.partitionBy(part.map(col): _*).orderBy(ts))
    val projected = framed.withColumn("_x", x).select(
      Schemas.indicatorColumns.map {
        case "window_start" => col(ts).as("window_start")
        case "close_price"  => col(cfg.closeColumn).as("close_price")
        case "ticker"       => col("sub_ticker").as("ticker")          // P7
        case c if RecursiveIndicators.outputColumns.contains(c) =>
          col(s"_x.$c").as(c)
        case c              => col(c)
      } ++ series.filterNot(_ == "ticker").map(col): _*)
    if (cfg.skipNa) projected.na.drop() else projected                    // P4
  }
}
