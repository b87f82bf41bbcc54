package graft.model

import org.apache.spark.sql.types._

/** Core data model of the engine.
  *
  * Mirrors the reference's two fixed schemas (see SURVEY.md §1.3):
  *  - raw OHLCV bars (reference: data_download_yahoo.py:42-51)
  *  - indicator feature rows (reference: stockdata/indicators.py:267-300)
  */
object Schemas {

  /** Raw bar schema — exact column list/order of the reference
    * (data_download_yahoo.py:42-51). `window_start` is epoch NANOSECONDS
    * (reference utils.py:11, indicators.py:9-22).
    */
  val rawBars: StructType = StructType(Seq(
    StructField("ticker", StringType),
    StructField("volume", DoubleType),
    StructField("open", DoubleType),
    StructField("close", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("adj_close", DoubleType),
    StructField("window_start", LongType)
  ))

  /** Indicator output schema — 18 columns in the reference's emit order
    * (indicators.py:267-300): window_start, close_price, rocp_1..rocp_5,
    * rsi, mfi, ultosc, cmo, aroonosc, macd_hist, ppo, sok, sok_hist,
    * adx, adx_hist, ticker.
    */
  val indicatorColumns: Seq[String] = Seq(
    "window_start", "close_price",
    "rocp_1", "rocp_2", "rocp_3", "rocp_4", "rocp_5",
    "rsi", "mfi", "ultosc", "cmo", "aroonosc",
    "macd_hist", "ppo", "sok", "sok_hist", "adx", "adx_hist", "ticker")

  val indicatorRows: StructType = StructType(
    indicatorColumns.map {
      case "ticker"       => StructField("ticker", StringType)
      case "window_start" => StructField("window_start", LongType)
      case c              => StructField(c, DoubleType)
    })
}

/** Engine-side equivalent of the reference's pydantic config
  * (indicators.py:97-143). Defaults replicate the only values the
  * reference ever uses (data_indicators.py:53-57).
  */
final case class IndicatorConfig(
    timeColumn: String = "window_start",
    closeColumn: String = "adj_close",       // aliased close_price on output
    closeUnadjColumn: String = "close",
    highColumn: String = "high",
    lowColumn: String = "low",
    volumeColumn: String = "volume",
    numPrevRocp: Int = 6,                    // emits rocp_1..rocp_5
    rsiPeriod: Int = 14,
    mfiPeriod: Int = 14,
    cmoPeriod: Int = 14,
    adxPeriod: Int = 14,
    ultoscPeriod1: Int = 7,
    ultoscPeriod2: Int = 14,
    ultoscPeriod3: Int = 28,
    aroonoscPeriod: Int = 25,
    stochFastK: Int = 5,
    stochFastD: Int = 3,
    ppoFast: Int = 12,
    ppoSlow: Int = 26,
    skipNa: Boolean = true,                  // dropna — indicators.py:135
    /** Consecutive-bar gaps (seconds) that do NOT split an island
      * (indicators.py:184: diff ∈ {60,120,180}). */
    allowedGapsSec: Seq[Long] = Seq(60L, 120L, 180L),
    gridStepSec: Long = 60L)
