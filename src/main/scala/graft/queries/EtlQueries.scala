package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.etl.{Densify, Interpolate, SeriesScan, Sessionize}
import graft.ind.{FrameIndicators, IndicatorPipeline, RecursiveIndicators}
import graft.model.IndicatorConfig

/** F1/F2/F3 restructuring-chain queries (SURVEY.md §2) over the
  * deterministic minute-grid bars derived from `events`
  * ([[EventBars.minuteBars]]), each with a formula-identical DuckDB
  * oracle. Gap units are micros here (engine pipeline uses ns — the
  * transforms are unit-agnostic).
  */
object EtlQueries {

  private val Step = EventBars.StepMicros
  private val Gaps = Seq(Step, 2 * Step, 3 * Step)
  private val FillCols = Seq("open", "high", "low", "close", "volume")

  private def sessionized(s: SparkSession, dir: String): DataFrame =
    Sessionize(EventBars.minuteBars(s, dir), "ticker", "ws", Gaps)

  private def densified(s: SparkSession, dir: String): DataFrame =
    Densify(sessionized(s, dir).drop("event_id"),
      Seq("ticker", "island", "sub_ticker"), "ws", Step)

  private def interpolated(s: SparkSession, dir: String): DataFrame =
    Interpolate(densified(s, dir), Seq("ticker", "island"), "ws", FillCols)

  /** F1–F3 as the pipelines run them: one [[SeriesScan]] with all three
    * stages, keyed by `keys` (the chain of [[interpolated]], in one pass). */
  private def scanned(bars: DataFrame, keys: Seq[String]): DataFrame =
    SeriesScan(bars.drop("event_id"), keys, "ws", Some((Gaps, "ticker")),
      Some(Step), FillCols)

  private val sqlSession =
    s"""${EventBars.sqlMinuteBars},
       |${Sessionize.sqlStages("minute_bars", "ticker", "ws", Gaps)}""".stripMargin

  private val sqlDense =
    s"""$sqlSession,
       |no_eid AS (SELECT * EXCLUDE (event_id) FROM sz_final),
       |${Densify.sqlStages("no_eid", Seq("ticker", "island", "sub_ticker"), "ws", Step)}""".stripMargin

  private val sqlInterp =
    s"""$sqlDense,
       |${Interpolate.sqlStages("dz_final", Seq("ticker", "island"), "ws", FillCols)}""".stripMargin

  private def r6(c: String) = Rounding.r6(col(c)).as(c)

  /** [[IndicatorPipeline.tail]] over the µs-domain minute bars, whose
    * one close series serves as both price and unadjusted close. */
  private val TailCfg = IndicatorConfig(timeColumn = "ws", closeColumn = "close")

  /** r6 on every double column (the oracles' `round(x, 6) + 0.0`). */
  private def rounded(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map(f =>
      if (f.dataType == DoubleType) r6(f.name) else col(f.name)): _*)

  /** Dropping warm-up rows before r6 keeps the same rows as after:
    * r6 never turns a finite value into null or NaN. */
  private val pipelineFull: (SparkSession, String) => DataFrame = (s, dir) =>
    rounded(IndicatorPipeline.tail(scanned(EventBars.minuteBars(s, dir), Seq("ticker")),
      Seq("ticker"), TailCfg))

  /** Synthetic "trading day" length (grid slots) for pipeline_range —
    * short enough that the gate SFs genuinely span several days
    * (sf0.01 ≈ 100 slots/ticker → 2-3 days; sf0.1 → ~6). */
  private val RangeDaySlots = 50L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_sessionize" -> ((s, dir) =>
      sessionized(s, dir).select(col("ticker"), col("ws"), col("island"),
        col("sub_ticker"))),

    "etl_densify" -> ((s, dir) =>
      densified(s, dir).select(col("ticker"), col("island"), col("ws"),
        col("close"), col("close").isNull.as("generated"))),

    "etl_interpolate" -> ((s, dir) =>
      interpolated(s, dir).select(col("ticker"), col("island"), col("ws"),
        r6("close"), r6("volume"))),

    // Flagship W-F pipeline: sessionize → densify → interpolate →
    // frame indicators per sub_ticker → dropna (reference P4).
    "pipeline_frame" -> ((s, dir) => {
      // partition on (ticker, island) ≡ sub_ticker so the frame windows
      // reuse the exchange and order of the scan (no new shuffle or sort)
      val fi = FrameIndicators.addAll(
        scanned(EventBars.minuteBars(s, dir), Seq("ticker")), Seq("ticker", "island"), Seq("ws"))
      val out = fi.select(col("sub_ticker").as("ticker"),
        col("ws").as("window_start"), Rounding.r6(col("close")).as("close_price"),
        r6("rocp_1"), r6("rocp_2"), r6("rocp_3"), r6("rocp_4"), r6("rocp_5"),
        r6("mfi"), r6("ultosc"), r6("aroonosc"), r6("ppo"), r6("sok"),
        r6("sok_hist"))
      out.na.drop()
    }),

    // The older registry name of pipeline_full: same function, same oracle.
    "pipeline_window" -> pipelineFull,

    // Faithful E2 (SURVEY.md §3): the reference's full 18-column
    // indicator table — IndicatorPipeline's own tail over the bars one
    // SeriesScan sessionized, densified and interpolated, so the
    // flagship is ONE hash exchange end-to-end. Its recursive columns
    // come from the same graft_ind_w kernel ind_recursive runs;
    // PipelineSpec pins that kernel against RecursiveIndicators.scan.
    "pipeline_full" -> pipelineFull,

    // IndicatorPipeline.runRange's 100 TB multi-day shape, oracle-gated:
    // N "trading days" in ONE plan — series identity (ticker, ds), every
    // stage (the sessionize → densify → interpolate scan, then the
    // indicator tail) keyed by (ticker, ds[, island]) so the whole range
    // rides one hash exchange (PlanSpec pin). Days here slice the synthetic grid every
    // RangeDaySlots slots (pure integer epoch math; the calendar-bound
    // variant is test-pinned by PipelineSpec's runRange ≡ per-day-union).
    // Warm-up rows stay (P4's dropna is pipeline_full's pin; days are
    // short, and the shape under test is the multi-day partitioning,
    // not the trim).
    "pipeline_range" -> ((s, dir) => {
      val mb = EventBars.minuteBars(s, dir)
        .withColumn("ds", expr(s"(ws - ${EventBars.GridBaseMicros}L) DIV " +
          s"${Step * RangeDaySlots}L"))
      val keys = Seq("ticker", "ds")
      rounded(IndicatorPipeline.tail(scanned(mb, keys), keys,
        TailCfg.copy(skipNa = false)))
    }))

  val oracles: Map[String, String] = Map(
    "etl_sessionize" ->
      s"""WITH $sqlSession
         |SELECT ticker, ws, island, sub_ticker FROM sz_final""".stripMargin,

    "etl_densify" ->
      s"""WITH $sqlDense
         |SELECT ticker, island, ws, close, close IS NULL AS generated
         |FROM dz_final""".stripMargin,

    "etl_interpolate" ->
      s"""WITH $sqlInterp
         |SELECT ticker, island, ws, (round(close, 6) + 0.0) AS close,
         |  (round(volume, 6) + 0.0) AS volume FROM ip_final""".stripMargin,

    "pipeline_frame" ->
      s"""WITH $sqlInterp,
         |${FrameIndicators.sqlStages("ip_final", "sub_ticker", "ws")}
         |SELECT sub_ticker AS ticker, ws AS window_start,
         |  (round(close, 6) + 0.0) AS close_price,
         |  (round(rocp_1, 6) + 0.0) AS rocp_1, (round(rocp_2, 6) + 0.0) AS rocp_2,
         |  (round(rocp_3, 6) + 0.0) AS rocp_3, (round(rocp_4, 6) + 0.0) AS rocp_4,
         |  (round(rocp_5, 6) + 0.0) AS rocp_5,
         |  (round(mfi, 6) + 0.0) AS mfi, (round(ultosc, 6) + 0.0) AS ultosc,
         |  (round(aroonosc, 6) + 0.0) AS aroonosc, (round(ppo, 6) + 0.0) AS ppo,
         |  (round(sok, 6) + 0.0) AS sok, (round(sok_hist, 6) + 0.0) AS sok_hist
         |FROM fi_final
         |WHERE rocp_1 IS NOT NULL AND rocp_2 IS NOT NULL
         |  AND rocp_3 IS NOT NULL AND rocp_4 IS NOT NULL
         |  AND rocp_5 IS NOT NULL AND mfi IS NOT NULL AND ultosc IS NOT NULL
         |  AND aroonosc IS NOT NULL AND ppo IS NOT NULL AND sok IS NOT NULL
         |  AND sok_hist IS NOT NULL""".stripMargin,

    "pipeline_window" -> pipelineFullOracle,
    "pipeline_full" -> pipelineFullOracle,

    "pipeline_range" -> {
      val keys = Seq("ticker", "ds")
      s"""WITH RECURSIVE ${EventBars.sqlMinuteBars},
         |mbd AS (SELECT *, (ws - ${EventBars.GridBaseMicros})
         |    // ${Step * RangeDaySlots} AS ds FROM minute_bars),
         |${Sessionize.sqlStages("mbd", keys, "ticker", "ws", Gaps)},
         |no_eid AS (SELECT * EXCLUDE (event_id) FROM sz_final),
         |${Densify.sqlStages("no_eid", keys ++ Seq("island", "sub_ticker"), "ws", Step)},
         |${Interpolate.sqlStages("dz_final", keys :+ "island", "ws", FillCols)},
         |${FrameIndicators.sqlStages("ip_final", "ticker, ds, island", "ws")},
         |${RecursiveIndicators.sqlStages("ip_final", keys :+ "island", Seq("ws"))}
         |SELECT f.ws AS window_start, (round(f.close, 6) + 0.0) AS close_price,
         |  (round(f.rocp_1, 6) + 0.0) AS rocp_1, (round(f.rocp_2, 6) + 0.0) AS rocp_2,
         |  (round(f.rocp_3, 6) + 0.0) AS rocp_3, (round(f.rocp_4, 6) + 0.0) AS rocp_4,
         |  (round(f.rocp_5, 6) + 0.0) AS rocp_5,
         |  (round(r.rsi, 6) + 0.0) AS rsi, (round(f.mfi, 6) + 0.0) AS mfi,
         |  (round(f.ultosc, 6) + 0.0) AS ultosc, (round(r.cmo, 6) + 0.0) AS cmo,
         |  (round(f.aroonosc, 6) + 0.0) AS aroonosc,
         |  (round(r.macd_hist, 6) + 0.0) AS macd_hist, (round(f.ppo, 6) + 0.0) AS ppo,
         |  (round(f.sok, 6) + 0.0) AS sok, (round(f.sok_hist, 6) + 0.0) AS sok_hist,
         |  (round(r.adx, 6) + 0.0) AS adx, (round(r.adx_hist, 6) + 0.0) AS adx_hist,
         |  f.sub_ticker AS ticker, f.ds
         |FROM fi_final f JOIN ri_final r
         |  ON f.ticker = r.ticker AND f.ds = r.ds AND f.island = r.island
         |    AND f.ws = r.ws""".stripMargin
    })

  private lazy val pipelineFullOracle: String =
      s"""WITH RECURSIVE $sqlInterp,
         |${FrameIndicators.sqlStages("ip_final", "sub_ticker", "ws")},
         |${RecursiveIndicators.sqlStages("ip_final", Seq("sub_ticker"), Seq("ws"))}
         |SELECT f.ws AS window_start, (round(f.close, 6) + 0.0) AS close_price,
         |  (round(f.rocp_1, 6) + 0.0) AS rocp_1, (round(f.rocp_2, 6) + 0.0) AS rocp_2,
         |  (round(f.rocp_3, 6) + 0.0) AS rocp_3, (round(f.rocp_4, 6) + 0.0) AS rocp_4,
         |  (round(f.rocp_5, 6) + 0.0) AS rocp_5,
         |  (round(r.rsi, 6) + 0.0) AS rsi, (round(f.mfi, 6) + 0.0) AS mfi,
         |  (round(f.ultosc, 6) + 0.0) AS ultosc, (round(r.cmo, 6) + 0.0) AS cmo,
         |  (round(f.aroonosc, 6) + 0.0) AS aroonosc,
         |  (round(r.macd_hist, 6) + 0.0) AS macd_hist, (round(f.ppo, 6) + 0.0) AS ppo,
         |  (round(f.sok, 6) + 0.0) AS sok, (round(f.sok_hist, 6) + 0.0) AS sok_hist,
         |  (round(r.adx, 6) + 0.0) AS adx, (round(r.adx_hist, 6) + 0.0) AS adx_hist,
         |  f.sub_ticker AS ticker
         |FROM fi_final f JOIN ri_final r
         |  ON f.sub_ticker = r.sub_ticker AND f.ws = r.ws
         |WHERE f.rocp_1 IS NOT NULL AND f.rocp_2 IS NOT NULL
         |  AND f.rocp_3 IS NOT NULL AND f.rocp_4 IS NOT NULL
         |  AND f.rocp_5 IS NOT NULL AND r.rsi IS NOT NULL
         |  AND f.mfi IS NOT NULL AND f.ultosc IS NOT NULL
         |  AND r.cmo IS NOT NULL AND f.aroonosc IS NOT NULL
         |  AND r.macd_hist IS NOT NULL AND f.ppo IS NOT NULL
         |  AND f.sok IS NOT NULL AND f.sok_hist IS NOT NULL
         |  AND r.adx IS NOT NULL AND r.adx_hist IS NOT NULL""".stripMargin
}
