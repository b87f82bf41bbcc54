package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ind.{FrameIndicators, RecursiveIndicators}

/** Frame-based indicator queries (SURVEY.md §2 group W-F) over the
  * `events` stand-in series, each paired with a formula-identical DuckDB
  * oracle. Outputs are rounded to 6 decimals on BOTH engines so
  * window-aggregation summation order (Spark per-frame fold vs DuckDB
  * segment tree) cannot flip the last ulp.
  */
object IndicatorQueries {

  private val Part = Seq("ticker")
  private val Order = Seq("t", "event_id")

  /** events → bars → all W-F indicator columns. */
  private def fi(s: SparkSession, dir: String): DataFrame =
    FrameIndicators.addAll(EventBars.bars(s, dir), Part, Order)

  private def sql(select: String): String =
    s"""WITH bars AS (${EventBars.sqlBars}),
       |${FrameIndicators.sqlStages("bars", "ticker", "t, event_id")}
       |SELECT $select FROM fi_final""".stripMargin

  private def r6(c: String) = Rounding.r6(col(c)).as(c)

  /** The fused recursive kernel's five outputs: one running-frame
    * Window on the bars' ticker exchange. */
  private val indRecursive: (SparkSession, String) => DataFrame = (s, dir) => {
    graft.functions.GraftFunctions.register(s)
    val w = Window.partitionBy("ticker").orderBy("t", "event_id")
    EventBars.bars(s, dir)
      .withColumn("_x", expr("graft_ind_w(close, high, low, close)").over(w))
      .select(col("ticker") +: col("t") +: RecursiveIndicators.outputColumns.map(c =>
        Rounding.r6(col(s"_x.$c")).as(c)): _*)
  }

  private val indRecursiveOracle: String =
    s"""WITH RECURSIVE bars AS (${EventBars.sqlBars}),
       |${RecursiveIndicators.sqlStages("bars", Seq("ticker"), Seq("t", "event_id"))}
       |SELECT ticker, t, (round(rsi, 6) + 0.0) AS rsi, (round(cmo, 6) + 0.0) AS cmo,
       |  (round(macd_hist, 6) + 0.0) AS macd_hist, (round(adx, 6) + 0.0) AS adx,
       |  (round(adx_hist, 6) + 0.0) AS adx_hist
       |FROM ri_final""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ind_rocp" -> ((s, dir) =>
      fi(s, dir).select(col("ticker") +: col("t") +:
        (1 to 5).map(k => r6(s"rocp_$k")): _*)),
    "ind_mom" -> ((s, dir) =>
      fi(s, dir).select(col("ticker"), col("t"), r6("mom"))),
    "ind_mfi" -> ((s, dir) =>
      fi(s, dir).select(col("ticker"), col("t"), r6("mfi"))),
    "ind_ultosc" -> ((s, dir) =>
      fi(s, dir).select(col("ticker"), col("t"), r6("ultosc"))),
    "ind_aroonosc" -> ((s, dir) =>
      fi(s, dir).select(col("ticker"), col("t"), r6("aroonosc"))),
    "ind_ppo" -> ((s, dir) =>
      fi(s, dir).select(col("ticker"), col("t"), r6("ppo"))),
    "ind_stochf" -> ((s, dir) =>
      fi(s, dir).select(col("ticker"), col("t"), r6("sok"), r6("sok_hist"))),
    // R1-R4 recursive kernels (Wilder/EMA/ADX); ind_recursive_window
    // is the older registry name: same function, same oracle.
    "ind_recursive" -> indRecursive,
    "ind_recursive_window" -> indRecursive,

    // W8 CCI — dead code in the reference (_get_cci is never called,
    // indicators.py:372-384) but part of its operator inventory.
    // meandev needs every frame element against the CURRENT row's SMA,
    // so the frame is materialized (collect_list); the fold itself is
    // the native codegen'd graft_absdev_sum, not an interpreted HOF.
    "ind_cci" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val w = Window.partitionBy("ticker").orderBy("t", "event_id")
        .rowsBetween(-13, 0)
      EventBars.bars(s, dir)
        .withColumn("tp", (col("high") + col("low") + col("close")) / lit(3.0))
        .withColumn("rn", row_number().over(
          Window.partitionBy("ticker").orderBy("t", "event_id")))
        .withColumn("sma", avg("tp").over(w))
        .withColumn("tps", collect_list("tp").over(w))
        .withColumn("meandev", expr("graft_absdev_sum(tps, sma) / 14.0D"))
        .select(col("ticker"), col("t"),
          Rounding.r6(when(col("rn") >= 14,
            when(col("meandev") =!= 0.0,
              (col("tp") - col("sma")) / (lit(0.015) * col("meandev")))
              .otherwise(lit(0.0)))).as("cci"))
    }))

  val oracles: Map[String, String] = Map(
    "ind_rocp" -> sql("ticker, t, " +
      (1 to 5).map(k => s"(round(rocp_$k, 6) + 0.0) AS rocp_$k").mkString(", ")),
    "ind_mom" -> sql("ticker, t, (round(mom, 6) + 0.0) AS mom"),
    "ind_mfi" -> sql("ticker, t, (round(mfi, 6) + 0.0) AS mfi"),
    "ind_ultosc" -> sql("ticker, t, (round(ultosc, 6) + 0.0) AS ultosc"),
    "ind_aroonosc" -> sql("ticker, t, (round(aroonosc, 6) + 0.0) AS aroonosc"),
    "ind_ppo" -> sql("ticker, t, (round(ppo, 6) + 0.0) AS ppo"),
    "ind_stochf" -> sql(
      "ticker, t, (round(sok, 6) + 0.0) AS sok, (round(sok_hist, 6) + 0.0) AS sok_hist"),
    "ind_recursive" -> indRecursiveOracle,
    "ind_recursive_window" -> indRecursiveOracle,

    "ind_cci" ->
      s"""WITH bars AS (${EventBars.sqlBars}),
         |c1 AS (
         |  SELECT ticker, t, event_id, (high + low + close) / 3.0 AS tp
         |  FROM bars),
         |c2 AS (
         |  SELECT ticker, t,
         |    row_number() OVER (PARTITION BY ticker ORDER BY t, event_id) AS rn,
         |    tp,
         |    avg(tp) OVER (PARTITION BY ticker ORDER BY t, event_id
         |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS sma,
         |    list(tp) OVER (PARTITION BY ticker ORDER BY t, event_id
         |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS tps
         |  FROM c1),
         |c3 AS (
         |  SELECT *, list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(tps, x -> abs(x - sma))), (a, b) -> a + b) / 14.0 AS meandev
         |  FROM c2)
         |SELECT ticker, t,
         |  (round(CASE WHEN rn >= 14 THEN
         |    CASE WHEN meandev <> 0 THEN (tp - sma) / (0.015 * meandev)
         |      ELSE 0.0 END END, 6) + 0.0) AS cci
         |FROM c3""".stripMargin)
}
