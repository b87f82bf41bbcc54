package graft.ind

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{FrameIndicatorWindow, GraftFunctions}
import graft.model.IndicatorConfig

/** Group W-F frame-based indicators (SURVEY.md §2): ROCP, MOM, MFI,
  * ULTOSC, AROONOSC, STOCHF, PPO — all computed by ONE native
  * running-frame window function, `graft_frame_w`
  * ([[graft.functions.FrameIndicatorWindow]]), over the caller's
  * `Window.partitionBy(keys).orderBy(time)` spec. It shares its Window
  * operator with the recursive kernel `graft_ind_w` when both run over
  * the same spec, as in [[IndicatorPipeline.tail]].
  *
  * Semantics re-derive TA-Lib 0.4.32's published kernels (the reference
  * calls them at stockdata/indicators.py:314-457) including warm-up NaN
  * regions (here: nulls) and the reference's /100 scaling
  * (indicators.py:134, applied at each `_get_*`).
  *
  * The kernel's arithmetic is bit-identical to the built-in window
  * formulation whose formulas [[FrameIndicators.sqlStages]] mirrors for
  * the DuckDB oracle.
  */
object FrameIndicators {

  /** Adds frame-indicator columns to a bars DataFrame.
    *
    * Input columns required: `part` key cols, `order` time cols, and
    * `high, low, close, volume` plus `price` (the adj-close series used
    * by ROCP/PPO — reference config indicators.py:106-114).
    *
    * Added output columns (null in warm-up region, TA-Lib lookbacks):
    * `rn, rocp_1..rocp_{n-1}, mom, mfi, ultosc, aroonosc, ppo, sok, sok_hist`.
    */
  def addAll(
      df0: DataFrame,
      part: Seq[String],
      order: Seq[String],
      price: String = "close",
      cfg: IndicatorConfig = IndicatorConfig()): DataFrame = {
    GraftFunctions.register(df0.sparkSession)
    val w = Window.partitionBy(part.map(col): _*).orderBy(order.map(col): _*)
    // Source columns come from the config (a renamed-column input works
    // end-to-end), not hardcoded names.
    val inputs = Seq(price, cfg.closeUnadjColumn, cfg.highColumn,
      cfg.lowColumn, cfg.volumeColumn).map(c => s"`$c`")
    val periods = Seq(cfg.numPrevRocp, cfg.mfiPeriod, cfg.ultoscPeriod1,
      cfg.ultoscPeriod2, cfg.ultoscPeriod3, cfg.aroonoscPeriod, cfg.stochFastK,
      cfg.stochFastD, cfg.ppoFast, cfg.ppoSlow)
    val fi = expr(s"graft_frame_w(${(inputs ++ periods).mkString(", ")})").over(w)
    df0.withColumn("_fi", fi)
      .select(col("*") +: FrameIndicatorWindow.fieldNames(cfg.numPrevRocp)
        .map(c => col(s"_fi.$c").as(c)): _*)
      .drop("_fi")
  }

  /** DuckDB CTE chain mirroring [[addAll]] formula-for-formula.
    *
    * @param from  name of the CTE/table providing the bars
    * @param partBy comma-joined partition columns
    * @param orderBy comma-joined ordering columns
    * @return CTE list (to splice after a leading WITH) exposing `fi_final`
    *         with the same columns addAll adds.
    */
  def sqlStages(
      from: String,
      partBy: String,
      orderBy: String,
      price: String = "close",
      cfg: IndicatorConfig = IndicatorConfig()): String = {
    val over = s"PARTITION BY $partBy ORDER BY $orderBy"
    def rb(k: Int) = s"OVER ($over ROWS BETWEEN ${k - 1} PRECEDING AND CURRENT ROW)"
    val cl = cfg.closeUnadjColumn
    val hiC = cfg.highColumn
    val loC = cfg.lowColumn
    val volC = cfg.volumeColumn
    val mfiP = cfg.mfiPeriod
    val (u1, u2, u3) = (cfg.ultoscPeriod1, cfg.ultoscPeriod2, cfg.ultoscPeriod3)
    val ar = cfg.aroonoscPeriod
    val k5 = cfg.stochFastK
    val sokFrom = k5 + cfg.stochFastD - 1
    val rocpCols = (1 until cfg.numPrevRocp).map { k =>
      s"($price - lag($price, $k) OVER ($over)) / lag($price, $k) OVER ($over) AS rocp_$k"
    }.mkString(",\n    ")

    s"""fi_s1 AS (
       |  SELECT *,
       |    row_number() OVER ($over) AS rn,
       |    lag($cl, 1) OVER ($over) AS prev_c,
       |    ($hiC + $loC + $cl) / 3.0 AS tp
       |  FROM $from),
       |fi_s2 AS (
       |  SELECT *,
       |    tp - lag(tp, 1) OVER ($over) AS dtp,
       |    tp * $volC AS mf,
       |    CASE WHEN prev_c IS NOT NULL THEN $cl - least($loC, prev_c) END AS bp,
       |    CASE WHEN prev_c IS NOT NULL
       |      THEN greatest($hiC, prev_c) - least($loC, prev_c) END AS tr_
       |  FROM fi_s1),
       |fi_s2b AS (
       |  SELECT *,
       |    CASE WHEN dtp > 0 THEN mf WHEN dtp <= 0 THEN 0.0 END AS pos_mf,
       |    CASE WHEN dtp < 0 THEN mf WHEN dtp >= 0 THEN 0.0 END AS neg_mf
       |  FROM fi_s2),
       |fi_s3 AS (
       |  SELECT *,
       |    sum(pos_mf) ${rb(mfiP)} AS pos_sum,
       |    sum(neg_mf) ${rb(mfiP)} AS neg_sum,
       |    sum(bp) ${rb(u1)} AS bp1, sum(tr_) ${rb(u1)} AS tr1,
       |    sum(bp) ${rb(u2)} AS bp2, sum(tr_) ${rb(u2)} AS tr2,
       |    sum(bp) ${rb(u3)} AS bp3, sum(tr_) ${rb(u3)} AS tr3,
       |    (max(struct_pack(v := $hiC, rn := rn)) ${rb(ar + 1)}).rn AS hi_rn,
       |    (max(struct_pack(v := -$loC, rn := rn)) ${rb(ar + 1)}).rn AS lo_rn,
       |    max($hiC) ${rb(k5)} AS hh, min($loC) ${rb(k5)} AS ll,
       |    avg($price) ${rb(cfg.ppoFast)} AS sma_fast,
       |    avg($price) ${rb(cfg.ppoSlow)} AS sma_slow
       |  FROM fi_s2b),
       |fi_s4 AS (
       |  SELECT *, CASE WHEN rn >= $k5 THEN ($cl - ll) / (hh - ll) END AS sok_raw
       |  FROM fi_s3),
       |fi_final AS (
       |  SELECT *,
       |    $rocpCols,
       |    $price - lag($price, 10) OVER ($over) AS mom,
       |    CASE WHEN rn >= ${mfiP + 1} THEN pos_sum / (pos_sum + neg_sum) END AS mfi,
       |    CASE WHEN rn >= ${u3 + 1} THEN (4.0 * (bp1 / tr1) + 2.0 * (bp2 / tr2)
       |      + (bp3 / tr3)) / 7.0 END AS ultosc,
       |    CASE WHEN rn >= ${ar + 1}
       |      THEN (hi_rn - lo_rn) / ${ar.toDouble} END AS aroonosc,
       |    CASE WHEN rn >= ${cfg.ppoSlow}
       |      THEN (sma_fast - sma_slow) / sma_slow END AS ppo,
       |    CASE WHEN rn >= $sokFrom THEN sok_raw END AS sok,
       |    CASE WHEN rn >= $sokFrom THEN sok_raw
       |      - avg(sok_raw) ${rb(cfg.stochFastD)} END AS sok_hist
       |  FROM fi_s4)""".stripMargin
  }
}
