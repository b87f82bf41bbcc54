package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}

import graft.model.IndicatorConfig

/** The frame indicators as built-in Spark window expressions: the body
  * [[graft.ind.FrameIndicators.addAll]] had before the `graft_frame_w`
  * kernel, kept unchanged as the reference that kernel must match bit
  * for bit (PipelineSpec). It spreads the indicators over about 20
  * distinct window frames; [[graft.ind.FrameIndicators.sqlStages]]
  * mirrors it formula for formula for the DuckDB oracle.
  *
  * Besides the documented outputs it leaves its intermediate columns
  * (`prev_c`, `tp`, `pos_sum`, `sok_raw`, …) in the result.
  */
object FrameIndicatorsWindowRef {

  def addAll(
      df0: DataFrame,
      part: Seq[String],
      order: Seq[String],
      price: String = "close",
      cfg: IndicatorConfig = IndicatorConfig()): DataFrame = {

    val w = Window.partitionBy(part.map(col): _*).orderBy(order.map(col): _*)
    def rb(a: Long, b: Long): WindowSpec = w.rowsBetween(a, b)
    val p = col(price)
    // Source columns come from the config (a renamed-column input works
    // end-to-end), not hardcoded names.
    val cl = col(cfg.closeUnadjColumn)
    val hi = col(cfg.highColumn)
    val lo = col(cfg.lowColumn)
    val vol = col(cfg.volumeColumn)

    // Stage 1: row number, lag-derived primitives.
    val df1 = df0
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_c", lag(cl, 1).over(w))
      .withColumn("tp", (hi + lo + cl) / lit(3.0))

    // Stage 2: per-row derived series (money flow, true range, buying pressure).
    val df2 = df1
      .withColumn("dtp", col("tp") - lag(col("tp"), 1).over(w))
      .withColumn("mf", col("tp") * vol)
      .withColumn("bp",
        when(col("prev_c").isNotNull, cl - least(lo, col("prev_c"))))
      .withColumn("tr_",
        when(col("prev_c").isNotNull,
          greatest(hi, col("prev_c")) - least(lo, col("prev_c"))))
      .withColumn("pos_mf",
        when(col("dtp") > 0, col("mf")).when(col("dtp") <= 0, lit(0.0)))
      .withColumn("neg_mf",
        when(col("dtp") < 0, col("mf")).when(col("dtp") >= 0, lit(0.0)))

    // Stage 3: rolling-frame aggregates. One Window node per distinct frame.
    val mfiP = cfg.mfiPeriod
    val (u1, u2, u3) = (cfg.ultoscPeriod1, cfg.ultoscPeriod2, cfg.ultoscPeriod3)
    val ar = cfg.aroonoscPeriod
    val k5 = cfg.stochFastK
    val df3 = df2
      .withColumn("pos_sum", sum("pos_mf").over(rb(-(mfiP - 1), 0)))
      .withColumn("neg_sum", sum("neg_mf").over(rb(-(mfiP - 1), 0)))
      .withColumn("bp1", sum("bp").over(rb(-(u1 - 1), 0)))
      .withColumn("tr1", sum("tr_").over(rb(-(u1 - 1), 0)))
      .withColumn("bp2", sum("bp").over(rb(-(u2 - 1), 0)))
      .withColumn("tr2", sum("tr_").over(rb(-(u2 - 1), 0)))
      .withColumn("bp3", sum("bp").over(rb(-(u3 - 1), 0)))
      .withColumn("tr3", sum("tr_").over(rb(-(u3 - 1), 0)))
      // AROONOSC: index of the extreme in the trailing period+1 bars;
      // TA-Lib ties keep the MOST RECENT extreme (>=/<= update rule), which
      // struct ordering reproduces: ties on value fall through to max rn.
      .withColumn("hi_rn",
        max(struct(hi.as("v"), col("rn").as("rn"))).over(rb(-ar, 0)).getField("rn"))
      .withColumn("lo_rn",
        max(struct((-lo).as("v"), col("rn").as("rn"))).over(rb(-ar, 0)).getField("rn"))
      .withColumn("hh", max(hi).over(rb(-(k5 - 1), 0)))
      .withColumn("ll", min(lo).over(rb(-(k5 - 1), 0)))
      .withColumn("sma_fast", avg(p).over(rb(-(cfg.ppoFast - 1), 0)))
      .withColumn("sma_slow", avg(p).over(rb(-(cfg.ppoSlow - 1), 0)))

    // Stage 4: raw fastK (needed as input to the fastD rolling average).
    // try_divide everywhere a divisor is data-dependent: Spark 4 ANSI
    // mode errors on /0, while the reference (numpy/TA-Lib IEEE) and
    // the DuckDB oracle (NULL on double /0) never do — try_divide's
    // NULL matches the oracle exactly.
    val df4 = df3.withColumn("sok_raw",
      when(col("rn") >= k5,
        try_divide(cl - col("ll"), col("hh") - col("ll"))))

    // Stage 5: fastD + final guarded outputs. Guards reproduce TA-Lib
    // lookbacks: MFI=period, ULTOSC=period3, AROONOSC=period,
    // STOCHF=fastK-1+fastD-1, PPO=slow-1 (first valid 0-based index).
    val sokFrom = k5 + cfg.stochFastD - 1
    val df5 = df4
      .withColumn("sod", avg("sok_raw").over(rb(-(cfg.stochFastD - 1), 0)))

    val rocps = (1 until cfg.numPrevRocp).map { k =>
      try_divide(p - lag(p, k).over(w), lag(p, k).over(w)).as(s"rocp_$k")
    }

    df5.select(col("*") +: (rocps ++ Seq[Column](
      (p - lag(p, 10).over(w)).as("mom"),
      when(col("rn") >= mfiP + 1,
        try_divide(col("pos_sum"), col("pos_sum") + col("neg_sum"))).as("mfi"),
      when(col("rn") >= u3 + 1,
        (lit(4.0) * try_divide(col("bp1"), col("tr1"))
          + lit(2.0) * try_divide(col("bp2"), col("tr2"))
          + try_divide(col("bp3"), col("tr3"))) / lit(7.0)).as("ultosc"),
      when(col("rn") >= ar + 1,
        (col("hi_rn") - col("lo_rn")) / lit(ar.toDouble)).as("aroonosc"),
      when(col("rn") >= cfg.ppoSlow,
        try_divide(col("sma_fast") - col("sma_slow"), col("sma_slow"))).as("ppo"),
      when(col("rn") >= sokFrom, col("sok_raw")).as("sok"),
      when(col("rn") >= sokFrom, col("sok_raw") - col("sod")).as("sok_hist"))): _*)
  }
}
