package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.GraftFunctions
import graft.ind.RecursiveIndicators

/** Third round-4 indicator batch: the remaining TA-Lib-recognizable
  * overlap/momentum functions the reference's indicator surface implies
  * but does not call directly (indicators.py keeps the TA-Lib import
  * surface open, stockdata/indicators.py:1-30): WMA, TRIMA, AROON
  * up/down, MIDPOINT/MIDPRICE, BOP, ROCR/ROCR100, true range + NATR,
  * and STOCHRSI.
  *
  * Scale notes: every query here is the indicator suite's shared shape —
  * ONE `hash(ticker)` exchange + one sort, then frame arithmetic that
  * stays inside whole-stage codegen (the NATR/STOCHRSI recursions ride
  * the existing custom AggregateWindowFunction kernels). No joins, no
  * second shuffle, no driver collection; at 100 TB the cost is the one
  * repartition every per-ticker operator already pays.
  *
  * Float parity: weighted/triangular sums are written as explicit
  * fixed-order lag arithmetic (identical text both engines — frame
  * sums and left-to-right folds agree bit-for-bit); AROON is integer
  * arithmetic until one final divide; divisions are `try_divide`
  * mirrored by CASE-guards; every double output is r6'd.
  */
object Ts3Queries {

  private def w = Window.partitionBy("ticker").orderBy("t", "event_id")
  private val Over = "PARTITION BY ticker ORDER BY t, event_id"

  private val r6 = Rounding.r6 _

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // True range (per-row) + normalized ATR: 100*ATR(14)/close, the
    // scale-free volatility TA-Lib exposes as NATR. ATR is the existing
    // Wilder AggregateWindowFunction kernel — no extra exchange.
    "ind_natr" -> ((s, dir) => {
      GraftFunctions.register(s)
      val pc = lag(col("close"), 1).over(w)
      EventBars.bars(s, dir)
        .withColumn("atr", expr("graft_atr_w(high, low, close)").over(w))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(greatest(col("high"), coalesce(pc, col("high")))
            - least(col("low"), coalesce(pc, col("low")))).as("trange"),
          r6(try_divide(col("atr") * lit(100.0), col("close"))).as("natr"))
    }),

    // WMA(10): linearly-weighted MA as an explicit fixed-order lag sum
    // (10*c + 9*c[-1] + ... + 1*c[-9]) / 55 — the identical expression
    // text runs on both engines, so the double fold order matches.
    "ind_wma" -> ((s, dir) => {
      val terms = (0 until 10).map { i =>
        if (i == 0) lit(10.0) * col("close")
        else lit((10 - i).toDouble) * lag(col("close"), i).over(w)
      }
      EventBars.bars(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("wsum", terms.reduce(_ + _))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(when(col("rn") >= 10, col("wsum") / lit(55.0))).as("wma"))
    }),

    // TRIMA(10): triangular MA = SMA(6) of SMA(5), folded to one
    // rational form (sum of the 6 trailing 5-bar sums) / 30 so only a
    // single final divide touches floating point.
    "ind_trima" -> ((s, dir) => {
      EventBars.bars(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("s5", sum(col("close")).over(w.rowsBetween(-4, 0)))
        .withColumn("s55", sum(col("s5")).over(w.rowsBetween(-5, 0)))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(when(col("rn") >= 10, col("s55") / lit(30.0))).as("trima"))
    }),

    // AROON(14) up/down: 100 * (period - bars since extreme) / period.
    // TA-Lib keeps the MOST RECENT extreme on ties — max(struct(v, rn))
    // falls ties through to the larger rn (mirrored by DuckDB
    // struct_pack max). Integer arithmetic until the final divide.
    "ind_aroon" -> ((s, dir) => {
      val rb = w.rowsBetween(-14, 0)
      EventBars.bars(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("hi_rn",
          max(struct(col("high").as("v"), col("rn").as("rn"))).over(rb)
            .getField("rn"))
        .withColumn("lo_rn",
          max(struct((-col("low")).as("v"), col("rn").as("rn"))).over(rb)
            .getField("rn"))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(when(col("rn") >= 15,
            (lit(100.0) * (lit(14) - (col("rn") - col("hi_rn"))).cast("double"))
              / lit(14.0))).as("aroon_up"),
          r6(when(col("rn") >= 15,
            (lit(100.0) * (lit(14) - (col("rn") - col("lo_rn"))).cast("double"))
              / lit(14.0))).as("aroon_down"))
    }),

    // MIDPOINT(14) on close + MIDPRICE(14) on high/low: midpoint of the
    // trailing extreme band — frame min/max only, one final /2.
    "ind_midprice" -> ((s, dir) => {
      val rb = w.rowsBetween(-13, 0)
      EventBars.bars(s, dir)
        .withColumn("rn", row_number().over(w))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(when(col("rn") >= 14,
            (max(col("close")).over(rb) + min(col("close")).over(rb))
              / lit(2.0))).as("midpoint"),
          r6(when(col("rn") >= 14,
            (max(col("high")).over(rb) + min(col("low")).over(rb))
              / lit(2.0))).as("midprice"))
    }),

    // Balance of power. The synthetic bars carry open == close (the
    // events table is a single value series), so the conventional
    // (close - open) numerator degenerates to 0; we use the standard
    // synthesized-bar convention open := previous close. try_divide
    // guards the (rare) high == low bar.
    "ind_bop" -> ((s, dir) => {
      EventBars.bars(s, dir)
        .select(col("ticker"), col("t"), col("event_id"),
          r6(try_divide(col("close") - lag(col("close"), 1).over(w),
            col("high") - col("low"))).as("bop"))
    }),

    // ROCR(10) and ROCR100(10): price ratio vs 10 bars ago.
    "ind_rocr" -> ((s, dir) => {
      EventBars.bars(s, dir)
        .withColumn("rocr", try_divide(col("close"), lag(col("close"), 10).over(w)))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(col("rocr")).as("rocr"),
          r6(col("rocr") * lit(100.0)).as("rocr100"))
    }),

    // STOCHRSI(14, 14): fast %K of the RSI series. RSI comes from the
    // fused recursive kernel (first valid at rn = 15); the stochastic
    // band is valid once the trailing 14-bar frame holds only non-null
    // RSI values (rn >= 28), so null-skipping min/max can't diverge.
    "ind_stochrsi" -> ((s, dir) => {
      GraftFunctions.register(s)
      val rb = w.rowsBetween(-13, 0)
      EventBars.bars(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("rsi",
          expr("graft_ind_w(close, high, low, close)").over(w).getField("rsi"))
        .withColumn("minr", min(col("rsi")).over(rb))
        .withColumn("maxr", max(col("rsi")).over(rb))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(when(col("rn") >= 28,
            try_divide(col("rsi") - col("minr"), col("maxr") - col("minr"))
              * lit(100.0))).as("stochrsi"))
    }),

    // 4-level Haar wavelet decomposition of the close series: per
    // (ticker, level) the detail-coefficient count and energy —
    // multi-resolution volatility (which timescale carries the
    // variance), the spectral cousin of ts_seasonality/ts_stl.
    // Level k pairs consecutive samples of level k−1's approximation:
    // d = (x₂ᵢ − x₂ᵢ₊₁)/2, a = (x₂ᵢ + x₂ᵢ₊₁)/2; a trailing unpaired
    // sample is dropped (standard dyadic truncation). Pair averages /
    // halved differences are exact IEEE; d² is micro-quantized per row
    // so the energy sum is an exact long (order-independent). All four
    // levels ride hash(ticker) exchanges only — each level shrinks the
    // data 2×, localCheckpointed so the union of the four per-level
    // aggregates doesn't recompute the lineage prefix per branch.
    // Dickey-Fuller unit-root test per ticker (the Engle-Granger
    // step-2 the pairs family defers to eyeballing): regress
    // Δy_t on y_{t−1} with intercept over cents-quantized closes,
    // df = β̂ / se(β̂); reject the unit root (stationary) below the
    // 5% constant-only critical value −2.86. All six moments
    // (n, Σx, Σd, Σx², Σxd, Σd²) are exact integer sums with the
    // x·x / x·d products widened to DECIMAL(38,0) (cents² at 100 TB
    // frequencies wraps BIGINT); β̂, α̂, SSE = Σd² − α̂Σd − β̂Σxd
    // (normal-equation shortcut) and the se are textually mirrored
    // doubles of those integers. One ticker exchange for the lag,
    // map-side moment collapse after — the shared indicator shape.
    "ts_adf" -> ((s, dir) => {
      EventBars.bars(s, dir)
        .withColumn("y", expr("CAST(round(close * 100.0) AS BIGINT)"))
        .withColumn("x", lag(col("y"), 1).over(w))
        .filter(col("x").isNotNull)
        .withColumn("d", col("y") - col("x"))
        .groupBy("ticker")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("d")).as("sd"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * d")).as("sxd"),
          sum(expr("CAST(d AS DECIMAL(38,0)) * d")).as("sdd"))
        .filter(col("n") > 2)
        .withColumn("den", expr(
          "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"))
        .filter(col("den") =!= 0.0)
        .withColumn("beta", expr(
          "(CAST(n AS DOUBLE) * CAST(sxd AS DOUBLE)" +
            " - CAST(sx AS DOUBLE) * CAST(sd AS DOUBLE)) / den"))
        .withColumn("alpha", expr(
          "(CAST(sd AS DOUBLE) - beta * CAST(sx AS DOUBLE))" +
            " / CAST(n AS DOUBLE)"))
        .withColumn("sse", expr(
          "CAST(sdd AS DOUBLE) - alpha * CAST(sd AS DOUBLE)" +
            " - beta * CAST(sxd AS DOUBLE)"))
        .withColumn("seb", expr(
          "sqrt((sse / (CAST(n AS DOUBLE) - 2.0))" +
            " * CAST(n AS DOUBLE) / den)"))
        .withColumn("dfs",
          expr("CASE WHEN seb = 0 THEN NULL ELSE beta / seb END"))
        .select(col("ticker"), col("n").as("n_obs"),
          r6(col("beta")).as("beta"),
          r6(col("dfs")).as("df_stat"),
          (col("dfs") < lit(-2.86).cast("double")).as("stationary"))
    }),

    "ts_wavelet_haar" -> ((s, dir) => {
      var cur = EventBars.bars(s, dir)
        .withColumn("rn", row_number().over(w).cast("long") - 1)
        .select(col("ticker"), col("rn"), col("close").as("x"))
      val levels = (1 to 4).map { lvl =>
        val wl = Window.partitionBy("ticker").orderBy("rn")
        val paired = cur
          .withColumn("nxt", lead(col("x"), 1).over(wl))
          .filter(col("rn") % 2 === 0 && col("nxt").isNotNull)
          .withColumn("d", (col("x") - col("nxt")) / lit(2.0))
          .withColumn("a", (col("x") + col("nxt")) / lit(2.0))
          .localCheckpoint()
        val e = paired.groupBy("ticker").agg(
          count(lit(1)).as("n_pairs"),
          sum(expr("CAST(round(d * d * 1000000.0) AS BIGINT)"))
            .as("em"))
          .withColumn("level", lit(lvl.toLong))
        cur = paired.select(col("ticker"), expr("rn DIV 2").as("rn"),
          col("a").as("x"))
        e
      }
      levels.reduce(_ unionByName _)
        .select(col("ticker"), col("level"), col("n_pairs"),
          r6(col("em").cast("double") / lit(1000000.0)).as("energy"))
    }))

  private def bars = EventBars.sqlBars

  /** ts_wavelet_haar oracle: the four pair/detail/energy levels
    * unrolled (mirrors the Spark loop 1:1 — same truncation, same
    * per-row micro-quantization of d²). */
  private val haarDuck: String = {
    val lvls = (1 to 4).map { k =>
      val src = if (k == 1) "l0" else s"d${k - 1}"
      val xc = if (k == 1) "x" else "a"
      s"""p$k AS (SELECT ticker, rn, $xc AS x,
         |  lead($xc, 1) OVER (PARTITION BY ticker ORDER BY rn) AS nxt
         |  FROM $src),
         |d$k AS (SELECT ticker, rn // 2 AS rn, (x - nxt) / 2.0 AS d,
         |  (x + nxt) / 2.0 AS a FROM p$k
         |  WHERE rn % 2 = 0 AND nxt IS NOT NULL),
         |e$k AS (SELECT ticker, $k::BIGINT AS level,
         |  count(*)::BIGINT AS n_pairs,
         |  sum(CAST(round(d * d * 1000000.0) AS BIGINT))::BIGINT AS em
         |  FROM d$k GROUP BY ticker)""".stripMargin
    }.mkString(",\n")
    s"""WITH bars AS ($bars),
       |l0 AS (SELECT ticker, row_number() OVER ($Over) - 1 AS rn,
       |  close AS x FROM bars),
       |$lvls
       |SELECT ticker, level, n_pairs,
       |  (round(em::DOUBLE / 1000000.0, 6) + 0.0) AS energy
       |FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2
       |      UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4)""".stripMargin
  }

  val oracles: Map[String, String] = Map(

    "ts_wavelet_haar" -> haarDuck,

    "ts_adf" ->
      s"""WITH bars AS ($bars),
         |ay AS (SELECT ticker, t, event_id,
         |    CAST(round(close * 100.0) AS BIGINT) AS y FROM bars),
         |al AS (SELECT *, lag(y, 1) OVER ($Over) AS x FROM ay),
         |ad AS (SELECT ticker, x, y - x AS d FROM al
         |  WHERE x IS NOT NULL),
         |am AS (SELECT ticker, count(*)::BIGINT AS n,
         |    sum(x)::BIGINT AS sx, sum(d)::BIGINT AS sd,
         |    sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * d) AS sxd,
         |    sum(d::HUGEINT * d) AS sdd
         |  FROM ad GROUP BY 1 HAVING count(*) > 2),
         |ab2 AS (SELECT *,
         |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den
         |  FROM am),
         |ab3 AS (SELECT *,
         |    (CAST(n AS DOUBLE) * CAST(sxd AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sd AS DOUBLE)) / den AS beta
         |  FROM ab2 WHERE den <> 0),
         |ab4 AS (SELECT *,
         |    (CAST(sd AS DOUBLE) - beta * CAST(sx AS DOUBLE))
         |      / CAST(n AS DOUBLE) AS alpha
         |  FROM ab3),
         |ab5 AS (SELECT *,
         |    CAST(sdd AS DOUBLE) - alpha * CAST(sd AS DOUBLE)
         |      - beta * CAST(sxd AS DOUBLE) AS sse
         |  FROM ab4),
         |ab6 AS (SELECT *,
         |    sqrt((sse / (CAST(n AS DOUBLE) - 2.0))
         |      * CAST(n AS DOUBLE) / den) AS seb
         |  FROM ab5),
         |ab7 AS (SELECT *,
         |    CASE WHEN seb = 0 THEN NULL ELSE beta / seb END AS dfs
         |  FROM ab6)
         |SELECT ticker, n AS n_obs,
         |  (round(beta * 1000000.0) / 1000000.0 + 0.0) AS beta,
         |  (round(dfs * 1000000.0) / 1000000.0 + 0.0) AS df_stat,
         |  dfs < CAST(-2.86 AS DOUBLE) AS stationary
         |FROM ab7""".stripMargin,

    "ind_natr" ->
      s"""WITH RECURSIVE bars AS ($bars),
         |ab AS (
         |  SELECT ticker, t, event_id, close,
         |    row_number() OVER ($Over) AS rn,
         |    greatest(high, coalesce(lag(close) OVER ($Over), high))
         |      - least(low, coalesce(lag(close) OVER ($Over), low)) AS tr
         |  FROM bars),
         |atr_rec AS (
         |  SELECT ticker, t, event_id, close, rn, tr AS trsum,
         |    CAST(NULL AS DOUBLE) AS atr
         |  FROM ab WHERE rn = 1
         |  UNION ALL
         |  SELECT b.ticker, b.t, b.event_id, b.close, b.rn,
         |    CASE WHEN b.rn <= 14 THEN r.trsum + b.tr ELSE r.trsum END,
         |    CASE WHEN b.rn < 14 THEN CAST(NULL AS DOUBLE)
         |         WHEN b.rn = 14 THEN (r.trsum + b.tr) / 14.0
         |         ELSE (r.atr * 13.0 + b.tr) / 14.0 END
         |  FROM atr_rec r JOIN ab b
         |    ON b.ticker = r.ticker AND b.rn = r.rn + 1)
         |SELECT a.ticker, a.t, a.event_id,
         |  (round(ab.tr, 6) + 0.0) AS trange,
         |  (round(CASE WHEN a.close <> 0
         |     THEN a.atr * 100.0 / a.close END, 6) + 0.0) AS natr
         |FROM atr_rec a JOIN ab
         |  ON ab.ticker = a.ticker AND ab.rn = a.rn""".stripMargin,

    "ind_wma" -> {
      val terms = (0 until 10).map { i =>
        if (i == 0) "10.0 * close"
        else s"${(10 - i).toDouble} * lag(close, $i) OVER ($Over)"
      }.mkString(" + ")
      s"""WITH bars AS ($bars),
         |f AS (SELECT *, row_number() OVER ($Over) AS rn,
         |    $terms AS wsum FROM bars)
         |SELECT ticker, t, event_id,
         |  (round(CASE WHEN rn >= 10 THEN wsum / 55.0 END, 6) + 0.0) AS wma
         |FROM f""".stripMargin
    },

    "ind_trima" ->
      s"""WITH bars AS ($bars),
         |f AS (SELECT *, row_number() OVER ($Over) AS rn,
         |    sum(close) OVER ($Over
         |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS s5 FROM bars),
         |g AS (SELECT *, sum(s5) OVER ($Over
         |      ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS s55 FROM f)
         |SELECT ticker, t, event_id,
         |  (round(CASE WHEN rn >= 10 THEN s55 / 30.0 END, 6) + 0.0) AS trima
         |FROM g""".stripMargin,

    "ind_aroon" ->
      s"""WITH bars AS ($bars),
         |f AS (SELECT *, row_number() OVER ($Over) AS rn FROM bars),
         |g AS (SELECT *,
         |    (max(struct_pack(v := high, rn := rn)) OVER ($Over
         |      ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)).rn AS hi_rn,
         |    (max(struct_pack(v := -low, rn := rn)) OVER ($Over
         |      ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)).rn AS lo_rn
         |  FROM f)
         |SELECT ticker, t, event_id,
         |  (round(CASE WHEN rn >= 15
         |    THEN (100.0 * CAST(14 - (rn - hi_rn) AS DOUBLE)) / 14.0 END, 6)
         |    + 0.0) AS aroon_up,
         |  (round(CASE WHEN rn >= 15
         |    THEN (100.0 * CAST(14 - (rn - lo_rn) AS DOUBLE)) / 14.0 END, 6)
         |    + 0.0) AS aroon_down
         |FROM g""".stripMargin,

    "ind_midprice" ->
      s"""WITH bars AS ($bars),
         |f AS (SELECT *, row_number() OVER ($Over) AS rn,
         |    max(close) OVER ($Over
         |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS hc,
         |    min(close) OVER ($Over
         |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS lc,
         |    max(high) OVER ($Over
         |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS hh,
         |    min(low) OVER ($Over
         |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS ll
         |  FROM bars)
         |SELECT ticker, t, event_id,
         |  (round(CASE WHEN rn >= 14 THEN (hc + lc) / 2.0 END, 6) + 0.0)
         |    AS midpoint,
         |  (round(CASE WHEN rn >= 14 THEN (hh + ll) / 2.0 END, 6) + 0.0)
         |    AS midprice
         |FROM f""".stripMargin,

    "ind_bop" ->
      s"""WITH bars AS ($bars)
         |SELECT ticker, t, event_id,
         |  (round(CASE WHEN high - low <> 0
         |    THEN (close - lag(close, 1) OVER ($Over)) / (high - low) END, 6)
         |    + 0.0) AS bop
         |FROM bars""".stripMargin,

    "ind_rocr" ->
      s"""WITH bars AS ($bars),
         |f AS (SELECT *,
         |    CASE WHEN lag(close, 10) OVER ($Over) <> 0
         |      THEN close / lag(close, 10) OVER ($Over) END AS rocr
         |  FROM bars)
         |SELECT ticker, t, event_id,
         |  (round(rocr, 6) + 0.0) AS rocr,
         |  (round(rocr * 100.0, 6) + 0.0) AS rocr100
         |FROM f""".stripMargin,

    "ind_stochrsi" ->
      s"""WITH RECURSIVE bars AS ($bars),
         |${RecursiveIndicators.sqlStages("bars", Seq("ticker"), Seq("t", "event_id"))},
         |f AS (SELECT ticker, t, event_id, rsi,
         |    row_number() OVER ($Over) AS rn,
         |    min(rsi) OVER ($Over
         |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS minr,
         |    max(rsi) OVER ($Over
         |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS maxr
         |  FROM ri_final)
         |SELECT ticker, t, event_id,
         |  (round(CASE WHEN rn >= 28 THEN
         |    (CASE WHEN maxr - minr <> 0
         |       THEN (rsi - minr) / (maxr - minr) END) * 100.0 END, 6)
         |    + 0.0) AS stochrsi
         |FROM f""".stripMargin)
}
