package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.GraftFunctions
import Ts2Shared._

/** The `ind_*` half of the former Ts2Queries batch: the EMA family
  * (EMA/DEMA/TEMA via the single-state-machine
  * [[graft.functions.EmaTripleWindow]] kernel, TRIX/APO on top of it),
  * Heikin-Ashi, SuperTrend, parabolic SAR (+ gap variants), slow
  * stochastic, Chaikin money flow / ADOSC, Donchian/Keltner channels,
  * Vortex, Ichimoku, Elder-Ray, Fisher transform, ADXR, pivot points,
  * chandelier exits, KAMA, rolling linear regression, and per-day VWAP
  * — the TA-indicator surface a bar warehouse runs next to the
  * reference's TA-Lib layer (stockdata/indicators.py:178-209 builds
  * MACD from the same EMA primitive these queries expose directly).
  *
  * Scale notes: every query here is one `hash(ticker)` exchange + one
  * per-ticker sort (the shared shape of the whole indicator suite);
  * recursive kernels (SAR, SuperTrend, KAMA, EMA triple) run as
  * single-pass custom window state machines. Every double output is
  * r6'd; formulas are mirrored token-for-token in [[Ind2Queries.oracles]]
  * (recursions as DuckDB `WITH RECURSIVE` over the identical operation
  * sequence, substituted textually so both engines fold the same
  * literal arithmetic). Split from Ts2Queries in round 13; the
  * [[Ts2Queries]] facade preserves the registry. */
object Ind2Queries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // EMA/DEMA/TEMA(12) from ONE EmaTripleWindow state machine — e2/e3
    // as stacked window calls would re-run the upstream EMA per layer.
    "ind_ema" -> ((s, dir) => {
      GraftFunctions.register(s)
      EventBars.bars(s, dir)
        .withColumn("e", expr("graft_ema3_w(close, 12)").over(w))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(col("e.e1")).as("ema"),
          r6(lit(2.0) * col("e.e1") - col("e.e2")).as("dema"),
          r6(lit(3.0) * col("e.e1") - lit(3.0) * col("e.e2") + col("e.e3"))
            .as("tema"))
    }),

    // Heikin-Ashi candles: hac is a direct OHLC average; hao is the
    // α=1/2 recursion over (prev hao, prev hac) — one incremental
    // window state machine on the shared ticker exchange; ha_high/
    // ha_low are greatest/least projections over the struct outside
    // the kernel. See [[graft.functions.HeikinAshiWindow]].
    "ind_heikin" -> ((s, dir) => {
      GraftFunctions.register(s)
      EventBars.bars(s, dir)
        .withColumn("ha", expr("graft_ha_w(open, high, low, close)").over(w))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(col("ha.hao")).as("ha_open"),
          r6(col("ha.hac")).as("ha_close"),
          r6(greatest(col("high"), col("ha.hao"), col("ha.hac")))
            .as("ha_high"),
          r6(least(col("low"), col("ha.hao"), col("ha.hac")))
            .as("ha_low"))
    }),

    // Supertrend(10, 3): the ATR-band stop-and-reverse recursion
    // (Wilder ATR, ratcheting final bands, direction flips on band
    // cross) as ONE incremental window state machine on the shared
    // ticker exchange — see [[graft.functions.SupertrendWindow]] for
    // the exact recursion the oracle's recursive CTE mirrors.
    "ind_supertrend" -> ((s, dir) => {
      GraftFunctions.register(s)
      EventBars.bars(s, dir)
        .withColumn("x", expr("graft_st_w(high, low, close)").over(w))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(col("x.atr")).as("atr"),
          r6(col("x.st")).as("supertrend"),
          col("x.dir").as("dir"))
    }),

    // TRIX(15): 1-bar rate of change of the triple EMA. Same kernel,
    // period 15; division guarded (close ≥ 0.01 keeps e3 > 0, but
    // try_divide mirrors the oracle's CASE guard exactly).
    "ind_trix" -> ((s, dir) => {
      GraftFunctions.register(s)
      EventBars.bars(s, dir)
        .withColumn("e3", expr("graft_ema3_w(close, 15)").over(w).getField("e3"))
        .withColumn("p3", lag(col("e3"), 1).over(w))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(expr("try_divide(e3 - p3, p3)")).as("trix"))
    }),

    // Parabolic SAR: the two-sided stop-and-reverse recursion
    // (direction, extreme point, acceleration factor) as ONE
    // incremental window state machine on the shared ticker exchange —
    // see [[graft.functions.SarWindow]] for the exact recursion, which
    // the oracle's recursive CTE mirrors operation-for-operation.
    "ind_sar" -> ((s, dir) => {
      GraftFunctions.register(s)
      EventBars.bars(s, dir)
        .withColumn("x", expr("graft_sar_w(high, low, close)").over(w))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(col("x.sar")).as("sar"), col("x.dir").as("dir"))
    }),

    // SAR over a gappy series: deterministic mid-stream nulls in each
    // price column. Pins the kernel's null-transparency — a null bar
    // carries ALL state (including the bar counter) and emits the
    // carried state; the recursion runs over the non-null subsequence.
    // The oracle replays the same recursion over the filtered rows and
    // carries the last emitted state forward to the gap rows.
    "ind_sar_gaps" -> ((s, dir) => {
      GraftFunctions.register(s)
      EventBars.bars(s, dir)
        .withColumn("gh", when(col("event_id") % 31 === 0,
          lit(null).cast("double")).otherwise(col("high")))
        .withColumn("gl", when(col("event_id") % 37 === 0,
          lit(null).cast("double")).otherwise(col("low")))
        .withColumn("gc", when(col("event_id") % 23 === 0,
          lit(null).cast("double")).otherwise(col("close")))
        .withColumn("x", expr("graft_sar_w(gh, gl, gc)").over(w))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(col("x.sar")).as("sar"), col("x.dir").as("dir"))
    }),

    // Adaptive EMA over a gappy series: nulls in BOTH the value and
    // the coefficient stream. Pins [[graft.functions.AdaptiveEmaWindow]]
    // null-transparency: y carries through any null (x OR c) instead of
    // silently re-seeding — the oracle recursion spells the identical
    // three-way CASE.
    "ind_adema_gaps" -> ((s, dir) => {
      GraftFunctions.register(s)
      EventBars.bars(s, dir)
        .withColumn("gx", when(col("event_id") % 17 === 0,
          lit(null).cast("double")).otherwise(col("close")))
        .withColumn("gc", when(col("event_id") % 13 === 0,
          lit(null).cast("double")).otherwise(lit(0.25)))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(expr("graft_adaptive_ema_w(gx, gc)").over(w)).as("adema"))
    }),

    // Slow stochastic: fast %K over the TA-Lib 14-bar frame, then two
    // explicit 3-bar SMA layers (written as (x + lag1 + lag2)/3 — NOT
    // avg() over a frame — so warm-up nulls gate identically on both
    // engines and the fold order is pinned).
    "ind_stoch" -> ((s, dir) => {
      val rb = w.rowsBetween(-13, 0)
      EventBars.bars(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("hh", max(col("high")).over(rb))
        .withColumn("ll", min(col("low")).over(rb))
        .withColumn("fk", when(col("rn") >= 14,
          (col("close") - col("ll")) / (col("hh") - col("ll"))))
        .withColumn("sk", when(col("rn") >= 16,
          (col("fk") + lag(col("fk"), 1).over(w) + lag(col("fk"), 2).over(w))
            / lit(3.0)))
        .withColumn("sd", when(col("rn") >= 18,
          (col("sk") + lag(col("sk"), 1).over(w) + lag(col("sk"), 2).over(w))
            / lit(3.0)))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(col("sk")).as("slow_k"), r6(col("sd")).as("slow_d"))
    }),

    // Chaikin money flow (20): Σ(mfm·vol)/Σvol over the sliding frame.
    // high−low ≥ 1 by the bar synthesis, so mfm is division-safe.
    "ind_cmf" -> ((s, dir) => {
      val rb = w.rowsBetween(-19, 0)
      EventBars.bars(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("mfv",
          ((col("close") - col("low")) - (col("high") - col("close")))
            / (col("high") - col("low")) * col("volume"))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(when(col("rn") >= 20,
            sum(col("mfv")).over(rb) / sum(col("volume")).over(rb)))
            .as("cmf"))
    }),

    // Donchian channel (20) + position of close inside it. up−dn ≥
    // high−low ≥ 1, so the position division is safe.
    "ind_donchian" -> ((s, dir) => {
      val rb = w.rowsBetween(-19, 0)
      EventBars.bars(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("up", max(col("high")).over(rb))
        .withColumn("dn", min(col("low")).over(rb))
        .select(col("ticker"), col("t"), col("event_id"),
          when(col("rn") >= 20, col("up")).as("dc_up"),
          when(col("rn") >= 20, col("dn")).as("dc_dn"),
          r6(when(col("rn") >= 20,
            (col("close") - col("dn")) / (col("up") - col("dn"))))
            .as("dc_pos"))
    }),

    // Vortex indicator (14): VI± = Σ|high − lag(low)| / ΣTR over the
    // frame (uptrend/downtrend movement vs total range). Pure sliding
    // frame sums on the shared ticker exchange — the same one-exchange
    // shape as the rest of the frame suite. TR ≥ 1 by the bar
    // synthesis; try_divide still mirrors the oracle's CASE guard.
    "ind_vortex" -> ((s, dir) => {
      val rb = w.rowsBetween(-13, 0)
      EventBars.bars(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("tr",
          greatest(col("high"), coalesce(lag(col("close"), 1).over(w), col("high")))
            - least(col("low"), coalesce(lag(col("close"), 1).over(w), col("low"))))
        .withColumn("vmp", abs(col("high") - lag(col("low"), 1).over(w)))
        .withColumn("vmm", abs(col("low") - lag(col("high"), 1).over(w)))
        .withColumn("str", sum(col("tr")).over(rb))
        .withColumn("svp", sum(col("vmp")).over(rb))
        .withColumn("svm", sum(col("vmm")).over(rb))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(when(col("rn") >= 15, try_divide(col("svp"), col("str"))))
            .as("vi_plus"),
          r6(when(col("rn") >= 15, try_divide(col("svm"), col("str"))))
            .as("vi_minus"))
    }),

    // Keltner channels, SMA variant (20-bar typical-price mid, ±2× the
    // 10-bar mean true range — the EMA/ATR flavor lives in the
    // recursive suite; this is the frame-arithmetic formulation).
    // Explicit Σ/n instead of avg() so both engines run the identical
    // sliding-sum expression.
    "ind_keltner" -> ((s, dir) => {
      val rb20 = w.rowsBetween(-19, 0)
      val rb10 = w.rowsBetween(-9, 0)
      EventBars.bars(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("tp",
          (col("high") + col("low") + col("close")) / lit(3.0))
        .withColumn("tr",
          greatest(col("high"), coalesce(lag(col("close"), 1).over(w), col("high")))
            - least(col("low"), coalesce(lag(col("close"), 1).over(w), col("low"))))
        .withColumn("mid", sum(col("tp")).over(rb20) / lit(20.0))
        .withColumn("rng", sum(col("tr")).over(rb10) / lit(10.0))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(when(col("rn") >= 20, col("mid"))).as("kc_mid"),
          r6(when(col("rn") >= 20, col("mid") + lit(2.0) * col("rng")))
            .as("kc_up"),
          r6(when(col("rn") >= 20, col("mid") - lit(2.0) * col("rng")))
            .as("kc_dn"))
    }),

    // Ichimoku cloud (9/26/52): every line is frame max/min arithmetic
    // or a pure shift on the ONE ticker exchange — the leading spans
    // displace 26 bars forward (lag of the gated midpoints), the
    // lagging span 26 back (lead of close). Nulls before each line's
    // warm-up, identical on both engines.
    "ind_ichimoku" -> ((s, dir) => {
      val rb9 = w.rowsBetween(-8, 0)
      val rb26 = w.rowsBetween(-25, 0)
      val rb52 = w.rowsBetween(-51, 0)
      EventBars.bars(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("tenkan", when(col("rn") >= 9,
          (max(col("high")).over(rb9) + min(col("low")).over(rb9)) / lit(2.0)))
        .withColumn("kijun", when(col("rn") >= 26,
          (max(col("high")).over(rb26) + min(col("low")).over(rb26)) / lit(2.0)))
        .withColumn("spb", when(col("rn") >= 52,
          (max(col("high")).over(rb52) + min(col("low")).over(rb52)) / lit(2.0)))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(col("tenkan")).as("tenkan"),
          r6(col("kijun")).as("kijun"),
          r6(lag((col("tenkan") + col("kijun")) / lit(2.0), 26).over(w))
            .as("senkou_a"),
          r6(lag(col("spb"), 26).over(w)).as("senkou_b"),
          r6(lead(col("close"), 26).over(w)).as("chikou"))
    }),

    // Elder Ray: bull/bear power = high/low minus EMA13 — one EMA
    // state machine plus two projections on the shared exchange.
    "ind_elder_ray" -> ((s, dir) => {
      GraftFunctions.register(s)
      EventBars.bars(s, dir)
        .withColumn("e1",
          expr("graft_ema3_w(close, 13)").over(w).getField("e1"))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(col("high") - col("e1")).as("bull_power"),
          r6(col("low") - col("e1")).as("bear_power"))
    }),

    // Fisher transform(10): range position clamped to ±0.999 → α=0.33
    // smoothing → 0.5·ln((1+x)/(1−x)) → α=0.5 smoothing — BOTH
    // recursions ride the generic AdaptiveEmaWindow (constant
    // coefficient), chained on the one ticker exchange; a flat window
    // (hh = ll) maps to the neutral 0.5 position with an explicit CASE
    // (not try_divide: DuckDB's IEEE x/0 is inf, Spark's NULL — the
    // CASE keeps both engines off that edge entirely).
    "ind_fisher" -> ((s, dir) => {
      GraftFunctions.register(s)
      val wf = w.rowsBetween(-9, 0)
      EventBars.bars(s, dir)
        .withColumn("hh", max(col("high")).over(wf))
        .withColumn("ll", min(col("low")).over(wf))
        .withColumn("xr", expr(
          "least(0.999D, greatest(-0.999D, 2.0D * (CASE WHEN hh = ll " +
            "THEN 0.5D ELSE (close - ll) / (hh - ll) END) - 1.0D))"))
        .withColumn("xs", expr("graft_adaptive_ema_w(xr, 0.33D)").over(w))
        .withColumn("v",
          expr("0.5D * ln((1.0D + xs) / (1.0D - xs))"))
        .withColumn("fish", expr("graft_adaptive_ema_w(v, 0.5D)").over(w))
        .withColumn("sig", lag(col("fish"), 1).over(w))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(col("fish")).as("fisher"),
          r6(col("sig")).as("fisher_signal"))
    }),

    // APO(12, 26): EMA12 − EMA26 of close. Two instances of the same
    // single-state EMA machine on the one ticker exchange; the oracle
    // runs ONE recursion carrying both states.
    "ind_apo" -> ((s, dir) => {
      GraftFunctions.register(s)
      EventBars.bars(s, dir)
        .withColumn("e12", expr("graft_ema3_w(close, 12)").over(w).getField("e1"))
        .withColumn("e26", expr("graft_ema3_w(close, 26)").over(w).getField("e1"))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(col("e12") - col("e26")).as("apo"))
    }),

    // ADXR(14): (ADX + ADX₁₄ bars ago)/2 — one lag over the same
    // exchange the fused recursive kernel's ADX state already runs on.
    "ind_adxr" -> ((s, dir) => {
      GraftFunctions.register(s)
      EventBars.bars(s, dir)
        .withColumn("adx",
          expr("graft_ind_w(close, high, low, close)").over(w).getField("adx"))
        .select(col("ticker"), col("t"), col("event_id"),
          r6((col("adx") + lag(col("adx"), 14).over(w)) / lit(2.0))
            .as("adxr"))
    }),

    // Chaikin A/D oscillator (3, 10): money-flow volume accumulates as
    // MICRO-QUANTIZED longs (a raw double running sum would pit
    // Spark's sequential fold against DuckDB's segment tree), then
    // EMA3 − EMA10 of the exact A/D line — one dual-state machine.
    "ind_adosc" -> ((s, dir) => {
      GraftFunctions.register(s)
      EventBars.bars(s, dir)
        .withColumn("mfv", expr("CAST(round(" +
          "((close - low) - (high - close)) / (high - low) * volume" +
          " * 1000000.0) AS BIGINT)"))
        .withColumn("ad", expr("CAST(sum(mfv) OVER (" +
          "PARTITION BY ticker ORDER BY t, event_id" +
          " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)" +
          " AS DOUBLE) / 1000000.0"))
        .withColumn("e3", expr("graft_ema3_w(ad, 3)").over(w).getField("e1"))
        .withColumn("e10", expr("graft_ema3_w(ad, 10)").over(w).getField("e1"))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(col("e3") - col("e10")).as("adosc"))
    }),

    // Classic floor-trader pivot levels from the PREVIOUS day's OHLC
    // extremes: P=(H+L+C)/3, R1=2P−L, S1=2P−H, R2=P+(H−L), S2=P−(H−L).
    // Daily rollup (argmax close, exact max/min) + one lag — the same
    // two-exchange shape as the other daily diagnostics.
    "ind_pivot_points" -> ((s, dir) => {
      val wt = Window.partitionBy("ticker").orderBy("day")
      EventBars.bars(s, dir)
        .withColumn("day", expr("t div 86400000000"))
        .groupBy("ticker", "day")
        .agg(max(col("high")).as("h"), min(col("low")).as("mn"),
          max(struct(col("t"), col("event_id"), col("close")))
            .getField("close").as("c"))
        .withColumn("ph", lag(col("h"), 1).over(wt))
        .withColumn("pl", lag(col("mn"), 1).over(wt))
        .withColumn("pc", lag(col("c"), 1).over(wt))
        .withColumn("pv", expr("(ph + pl + pc) / 3.0"))
        .select(col("ticker"), col("day"),
          r6(col("pv")).as("pivot"),
          r6(expr("2.0 * pv - pl")).as("r1"),
          r6(expr("2.0 * pv - ph")).as("s1"),
          r6(expr("pv + (ph - pl)")).as("r2"),
          r6(expr("pv - (ph - pl)")).as("s2"))
    }),

    // Chandelier exit (22, 3): trailing long stop = 22-bar high −
    // 3 × mean true range over the same frame. Frame arithmetic on
    // the shared exchange, explicit Σ/22 instead of avg().
    "ind_chandelier" -> ((s, dir) => {
      val rb = w.rowsBetween(-21, 0)
      EventBars.bars(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("tr",
          greatest(col("high"), coalesce(lag(col("close"), 1).over(w), col("high")))
            - least(col("low"), coalesce(lag(col("close"), 1).over(w), col("low"))))
        .withColumn("hh", max(col("high")).over(rb))
        .withColumn("atr", sum(col("tr")).over(rb) / lit(22.0))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(when(col("rn") >= 22, col("hh") - lit(3.0) * col("atr")))
            .as("chandelier_long"),
          r6(when(col("rn") >= 22,
            min(col("low")).over(rb) + lit(3.0) * col("atr")))
            .as("chandelier_short"))
    }),

    // KAMA(10, 2, 30): Kaufman adaptive moving average. The efficiency
    // ratio |close − close₋₁₀| / Σ₁₀|Δclose| and the squared smoothing
    // constant are plain frame arithmetic on the shared exchange; the
    // recursion kama ← kama + sc·(close − kama) is the one-value
    // [[graft.functions.AdaptiveEmaWindow]] state machine, seeded at
    // the first bar with a full ratio window (rn = 11). A flat window
    // (Σ|Δ| = 0) forces close = close₋₁₀, so the ratio is defined as 0
    // there (maximal smoothing) — spelled as the same CASE on both
    // engines.
    "ind_kama" -> ((s, dir) => {
      GraftFunctions.register(s)
      val rb = w.rowsBetween(-9, 0)
      EventBars.bars(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("dif", abs(col("close") - lag(col("close"), 1).over(w)))
        .withColumn("vol", sum(col("dif")).over(rb))
        .withColumn("er", when(col("rn") >= 11,
          when(col("vol") === 0.0, lit(0.0))
            .otherwise(abs(col("close") - lag(col("close"), 10).over(w))
              / col("vol"))))
        .withColumn("sc0",
          col("er") * (lit(2.0) / lit(3.0) - lit(2.0) / lit(31.0))
            + lit(2.0) / lit(31.0))
        .withColumn("sc", col("sc0") * col("sc0"))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(expr("graft_adaptive_ema_w(close, sc)").over(w)).as("kama"))
    }),

    // Rolling OLS over the 14-bar frame — TA-Lib's regression family
    // (LINEARREG = fit at the current bar, TSF = fit one bar ahead,
    // slope, R²) from FIVE frame sums on the shared exchange. x is the
    // GLOBAL row number: slope and the fit at the current bar are
    // translation-invariant, so the result equals the local x=0..13
    // formulation while every sum stays a plain windowed aggregate
    // (fit(rn) = ȳ + slope·(rn − x̄), x̄ = rn − 6.5). The denominator
    // n·Σx² − (Σx)² is the frame constant 14·819 − 91² = 3185 in the
    // local frame; with global x both engines compute the identical
    // shifted arithmetic, so the doubles stay bit-equal before r6.
    "ind_linreg" -> ((s, dir) => {
      val rb = w.rowsBetween(-13, 0)
      val n = lit(14.0)
      EventBars.bars(s, dir)
        .withColumn("rn", row_number().over(w).cast("double"))
        .withColumn("sy", sum(col("close")).over(rb))
        .withColumn("syy", sum(col("close") * col("close")).over(rb))
        .withColumn("sxy", sum(col("rn") * col("close")).over(rb))
        .withColumn("sx", sum(col("rn")).over(rb))
        .withColumn("sxx", sum(col("rn") * col("rn")).over(rb))
        .withColumn("slope",
          (n * col("sxy") - col("sx") * col("sy"))
            / (n * col("sxx") - col("sx") * col("sx")))
        .withColumn("fit",
          col("sy") / n + col("slope") * (col("rn") - col("sx") / n))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(when(col("rn") >= 14, col("slope"))).as("lr_slope"),
          r6(when(col("rn") >= 14, col("fit"))).as("linreg"),
          r6(when(col("rn") >= 14, col("fit") + col("slope"))).as("tsf"),
          r6(when(col("rn") >= 14, expr(
            "try_divide((14.0*sxy - sx*sy) * (14.0*sxy - sx*sy)," +
              " (14.0*sxx - sx*sx) * (14.0*syy - sy*sy))"))).as("r2"))
    }),

    // Running intraday VWAP: cumulative typical-price·volume over
    // cumulative volume per (ticker, day), explicit ROWS frames (both
    // engines iterate running frames in order, so the double sums are
    // deterministic — unlike a shuffled groupBy sum). try_divide
    // mirrors the oracle's zero-volume CASE guard.
    "ind_vwap" -> ((s, dir) => {
      val wd = Window.partitionBy("ticker", "day").orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      EventBars.bars(s, dir)
        .withColumn("day", expr("t div 86400000000"))
        .withColumn("pv",
          (col("high") + col("low") + col("close")) / lit(3.0) * col("volume"))
        .withColumn("cpv", sum(col("pv")).over(wd))
        .withColumn("cv", sum(col("volume")).over(wd))
        .select(col("ticker"), col("t"), col("event_id"),
          r6(expr("try_divide(cpv, cv)")).as("vwap"))
    }))

  val oracles: Map[String, String] = {
    // α / 1−α spelled as the same literal arithmetic the kernel folds.
    def a(p: Int) = s"(2.0/${p + 1}.0)"
    def b(p: Int) = s"(1.0 - 2.0/${p + 1}.0)"
    def emaRec(p: Int): String = {
      val e1n = s"(${a(p)}*nb.close + ${b(p)}*r.e1)"
      val e2n = s"(${a(p)}*$e1n + ${b(p)}*r.e2)"
      val e3n = s"(${a(p)}*$e2n + ${b(p)}*r.e3)"
      s"""nb AS (SELECT ticker, t, event_id, close,
         |    row_number() OVER ($Over) AS rn FROM bars),
         |rec AS (
         |  SELECT ticker, t, event_id, rn,
         |    close AS e1, close AS e2, close AS e3
         |  FROM nb WHERE rn = 1
         |  UNION ALL
         |  SELECT nb.ticker, nb.t, nb.event_id, nb.rn,
         |    $e1n, $e2n, $e3n
         |  FROM rec r JOIN nb
         |    ON nb.ticker = r.ticker AND nb.rn = r.rn + 1)""".stripMargin
    }

    // SAR recursion, spelled once and substituted textually so both
    // engines run the identical operation sequence.
    val sarRaw = "(r.sar + r.af * (r.ep - r.sar))"
    val sarnL = s"least($sarRaw, nb.pl)"
    val sarnS = s"greatest($sarRaw, nb.ph)"
    val revL = s"nb.low < $sarnL"
    val revS = s"nb.high > $sarnS"
    val sarRec =
      s"""nb AS (SELECT ticker, t, event_id, high, low, close,
         |    row_number() OVER ($Over) AS rn,
         |    lag(high) OVER ($Over) AS ph,
         |    lag(low) OVER ($Over) AS pl,
         |    lag(close) OVER ($Over) AS pc
         |  FROM bars),
         |rec AS (
         |  SELECT ticker, t, event_id, rn,
         |    (close >= pc) AS lng,
         |    CASE WHEN close >= pc THEN pl ELSE ph END AS sar,
         |    CASE WHEN close >= pc THEN high ELSE low END AS ep,
         |    0.02 AS af
         |  FROM nb WHERE rn = 2
         |  UNION ALL
         |  SELECT nb.ticker, nb.t, nb.event_id, nb.rn,
         |    CASE WHEN r.lng THEN (CASE WHEN $revL THEN FALSE ELSE TRUE END)
         |         ELSE (CASE WHEN $revS THEN TRUE ELSE FALSE END) END,
         |    CASE WHEN r.lng THEN (CASE WHEN $revL THEN r.ep ELSE $sarnL END)
         |         ELSE (CASE WHEN $revS THEN r.ep ELSE $sarnS END) END,
         |    CASE WHEN r.lng
         |      THEN (CASE WHEN $revL THEN nb.low
         |        ELSE (CASE WHEN nb.high > r.ep THEN nb.high ELSE r.ep END) END)
         |      ELSE (CASE WHEN $revS THEN nb.high
         |        ELSE (CASE WHEN nb.low < r.ep THEN nb.low ELSE r.ep END) END)
         |      END,
         |    CASE WHEN r.lng
         |      THEN (CASE WHEN $revL THEN 0.02
         |        ELSE (CASE WHEN nb.high > r.ep
         |          THEN least(r.af + 0.02, 0.2) ELSE r.af END) END)
         |      ELSE (CASE WHEN $revS THEN 0.02
         |        ELSE (CASE WHEN nb.low < r.ep
         |          THEN least(r.af + 0.02, 0.2) ELSE r.af END) END)
         |      END
         |  FROM rec r JOIN nb
         |    ON nb.ticker = r.ticker AND nb.rn = r.rn + 1)""".stripMargin

    Map(

      "ind_ema" ->
        s"""WITH RECURSIVE bars AS (${EventBars.sqlBars}),
           |${emaRec(12)}
           |SELECT ticker, t, event_id,
           |  (round((e1) * 1000000.0) / 1000000.0 + 0.0) AS ema,
           |  (round((2.0*e1 - e2) * 1000000.0) / 1000000.0 + 0.0) AS dema,
           |  (round((3.0*e1 - 3.0*e2 + e3) * 1000000.0) / 1000000.0 + 0.0) AS tema
           |FROM rec""".stripMargin,

      "ind_heikin" ->
        s"""WITH RECURSIVE bars AS (${EventBars.sqlBars}),
           |n AS (SELECT *, row_number() OVER ($Over) AS rn FROM bars),
           |rec AS (
           |  SELECT ticker, t, event_id, rn, high, low,
           |    (open + close) / 2.0 AS hao,
           |    (open + high + low + close) / 4.0 AS hac
           |  FROM n WHERE rn = 1
           |  UNION ALL
           |  SELECT b.ticker, b.t, b.event_id, b.rn, b.high, b.low,
           |    (r.hao + r.hac) / 2.0,
           |    (b.open + b.high + b.low + b.close) / 4.0
           |  FROM rec r JOIN n b
           |    ON b.ticker = r.ticker AND b.rn = r.rn + 1)
           |SELECT ticker, t, event_id,
           |  (round(hao, 6) + 0.0) AS ha_open,
           |  (round(hac, 6) + 0.0) AS ha_close,
           |  (round(greatest(high, hao, hac), 6) + 0.0) AS ha_high,
           |  (round(least(low, hao, hac), 6) + 0.0) AS ha_low
           |FROM rec""".stripMargin,

      "ind_supertrend" ->
        s"""WITH RECURSIVE bars AS (${EventBars.sqlBars}),
           |n AS (SELECT *, row_number() OVER ($Over) AS rn FROM bars),
           |rec AS (
           |  SELECT ticker, t, event_id, rn, close,
           |    (high - low) AS atr,
           |    (high + low)/2.0 + 3.0*(high - low) AS ub,
           |    (high + low)/2.0 - 3.0*(high - low) AS lb,
           |    CASE WHEN close > (high + low)/2.0 + 3.0*(high - low)
           |      THEN 1 ELSE -1 END AS dir
           |  FROM n WHERE rn = 1
           |  UNION ALL
           |  SELECT ticker, t, event_id, rn, close, atr,
           |    CASE WHEN ubb < p_ub OR p_close > p_ub THEN ubb ELSE p_ub END,
           |    CASE WHEN lbb > p_lb OR p_close < p_lb THEN lbb ELSE p_lb END,
           |    CASE WHEN p_dir = -1 THEN
           |      (CASE WHEN close >
           |        (CASE WHEN ubb < p_ub OR p_close > p_ub THEN ubb ELSE p_ub END)
           |       THEN 1 ELSE -1 END)
           |    ELSE
           |      (CASE WHEN close <
           |        (CASE WHEN lbb > p_lb OR p_close < p_lb THEN lbb ELSE p_lb END)
           |       THEN -1 ELSE 1 END)
           |    END
           |  FROM (
           |    SELECT *, (high + low)/2.0 + 3.0*atr AS ubb,
           |      (high + low)/2.0 - 3.0*atr AS lbb
           |    FROM (
           |      SELECT b.ticker, b.t, b.event_id, b.rn, b.close, b.high, b.low,
           |        r.close AS p_close, r.ub AS p_ub, r.lb AS p_lb,
           |        r.dir AS p_dir,
           |        (r.atr*9.0 + greatest(b.high - b.low, abs(b.high - r.close),
           |          abs(b.low - r.close)))/10.0 AS atr
           |      FROM rec r JOIN n b
           |        ON b.ticker = r.ticker AND b.rn = r.rn + 1) z0) z1)
           |SELECT ticker, t, event_id,
           |  (round(atr, 6) + 0.0) AS atr,
           |  (round(CASE WHEN dir = 1 THEN lb ELSE ub END, 6) + 0.0)
           |    AS supertrend,
           |  dir::BIGINT AS dir
           |FROM rec""".stripMargin,

      "ind_trix" ->
        s"""WITH RECURSIVE bars AS (${EventBars.sqlBars}),
           |${emaRec(15)},
           |l AS (SELECT *, lag(e3) OVER ($Over) AS p3 FROM rec)
           |SELECT ticker, t, event_id,
           |  (round((CASE WHEN p3 IS NULL OR p3 = 0 THEN NULL
           |     ELSE (e3 - p3) / p3 END) * 1000000.0) / 1000000.0 + 0.0) AS trix
           |FROM l""".stripMargin,

      "ind_sar" ->
        s"""WITH RECURSIVE bars AS (${EventBars.sqlBars}),
           |$sarRec
           |SELECT ticker, t, event_id,
           |  (round((sar) * 1000000.0) / 1000000.0 + 0.0) AS sar,
           |  (CASE WHEN lng THEN 1 ELSE -1 END)::BIGINT AS dir
           |FROM rec
           |UNION ALL
           |SELECT ticker, t, event_id, NULL::DOUBLE AS sar,
           |  NULL::BIGINT AS dir
           |FROM nb WHERE rn = 1""".stripMargin,

      // Same recursion as ind_sar but over the NON-NULL subsequence of
      // the gapped bars ("bars" below is pre-filtered); gap rows then
      // carry the last emitted state forward (bar-1's emitted state is
      // NULL, so gaps before bar 2 stay null — exactly the kernel).
      "ind_sar_gaps" ->
        s"""WITH RECURSIVE rawbars AS (${EventBars.sqlBars}),
           |gb AS (SELECT ticker, t, event_id,
           |    CASE WHEN event_id % 31 = 0 THEN NULL ELSE high END AS high,
           |    CASE WHEN event_id % 37 = 0 THEN NULL ELSE low END AS low,
           |    CASE WHEN event_id % 23 = 0 THEN NULL ELSE close END AS close
           |  FROM rawbars),
           |bars AS (SELECT * FROM gb WHERE high IS NOT NULL
           |  AND low IS NOT NULL AND close IS NOT NULL),
           |$sarRec,
           |st AS (SELECT ticker, t, event_id,
           |    struct_pack(sar := sar, lng := lng) AS o FROM rec),
           |allr AS (SELECT g.ticker, g.t, g.event_id, st.o
           |  FROM gb g LEFT JOIN st ON st.ticker = g.ticker
           |    AND st.t = g.t AND st.event_id = g.event_id),
           |cf AS (SELECT ticker, t, event_id,
           |    last_value(o IGNORE NULLS) OVER ($Over
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS co
           |  FROM allr)
           |SELECT ticker, t, event_id,
           |  (round((co.sar) * 1000000.0) / 1000000.0 + 0.0) AS sar,
           |  (CASE WHEN co.lng IS NULL THEN NULL
           |     WHEN co.lng THEN 1 ELSE -1 END)::BIGINT AS dir
           |FROM cf""".stripMargin,

      // Token-for-token mirror of AdaptiveEmaWindow.updateExpressions:
      // null x or c -> carry y; null y -> seed with x; else smooth.
      "ind_adema_gaps" ->
        s"""WITH RECURSIVE bars AS (${EventBars.sqlBars}),
           |nb AS (SELECT ticker, t, event_id,
           |    CASE WHEN event_id % 17 = 0 THEN NULL ELSE close END AS x,
           |    CASE WHEN event_id % 13 = 0 THEN NULL
           |      ELSE CAST(0.25 AS DOUBLE) END AS c,
           |    row_number() OVER ($Over) AS rn
           |  FROM bars),
           |rec AS (
           |  SELECT ticker, t, event_id, rn,
           |    CASE WHEN c IS NULL OR x IS NULL THEN NULL ELSE x END AS y
           |  FROM nb WHERE rn = 1
           |  UNION ALL
           |  SELECT nb.ticker, nb.t, nb.event_id, nb.rn,
           |    CASE WHEN nb.c IS NULL OR nb.x IS NULL THEN r.y
           |      WHEN r.y IS NULL THEN nb.x
           |      ELSE r.y + nb.c * (nb.x - r.y) END
           |  FROM rec r JOIN nb
           |    ON nb.ticker = r.ticker AND nb.rn = r.rn + 1)
           |SELECT ticker, t, event_id,
           |  (round((y) * 1000000.0) / 1000000.0 + 0.0) AS adema
           |FROM rec""".stripMargin,

      "ind_stoch" ->
        s"""WITH bars AS (${EventBars.sqlBars}),
           |f AS (SELECT *,
           |    row_number() OVER ($Over) AS rn,
           |    max(high) OVER ($Over
           |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS hh,
           |    min(low) OVER ($Over
           |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS ll
           |  FROM bars),
           |k AS (SELECT *, CASE WHEN rn >= 14
           |    THEN (close - ll) / (hh - ll) END AS fk FROM f),
           |sk AS (SELECT *, CASE WHEN rn >= 16
           |    THEN (fk + lag(fk, 1) OVER ($Over)
           |          + lag(fk, 2) OVER ($Over)) / 3.0 END AS sk FROM k),
           |sd AS (SELECT *, CASE WHEN rn >= 18
           |    THEN (sk + lag(sk, 1) OVER ($Over)
           |          + lag(sk, 2) OVER ($Over)) / 3.0 END AS sd FROM sk)
           |SELECT ticker, t, event_id,
           |  (round((sk) * 1000000.0) / 1000000.0 + 0.0) AS slow_k,
           |  (round((sd) * 1000000.0) / 1000000.0 + 0.0) AS slow_d
           |FROM sd""".stripMargin,

      "ind_cmf" ->
        s"""WITH bars AS (${EventBars.sqlBars}),
           |m AS (SELECT *,
           |    row_number() OVER ($Over) AS rn,
           |    ((close - low) - (high - close)) / (high - low) * volume AS mfv
           |  FROM bars)
           |SELECT ticker, t, event_id,
           |  (round((CASE WHEN rn >= 20 THEN
           |     sum(mfv) OVER ($Over ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
           |     / sum(volume) OVER ($Over ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
           |   END) * 1000000.0) / 1000000.0 + 0.0) AS cmf
           |FROM m""".stripMargin,

      "ind_donchian" ->
        s"""WITH bars AS (${EventBars.sqlBars}),
           |f AS (SELECT *,
           |    row_number() OVER ($Over) AS rn,
           |    max(high) OVER ($Over
           |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS up,
           |    min(low) OVER ($Over
           |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS dn
           |  FROM bars)
           |SELECT ticker, t, event_id,
           |  CASE WHEN rn >= 20 THEN up END AS dc_up,
           |  CASE WHEN rn >= 20 THEN dn END AS dc_dn,
           |  (round((CASE WHEN rn >= 20
           |     THEN (close - dn) / (up - dn) END) * 1000000.0) / 1000000.0 + 0.0) AS dc_pos
           |FROM f""".stripMargin,

      "ind_vortex" ->
        s"""WITH bars AS (${EventBars.sqlBars}),
           |f AS (SELECT ticker, t, event_id,
           |    row_number() OVER ($Over) AS rn,
           |    greatest(high, coalesce(lag(close) OVER ($Over), high))
           |      - least(low, coalesce(lag(close) OVER ($Over), low)) AS tr,
           |    abs(high - lag(low) OVER ($Over)) AS vmp,
           |    abs(low - lag(high) OVER ($Over)) AS vmm
           |  FROM bars),
           |g AS (SELECT ticker, t, event_id, rn,
           |    sum(tr) OVER ($Over
           |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS str,
           |    sum(vmp) OVER ($Over
           |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS svp,
           |    sum(vmm) OVER ($Over
           |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS svm
           |  FROM f)
           |SELECT ticker, t, event_id,
           |  (round((CASE WHEN rn >= 15 THEN
           |     CASE WHEN str = 0 THEN NULL ELSE svp / str END END)
           |   * 1000000.0) / 1000000.0 + 0.0) AS vi_plus,
           |  (round((CASE WHEN rn >= 15 THEN
           |     CASE WHEN str = 0 THEN NULL ELSE svm / str END END)
           |   * 1000000.0) / 1000000.0 + 0.0) AS vi_minus
           |FROM g""".stripMargin,

      "ind_keltner" ->
        s"""WITH bars AS (${EventBars.sqlBars}),
           |f AS (SELECT ticker, t, event_id,
           |    row_number() OVER ($Over) AS rn,
           |    (high + low + close) / 3.0 AS tp,
           |    greatest(high, coalesce(lag(close) OVER ($Over), high))
           |      - least(low, coalesce(lag(close) OVER ($Over), low)) AS tr
           |  FROM bars),
           |g AS (SELECT ticker, t, event_id, rn,
           |    sum(tp) OVER ($Over
           |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) / 20.0 AS mid,
           |    sum(tr) OVER ($Over
           |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) / 10.0 AS rng
           |  FROM f)
           |SELECT ticker, t, event_id,
           |  (round((CASE WHEN rn >= 20 THEN mid END)
           |   * 1000000.0) / 1000000.0 + 0.0) AS kc_mid,
           |  (round((CASE WHEN rn >= 20 THEN mid + 2.0 * rng END)
           |   * 1000000.0) / 1000000.0 + 0.0) AS kc_up,
           |  (round((CASE WHEN rn >= 20 THEN mid - 2.0 * rng END)
           |   * 1000000.0) / 1000000.0 + 0.0) AS kc_dn
           |FROM g""".stripMargin,

      "ind_ichimoku" ->
        s"""WITH bars AS (${EventBars.sqlBars}),
           |f AS (SELECT ticker, t, event_id, close,
           |    row_number() OVER ($Over) AS rn,
           |    (max(high) OVER ($Over
           |      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
           |     + min(low) OVER ($Over
           |      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)) / 2.0 AS tk0,
           |    (max(high) OVER ($Over
           |      ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
           |     + min(low) OVER ($Over
           |      ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)) / 2.0 AS kj0,
           |    (max(high) OVER ($Over
           |      ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
           |     + min(low) OVER ($Over
           |      ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)) / 2.0 AS sb0
           |  FROM bars),
           |g AS (SELECT ticker, t, event_id, close, rn,
           |    CASE WHEN rn >= 9 THEN tk0 END AS tenkan,
           |    CASE WHEN rn >= 26 THEN kj0 END AS kijun,
           |    CASE WHEN rn >= 52 THEN sb0 END AS spb
           |  FROM f)
           |SELECT ticker, t, event_id,
           |  (round((tenkan) * 1000000.0) / 1000000.0 + 0.0) AS tenkan,
           |  (round((kijun) * 1000000.0) / 1000000.0 + 0.0) AS kijun,
           |  (round((lag((tenkan + kijun) / 2.0, 26) OVER ($Over))
           |   * 1000000.0) / 1000000.0 + 0.0) AS senkou_a,
           |  (round((lag(spb, 26) OVER ($Over))
           |   * 1000000.0) / 1000000.0 + 0.0) AS senkou_b,
           |  (round((lead(close, 26) OVER ($Over))
           |   * 1000000.0) / 1000000.0 + 0.0) AS chikou
           |FROM g""".stripMargin,

      "ind_elder_ray" ->
        s"""WITH RECURSIVE bars AS (${EventBars.sqlBars}),
           |${emaRec(13)}
           |SELECT b.ticker, b.t, b.event_id,
           |  (round(b.high - rec.e1, 6) + 0.0) AS bull_power,
           |  (round(b.low - rec.e1, 6) + 0.0) AS bear_power
           |FROM rec JOIN bars b ON b.ticker = rec.ticker
           |  AND b.t = rec.t AND b.event_id = rec.event_id""".stripMargin,

      "ind_fisher" ->
        s"""WITH RECURSIVE bars AS (${EventBars.sqlBars}),
           |f AS (SELECT *, row_number() OVER ($Over) AS rn,
           |    max(high) OVER ($Over
           |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS hh,
           |    min(low) OVER ($Over
           |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS ll
           |  FROM bars),
           |nb AS (SELECT *, least(0.999, greatest(-0.999,
           |    2.0 * (CASE WHEN hh = ll THEN 0.5
           |      ELSE (close - ll) / (hh - ll) END) - 1.0)) AS xr FROM f),
           |rec AS (
           |  SELECT ticker, t, event_id, rn, xr AS xs,
           |    0.5 * ln((1.0 + xr) / (1.0 - xr)) AS fish
           |  FROM nb WHERE rn = 1
           |  UNION ALL
           |  SELECT ticker, t, event_id, rn, xs,
           |    p_fish + 0.5 * ((0.5 * ln((1.0 + xs) / (1.0 - xs))) - p_fish)
           |  FROM (SELECT nb.ticker, nb.t, nb.event_id, nb.rn,
           |      r.fish AS p_fish, r.xs + 0.33 * (nb.xr - r.xs) AS xs
           |    FROM rec r JOIN nb
           |      ON nb.ticker = r.ticker AND nb.rn = r.rn + 1) z)
           |SELECT ticker, t, event_id,
           |  (round(fish, 6) + 0.0) AS fisher,
           |  (round(lag(fish) OVER ($Over), 6) + 0.0) AS fisher_signal
           |FROM rec""".stripMargin,

      "ind_apo" ->
        s"""WITH RECURSIVE bars AS (${EventBars.sqlBars}),
           |nb AS (SELECT ticker, t, event_id, close,
           |    row_number() OVER ($Over) AS rn FROM bars),
           |rec AS (
           |  SELECT ticker, t, event_id, rn, close AS ea, close AS eb
           |  FROM nb WHERE rn = 1
           |  UNION ALL
           |  SELECT nb.ticker, nb.t, nb.event_id, nb.rn,
           |    (2.0/13.0)*nb.close + (1.0 - 2.0/13.0)*r.ea,
           |    (2.0/27.0)*nb.close + (1.0 - 2.0/27.0)*r.eb
           |  FROM rec r JOIN nb
           |    ON nb.ticker = r.ticker AND nb.rn = r.rn + 1)
           |SELECT ticker, t, event_id,
           |  (round((ea - eb) * 1000000.0) / 1000000.0 + 0.0) AS apo
           |FROM rec""".stripMargin,

      "ind_adxr" ->
        s"""WITH RECURSIVE bars AS (${EventBars.sqlBars}),
           |${graft.ind.RecursiveIndicators.sqlStages("bars",
              Seq("ticker"), Seq("t", "event_id"))}
           |SELECT ticker, t, event_id,
           |  (round(((adx + lag(adx, 14) OVER ($Over)) / 2.0)
           |   * 1000000.0) / 1000000.0 + 0.0) AS adxr
           |FROM ri_final""".stripMargin,

      "ind_adosc" ->
        s"""WITH RECURSIVE bars AS (${EventBars.sqlBars}),
           |ml AS (SELECT ticker, t, event_id,
           |    CAST(round(((close - low) - (high - close)) / (high - low)
           |      * volume * 1000000.0) AS BIGINT) AS mfv
           |  FROM bars),
           |ad0 AS (SELECT ticker, t, event_id,
           |    row_number() OVER ($Over) AS rn,
           |    CAST(sum(mfv) OVER ($Over
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS DOUBLE) / 1000000.0 AS ad
           |  FROM ml),
           |rec AS (
           |  SELECT ticker, t, event_id, rn, ad AS ea, ad AS eb
           |  FROM ad0 WHERE rn = 1
           |  UNION ALL
           |  SELECT nb.ticker, nb.t, nb.event_id, nb.rn,
           |    (2.0/4.0)*nb.ad + (1.0 - 2.0/4.0)*r.ea,
           |    (2.0/11.0)*nb.ad + (1.0 - 2.0/11.0)*r.eb
           |  FROM rec r JOIN ad0 nb
           |    ON nb.ticker = r.ticker AND nb.rn = r.rn + 1)
           |SELECT ticker, t, event_id,
           |  (round((ea - eb) * 1000000.0) / 1000000.0 + 0.0) AS adosc
           |FROM rec""".stripMargin,

      "ind_pivot_points" ->
        s"""WITH bars AS (${EventBars.sqlBars}),
           |d AS (SELECT ticker, t // 86400000000 AS day,
           |    max(high) AS h, min(low) AS mn,
           |    last(close ORDER BY t, event_id) AS c
           |  FROM bars GROUP BY 1, 2),
           |lg AS (SELECT ticker, day,
           |    lag(h) OVER (PARTITION BY ticker ORDER BY day) AS ph,
           |    lag(mn) OVER (PARTITION BY ticker ORDER BY day) AS pl,
           |    lag(c) OVER (PARTITION BY ticker ORDER BY day) AS pc
           |  FROM d),
           |p AS (SELECT *, (ph + pl + pc) / 3.0 AS pv FROM lg)
           |SELECT ticker, day,
           |  (round((pv) * 1000000.0) / 1000000.0 + 0.0) AS pivot,
           |  (round((2.0 * pv - pl) * 1000000.0) / 1000000.0 + 0.0) AS r1,
           |  (round((2.0 * pv - ph) * 1000000.0) / 1000000.0 + 0.0) AS s1,
           |  (round((pv + (ph - pl)) * 1000000.0) / 1000000.0 + 0.0) AS r2,
           |  (round((pv - (ph - pl)) * 1000000.0) / 1000000.0 + 0.0) AS s2
           |FROM p""".stripMargin,

      "ind_chandelier" ->
        s"""WITH bars AS (${EventBars.sqlBars}),
           |f AS (SELECT ticker, t, event_id,
           |    row_number() OVER ($Over) AS rn,
           |    greatest(high, coalesce(lag(close) OVER ($Over), high))
           |      - least(low, coalesce(lag(close) OVER ($Over), low)) AS tr,
           |    high, low
           |  FROM bars),
           |g AS (SELECT ticker, t, event_id, rn,
           |    max(high) OVER ($Over
           |      ROWS BETWEEN 21 PRECEDING AND CURRENT ROW) AS hh,
           |    min(low) OVER ($Over
           |      ROWS BETWEEN 21 PRECEDING AND CURRENT ROW) AS ll,
           |    sum(tr) OVER ($Over
           |      ROWS BETWEEN 21 PRECEDING AND CURRENT ROW) / 22.0 AS atr
           |  FROM f)
           |SELECT ticker, t, event_id,
           |  (round((CASE WHEN rn >= 22 THEN hh - 3.0 * atr END)
           |   * 1000000.0) / 1000000.0 + 0.0) AS chandelier_long,
           |  (round((CASE WHEN rn >= 22 THEN ll + 3.0 * atr END)
           |   * 1000000.0) / 1000000.0 + 0.0) AS chandelier_short
           |FROM g""".stripMargin,

      "ind_kama" ->
        s"""WITH RECURSIVE bars AS (${EventBars.sqlBars}),
           |n0 AS (SELECT ticker, t, event_id, close,
           |    row_number() OVER ($Over) AS rn,
           |    abs(close - lag(close, 1) OVER ($Over)) AS dif,
           |    lag(close, 10) OVER ($Over) AS c10
           |  FROM bars),
           |nb AS (SELECT ticker, t, event_id, close, rn,
           |    CASE WHEN rn >= 11 THEN
           |      (CASE WHEN vol = 0 THEN 0.0
           |        ELSE abs(close - c10) / vol END)
           |      * (2.0/3.0 - 2.0/31.0) + 2.0/31.0
           |    END AS sc0
           |  FROM (SELECT *, sum(dif) OVER ($Over
           |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vol FROM n0)),
           |ns AS (SELECT *, sc0 * sc0 AS sc FROM nb),
           |rec AS (
           |  SELECT ticker, t, event_id, rn, close AS kama
           |  FROM ns WHERE rn = 11
           |  UNION ALL
           |  SELECT ns.ticker, ns.t, ns.event_id, ns.rn,
           |    r.kama + ns.sc * (ns.close - r.kama)
           |  FROM rec r JOIN ns
           |    ON ns.ticker = r.ticker AND ns.rn = r.rn + 1)
           |SELECT ticker, t, event_id,
           |  (round((kama) * 1000000.0) / 1000000.0 + 0.0) AS kama
           |FROM rec
           |UNION ALL
           |SELECT ticker, t, event_id, NULL::DOUBLE AS kama
           |FROM ns WHERE rn < 11""".stripMargin,

      "ind_linreg" ->
        s"""WITH bars AS (${EventBars.sqlBars}),
           |nb AS (SELECT ticker, t, event_id, close,
           |    CAST(row_number() OVER ($Over) AS DOUBLE) AS rn FROM bars),
           |f AS (SELECT ticker, t, event_id, rn,
           |    sum(close) OVER fr AS sy,
           |    sum(close * close) OVER fr AS syy,
           |    sum(rn * close) OVER fr AS sxy,
           |    sum(rn) OVER fr AS sx,
           |    sum(rn * rn) OVER fr AS sxx
           |  FROM nb
           |  WINDOW fr AS ($Over ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
           |g AS (SELECT *,
           |    (14.0*sxy - sx*sy) / (14.0*sxx - sx*sx) AS slope FROM f),
           |h AS (SELECT *, sy / 14.0 + slope * (rn - sx / 14.0) AS fit FROM g)
           |SELECT ticker, t, event_id,
           |  (round((CASE WHEN rn >= 14 THEN slope END) * 1000000.0)
           |    / 1000000.0 + 0.0) AS lr_slope,
           |  (round((CASE WHEN rn >= 14 THEN fit END) * 1000000.0)
           |    / 1000000.0 + 0.0) AS linreg,
           |  (round((CASE WHEN rn >= 14 THEN fit + slope END) * 1000000.0)
           |    / 1000000.0 + 0.0) AS tsf,
           |  (round((CASE WHEN rn >= 14 THEN
           |      CASE WHEN (14.0*sxx - sx*sx) * (14.0*syy - sy*sy) = 0 THEN NULL
           |        ELSE (14.0*sxy - sx*sy) * (14.0*sxy - sx*sy)
           |          / ((14.0*sxx - sx*sx) * (14.0*syy - sy*sy)) END
           |    END) * 1000000.0) / 1000000.0 + 0.0) AS r2
           |FROM h""".stripMargin,

      "ind_vwap" ->
        s"""WITH bars AS (${EventBars.sqlBars}),
           |d AS (SELECT *, t // 86400000000 AS day FROM bars),
           |g AS (SELECT *,
           |    sum((high + low + close) / 3.0 * volume) OVER (
           |      PARTITION BY ticker, day ORDER BY t, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cpv,
           |    sum(volume) OVER (
           |      PARTITION BY ticker, day ORDER BY t, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
           |  FROM d)
           |SELECT ticker, t, event_id,
           |  (round(CASE WHEN cv = 0 THEN NULL ELSE cpv / cv END, 6) + 0.0)
           |    AS vwap
           |FROM g""".stripMargin)
  }
}
