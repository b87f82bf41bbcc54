package graft.ind

import graft.model.IndicatorConfig

/** Group W-R recursive indicators (SURVEY.md §2): RSI, CMO, MACDFIX
  * histogram, ADX/±DI — the four TA-Lib kernels whose Wilder/EMA
  * smoothing makes every output depend on the entire series prefix
  * (reference calls: stockdata/indicators.py:324-334, 403-413, 432-445,
  * 459-487).
  *
  * This object holds the two references for the family, not a Spark
  * implementation: [[scan]], a single O(n) pass over one sorted series
  * as a pure function `(price, high, low, close) => outputs`,
  * unit-testable without Spark; and [[sqlStages]], its DuckDB
  * recursive-CTE mirror, the oracle of every query that computes the
  * family. Spark computes the same five outputs with the
  * [[graft.functions.IndicatorPackWindow]] window kernel (`graft_ind_w`,
  * used by [[IndicatorPipeline.tail]] and the `ind_recursive` query);
  * the tests pin that kernel against [[scan]].
  *
  * Scaling matches the reference: rsi/cmo/adx/adx_hist are emitted /100
  * (as fractions), macd_hist /10 (indicators.py:332,411,443,485-487;
  * tuple-swap quirk at :294-297 means adx_hist = (+DI − −DI)/100).
  *
  * TA-Lib 0.4.32 seed/lookback conventions reproduced exactly:
  *  - RSI/CMO: seed avg = SMA of first `p` gains/losses, first output at
  *    row p (0-based); Wilder update `(prev*(p-1)+x)/p` after.
  *  - MACDFIX: fixed k=0.15/0.075; both EMAs seeded at row 25 (slow =
  *    SMA26 of rows 0..25, fast = SMA12 of rows 14..25); signal = EMA9
  *    (k=0.2) seeded with SMA9 of macd rows 25..33; hist from row 33.
  *  - ADX: ±DM/TR simple-summed over rows 1..13, Wilder running-sum
  *    `s − s/p + x` from row 14 (first ±DI/DX output); ADX seed = mean
  *    of DX rows 14..27, first output row 27, Wilder-averaged after.
  */
object RecursiveIndicators {

  /** Names of the five outputs, in [[scan]]'s column order (also the
    * field names of `graft_ind_w`'s struct). */
  val outputColumns: Seq[String] =
    Seq("rsi", "cmo", "macd_hist", "adx", "adx_hist")

  // MACDFIX constants (TA-Lib TA_INT_MACD with optInFastPeriod=0).
  private val KFast = 0.15
  private val KSlow = 0.075
  private val FastP = 12
  private val SlowP = 26
  private val SigP = 9
  private val KSig = 0.2

  /** One O(n) pass over a sorted series computing all recursive
    * families. Returns n rows of [rsi, cmo, macd_hist, adx, adx_hist]
    * as boxed doubles, null during each indicator's warm-up region.
    *
    * Formula evaluation order mirrors [[sqlStages]] token-for-token so
    * the DuckDB oracle is bit-comparable (after round-6).
    */
  def scan(
      price: Array[Double],
      high: Array[Double],
      low: Array[Double],
      close: Array[Double],
      cfg: IndicatorConfig = IndicatorConfig()): Array[Array[Any]] = {
    require(cfg.rsiPeriod == cfg.cmoPeriod,
      "RSI/CMO share one Wilder state; periods must match (reference uses 14/14)")
    val n = price.length
    val p = cfg.rsiPeriod
    val q = cfg.adxPeriod
    val out = Array.fill[Array[Any]](n)(Array[Any](null, null, null, null, null))

    // RSI/CMO state
    var gsum = 0.0; var lsum = 0.0; var avgg = 0.0; var avgl = 0.0
    // MACDFIX state
    var emaf = 0.0; var emas = 0.0; var sigsum = 0.0; var sig = 0.0
    // ADX state
    var sTR = 0.0; var sPDM = 0.0; var sMDM = 0.0
    var dxsum = 0.0; var adxraw = 0.0

    var i = 1
    while (i < n) {
      // --- RSI / CMO (close_column series — indicators.py:330,412) ---
      val delta = price(i) - price(i - 1)
      val g = math.max(delta, 0.0)
      val l = math.max(-delta, 0.0)
      if (i <= p) {
        gsum += g; lsum += l
        if (i == p) { avgg = gsum / p; avgl = lsum / p }
      } else {
        avgg = (avgg * (p - 1) + g) / p
        avgl = (avgl * (p - 1) + l) / p
      }
      if (i >= p) {
        val tot = avgg + avgl
        out(i)(0) = Double.box(if (tot != 0.0) avgg / tot else 0.0)
        out(i)(1) = Double.box(if (tot != 0.0) (avgg - avgl) / tot else 0.0)
      }

      // --- MACDFIX histogram ---
      if (i == SlowP - 1) {
        var sS = 0.0; var j = 0
        while (j <= SlowP - 1) { sS += price(j); j += 1 }
        emas = sS / SlowP
        var sF = 0.0; j = SlowP - FastP
        while (j <= SlowP - 1) { sF += price(j); j += 1 }
        emaf = sF / FastP
      } else if (i > SlowP - 1) {
        emas = (price(i) - emas) * KSlow + emas
        emaf = (price(i) - emaf) * KFast + emaf
      }
      if (i >= SlowP - 1) {
        val macd = emaf - emas
        val sigStart = SlowP - 1 + SigP - 1 // row 33
        if (i < sigStart) sigsum += macd
        else if (i == sigStart) sig = (sigsum + macd) / SigP
        else sig = (macd - sig) * KSig + sig
        if (i >= sigStart) out(i)(2) = Double.box((macd - sig) / 10.0)
      }

      // --- ADX / ±DI (high/low/unadjusted close — indicators.py:465-477) ---
      val dp = high(i) - high(i - 1)
      val dm = low(i - 1) - low(i)
      val pdm = if (dp > dm && dp > 0.0) dp else 0.0
      val mdm = if (dm > dp && dm > 0.0) dm else 0.0
      val tr = math.max(high(i) - low(i),
        math.max(math.abs(high(i) - close(i - 1)), math.abs(low(i) - close(i - 1))))
      if (i <= q - 1) {
        sTR += tr; sPDM += pdm; sMDM += mdm
      } else {
        sTR = sTR - sTR / q + tr
        sPDM = sPDM - sPDM / q + pdm
        sMDM = sMDM - sMDM / q + mdm
        val pdi = if (sTR != 0.0) 100.0 * sPDM / sTR else 0.0
        val mdi = if (sTR != 0.0) 100.0 * sMDM / sTR else 0.0
        out(i)(4) = Double.box((pdi - mdi) / 100.0)
        val dx = if (pdi + mdi != 0.0) 100.0 * math.abs(pdi - mdi) / (pdi + mdi) else 0.0
        if (i <= 2 * q - 1) {
          dxsum += dx
          if (i == 2 * q - 1) { adxraw = dxsum / q; out(i)(3) = Double.box(adxraw / 100.0) }
        } else {
          adxraw = (adxraw * (q - 1) + dx) / q
          out(i)(3) = Double.box(adxraw / 100.0)
        }
      }
      i += 1
    }
    out
  }

  /** DuckDB recursive-CTE chain mirroring [[scan]] formula-for-formula;
    * exposes `ri_final` with columns: part cols, order cols, rn, and
    * [[outputColumns]]. 1-based `rn` ↔ the scan's 0-based `i = rn-1`.
    */
  def sqlStages(
      from: String,
      part: Seq[String],
      order: Seq[String],
      price: String = "close",
      high: String = "high",
      low: String = "low",
      close: String = "close",
      cfg: IndicatorConfig = IndicatorConfig()): String = {
    require(cfg.rsiPeriod == cfg.cmoPeriod)
    val p = cfg.rsiPeriod
    val q = cfg.adxPeriod
    val pk = part.mkString(", ")
    val ord = order.mkString(", ")
    val over = s"PARTITION BY $pk ORDER BY $ord"
    val pEq = part.map(c => s"r.$c = b.$c").mkString(" AND ")
    // 1-based row thresholds (scan index i = rn - 1)
    val rsiAt = p + 1          // 15
    val seedS = SlowP          // 26: EMA seeds set
    val sigAt = SlowP + SigP - 1 // 34: signal seeded, first hist
    val diAt = q + 1           // 15: first Wilder update / ±DI
    val adxAt = 2 * q          // 28: ADX seeded

    s"""ri_base AS (
       |  SELECT $pk, $ord,
       |    $price AS p_, $high AS h_, $low AS l_, $close AS c_,
       |    row_number() OVER ($over) AS rn
       |  FROM $from),
       |ri_pr AS (
       |  SELECT *,
       |    greatest(p_ - lag(p_) OVER ($over), 0) AS g_,
       |    greatest(lag(p_) OVER ($over) - p_, 0) AS l2_,
       |    CASE WHEN (h_ - lag(h_) OVER ($over)) > (lag(l_) OVER ($over) - l_)
       |          AND (h_ - lag(h_) OVER ($over)) > 0
       |      THEN h_ - lag(h_) OVER ($over) ELSE 0.0 END AS pdm_,
       |    CASE WHEN (lag(l_) OVER ($over) - l_) > (h_ - lag(h_) OVER ($over))
       |          AND (lag(l_) OVER ($over) - l_) > 0
       |      THEN lag(l_) OVER ($over) - l_ ELSE 0.0 END AS mdm_,
       |    greatest(h_ - l_, abs(h_ - lag(c_) OVER ($over)),
       |      abs(l_ - lag(c_) OVER ($over))) AS tr_,
       |    avg(p_) OVER ($over ROWS BETWEEN ${SlowP - 1} PRECEDING AND CURRENT ROW) AS sma_s,
       |    avg(p_) OVER ($over ROWS BETWEEN ${FastP - 1} PRECEDING AND CURRENT ROW) AS sma_f
       |  FROM ri_base),
       |ri_rec AS (
       |  SELECT $pk, $ord, rn,
       |    CAST(0 AS DOUBLE) AS gsum, CAST(0 AS DOUBLE) AS lsum,
       |    CAST(NULL AS DOUBLE) AS avgg, CAST(NULL AS DOUBLE) AS avgl,
       |    CAST(NULL AS DOUBLE) AS emaf, CAST(NULL AS DOUBLE) AS emas,
       |    CAST(0 AS DOUBLE) AS sigsum, CAST(NULL AS DOUBLE) AS sig,
       |    CAST(0 AS DOUBLE) AS str_, CAST(0 AS DOUBLE) AS spdm,
       |    CAST(0 AS DOUBLE) AS smdm,
       |    CAST(0 AS DOUBLE) AS dxsum, CAST(NULL AS DOUBLE) AS adxraw,
       |    CAST(NULL AS DOUBLE) AS rsi, CAST(NULL AS DOUBLE) AS cmo,
       |    CAST(NULL AS DOUBLE) AS macd_hist, CAST(NULL AS DOUBLE) AS adx,
       |    CAST(NULL AS DOUBLE) AS adx_hist
       |  FROM ri_pr WHERE rn = 1
       |  UNION ALL
       |  SELECT $pk, $ord, rn, gsum, lsum, avgg, avgl, emaf, emas,
       |    sigsum1 AS sigsum, sig, str_, spdm, smdm,
       |    dxsum1 AS dxsum, adxraw,
       |    CASE WHEN rn >= $rsiAt THEN
       |      CASE WHEN (avgg + avgl) <> 0 THEN avgg / (avgg + avgl) ELSE 0.0 END
       |    END AS rsi,
       |    CASE WHEN rn >= $rsiAt THEN
       |      CASE WHEN (avgg + avgl) <> 0 THEN (avgg - avgl) / (avgg + avgl) ELSE 0.0 END
       |    END AS cmo,
       |    CASE WHEN rn >= $sigAt THEN (macd - sig) / 10.0 END AS macd_hist,
       |    CASE WHEN rn >= $adxAt THEN adxraw / 100.0 END AS adx,
       |    CASE WHEN rn >= $diAt THEN (pdi - mdi) / 100.0 END AS adx_hist
       |  FROM (
       |    SELECT *,
       |      CASE WHEN rn >= $seedS AND rn <= $sigAt - 1 THEN sigsum0 + macd
       |        ELSE sigsum0 END AS sigsum1,
       |      CASE WHEN rn < $sigAt THEN CAST(NULL AS DOUBLE)
       |        WHEN rn = $sigAt THEN (sigsum0 + macd) / ${SigP}.0
       |        ELSE (macd - sig0) * $KSig + sig0 END AS sig,
       |      CASE WHEN rn BETWEEN $diAt AND $adxAt THEN dxsum0 + dx
       |        ELSE dxsum0 END AS dxsum1,
       |      CASE WHEN rn < $adxAt THEN CAST(NULL AS DOUBLE)
       |        WHEN rn = $adxAt THEN (dxsum0 + dx) / ${q}.0
       |        ELSE (adxraw0 * ${q - 1}.0 + dx) / ${q}.0 END AS adxraw
       |    FROM (
       |      SELECT *,
       |        CASE WHEN rn >= $seedS THEN emaf - emas END AS macd,
       |        CASE WHEN rn >= $diAt THEN
       |          CASE WHEN str_ <> 0 THEN 100.0 * spdm / str_ ELSE 0.0 END
       |        END AS pdi,
       |        CASE WHEN rn >= $diAt THEN
       |          CASE WHEN str_ <> 0 THEN 100.0 * smdm / str_ ELSE 0.0 END
       |        END AS mdi,
       |        CASE WHEN rn >= $diAt THEN
       |          CASE WHEN (CASE WHEN str_ <> 0 THEN 100.0 * spdm / str_ ELSE 0.0 END
       |                   + CASE WHEN str_ <> 0 THEN 100.0 * smdm / str_ ELSE 0.0 END) <> 0
       |            THEN 100.0 * abs(CASE WHEN str_ <> 0 THEN 100.0 * spdm / str_ ELSE 0.0 END
       |                           - CASE WHEN str_ <> 0 THEN 100.0 * smdm / str_ ELSE 0.0 END)
       |                 / (CASE WHEN str_ <> 0 THEN 100.0 * spdm / str_ ELSE 0.0 END
       |                  + CASE WHEN str_ <> 0 THEN 100.0 * smdm / str_ ELSE 0.0 END)
       |            ELSE 0.0 END
       |        END AS dx
       |      FROM (
       |        SELECT
       |          ${part.map(c => s"b.$c AS $c").mkString(", ")},
       |          ${order.map(c => s"b.$c AS $c").mkString(", ")},
       |          b.rn AS rn,
       |          CASE WHEN b.rn <= $rsiAt THEN r.gsum + b.g_ ELSE r.gsum END AS gsum,
       |          CASE WHEN b.rn <= $rsiAt THEN r.lsum + b.l2_ ELSE r.lsum END AS lsum,
       |          CASE WHEN b.rn < $rsiAt THEN CAST(NULL AS DOUBLE)
       |            WHEN b.rn = $rsiAt THEN (r.gsum + b.g_) / ${p}.0
       |            ELSE (r.avgg * ${p - 1}.0 + b.g_) / ${p}.0 END AS avgg,
       |          CASE WHEN b.rn < $rsiAt THEN CAST(NULL AS DOUBLE)
       |            WHEN b.rn = $rsiAt THEN (r.lsum + b.l2_) / ${p}.0
       |            ELSE (r.avgl * ${p - 1}.0 + b.l2_) / ${p}.0 END AS avgl,
       |          CASE WHEN b.rn < $seedS THEN CAST(NULL AS DOUBLE)
       |            WHEN b.rn = $seedS THEN b.sma_s
       |            ELSE (b.p_ - r.emas) * $KSlow + r.emas END AS emas,
       |          CASE WHEN b.rn < $seedS THEN CAST(NULL AS DOUBLE)
       |            WHEN b.rn = $seedS THEN b.sma_f
       |            ELSE (b.p_ - r.emaf) * $KFast + r.emaf END AS emaf,
       |          r.sigsum AS sigsum0, r.sig AS sig0,
       |          CASE WHEN b.rn <= $q THEN r.str_ + b.tr_
       |            ELSE r.str_ - r.str_ / ${q}.0 + b.tr_ END AS str_,
       |          CASE WHEN b.rn <= $q THEN r.spdm + b.pdm_
       |            ELSE r.spdm - r.spdm / ${q}.0 + b.pdm_ END AS spdm,
       |          CASE WHEN b.rn <= $q THEN r.smdm + b.mdm_
       |            ELSE r.smdm - r.smdm / ${q}.0 + b.mdm_ END AS smdm,
       |          r.dxsum AS dxsum0, r.adxraw AS adxraw0
       |        FROM ri_rec r JOIN ri_pr b ON $pEq AND b.rn = r.rn + 1
       |      ) s1
       |    ) s2
       |  ) s3
       |),
       |ri_final AS (
       |  SELECT ${part.mkString(", ")}, ${order.mkString(", ")}, rn,
       |    rsi, cmo, macd_hist, adx, adx_hist
       |  FROM ri_rec)""".stripMargin
  }
}
