package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** The recursive indicator family — RSI, CMO, MACDFIX histogram and
  * ADX/±DI (TA-Lib 0.4.32; reference stockdata/indicators.py:324-487) —
  * as ONE custom `AggregateWindowFunction`:
  * struct(rsi, cmo, macd_hist, adx, adx_hist).
  *
  * Every output depends on the whole series prefix, so the state is a
  * declarative aggregate buffer over the running
  * `UnboundedPreceding → CurrentRow` frame (like `row_number`): the
  * family runs inside the Window operator on the caller's series
  * exchange, with no `groupByKey` hop and no object (de)serialization.
  * The buffer holds three state machines behind one shared row
  * counter, and one evaluation per row emits all five outputs. This is
  * the only Spark implementation of the family:
  * [[graft.ind.IndicatorPipeline.tail]] (run, runRange, pipeline_*)
  * and the ind_recursive, ind_stochrsi and ind_adxr queries all call it
  * as `graft_ind_w`.
  *
  * Update expressions follow [[graft.ind.RecursiveIndicators.scan]]
  * (the pure-Scala reference) and its DuckDB mirror
  * [[graft.ind.RecursiveIndicators.sqlStages]]:
  *  - Wilder (RSI/CMO): SMA of the first `period` gains/losses at row
  *    period+1, then `(prev·(p−1) + x)/p`; a zero denominator emits 0.
  *  - MACDFIX: TA-Lib's fixed 12/26/9 k (0.15/0.075/0.2), EMAs seeded
  *    at row 26, signal at row 34. One deliberate arithmetic
  *    difference: the fast EMA seed is (Σ₂₆ − Σ₁₄)/12 instead of
  *    re-summing rows 15..26 — associativity differences land below the
  *    1e-6 rounding both engines apply.
  *  - ADX/±DI: ±DM/TR prefix sums through row q, Wilder running sums
  *    `s − s/q + x` after; the DX mean seeds ADX at row 2q.
  *
  * Outputs carry the reference scaling (rsi, cmo, adx, adx_hist /100;
  * macd_hist /10). The Wilder and ADX periods thread through (every row
  * threshold derives from them); MACDFIX is fixed-constant by
  * definition.
  */
case class IndicatorPackWindow(
    price: Expression,
    high: Expression,
    low: Expression,
    close: Expression,
    period: Int = 14,
    adxPeriod: Int = 14)
  extends AggregateWindowFunction {

  override def children: Seq[Expression] = Seq(price, high, low, close)
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("rsi", DoubleType), StructField("cmo", DoubleType),
    StructField("macd_hist", DoubleType),
    StructField("adx", DoubleType), StructField("adx_hist", DoubleType)))
  override def prettyName: String = "graft_ind_w"

  private val nullD = Literal.create(null, DoubleType)
  private val zeroD = Literal(0.0)
  private def d(v: Double): Literal = Literal(v)

  // shared row counter
  private val rn = AttributeReference("rn", LongType, nullable = false)()
  // Wilder (RSI/CMO) state
  private val prev = AttributeReference("prev", DoubleType, nullable = true)()
  private val gsum = AttributeReference("gsum", DoubleType, nullable = false)()
  private val lsum = AttributeReference("lsum", DoubleType, nullable = false)()
  private val avgg = AttributeReference("avgg", DoubleType, nullable = true)()
  private val avgl = AttributeReference("avgl", DoubleType, nullable = true)()
  // MACDFIX state
  private val psumAll = AttributeReference("psum_all", DoubleType, nullable = false)()
  private val psum14 = AttributeReference("psum14", DoubleType, nullable = false)()
  private val emaf = AttributeReference("emaf", DoubleType, nullable = true)()
  private val emas = AttributeReference("emas", DoubleType, nullable = true)()
  private val sigsum = AttributeReference("sigsum", DoubleType, nullable = false)()
  private val sig = AttributeReference("sig", DoubleType, nullable = true)()
  // ADX state
  private val prevH = AttributeReference("prev_h", DoubleType, nullable = true)()
  private val prevL = AttributeReference("prev_l", DoubleType, nullable = true)()
  private val prevC = AttributeReference("prev_c", DoubleType, nullable = true)()
  private val sTR = AttributeReference("s_tr", DoubleType, nullable = false)()
  private val sPDM = AttributeReference("s_pdm", DoubleType, nullable = false)()
  private val sMDM = AttributeReference("s_mdm", DoubleType, nullable = false)()
  private val dxsum = AttributeReference("dxsum", DoubleType, nullable = false)()
  private val adxraw = AttributeReference("adxraw", DoubleType, nullable = true)()

  override val aggBufferAttributes: Seq[AttributeReference] =
    Seq(rn, prev, gsum, lsum, avgg, avgl,
      psumAll, psum14, emaf, emas, sigsum, sig,
      prevH, prevL, prevC, sTR, sPDM, sMDM, dxsum, adxraw)

  override val initialValues: Seq[Expression] =
    Seq(Literal(0L), nullD, zeroD, zeroD, nullD, nullD,
      zeroD, zeroD, nullD, nullD, zeroD, nullD,
      nullD, nullD, nullD, zeroD, zeroD, zeroD, zeroD, nullD)

  private val pD = Literal(period.toDouble)
  private val pm1D = Literal((period - 1).toDouble)
  private val seedRow = Literal(period.toLong + 1L)
  // ADX thresholds: prefix sums through row q, Wilder rolls after;
  // DX mean accumulates rows q+1..2q, ADX seeds at row 2q.
  private val qL = Literal(adxPeriod.toLong)
  private val qD = Literal(adxPeriod.toDouble)
  private val qm1D = Literal((adxPeriod - 1).toDouble)
  private val q1L = Literal(adxPeriod.toLong + 1L)
  private val q2L = Literal(2L * adxPeriod)

  override val updateExpressions: Seq[Expression] = {
    val p = Cast(price, DoubleType)
    val h = Cast(high, DoubleType)
    val l = Cast(low, DoubleType)
    val c = Cast(close, DoubleType)
    val rn1 = Add(rn, Literal(1L))

    // --- Wilder (RSI/CMO)
    val delta = Subtract(p, prev)
    val g = If(And(IsNotNull(delta), GreaterThan(delta, zeroD)), delta, zeroD)
    val lo = If(And(IsNotNull(delta), LessThan(delta, zeroD)),
      UnaryMinus(delta), zeroD)
    val inSeed = LessThanOrEqual(rn1, seedRow)
    val gsum1 = If(inSeed, Add(gsum, g), gsum)
    val lsum1 = If(inSeed, Add(lsum, lo), lsum)
    val avgg1 = CaseWhen(Seq(
      (LessThan(rn1, seedRow), nullD),
      (EqualTo(rn1, seedRow), Divide(Add(gsum, g), pD))),
      Divide(Add(Multiply(avgg, pm1D), g), pD))
    val avgl1 = CaseWhen(Seq(
      (LessThan(rn1, seedRow), nullD),
      (EqualTo(rn1, seedRow), Divide(Add(lsum, lo), pD))),
      Divide(Add(Multiply(avgl, pm1D), lo), pD))

    // --- MACDFIX; fast seed (Σ₂₆ − Σ₁₄)/12, see the class doc
    val psumAll1 = Add(psumAll, p)
    val psum14n = If(LessThanOrEqual(rn1, Literal(14L)), Add(psum14, p), psum14)
    val emas1 = CaseWhen(Seq(
      (LessThan(rn1, Literal(26L)), nullD),
      (EqualTo(rn1, Literal(26L)), Divide(psumAll1, d(26.0)))),
      Add(Multiply(Subtract(p, emas), d(0.075)), emas))
    val emaf1 = CaseWhen(Seq(
      (LessThan(rn1, Literal(26L)), nullD),
      (EqualTo(rn1, Literal(26L)),
        Divide(Subtract(psumAll1, psum14n), d(12.0)))),
      Add(Multiply(Subtract(p, emaf), d(0.15)), emaf))
    val macd1 = Subtract(emaf1, emas1)
    val sigsum1 = If(
      And(GreaterThanOrEqual(rn1, Literal(26L)), LessThanOrEqual(rn1, Literal(33L))),
      Add(sigsum, macd1), sigsum)
    val sig1 = CaseWhen(Seq(
      (LessThan(rn1, Literal(34L)), nullD),
      (EqualTo(rn1, Literal(34L)), Divide(Add(sigsum, macd1), d(9.0)))),
      Add(Multiply(Subtract(macd1, sig), d(0.2)), sig))

    // --- ADX / ±DI
    val dp = Subtract(h, prevH)
    val dm = Subtract(prevL, l)
    val pdm = If(And(GreaterThan(dp, dm), GreaterThan(dp, zeroD)), dp, zeroD)
    val mdm = If(And(GreaterThan(dm, dp), GreaterThan(dm, zeroD)), dm, zeroD)
    val tr = Greatest(Seq(Subtract(h, l), Abs(Subtract(h, prevC)),
      Abs(Subtract(l, prevC))))
    def roll(s: Expression, x: Expression): Expression = CaseWhen(Seq(
      (EqualTo(rn1, Literal(1L)), zeroD), // first row: no prev, no TR/DM yet
      (LessThanOrEqual(rn1, qL), Add(s, x))),
      Add(Subtract(s, Divide(s, qD)), x))
    val sTR1 = roll(sTR, tr)
    val sPDM1 = roll(sPDM, pdm)
    val sMDM1 = roll(sMDM, mdm)
    val pdi1 = If(EqualTo(sTR1, zeroD), zeroD,
      Divide(Multiply(d(100.0), sPDM1), sTR1))
    val mdi1 = If(EqualTo(sTR1, zeroD), zeroD,
      Divide(Multiply(d(100.0), sMDM1), sTR1))
    val dx1 = If(EqualTo(Add(pdi1, mdi1), zeroD), zeroD,
      Divide(Multiply(d(100.0), Abs(Subtract(pdi1, mdi1))), Add(pdi1, mdi1)))
    val dxsum1 = If(
      And(GreaterThanOrEqual(rn1, q1L), LessThanOrEqual(rn1, q2L)),
      Add(dxsum, dx1), dxsum)
    val adxraw1 = CaseWhen(Seq(
      (LessThan(rn1, q2L), nullD),
      (EqualTo(rn1, q2L), Divide(Add(dxsum, dx1), qD))),
      Divide(Add(Multiply(adxraw, qm1D), dx1), qD))

    Seq(rn1, p, gsum1, lsum1, avgg1, avgl1,
      psumAll1, psum14n, emaf1, emas1, sigsum1, sig1,
      h, l, c, sTR1, sPDM1, sMDM1, dxsum1, adxraw1)
  }

  private def wilderOut(num: Expression): Expression = {
    val tot = Add(avgg, avgl)
    If(GreaterThanOrEqual(rn, seedRow),
      If(EqualTo(tot, zeroD), zeroD, Divide(num, tot)), nullD)
  }
  private def pdiOf(s: Expression): Expression =
    If(EqualTo(sTR, zeroD), zeroD, Divide(Multiply(d(100.0), s), sTR))

  override val evaluateExpression: Expression =
    CreateNamedStruct(Seq(
      Literal("rsi"), wilderOut(avgg),
      Literal("cmo"), wilderOut(Subtract(avgg, avgl)),
      Literal("macd_hist"),
      If(GreaterThanOrEqual(rn, Literal(34L)),
        Divide(Subtract(Subtract(emaf, emas), sig), d(10.0)), nullD),
      Literal("adx"),
      If(GreaterThanOrEqual(rn, q2L), Divide(adxraw, d(100.0)), nullD),
      Literal("adx_hist"),
      If(GreaterThanOrEqual(rn, q1L),
        Divide(Subtract(pdiOf(sPDM), pdiOf(sMDM)), d(100.0)), nullD)))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): IndicatorPackWindow =
    copy(price = newChildren(0), high = newChildren(1),
      low = newChildren(2), close = newChildren(3))
}
