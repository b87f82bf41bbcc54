package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** Wilder ATR (Average True Range) as an incremental window state
  * machine — TA-Lib's ATR kernel (the reference's indicator
  * family, stockdata/indicators.py:314-457 uses its TRANGE inside ADX):
  *
  *  - TR₁ = high₁ − low₁ (no previous close yet);
  *    TRᵢ = greatest(highᵢ, closeᵢ₋₁) − least(lowᵢ, closeᵢ₋₁)
  *    (≡ max(h−l, |h−prevC|, |l−prevC|));
  *  - seed at 1-based row `period`: SMA of TR₁..TR_period;
  *  - after: atr = (prev·(period−1) + TR) / period.
  *
  * Output stays in price units (the reference's /100 scaling applies to
  * oscillators, not price-unit series); warm-up rows emit null. The
  * DuckDB oracle mirrors this arithmetic in a recursive CTE
  * (TsQueries.oracles "ind_atr") operation-for-operation.
  *
  * Buffer = (rn, prevClose, trSeedSum, atr). `Greatest`/`Least` skip
  * null inputs, so the null prevClose on row 1 degrades to h−l exactly.
  */
case class AtrWindow(high: Expression, low: Expression, close: Expression,
    period: Int = 14) extends AggregateWindowFunction {

  override def children: Seq[Expression] = Seq(high, low, close)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private val pD = Literal(period.toDouble)
  private val pm1D = Literal((period - 1).toDouble)
  private val seedRow = Literal(period.toLong) // 1-based rn of the seed

  private val rn = AttributeReference("rn", LongType, nullable = false)()
  private val prevC = AttributeReference("prevC", DoubleType, nullable = true)()
  private val trsum = AttributeReference("trsum", DoubleType, nullable = false)()
  private val atr = AttributeReference("atr", DoubleType, nullable = true)()

  override val aggBufferAttributes: Seq[AttributeReference] =
    Seq(rn, prevC, trsum, atr)

  private val nullD = Literal.create(null, DoubleType)

  override val initialValues: Seq[Expression] =
    Seq(Literal(0L), nullD, Literal(0.0), nullD)

  override val updateExpressions: Seq[Expression] = {
    val h = Cast(high, DoubleType)
    val l = Cast(low, DoubleType)
    val c = Cast(close, DoubleType)
    val rn1 = Add(rn, Literal(1L))
    val tr = Subtract(Greatest(Seq(h, prevC)), Least(Seq(l, prevC)))
    val trsum1 = If(LessThanOrEqual(rn1, seedRow), Add(trsum, tr), trsum)
    val atr1 = CaseWhen(Seq(
      (LessThan(rn1, seedRow), nullD),
      (EqualTo(rn1, seedRow), Divide(Add(trsum, tr), pD))),
      Divide(Add(Multiply(atr, pm1D), tr), pD))
    Seq(rn1, c, trsum1, atr1)
  }

  override val evaluateExpression: Expression = atr
  override def prettyName: String = "graft_atr_w"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AtrWindow =
    copy(high = newChildren(0), low = newChildren(1), close = newChildren(2))
}

/** Single/double/triple EMA from ONE incremental state machine:
  * struct(e1, e2, e3) where e1 = EMA(price), e2 = EMA(e1), e3 = EMA(e2),
  * all seeded with the first price (e1₁ = e2₁ = e3₁ = price₁) and
  * smoothed with α = 2/(period+1):
  *
  *   e1ᵢ = α·priceᵢ + (1−α)·e1ᵢ₋₁
  *   e2ᵢ = α·e1ᵢ    + (1−α)·e2ᵢ₋₁   (uses the CURRENT e1)
  *   e3ᵢ = α·e2ᵢ    + (1−α)·e3ᵢ₋₁   (uses the CURRENT e2)
  *
  * One pass yields EMA, DEMA (2·e1−e2), TEMA (3·e1−3·e2+e3) and TRIX
  * ((e3−lag e3)/lag e3) — the EMA family of the reference's TA-Lib
  * surface (stockdata/indicators.py builds MACD from the same EMA
  * primitive, indicators.py:178-209). Running e2/e3 as stacked window
  * calls would re-run the upstream state machine per layer; this emits
  * all three from one buffer on the shared per-ticker exchange.
  *
  * The DuckDB oracle mirrors the recursion operation-for-operation in a
  * recursive CTE (`Ts2Queries.oracles`): α and 1−α are spelled as the
  * same literal arithmetic (2.0/(p+1), 1.0 − 2.0/(p+1)) on both engines,
  * so every row is bit-identical before the r6 mask.
  */
/** Adaptive exponential smoothing with a PER-ROW coefficient:
  * y ← y + c·(x − y), seeded y = x at the first row where both the
  * value and the coefficient are non-null (rows before that emit
  * null; a mid-stream null in either is transparent — state carries). The general primitive
  * behind KAMA (coefficient = squared Kaufman smoothing constant from
  * the efficiency ratio), VIDYA (CMO-scaled α) and any
  * volatility-gated EMA: the coefficient column is computed upstream
  * with plain frame sums on the SAME window exchange, and the
  * recursion itself is this one-value state machine.
  */
case class AdaptiveEmaWindow(x: Expression, c: Expression)
    extends AggregateWindowFunction {

  override def children: Seq[Expression] = Seq(x, c)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private val y = AttributeReference("y", DoubleType, nullable = true)()

  override val aggBufferAttributes: Seq[AttributeReference] = Seq(y)
  override val initialValues: Seq[Expression] =
    Seq(Literal.create(null, DoubleType))

  override val updateExpressions: Seq[Expression] = {
    val xd = Cast(x, DoubleType)
    val cd = Cast(c, DoubleType)
    // A null observation (x OR c) is transparent: state carries, the
    // row emits the carried value. Without the IsNull(xd) guard a
    // mid-stream null x would null the buffer and the NEXT row would
    // silently re-seed the recursion — a latent divergence no
    // all-non-null fixture can catch.
    Seq(If(Or(IsNull(cd), IsNull(xd)), y,
      If(IsNull(y), xd, Add(y, Multiply(cd, Subtract(xd, y))))))
  }

  override val evaluateExpression: Expression = y

  override def prettyName: String = "graft_adaptive_ema_w"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AdaptiveEmaWindow =
    copy(x = newChildren(0), c = newChildren(1))
}

/** Heikin-Ashi candle recursion as one incremental window state:
  *
  *   hac_t = (O + H + L + C) / 4                       (direct)
  *   hao_1 = (O₁ + C₁) / 2;  hao_t = (hao_{t−1} + hac_{t−1}) / 2
  *
  * Emits struct(hao, hac); ha_high/ha_low are plain greatest/least
  * projections over (H, hao, hac) / (L, hao, hac) outside the kernel.
  * The DuckDB oracle (`Ts2Queries.oracles` "ind_heikin") mirrors the
  * recursion in a recursive CTE with the identical left-associated
  * arithmetic, so every row is bit-equal before the r6 mask. Buffer =
  * (rn, hao, hac) — the smoothing α=1/2 halves are exact in binary,
  * but the SUMS are order-sensitive, hence the fixed (((o+h)+l)+c)
  * association on both engines.
  */
case class HeikinAshiWindow(open: Expression, high: Expression,
    low: Expression, close: Expression) extends AggregateWindowFunction {

  override def children: Seq[Expression] = Seq(open, high, low, close)
  override def dataType: DataType = StructType(Seq(
    StructField("hao", DoubleType), StructField("hac", DoubleType)))
  override def nullable: Boolean = true

  private val rn = AttributeReference("rn", LongType, nullable = false)()
  private val hao = AttributeReference("hao", DoubleType, nullable = true)()
  private val hac = AttributeReference("hac", DoubleType, nullable = true)()

  override val aggBufferAttributes: Seq[AttributeReference] =
    Seq(rn, hao, hac)

  override val initialValues: Seq[Expression] = Seq(Literal(0L),
    Literal.create(null, DoubleType), Literal.create(null, DoubleType))

  override val updateExpressions: Seq[Expression] = {
    val o = Cast(open, DoubleType)
    val h = Cast(high, DoubleType)
    val l = Cast(low, DoubleType)
    val c = Cast(close, DoubleType)
    val hacN = Divide(Add(Add(Add(o, h), l), c), Literal(4.0))
    val haoN = If(EqualTo(rn, Literal(0L)),
      Divide(Add(o, c), Literal(2.0)),
      Divide(Add(hao, hac), Literal(2.0)))
    Seq(Add(rn, Literal(1L)), haoN, hacN)
  }

  override val evaluateExpression: Expression = CreateNamedStruct(Seq(
    Literal("hao"), hao, Literal("hac"), hac))

  override def prettyName: String = "graft_ha_w"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HeikinAshiWindow =
    copy(open = newChildren(0), high = newChildren(1),
      low = newChildren(2), close = newChildren(3))
}

/** Supertrend(10, 3) — the ATR-band stop-and-reverse recursion as one
  * incremental window state machine:
  *
  *   tr₁ = H−L;  trₜ = max(H−L, |H−Cₜ₋₁|, |L−Cₜ₋₁|)
  *   atr₁ = tr₁; atrₜ = (atrₜ₋₁·9 + trₜ)/10        (Wilder, seed TR₁)
  *   ubB = (H+L)/2 + 3·atr;  lbB = (H+L)/2 − 3·atr  (basic bands)
  *   ubₜ = ubB if (ubB < ubₜ₋₁ or Cₜ₋₁ > ubₜ₋₁) else ubₜ₋₁  (final bands
  *   lbₜ = lbB if (lbB > lbₜ₋₁ or Cₜ₋₁ < lbₜ₋₁) else lbₜ₋₁   ratchet)
  *   dir: −1 flips to +1 when C > ubₜ; +1 flips to −1 when C < lbₜ;
  *        seeded by C₁ vs ubB₁.
  *   st = ub when dir = −1 (resistance), lb when dir = +1 (support).
  *
  * Emits struct(atr, ub, lb, dir, st). The DuckDB oracle
  * (`Ts2Queries.oracles` "ind_supertrend") mirrors the recursion in a
  * recursive CTE with identical left-associated arithmetic, so every
  * row is bit-equal before the r6 mask. Buffer = (rn, prev close,
  * atr, ub, lb, dir). Constants (period 10, multiplier 3) are baked —
  * the band ratchet and flip logic is the operator under test, not
  * the parameterization.
  */
case class SupertrendWindow(high: Expression, low: Expression,
    close: Expression) extends AggregateWindowFunction {

  override def children: Seq[Expression] = Seq(high, low, close)
  override def dataType: DataType = StructType(Seq(
    StructField("atr", DoubleType), StructField("ub", DoubleType),
    StructField("lb", DoubleType), StructField("dir", LongType),
    StructField("st", DoubleType)))
  override def nullable: Boolean = true

  private val rn = AttributeReference("rn", LongType, nullable = false)()
  private val cp = AttributeReference("cp", DoubleType, nullable = true)()
  private val atr = AttributeReference("atr", DoubleType, nullable = true)()
  private val ub = AttributeReference("ub", DoubleType, nullable = true)()
  private val lb = AttributeReference("lb", DoubleType, nullable = true)()
  private val dir = AttributeReference("dir", LongType, nullable = true)()

  override val aggBufferAttributes: Seq[AttributeReference] =
    Seq(rn, cp, atr, ub, lb, dir)

  override val initialValues: Seq[Expression] = Seq(Literal(0L),
    Literal.create(null, DoubleType), Literal.create(null, DoubleType),
    Literal.create(null, DoubleType), Literal.create(null, DoubleType),
    Literal.create(null, LongType))

  override val updateExpressions: Seq[Expression] = {
    val h = Cast(high, DoubleType)
    val l = Cast(low, DoubleType)
    val c = Cast(close, DoubleType)
    val first = EqualTo(rn, Literal(0L))
    val tr = If(first, Subtract(h, l),
      Greatest(Seq(Subtract(h, l),
        Abs(Subtract(h, cp)), Abs(Subtract(l, cp)))))
    val atrN = If(first, tr,
      Divide(Add(Multiply(atr, Literal(9.0)), tr), Literal(10.0)))
    val mid = Divide(Add(h, l), Literal(2.0))
    val ubB = Add(mid, Multiply(Literal(3.0), atrN))
    val lbB = Subtract(mid, Multiply(Literal(3.0), atrN))
    val ubN = If(first, ubB,
      If(Or(LessThan(ubB, ub), GreaterThan(cp, ub)), ubB, ub))
    val lbN = If(first, lbB,
      If(Or(GreaterThan(lbB, lb), LessThan(cp, lb)), lbB, lb))
    val dirN = If(first,
      If(GreaterThan(c, ubB), Literal(1L), Literal(-1L)),
      If(EqualTo(dir, Literal(-1L)),
        If(GreaterThan(c, ubN), Literal(1L), Literal(-1L)),
        If(LessThan(c, lbN), Literal(-1L), Literal(1L))))
    Seq(Add(rn, Literal(1L)), c, atrN, ubN, lbN, dirN)
  }

  override val evaluateExpression: Expression = CreateNamedStruct(Seq(
    Literal("atr"), atr, Literal("ub"), ub, Literal("lb"), lb,
    Literal("dir"), dir,
    Literal("st"), If(EqualTo(dir, Literal(1L)), lb, ub)))

  override def prettyName: String = "graft_st_w"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SupertrendWindow =
    copy(high = newChildren(0), low = newChildren(1),
      close = newChildren(2))
}

/** GARCH(1,1)-style conditional variance filter as one incremental
  * window state:
  *
  *   y₁ = x₁;  yₜ = ω + α·xₜ + β·yₜ₋₁      (ω = 0.05, α = 0.1, β = 0.85)
  *
  * where x is the squared innovation (computed upstream on the SAME
  * exchange — a lag diff squared). Unlike the plain EWMA variance
  * (`ts_ewm_vol`, which is the ω = 0, α + β = 1 corner), the ω > 0
  * mean-reversion floor keeps the conditional variance from collapsing
  * to zero in quiet stretches — the property risk engines run GARCH
  * for. The DuckDB oracle mirrors the recursion in a recursive CTE
  * with the identical left-associated arithmetic
  * ((ω + α·x) + β·y). Null x is transparent: state carries, the row
  * emits the carried variance.
  */
case class GarchWindow(x: Expression) extends AggregateWindowFunction {

  override def children: Seq[Expression] = Seq(x)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private val y = AttributeReference("y", DoubleType, nullable = true)()

  override val aggBufferAttributes: Seq[AttributeReference] = Seq(y)
  override val initialValues: Seq[Expression] =
    Seq(Literal.create(null, DoubleType))

  override val updateExpressions: Seq[Expression] = {
    val xd = Cast(x, DoubleType)
    Seq(If(IsNull(xd), y,
      If(IsNull(y), xd,
        Add(Add(Literal(0.05), Multiply(Literal(0.1), xd)),
          Multiply(Literal(0.85), y)))))
  }

  override val evaluateExpression: Expression = y

  override def prettyName: String = "graft_garch_w"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GarchWindow =
    copy(x = newChildren(0))
}

case class EmaTripleWindow(price: Expression, period: Int)
    extends AggregateWindowFunction {

  override def children: Seq[Expression] = Seq(price)
  override def dataType: DataType = StructType(Seq(
    StructField("e1", DoubleType), StructField("e2", DoubleType),
    StructField("e3", DoubleType)))
  override def nullable: Boolean = true

  private val a = Literal(2.0 / (period + 1))
  private val b = Literal(1.0 - 2.0 / (period + 1))

  private val rn = AttributeReference("rn", LongType, nullable = false)()
  private val e1 = AttributeReference("e1", DoubleType, nullable = true)()
  private val e2 = AttributeReference("e2", DoubleType, nullable = true)()
  private val e3 = AttributeReference("e3", DoubleType, nullable = true)()

  override val aggBufferAttributes: Seq[AttributeReference] =
    Seq(rn, e1, e2, e3)

  override val initialValues: Seq[Expression] = Seq(Literal(0L),
    Literal.create(null, DoubleType), Literal.create(null, DoubleType),
    Literal.create(null, DoubleType))

  override val updateExpressions: Seq[Expression] = {
    val x = Cast(price, DoubleType)
    val first = EqualTo(rn, Literal(0L))
    val e1n = If(first, x, Add(Multiply(a, x), Multiply(b, e1)))
    val e2n = If(first, x, Add(Multiply(a, e1n), Multiply(b, e2)))
    val e3n = If(first, x, Add(Multiply(a, e2n), Multiply(b, e3)))
    Seq(Add(rn, Literal(1L)), e1n, e2n, e3n)
  }

  override val evaluateExpression: Expression = CreateNamedStruct(Seq(
    Literal("e1"), e1, Literal("e2"), e2, Literal("e3"), e3))

  override def prettyName: String = "graft_ema3_w"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EmaTripleWindow =
    copy(price = newChildren(0))
}
