package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._

/** The frame-indicator periods (TA-Lib 0.4.32 parameters; reference
  * stockdata/indicators.py:106-114): ROCP lags 1..numPrevRocp−1, MFI,
  * the three ULTOSC periods, AROONOSC, STOCHF fastK/fastD and the PPO
  * fast/slow SMAs. MOM's period is TA-Lib's fixed 10. */
case class FramePeriods(
    numPrevRocp: Int, mfi: Int, ultosc1: Int, ultosc2: Int, ultosc3: Int,
    aroon: Int, fastK: Int, fastD: Int, ppoFast: Int, ppoSlow: Int) {
  require(productIterator.forall(_.asInstanceOf[Int] > 0),
    s"graft_frame_w periods must be positive, got $this")

  /** Rows of history every fold and lag reaches back over, the
    * current row included. */
  val capacity: Int = Seq(FrameIndicatorWindow.MomPeriod + 1, numPrevRocp, mfi,
    ultosc1, ultosc2, ultosc3, aroon + 1, fastK, fastD, ppoFast, ppoSlow).max
}

/** The frame indicators — ROCP, MOM, MFI, ULTOSC, AROONOSC, STOCHF and
  * PPO (TA-Lib 0.4.32; reference stockdata/indicators.py:314-457) — as
  * ONE running-frame window function:
  * struct(rn, rocp_1..rocp_{n−1}, mom, mfi, ultosc, aroonosc, ppo, sok,
  * sok_hist). SQL: `graft_frame_w(price, close, high, low, volume,
  * numPrevRocp, mfi, ultosc1, ultosc2, ultosc3, aroon, fastK, fastD,
  * ppoFast, ppoSlow) OVER (PARTITION BY … ORDER BY …)`, periods INT
  * literals.
  *
  * As built-in window expressions they need about 20 distinct frames,
  * each with its own generated classes, and the day pipeline then needs
  * more classes than Spark's JVM-wide codegen cache holds, so every run
  * recompiles them. Here one buffer slot holds a [[FrameIndicatorState]]
  * (ring buffers bounded by the largest lookback) that the Window
  * operator folds row by row over the pinned ROWS UNBOUNDED
  * PRECEDING..CURRENT ROW frame, in the same operator as `graft_ind_w`.
  * It is an `AggregateWindowFunction`, not a `TypedImperativeAggregate`:
  * Spark's analyzer wraps any other aggregate in an
  * `AggregateExpression`, whose frame it neither pins nor checks, while
  * a call of this one without OVER or with another frame fails at
  * analysis.
  *
  * The results are bit-identical to the window-expression formulation
  * (kept as the test reference) because the state replays Spark's own
  * folds; see [[FrameIndicatorState]].
  */
case class FrameIndicatorWindow(
    price: Expression,
    close: Expression,
    high: Expression,
    low: Expression,
    volume: Expression,
    periods: FramePeriods)
  extends AggregateWindowFunction {

  override def children: Seq[Expression] = Seq(price, close, high, low, volume)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(
    FrameIndicatorWindow.fieldNames(periods.numPrevRocp).map {
      case "rn" => StructField("rn", IntegerType, nullable = false)
      case f => StructField(f, DoubleType)
    })
  override def prettyName: String = "graft_frame_w"

  private val state = AttributeReference("state",
    ObjectType(classOf[FrameIndicatorState]), nullable = false)()

  override val aggBufferAttributes: Seq[AttributeReference] = Seq(state)
  override val initialValues: Seq[Expression] = Seq(NewFrameState(periods))
  override val updateExpressions: Seq[Expression] =
    Seq(FrameStateUpdate(state +: children.map(Cast(_, DoubleType))))
  override val evaluateExpression: Expression = FrameStateResult(state, dataType)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FrameIndicatorWindow =
    copy(price = newChildren(0), close = newChildren(1), high = newChildren(2),
      low = newChildren(3), volume = newChildren(4))
}

object FrameIndicatorWindow {
  val MomPeriod = 10

  /** Output fields in struct order. */
  def fieldNames(numPrevRocp: Int): Seq[String] =
    ("rn" +: (1 until numPrevRocp).map(k => s"rocp_$k")) ++
      Seq("mom", "mfi", "ultosc", "aroonosc", "ppo", "sok", "sok_hist")
}

/** A fresh [[FrameIndicatorState]] for each window partition. */
private[functions] case class NewFrameState(periods: FramePeriods)
    extends LeafExpression {
  override def nullable: Boolean = false
  override def dataType: DataType = ObjectType(classOf[FrameIndicatorState])
  override def eval(input: InternalRow): Any = new FrameIndicatorState(periods)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("framePeriods", periods, classOf[FramePeriods].getName)
    ev.copy(code = code"""
      |final ${classOf[FrameIndicatorState].getName} ${ev.value} =
      |  new ${classOf[FrameIndicatorState].getName}($p);""".stripMargin,
      isNull = FalseLiteral)
  }
}

/** Folds one row (price, close, high, low, volume) into the state and
  * returns the same state object. */
private[functions] case class FrameStateUpdate(children: Seq[Expression])
    extends Expression {
  override def nullable: Boolean = false
  override def dataType: DataType = children.head.dataType

  override def eval(input: InternalRow): Any = {
    val s = children.head.eval(input).asInstanceOf[FrameIndicatorState]
    val xs = children.tail.map(_.eval(input))
    def d(i: Int): Double = if (xs(i) == null) 0.0 else xs(i).asInstanceOf[Double]
    s.update(xs(0) == null, d(0), xs(1) == null, d(1), xs(2) == null, d(2),
      xs(3) == null, d(3), xs(4) == null, d(4))
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val st = children.head.genCode(ctx)
    val xs = children.tail.map(_.genCode(ctx))
    val args = xs.map(x => s"${x.isNull}, ${x.value}").mkString(", ")
    ev.copy(code = code"""
      |${st.code}
      |${xs.map(_.code).mkString("\n")}
      |${st.value}.update($args);
      |final ${classOf[FrameIndicatorState].getName} ${ev.value} = ${st.value};""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FrameStateUpdate = copy(children = newChildren)
}

/** The current row's output struct. */
private[functions] case class FrameStateResult(child: Expression, dataType: DataType)
    extends UnaryExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    child.eval(input).asInstanceOf[FrameIndicatorState].result()
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val st = child.genCode(ctx)
    ev.copy(code = code"""
      |${st.code}
      |final InternalRow ${ev.value} = ${st.value}.result();""".stripMargin,
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): FrameStateResult =
    copy(child = newChild)
}

/** Running state of [[FrameIndicatorWindow]] over one series: the row
  * count, the previous close and typical price, and one ring buffer per
  * folded series, each holding the last [[FramePeriods.capacity]] rows.
  *
  * Each row's outputs replay the window-expression formulation's
  * evaluation exactly, so the doubles are bit-identical to it:
  *  - a sliding ROWS frame is folded oldest → newest from its initial
  *    value, as `SlidingWindowFunctionFrame` recomputes it;
  *  - `sum` starts at null and adds `coalesce(s, 0.0) + x` over non-null
  *    x; `avg` starts at 0.0, adds `coalesce(x, 0.0)` and divides by the
  *    non-null count (null when 0);
  *  - `max`/`min`/`greatest`/`least` skip nulls and replace only on a
  *    strictly better value under `SQLOrderingUtil.compareDoubles` (NaN
  *    largest, −0.0 = 0.0), which every double comparison uses;
  *  - AROONOSC's `max(struct(v, rn))` orders a null `v` first and gives
  *    ties on `v` to the later row;
  *  - `try_divide` is null on a null operand or a zero divisor (−0.0
  *    included).
  */
final class FrameIndicatorState(p: FramePeriods) {
  import FrameIndicatorState._

  private val cap = p.capacity
  private val sokFrom = p.fastK + p.fastD - 1
  private var n = 0 // rows folded so far; the current row's rn
  private var prevClose: D = null
  private var prevTp: D = null
  private var out: InternalRow = _

  /** One series' values for the last `cap` rows, by row index. */
  private final class Ring {
    private val v = new Array[Double](cap)
    private val ok = new Array[Boolean](cap)
    def put(i: Int, x: D): Unit = {
      ok(i % cap) = x != null
      v(i % cap) = if (x == null) 0.0 else x.doubleValue
    }
    def isNull(i: Int): Boolean = !ok(i % cap)
    def at(i: Int): Double = v(i % cap)
    def get(i: Int): D = if (i < 0 || isNull(i)) null else at(i)

    /** `sum` over the last w rows. */
    def sum(w: Int): D = {
      var s = 0.0
      var any = false
      var i = math.max(0, n - w)
      while (i < n) {
        if (ok(i % cap)) { s += v(i % cap); any = true }
        i += 1
      }
      if (any) s else null
    }

    /** `avg` over the last w rows. */
    def avg(w: Int): D = {
      var s = 0.0
      var c = 0L
      var i = math.max(0, n - w)
      while (i < n) {
        if (ok(i % cap)) { s += v(i % cap); c += 1 } else s += 0.0
        i += 1
      }
      if (c == 0L) null else s / c.toDouble
    }

    /** `max` (sign 1) or `min` (sign −1) over the last w rows. */
    def extreme(w: Int, sign: Int): D = {
      var m = 0.0
      var any = false
      var i = math.max(0, n - w)
      while (i < n) {
        if (ok(i % cap) && (!any || cmp(v(i % cap), m) * sign > 0)) {
          m = v(i % cap); any = true
        }
        i += 1
      }
      if (any) m else null
    }

    /** rn of `max(struct(v, rn))` over the last w rows, v = x or −x. */
    def argMaxRn(w: Int, negate: Boolean): Int = {
      def key(i: Int): Double = if (negate) -at(i) else at(i)
      var b = math.max(0, n - w)
      var i = b + 1
      while (i < n) {
        val c =
          if (isNull(i)) { if (isNull(b)) 0 else -1 }
          else if (isNull(b)) 1
          else cmp(key(i), key(b))
        if (c >= 0) b = i // equal v: the later row's larger rn wins
        i += 1
      }
      b + 1
    }
  }

  private val px, hi, lo, posMf, negMf, bp, tr, sokRaw = new Ring

  /** Folds the next row of the series. */
  def update(pNull: Boolean, pv: Double, cNull: Boolean, cv: Double,
      hNull: Boolean, hv: Double, lNull: Boolean, lv: Double,
      vNull: Boolean, vv: Double): Unit = {
    val price: D = if (pNull) null else pv
    val c: D = if (cNull) null else cv
    val h: D = if (hNull) null else hv
    val l: D = if (lNull) null else lv
    val vol: D = if (vNull) null else vv
    val i = n
    n += 1

    val tp: D = if (h == null || l == null || c == null) null else (h + l + c) / 3.0
    val dtp = sub(tp, prevTp)
    val mf = mul(tp, vol)
    val pc = prevClose
    px.put(i, price); hi.put(i, h); lo.put(i, l)
    posMf.put(i, if (dtp == null) null else if (cmp(dtp, 0.0) > 0) mf else ZeroD)
    negMf.put(i, if (dtp == null) null else if (cmp(dtp, 0.0) < 0) mf else ZeroD)
    bp.put(i, if (pc == null) null else sub(c, least(l, pc)))
    tr.put(i, if (pc == null) null else sub(greatest(h, pc), least(l, pc)))
    prevClose = c
    prevTp = tp

    val hh = hi.extreme(p.fastK, 1)
    val ll = lo.extreme(p.fastK, -1)
    sokRaw.put(i, if (n >= p.fastK) tryDiv(sub(c, ll), sub(hh, ll)) else null)
    val sok = sokRaw.get(i)

    val row = new Array[Any](p.numPrevRocp + 7)
    row(0) = n
    var k = 1
    while (k < p.numPrevRocp) {
      row(k) = tryDiv(sub(price, px.get(i - k)), px.get(i - k))
      k += 1
    }
    val posSum = posMf.sum(p.mfi)
    val smaSlow = px.avg(p.ppoSlow)
    val rest = Seq[Any](
      sub(price, px.get(i - FrameIndicatorWindow.MomPeriod)),
      when(n >= p.mfi + 1, tryDiv(posSum, add(posSum, negMf.sum(p.mfi)))),
      when(n >= p.ultosc3 + 1, div(add(add(
        mul(4.0, tryDiv(bp.sum(p.ultosc1), tr.sum(p.ultosc1))),
        mul(2.0, tryDiv(bp.sum(p.ultosc2), tr.sum(p.ultosc2)))),
        tryDiv(bp.sum(p.ultosc3), tr.sum(p.ultosc3))), 7.0)),
      when(n >= p.aroon + 1,
        (hi.argMaxRn(p.aroon + 1, negate = false) -
          lo.argMaxRn(p.aroon + 1, negate = true)).toDouble / p.aroon.toDouble),
      when(n >= p.ppoSlow, tryDiv(sub(px.avg(p.ppoFast), smaSlow), smaSlow)),
      when(n >= sokFrom, sok),
      when(n >= sokFrom, sub(sok, sokRaw.avg(p.fastD))))
    rest.copyToArray(row, p.numPrevRocp)
    out = new GenericInternalRow(row)
  }

  /** The output struct of the last row folded. */
  def result(): InternalRow = out
}

private object FrameIndicatorState {
  /** A nullable SQL double: null is SQL NULL. */
  type D = java.lang.Double
  val ZeroD: D = 0.0

  def cmp(a: Double, b: Double): Int = SQLOrderingUtil.compareDoubles(a, b)
  def sub(a: D, b: D): D = if (a == null || b == null) null else a - b
  def add(a: D, b: D): D = if (a == null || b == null) null else a + b
  def mul(a: D, b: D): D = if (a == null || b == null) null else a * b
  def div(a: D, b: Double): D = if (a == null) null else a / b
  def tryDiv(a: D, b: D): D =
    if (a == null || b == null || b.doubleValue == 0.0) null else a / b
  def when(cond: Boolean, x: => D): D = if (cond) x else null
  /** `least(a, b)`: b replaces a only when strictly smaller. */
  def least(a: D, b: D): D =
    if (b == null || (a != null && cmp(b, a) >= 0)) a else b
  def greatest(a: D, b: D): D =
    if (b == null || (a != null && cmp(b, a) <= 0)) a else b
}
