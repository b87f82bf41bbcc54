package graft.etl

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference,
  AttributeSet, ExpressionSet, GenericInternalRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution,
  Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftplan.PlanFrames
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** F1–F3 as ONE sorted pass: the reference's per-ticker `break_dataframe`
  * → `add_missing_timestamps` → `fill_na` loop (indicators.py:151-211)
  * over each series' bars in time order.
  *
  * Each stage is optional; [[Sessionize]], [[Densify]] and [[Interpolate]]
  * each build the node with their own stage only, and the bars path
  * ([[graft.ind.IndicatorPipeline]], the registry's `pipeline_*` queries)
  * builds it with all three:
  *
  *  - split (`allowedGaps`, `name`): a gap between consecutive rows that
  *    is not in `allowedGaps` ends an island; islands of one row are
  *    dropped and the rest numbered from 0 (`island`) and labelled
  *    `"{name}-{island}"` (`sub_ticker`);
  *  - grid (`gridStep`): the grid rows `prev + step, …, ts - step` before
  *    every row whose gap exceeds the step, with null non-key columns;
  *  - fill (`fillCols`, DOUBLE): a null cell between two observed cells
  *    of its island (of its series without a split) becomes
  *    `pv + (nv − pv) · (idx − pi) / (ni − pi)` by 1-based row position,
  *    a leading null the first observed value and a trailing null the
  *    last. Only null is missing; NaN is a value.
  *
  * The operator asks for the series keys' hash exchange and a (series,
  * ts) sort, and declares (series[, island], ts) as its output ordering,
  * so the indicator kernels' window over (series, island) needs no sort
  * of its own. Work per row is constant; memory holds one island (one
  * series without a split).
  */
final case class SeriesScan(
    series: Seq[Attribute],
    ts: Attribute,
    allowedGaps: Seq[Long],
    name: Option[Attribute],
    gridStep: Option[Long],
    fillCols: Seq[Attribute],
    islandOutput: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {

  require(series.nonEmpty, "SeriesScan needs at least one series key")
  require(ts.dataType == LongType, s"SeriesScan: ${ts.name} must be BIGINT epoch time")
  require(name.forall(n => series.exists(_.exprId == n.exprId)),
    "SeriesScan: the island label column must be a series key")
  require(name.isDefined == islandOutput.nonEmpty)
  require(gridStep.forall(_ > 0), "SeriesScan: the grid step must be positive")
  // an allowed gap off the grid would end in an off-grid row
  require(name.isEmpty || gridStep.forall(s => allowedGaps.forall(_ % s == 0)),
    s"SeriesScan: allowed gaps ${allowedGaps.mkString(", ")} must be multiples " +
      s"of the grid step ${gridStep.getOrElse(0L)}")
  require(fillCols.forall(_.dataType == DoubleType),
    s"SeriesScan: fill columns must be DOUBLE: ${fillCols.mkString(", ")}")
  require(fillCols.forall(f => f.exprId != ts.exprId &&
    !series.exists(_.exprId == f.exprId)), "SeriesScan: fill columns are data columns")

  /** Input columns, then `island` and `sub_ticker` when splitting. With a
    * grid, every column but the keys and `ts` may be null. */
  override def output: Seq[Attribute] = child.output.map { a =>
    if (gridStep.isDefined && a.exprId != ts.exprId &&
      !series.exists(_.exprId == a.exprId)) a.withNullability(true) else a
  } ++ islandOutput

  override def producedAttributes: AttributeSet = AttributeSet(islandOutput)

  // The child's constraints do not hold here: a grid row has null cells.
  override protected lazy val validConstraints: ExpressionSet = ExpressionSet()

  override protected def withNewChildInternal(newChild: LogicalPlan): SeriesScan =
    copy(child = newChild)
}

object SeriesScan {

  /** `df` through one [[SeriesScan]] node, resolving the columns by name.
    *
    * @param split    allowed gaps (in `ts` units) and the label column, a
    *                 series key; adds `island` (BIGINT) and `sub_ticker`
    * @param gridStep grid step (in `ts` units)
    */
  def apply(
      df: DataFrame,
      series: Seq[String],
      ts: String,
      split: Option[(Seq[Long], String)],
      gridStep: Option[Long],
      fillCols: Seq[String]): DataFrame = {
    install(df.sparkSession)
    PlanFrames.transform(df) { plan =>
      def attr(n: String): Attribute =
        plan.output.filter(a => SQLConf.get.resolver(a.name, n)) match {
          case Seq(a) => a
          case found => throw new IllegalArgumentException(
            s"SeriesScan: column $n matches ${found.size} of ${plan.output.mkString(", ")}")
        }
      val name = split.map(s => attr(s._2))
      SeriesScan(series.map(attr), attr(ts), split.map(_._1).getOrElse(Nil), name,
        gridStep, fillCols.map(attr),
        name.toSeq.flatMap(n => Seq(
          AttributeReference("island", LongType, nullable = false)(),
          AttributeReference("sub_ticker", StringType, n.nullable)())),
        plan)
    }
  }

  /** Adds the planner strategy to the session once (idempotent). */
  def install(spark: SparkSession): Unit = {
    val ex = spark.asInstanceOf[classic.SparkSession].experimental
    if (!ex.extraStrategies.contains(SeriesScanStrategy))
      ex.extraStrategies = SeriesScanStrategy +: ex.extraStrategies
  }
}

/** Plans [[SeriesScan]] as [[SeriesScanExec]]. */
object SeriesScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: SeriesScan =>
      SeriesScanExec(s.series, s.ts, s.allowedGaps, s.name, s.gridStep, s.fillCols,
        s.islandOutput, s.output, planLater(s.child)) :: Nil
    case _ => Nil
  }
}

final case class SeriesScanExec(
    series: Seq[Attribute],
    ts: Attribute,
    allowedGaps: Seq[Long],
    name: Option[Attribute],
    gridStep: Option[Long],
    fillCols: Seq[Attribute],
    islandOutput: Seq[Attribute],
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(series) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (series :+ ts).map(SortOrder(_, Ascending)) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  /** Islands are numbered in time order, so (series, ts) order is also
    * (series, island, ts) order. */
  override def outputOrdering: Seq[SortOrder] =
    (series ++ islandOutput.take(1) :+ ts).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.output
    def ord(a: Attribute): Int = in.indexWhere(_.exprId == a.exprId)
    val types = in.map(_.dataType).toArray
    val outTypes = output.map(_.dataType).toArray
    val tsOrd = ord(ts)
    val fillOrds = fillCols.map(ord).toArray
    val isKey = in.map(a => series.exists(_.exprId == a.exprId)).toArray
    val gaps = if (name.isDefined) Some(allowedGaps.toSet) else None
    val nameOrd = name.map(ord).getOrElse(-1)
    val step = gridStep.getOrElse(0L)
    val numOut = longMetric("numOutputRows")
    val keys = series
    child.execute().mapPartitions { rows =>
      new SeriesScanner(rows, UnsafeProjection.create(keys, in), types, outTypes,
        tsOrd, fillOrds, isKey, gaps, nameOrd, step, numOut)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SeriesScanExec =
    copy(child = newChild)
}

/** The per-partition pass of [[SeriesScanExec]] over rows sorted by
  * (series, ts): collects one island, then emits its grid and filled rows.
  *
  * @param gaps    allowed gaps when splitting into islands
  * @param nameOrd ordinal of the island label (when splitting)
  * @param step    grid step, 0 for none
  */
private final class SeriesScanner(
    input: Iterator[InternalRow],
    keyOf: UnsafeProjection,
    types: Array[DataType],
    outTypes: Array[DataType],
    tsOrd: Int,
    fillOrds: Array[Int],
    isKey: Array[Boolean],
    gaps: Option[Set[Long]],
    nameOrd: Int,
    step: Long,
    numOut: SQLMetric) extends Iterator[InternalRow] {

  private val nIn = types.length
  private val fillOf = Array.tabulate(nIn)(i => fillOrds.indexOf(i))
  private val toUnsafe = UnsafeProjection.create(outTypes)
  private val out = new GenericInternalRow(outTypes.length)

  private val open = ArrayBuffer.empty[InternalRow] // copied rows of the open island
  private var key: UnsafeRow = null                  // series of the open island
  private var islandNo = 0L                          // next island number in the series
  private var pending: Iterator[InternalRow] = Iterator.empty

  override def hasNext: Boolean = {
    while (!pending.hasNext && (input.hasNext || open.nonEmpty)) advance()
    pending.hasNext
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    numOut += 1
    pending.next()
  }

  /** Reads rows until an island closes, or to the end of the input. */
  private def advance(): Unit = {
    while (input.hasNext) {
      val row = input.next()
      val k = keyOf(row)
      if (key == null || k != key) {
        close()
        key = k.copy()
        islandNo = 0L
      } else if (gaps.exists(g => splits(g, open.last, row))) close()
      open += row.copy()
      if (pending.hasNext) return
    }
    close()
  }

  /** A gap outside `g` ends the island; a null time has no gap. */
  private def splits(g: Set[Long], prev: InternalRow, row: InternalRow): Boolean =
    !prev.isNullAt(tsOrd) && !row.isNullAt(tsOrd) &&
      !g.contains(row.getLong(tsOrd) - prev.getLong(tsOrd))

  private def close(): Unit = {
    val rows = open.toArray
    open.clear()
    if (rows.nonEmpty && (gaps.isEmpty || rows.length >= 2)) {
      pending = emit(rows, islandNo)
      islandNo += 1
    }
  }

  /** The island's rows with grid rows in their gaps, fill columns filled. */
  private def emit(rows: Array[InternalRow], no: Long): Iterator[InternalRow] = {
    val src = ArrayBuffer.empty[Int]      // observed row of each slot, -1 on the grid
    val gridTs = ArrayBuffer.empty[Long]
    var j = 0
    while (j < rows.length) {
      if (step > 0 && j > 0 && !rows(j - 1).isNullAt(tsOrd) && !rows(j).isNullAt(tsOrd)) {
        val cur = rows(j).getLong(tsOrd)
        var t = rows(j - 1).getLong(tsOrd) + step
        while (t <= cur - step) { src += -1; gridTs += t; t += step }
      }
      src += j; gridTs += 0L
      j += 1
    }
    val n = src.length
    val filled = fillOrds.map(o => fill(n, k => src(k) >= 0 && !rows(src(k)).isNullAt(o),
      k => rows(src(k)).getDouble(o)))
    val label =
      if (nameOrd < 0 || rows(0).isNullAt(nameOrd)) null
      else UTF8String.concat(rows(0).getUTF8String(nameOrd), UTF8String.fromString(s"-$no"))

    Iterator.tabulate(n) { k =>
      val r = if (src(k) >= 0) rows(src(k)) else null
      var i = 0
      while (i < nIn) {
        val f = fillOf(i)
        out.update(i,
          if (f >= 0) { val (v, has) = filled(f); if (has(k)) v(k) else null }
          else if (r != null) r.get(i, types(i))
          else if (i == tsOrd) gridTs(k)
          else if (isKey(i)) rows(0).get(i, types(i))
          else null)
        i += 1
      }
      if (nameOrd >= 0) { out.update(nIn, no); out.update(nIn + 1, label) }
      toUnsafe(out)
    }
  }

  /** One fill column over `n` slots: observed cells stay, the rest
    * interpolate by position between the neighbouring observed cells
    * (1-based positions, the arithmetic of the window formulation) or
    * take the one neighbour there is. */
  private def fill(n: Int, observed: Int => Boolean,
      value: Int => Double): (Array[Double], Array[Boolean]) = {
    val v = new Array[Double](n)
    val has = new Array[Boolean](n)
    val pv = new Array[Double](n)
    val pi = new Array[Int](n) // 0: no observed cell before
    var lastV = 0.0
    var lastI = 0
    var k = 0
    while (k < n) {
      if (observed(k)) { v(k) = value(k); has(k) = true; lastV = v(k); lastI = k + 1 }
      pv(k) = lastV
      pi(k) = lastI
      k += 1
    }
    var nv = 0.0
    var ni = 0 // 0: no observed cell after
    k = n - 1
    while (k >= 0) {
      if (has(k)) { nv = v(k); ni = k + 1 }
      else if (pi(k) > 0) {
        v(k) = if (ni > 0) pv(k) + (nv - pv(k)) * ((k + 1 - pi(k)).toDouble / (ni - pi(k)).toDouble)
          else pv(k)
        has(k) = true
      } else if (ni > 0) { v(k) = nv; has(k) = true }
      k -= 1
    }
    (v, has)
  }
}
