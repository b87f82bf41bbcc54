package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dot product over two ARRAY<DOUBLE> columns.
  *
  * Spark's higher-order functions (`aggregate`/`zip_with`) evaluate
  * their lambdas interpreted, outside whole-stage codegen — on an
  * O(n²)-pair similarity join that interpreter loop dominates the
  * runtime. This expression compiles to a tight scalar loop inside the
  * generated code (builder-prompt preference order: custom Catalyst
  * Expression over UDF).
  *
  * Summation is sequential left-to-right — the SAME operation order as
  * the `aggregate(transform(...))` fold it replaces and as the DuckDB
  * oracle's `list_reduce`, so results stay bit-identical.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}_s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = ${ev.value}_s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** Native codegen'd squared-L2 distance over two ARRAY<DOUBLE> columns
  * — the fused form of
  * `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D,
  * (s, z) -> s + z)`, whose lambdas evaluate interpreted per element
  * per row (and materialize the intermediate squares array). The PQ
  * codebook argmin and the ADC lookup-table build run this fold
  * n·blocks·16 times per query, so the interpreter tax dominates those
  * stages (guide §4).
  *
  * Summation is sequential left-to-right over (x_i − y_i)² in element
  * order — the SAME operation order and rounding as the zip_with +
  * aggregate fold it replaces and as the DuckDB oracle's list fold, so
  * results stay bit-identical.
  */
case class L2Distance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_l2 expects (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  ${ev.value}_s += $d * $d;
         |}
         |${ev.value} = ${ev.value}_s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Distance =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_l2"
}

/** Runtime registration of graft's native functions into an existing
  * session's FunctionRegistry (the driver owns session construction, so
  * SparkSessionExtensions isn't available to us; this is the documented
  * runtime path the extensions API wraps).
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.types.IntegerType

  private def litInt(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT parameter, got $other")
  }

  /** Fail on unexpected arity instead of silently dropping arguments —
    * a caller passing a period to a fixed-constant kernel (graft_ind_w's
    * MACDFIX is fixed by definition) must hear about it at analysis
    * time, not get default behavior.
    */
  private def arity(name: String, ns: Int*)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    cs => {
      require(ns.contains(cs.length),
        s"$name expects ${ns.mkString(" or ")} argument(s), got ${cs.length}")
      b(cs)
    }

  /** The single catalog of every graft function: name, implementing
    * class, and arity-checked builder. Consumed by BOTH registration
    * paths — [[register]] (runtime, pre-existing session) and
    * [[GraftExtensions]] (SparkSessionExtensions injection) — so they
    * can never drift apart.
    */
  val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct],
      arity("graft_dot", 2)(cs => DotProduct(cs(0), cs(1)))),
    ("graft_l2", classOf[L2Distance],
      arity("graft_l2", 2)(cs => L2Distance(cs(0), cs(1)))),
    ("graft_dtw_band", classOf[DtwBandExpr],
      arity("graft_dtw_band", 3)(cs => DtwBandExpr(cs(0), cs(1), cs(2)))),
    ("graft_uni_dp", classOf[UniDpExpr],
      arity("graft_uni_dp", 2)(cs => UniDpExpr(cs(0), cs(1)))),
    ("graft_uni_dp_score", classOf[UniDpScoreExpr],
      arity("graft_uni_dp_score", 3)(cs =>
        UniDpScoreExpr(cs(0), cs(1), cs(2)))),
    ("graft_uni_bt", classOf[UniBtExpr],
      arity("graft_uni_bt", 2)(cs => UniBtExpr(cs(0), cs(1)))),
    ("graft_word_hashes", classOf[WordHashes],
      arity("graft_word_hashes", 1)(cs => WordHashes(cs(0)))),
    ("graft_shingles", classOf[ShingleHashes],
      arity("graft_shingles", 1, 2)(cs => ShingleHashes(cs(0),
        if (cs.length > 1) litInt(cs(1), "graft_shingles") else 3))),
    ("graft_minhash", classOf[MinHashSig],
      arity("graft_minhash", 2)(cs =>
        MinHashSig(cs(0), litInt(cs(1), "graft_minhash")))),
    ("graft_hplane_sig", classOf[HyperplaneSig],
      arity("graft_hplane_sig", 2)(cs =>
        HyperplaneSig(cs(0), litInt(cs(1), "graft_hplane_sig")))),
    ("graft_atr_w", classOf[AtrWindow],
      arity("graft_atr_w", 3, 4)(cs => AtrWindow(cs(0), cs(1), cs(2),
        if (cs.length > 3) litInt(cs(3), "graft_atr_w") else 14))),
    ("graft_absdev_sum", classOf[AbsDevSum],
      arity("graft_absdev_sum", 2)(cs => AbsDevSum(cs(0), cs(1)))),
    ("graft_simhash", classOf[SimHash],
      arity("graft_simhash", 2)(cs =>
        SimHash(cs(0), litInt(cs(1), "graft_simhash")))),
    ("graft_minhash_est", classOf[MinHashEst],
      arity("graft_minhash_est", 2)(cs => MinHashEst(cs(0), cs(1)))),
    ("graft_ema3_w", classOf[EmaTripleWindow],
      arity("graft_ema3_w", 2)(cs =>
        EmaTripleWindow(cs(0), litInt(cs(1), "graft_ema3_w")))),
    ("graft_sar_w", classOf[SarWindow],
      arity("graft_sar_w", 3)(cs => SarWindow(cs(0), cs(1), cs(2)))),
    ("graft_adaptive_ema_w", classOf[AdaptiveEmaWindow],
      arity("graft_adaptive_ema_w", 2)(cs => AdaptiveEmaWindow(cs(0), cs(1)))),
    ("graft_ind_w", classOf[IndicatorPackWindow],
      arity("graft_ind_w", 4, 5, 6)(cs => IndicatorPackWindow(
        cs(0), cs(1), cs(2), cs(3),
        if (cs.length > 4) litInt(cs(4), "graft_ind_w") else 14,
        if (cs.length > 5) litInt(cs(5), "graft_ind_w") else 14))),
    ("graft_frame_w", classOf[FrameIndicatorWindow],
      arity("graft_frame_w", 15)(cs => {
        val p = cs.drop(5).map(litInt(_, "graft_frame_w"))
        FrameIndicatorWindow(cs(0), cs(1), cs(2), cs(3), cs(4),
          FramePeriods(p(0), p(1), p(2), p(3), p(4), p(5), p(6), p(7), p(8), p(9)))
      })),
    ("graft_kalman_w", classOf[KalmanWindow],
      arity("graft_kalman_w", 1)(cs => KalmanWindow(cs(0)))),
    ("graft_ha_w", classOf[HeikinAshiWindow],
      arity("graft_ha_w", 4)(cs =>
        HeikinAshiWindow(cs(0), cs(1), cs(2), cs(3)))),
    ("graft_st_w", classOf[SupertrendWindow],
      arity("graft_st_w", 3)(cs =>
        SupertrendWindow(cs(0), cs(1), cs(2)))),
    ("graft_garch_w", classOf[GarchWindow],
      arity("graft_garch_w", 1)(cs => GarchWindow(cs(0)))),
    ("graft_holt_w", classOf[HoltWindow],
      arity("graft_holt_w", 1)(cs => HoltWindow(cs(0)))))

  /** Registers the catalog and installs the [[graft.etl.SeriesScan]]
    * planner strategy; both idempotent. */
  def register(spark: SparkSession): Unit = {
    graft.etl.SeriesScan.install(spark)
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    builders.foreach { case (name, clazz, b) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id))
        reg.registerFunction(id, new ExpressionInfo(clazz.getName, name), b)
    }
  }
}
