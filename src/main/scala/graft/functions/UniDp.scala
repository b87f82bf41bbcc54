package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the SentencePiece-style unigram Viterbi DP of
  * the tok_* queries — the fused forms of the nested-fold SQL DP,
  * scores-only DP and backtrack (kept in OpsSpec as the reference the
  * kernels are pinned against; TokQueries' DuckDB oracles run the same
  * recurrence as list_reduce folds).
  *
  * The HOF formulations rebuild the whole (2L+2)-cell DP array with an
  * interpreted `transform` on every one of the L outer fold steps —
  * O(L²) interpreted cell copies per word, each inner cell folding a
  * ≤4-way max of MAP lookups on freshly allocated substrings. These
  * kernels run the identical recurrence as plain JVM loops.
  *
  * Every value is an exact LONG (micro-quantized log-probs), every
  * string op is the same UTF8String character-indexed substring, and
  * map lookups scan the same MapData entries first-match like
  * `element_at` — so the outputs are bit-identical by construction
  * (OpsSpec pins kernel == fold on multi-byte and tie-heavy shapes).
  *
  * Cell layout (1-indexed, exactly the fold's):
  *  - dp:    cells 1..L+1 = best score into position e (cell 1 = 0);
  *           cells L+2..2L+2 = backpointers (ties take the smaller
  *           split point = longer piece).
  *  - score: cells 1..L+1 only (the loss-if-removed pass needs no
  *           backpointers); optional banned piece excluded from the
  *           vocabulary.
  *  - bt:    cell 1 = cursor, then '#' padding, path pieces appended
  *           at the tail end-first (the fold's slice/concat shape).
  */
object UniDp {

  final val NEG = -1000000000000000L
  private final val THRESH = -100000000000000L
  private final val BIGJ = 1000000000000000L

  /** element_at(map, key) over MapData: first-match linear scan. */
  private def lookup(m: MapData, key: UTF8String): java.lang.Long = {
    val ks = m.keyArray()
    val vs = m.valueArray()
    val n = m.numElements()
    var i = 0
    while (i < n) {
      if (ks.getUTF8String(i).equals(key)) return vs.getLong(i)
      i += 1
    }
    null
  }

  /** substring(w, pos, len) — SQL 1-indexed, character-counted. */
  private def sub(w: UTF8String, pos: Int, len: Int): UTF8String =
    w.substringSQL(pos, len)

  /** [[dpScore]] + backpointers — the full fold's 2L+2 cells. */
  def dp(w: UTF8String, lp: MapData): ArrayData = {
    val L = w.numChars()
    val s = new Array[Long](L + 1)
    val bp = new Array[Long](L + 1)
    var e = 1
    while (e <= L) { s(e) = NEG; e += 1 }
    e = 1
    while (e <= L) {
      var best = NEG
      var j = math.max(0, e - 4)
      while (j <= e - 1) {
        val v = lookup(lp, sub(w, j + 1, e - j))
        if (v != null && s(j) > THRESH) {
          val cand = s(j) + v.longValue()
          if (cand > best) best = cand
        }
        j += 1
      }
      s(e) = best
      var bj = BIGJ
      j = math.max(0, e - 4)
      while (j <= e - 1) {
        val v = lookup(lp, sub(w, j + 1, e - j))
        if (v != null && s(j) > THRESH && s(j) + v.longValue() == best &&
          j < bj) bj = j
        j += 1
      }
      bp(e) = bj
      e += 1
    }
    val out = new Array[Long](2 * (L + 1))
    System.arraycopy(s, 0, out, 0, L + 1)
    System.arraycopy(bp, 0, out, L + 1, L + 1)
    new GenericArrayData(out)
  }

  /** Scores-only DP with piece `ban` excluded — the scores fold's L+1 cells.
    * CAUTION (fold fidelity): s(e) is written BEFORE the next step
    * reads it, and the banned comparison uses the same substring. */
  def dpScore(w: UTF8String, lp: MapData, ban: UTF8String): ArrayData = {
    val L = w.numChars()
    val s = new Array[Long](L + 1)
    var e = 1
    while (e <= L) { s(e) = NEG; e += 1 }
    e = 1
    while (e <= L) {
      var best = NEG
      var j = math.max(0, e - 4)
      while (j <= e - 1) {
        val piece = sub(w, j + 1, e - j)
        if (ban == null || !piece.equals(ban)) {
          val v = lookup(lp, piece)
          if (v != null && s(j) > THRESH) {
            val cand = s(j) + v.longValue()
            if (cand > best) best = cand
          }
        }
        j += 1
      }
      s(e) = best
      e += 1
    }
    new GenericArrayData(s)
  }

  /** Backtrack — the backtrack fold's string cells: cell 1 the cursor, then the
    * '#' padding, path pieces APPENDED at the tail end-first (each
    * active fold step is concat([new cursor], acc[2..], [piece]) —
    * replace the head, append the piece, so the array grows by one per
    * extracted piece; no-op once the cursor reaches 0). */
  def bt(w: UTF8String, dpv: ArrayData): ArrayData = {
    val L = w.numChars()
    val buf = new scala.collection.mutable.ArrayBuffer[UTF8String](2 * L + 1)
    buf += UTF8String.fromString(L.toString)
    var i = 1
    while (i <= L) { buf += UTF8String.fromString("#"); i += 1 }
    var step = 1
    while (step <= L) {
      val cursor = java.lang.Integer.parseInt(buf(0).toString)
      if (cursor != 0) {
        val bpv = dpv.getLong(L + 1 + cursor) // cell L+2+cursor, 0-based
        buf(0) = UTF8String.fromString(bpv.toString)
        buf += sub(w, bpv.toInt + 1, cursor - bpv.toInt)
      }
      step += 1
    }
    new GenericArrayData(buf.toArray[Any])
  }
}

/** graft_uni_dp(w STRING, lp MAP<STRING,BIGINT>) → ARRAY<BIGINT>. */
case class UniDpExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, MapType(StringType, LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_uni_dp expects (STRING, MAP<STRING,BIGINT>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any =
    UniDp.dp(a.asInstanceOf[UTF8String], b.asInstanceOf[MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.UniDp.dp($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): UniDpExpr = copy(left = l, right = r)

  override def prettyName: String = "graft_uni_dp"
}

/** graft_uni_dp_score(w STRING, lp MAP<STRING,BIGINT>, ban STRING)
  * → ARRAY<BIGINT>. */
case class UniDpScoreExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, MapType(StringType, LongType, _), StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"graft_uni_dp_score expects (STRING, MAP<STRING,BIGINT>, " +
          s"STRING), got (${a.simpleString}, ${b.simpleString}, " +
          s"${c.simpleString})")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    UniDp.dpScore(a.asInstanceOf[UTF8String], b.asInstanceOf[MapData],
      c.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.functions.UniDp.dpScore($a, $b, $c)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): UniDpScoreExpr =
    copy(first = f, second = s, third = t)

  override def prettyName: String = "graft_uni_dp_score"
}

/** graft_uni_bt(w STRING, dpv ARRAY<BIGINT>) → ARRAY<STRING>. */
case class UniBtExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_uni_bt expects (STRING, ARRAY<BIGINT>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any =
    UniDp.bt(a.asInstanceOf[UTF8String], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.UniDp.bt($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): UniBtExpr = copy(left = l, right = r)

  override def prettyName: String = "graft_uni_bt"
}
