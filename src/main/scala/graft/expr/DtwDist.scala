package graft.expr

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native DTW alignment distance over two `ARRAY<BIGINT>` series — the
  * kernel under ts_dtw's template scan.
  *
  * Why an Expression instead of the nested `aggregate(sequence …)`
  * higher-order formulation: Catalyst HOFs do not participate in
  * whole-stage codegen, so each row pays interpreted lambda dispatch
  * per DP CELL (|a|·|b| of them) plus an allocated intermediate array
  * per DP row. This is one static call per row with two reused
  * primitive rows inside, and it keeps the surrounding stage fused —
  * at corpus scale the template scan runs once per ENTITY, which is
  * the difference between a fused columnar pass and a per-row
  * interpreter. Both formulations walk the identical integer lattice
  * (RelationalSpec pins them equal cell-for-cell via the driver
  * recompute), so swapping it into the oracle-verified query changes
  * no output bit.
  *
  * Semantics: dp(0,0)=0, dp(i,0)=dp(0,j)=INF=10¹⁵, dp(i,j) =
  * |a(i−1)−t(j−1)| + min(dp(i−1,j−1), dp(i−1,j), dp(i,j−1)); result
  * dp(|a|,|t|). All-integer — costs are exact BIGINTs, no float enters
  * the lattice. Null array → null; empty array → INF-free degenerate 0
  * only when BOTH are empty, else INF (no alignment exists) — matching
  * the recurrence literally. Null ELEMENTS read as 0 through
  * ArrayData.getLong in BOTH eval paths (the engine's inputs are
  * non-null count sums by construction).
  */
case class DtwDist(left: Expression, right: Expression)
    extends BinaryExpression with LongArrayArgs {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    DtwDist.dtw(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.DtwDist.dtw($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DtwDist =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dtw_dist"
}

object DtwDist {
  val Inf: Long = 1000000000000000L

  /** The shared kernel — ONE implementation behind both the
    * interpreted eval and the generated code, so the two paths cannot
    * drift. Two reused primitive rows, no per-cell allocation. */
  def dtw(a: ArrayData, t: ArrayData): Long = {
    val na = a.numElements()
    val nt = t.numElements()
    var prev = new Array[Long](nt + 1)
    var cur = new Array[Long](nt + 1)
    var j = 1
    while (j <= nt) { prev(j) = Inf; j += 1 }
    prev(0) = 0L
    var i = 1
    while (i <= na) {
      cur(0) = Inf
      val ai = a.getLong(i - 1)
      j = 1
      while (j <= nt) {
        val c = math.abs(ai - t.getLong(j - 1))
        var m = prev(j - 1)
        if (prev(j) < m) m = prev(j)
        if (cur(j - 1) < m) m = cur(j - 1)
        cur(j) = c + m
        j += 1
      }
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    prev(nt)
  }
}
