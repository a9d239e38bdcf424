package graft.expr

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Distinct-intersection COUNT of two ASC-SORTED `ARRAY<BIGINT>` via a
  * zero-allocation merge walk — the per-candidate-pair kernel of
  * dedup_minhash_recall's exact-truth audit (reference analog: the
  * shingle-overlap verification of the dedup policy,
  * scrap/child_otherftp.py:280-298).
  *
  * Why not `size(array_intersect(a, b))`: ArrayIntersect builds a hash
  * set AND materializes the intersection array per call, only for
  * size() to throw both away. Under a fat suite heap that per-pair
  * garbage is what pushed the recall audit's build trial to 53% task
  * GC in BENCH_r12 (the NgramHashes discipline:
  * kernels that run per candidate pair must not allocate). This walk
  * reads both arrays in place and allocates NOTHING.
  *
  * PRECONDITION: both arrays sorted ascending with nulls LAST — i.e.
  * exactly `array_sort`'s output order. The caller owns the sort
  * (once per doc, not per pair); on unsorted input the count is
  * undefined. Semantics on sorted input match
  * `size(array_intersect(a, b))` bit-for-bit, including duplicate
  * collapse (each common VALUE counts once) and null elements (null
  * counts once iff both arrays contain null); null ARRAY → null
  * (IntersectCountSpec pins all of it against the built-in).
  */
case class IntersectCountSorted64(left: Expression, right: Expression)
    extends BinaryExpression with LongArrayArgs {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.valueOf(IntersectCountSorted64.count(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.IntersectCountSorted64.count($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "isect_count_s64"
}

object IntersectCountSorted64 {
  /** Merge walk over two asc-sorted (nulls-last) long arrays: count of
    * distinct common values, nulls matching once. Zero allocation.
    * Called from generated code. */
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var cnt = 0L
    while (i < na && j < nb) {
      val aNull = a.isNullAt(i)
      val bNull = b.isNullAt(j)
      if (aNull && bNull) { cnt += 1; i = na; j = nb } // nulls are last
      else if (aNull) j += 1 // b's value sorts before null
      else if (bNull) i += 1
      else {
        val av = a.getLong(i)
        val bv = b.getLong(j)
        if (av == bv) {
          cnt += 1
          // collapse duplicates of the matched value on BOTH sides so
          // each common VALUE counts exactly once (array_intersect's
          // distinct semantics)
          i += 1; while (i < na && !a.isNullAt(i) && a.getLong(i) == av) i += 1
          j += 1; while (j < nb && !b.isNullAt(j) && b.getLong(j) == bv) j += 1
        } else if (av < bv) i += 1
        else j += 1
      }
    }
    cnt
  }
}
