package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native dot product over `ARRAY<DOUBLE>` — the kernel under every
  * cosine/norm in the similarity family (sim_cosine_topk, sim_ann_lsh,
  * sim_ann_ivf, sim_range_search, dedup_embed, embed_normalize).
  *
  * Why an Expression instead of `aggregate(zip_with(a, b, _*_), 0, _+_)`:
  * Catalyst higher-order functions do not participate in whole-stage
  * codegen — each row pays interpreted lambda dispatch per ELEMENT,
  * plus a materialized intermediate array from zip_with. This is one
  * static call per row with a tight primitive loop inside, no
  * intermediate allocation, and it keeps the surrounding stage fused.
  * On a 100 TB corpus the dot product runs O(pairs·d) times — it is
  * the single hottest scalar in the engine.
  *
  * Bit-exactness: the loop accumulates a(i)*b(i) left-to-right in
  * index order — the identical IEEE fold the HOF formulation and the
  * DuckDB `list_reduce` oracles perform, so swapping it into
  * oracle-verified queries changes no output bit (VectorOpsSpec pins
  * this against the HOF on real and adversarial vectors).
  *
  * Null semantics replicate the HOF chain exactly: null array → null;
  * length mismatch → null (zip_with pads with null, the product
  * poisons the fold); null ELEMENT → null.
  */
case class DotProductF64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"dot64 requires (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got " +
          s"(${left.dataType}, ${right.dataType})")

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProductF64.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val d = ctx.freshName("dotResult")
      s"""
        java.lang.Double $d = graft.expr.DotProductF64.dot($a, $b);
        if ($d == null) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = $d.doubleValue();
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot64"
}

object DotProductF64 {
  /** Left-to-right IEEE fold; null on length mismatch or null element
    * (the HOF chain's exact semantics). Called from generated code. */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** The argument check of the kernels over two `ARRAY<BIGINT>` inputs
  * (sqdist_i64, dtw_dist, isect_count_s64): a failure names the
  * function by its `prettyName`. */
trait LongArrayArgs extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    def longs(t: DataType): Boolean = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (longs(left.dataType) && longs(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT>, ARRAY<BIGINT>), got " +
          s"(${left.dataType}, ${right.dataType})")
  }
}

/** Native exact squared-L2 distance over `ARRAY<BIGINT>` — the
  * per-candidate-pair kernel of ml_knn (and the integer-grid half of
  * the ANN family: sample_kcenter/embed_pca vectors live on the 1e-6
  * grid as longs).
  *
  * Why an Expression instead of
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0L, _+_)`:
  * same argument as [[DotProductF64]] — higher-order functions do not
  * participate in whole-stage codegen, so the HOF chain pays an
  * interpreted lambda dispatch per ELEMENT plus a materialized
  * zip_with array per ROW. Worse, when the distance feeds a
  * TypedImperativeAggregate (ml_knn's topk_pairs heap), CollapseProject
  * folds the whole chain into the aggregate's interpreted
  * `score.eval`, so every candidate pair re-walks the lambda chain
  * over boxed elements (measured 2.1 → 14.2 s on ml_knn). This is one
  * static call per pair with a tight primitive loop, no allocation.
  *
  * Exactness: two's-complement long arithmetic via Math.*Exact — the
  * identical integer fold the HOF performs under ANSI mode (Spark 4
  * default), including THROWING on overflow where ANSI throws. On
  * ml_knn's domain (64 dims × (2e6)² per term ≤ 2.6e14) no overflow
  * is reachable; the *Exact intrinsics cost nothing and keep the
  * adversarial behavior aligned with the chain this replaces
  * (VectorOpsSpec pins bit-identity on real corpus pairs and the
  * null/mismatch shapes).
  *
  * Null semantics replicate the HOF chain exactly: null array → null;
  * length mismatch → null (zip_with pads with null, the squared term
  * poisons the fold); null ELEMENT → null.
  */
case class SqDistI64(left: Expression, right: Expression)
    extends BinaryExpression with LongArrayArgs {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val d = SqDistI64.dist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (d < 0L) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val d = ctx.freshName("sqdResult")
      // Primitive static call: a boxed java.lang.Long to signal null
      // would be one allocation per candidate pair in ml_knn's
      // hottest loop. −1 is a safe NULL
      // sentinel: see the helper's proof of non-negativity.
      s"""
        long $d = graft.expr.SqDistI64.dist($a, $b);
        if ($d < 0L) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = $d;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sqdist_i64"
}

object SqDistI64 {
  /** Exact integer Σ(a−b)²; −1 signals SQL NULL (length mismatch or
    * null element — the HOF chain's exact semantics); throws on
    * overflow exactly where the ANSI chain does. −1 is unreachable as
    * a real distance: every term is a non-negative product
    * (multiplyExact(d,d) either throws or is ≥ 0) and addExact of two
    * non-negatives either throws or stays ≥ 0, so the accumulator is
    * ≥ 0 on every exit — a primitive return with no per-pair boxing.
    * Called from generated code. */
  def dist(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (n != b.numElements()) return -1L
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return -1L
      val d = Math.subtractExact(a.getLong(i), b.getLong(i))
      acc = Math.addExact(acc, Math.multiplyExact(d, d))
      i += 1
    }
    acc
  }
}
