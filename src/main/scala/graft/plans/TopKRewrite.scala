package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

import graft.expr.TopKAgg

/** Optimizer rule: rewrite a window top-k —
  *
  *   Filter(rn <= k,
  *     Window(rn := row_number() OVER (PARTITION BY p
  *                                     ORDER BY s DESC, i ASC), child))
  *
  * — into the bounded-heap aggregate formulation
  *
  *   Project(p, s, i, rn := pos + 1,
  *     Generate(posexplode(top),
  *       Aggregate(p, top := topk_pairs(s, i, k), child)))
  *
  * The window plan shuffles EVERY child row to its group and sorts the
  * whole group before discarding all but k; the aggregate sends at most
  * k pairs per group per input partition (map-side combine) and never
  * sorts a full group — the difference between shuffling the corpus
  * and shuffling k·groups at 100 TB. [[TopKAgg]]'s buffer order is
  * pinned to (score DESC, id ASC), so the rewrite is bit-exact.
  *
  * Scope is deliberately narrow (the rewrite must preserve the exact
  * output attribute list): single attribute partition key, ORDER BY
  * (double attr DESC, long attr ASC), rn <= positive int literal, and
  * a child whose output is exactly {p, s, i}. Null scores/ids and
  * NaN/-0.0 follow Spark's sort semantics inside [[TopKAgg]]'s buffer
  * (DESC NULLS LAST / ASC NULLS FIRST, Double.compare with -0.0
  * collapsed), so the rewrite stays bit-exact on any input, not just
  * null-free columns. Always on, like [[graft.CollapseSanitize]]; Spark's
  * own `spark.sql.optimizer.excludedRules=graft.plans.TopKRewrite`
  * switches it off (the tests build the window formulation that way). */
object TopKRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case Filter(
            LessThanOrEqual(rnRef: AttributeReference,
              Literal(k: Int, IntegerType)),
            Window(
              Seq(rnAlias @ Alias(
                WindowExpression(_: RowNumber, _), _)),
              Seq(p: AttributeReference),
              // Null orderings are BOUND, not wildcarded: TopKAgg's
              // buffer implements exactly DESC NULLS LAST / ASC NULLS
              // FIRST (the Spark defaults) — a NULLS FIRST desc window
              // must not be rewritten.
              Seq(SortOrder(s: AttributeReference, Descending, NullsLast, _),
                  SortOrder(i: AttributeReference, Ascending, NullsFirst, _)),
              child, _))
          if k >= 1 && rnRef.exprId == rnAlias.exprId &&
            s.dataType == DoubleType && i.dataType == LongType &&
            child.outputSet.subsetOf(AttributeSet(Seq(p, s, i))) =>
        rewrite(p, s, i, rnAlias, k, child)
    }

  private def rewrite(
      p: AttributeReference, s: AttributeReference, i: AttributeReference,
      rnAlias: Alias, k: Int, child: LogicalPlan): LogicalPlan = {
    val topAlias = Alias(TopKAgg(s, i, k).toAggregateExpression(), "top")()
    val agg = Aggregate(Seq(p), Seq(p, topAlias), child)

    // Must mirror TopKAgg.dataType (nullable fields: the buffer ranks
    // null score/id rows per DESC NULLS LAST / ASC NULLS FIRST, exactly
    // as the window sort would).
    val pairType = StructType(Seq(
      StructField("score", DoubleType, nullable = true),
      StructField("id", LongType, nullable = true)))
    val posAttr = AttributeReference("pos", IntegerType, nullable = false)()
    val pairAttr = AttributeReference("pair", pairType, nullable = false)()
    val gen = Generate(
      PosExplode(topAlias.toAttribute),
      unrequiredChildIndex = Seq(1), // `top` itself is not needed above
      outer = false,
      qualifier = None,
      generatorOutput = Seq(posAttr, pairAttr),
      agg)

    // Output must be attribute-for-attribute what Filter(Window) produced:
    // child.output :+ rn, under the ORIGINAL exprIds.
    val restored = child.output.map {
      case a if a.exprId == p.exprId => p
      case a if a.exprId == s.exprId =>
        Alias(GetStructField(pairAttr, 0, Some("score")), s.name)(
          exprId = s.exprId)
      case a if a.exprId == i.exprId =>
        Alias(GetStructField(pairAttr, 1, Some("id")), i.name)(
          exprId = i.exprId)
      case other =>
        throw new IllegalStateException(s"unexpected child attr $other")
    }
    val rn = Alias(Add(posAttr, Literal(1)), rnAlias.name)(
      exprId = rnAlias.exprId)
    Project(restored :+ rn, gen)
  }
}
