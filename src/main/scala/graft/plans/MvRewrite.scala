package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, BoundReference, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Materialized-view REWRITE — the mv_incremental family completed
  * with the piece that makes an MV useful to queries that don't know it
  * exists: [[rewrite]] recognizes a view definition's plan INSIDE a
  * consumer query and replaces it by a scan of the materialized
  * parquet, so the 100 TB aggregation runs once and every subsequent
  * ask costs one grid-sized file read.
  *
  * It is a function, not an injected optimizer rule: the caller that
  * owns the MV passes it in with the consumer and gets back a frame
  * whose logical plan already reads the MV, so every action on that
  * frame (a timed noop write, Verify's `coalesce(1).write`) reads it
  * too. No view outlives the call, so no other query's plan depends on
  * which MVs an earlier call built.
  *
  * Two matching tiers, both against the consumer's OPTIMIZED plan:
  *
  * 1. CANONICAL-PLAN EQUALITY: a subtree whose canonicalized form
  *    equals the definition's optimized canonicalized plan (exprIds
  *    normalized away, so a freshly constructed identical query
  *    matches) becomes a Project over the pre-ANALYZED parquet
  *    relation, aliasing each MV column back to the matched subtree's
  *    exprIds so every downstream reference stays bound.
  *
  * 2. AGGREGATE-ROLLUP SUBSUMPTION (the standard MV-lattice step): a
  *    consumer that aggregates the SAME base relation by a SUBSET of
  *    the MV's grouping grid re-aggregates the MV's grid instead of
  *    the base — sum rolls up as sum, count as sum-of-counts, min/max
  *    as min/max. Only EXACT-arithmetic aggregates join the lattice
  *    (sums over integral types; min/max over any orderable; count) —
  *    a float sum re-associated over the grid could differ from the
  *    direct plan in ulps, and the rewrite must stay provably
  *    result-identical. Matching normalizes expressions against the
  *    base relation's output positions (BoundReference trees), so the
  *    consumer's fresh exprIds never matter; base plans compare
  *    canonically after stripping a pure column-pruning Project (the
  *    consumer prunes the grid columns it doesn't group by). A
  *    consumer output may be any expression over its aggregates and
  *    group columns — the optimizer folds a presentation projection
  *    (a `/100` division) into the Aggregate, and it rolls up with it.
  *
  * Anything past that lattice step (predicate implication, joins over
  * the MV, float re-association) deliberately stays out of scope.
  *
  * Safety rails: types must match (parquet may only widen
  * nullability; a rolled aggregate must keep the consumer aggregate's
  * result type, with counts re-wrapped non-null via coalesce), and
  * transformDown rewrites the OUTERMOST match (a child rewrite would
  * orphan its parent's canonical form). Staleness is the caller's
  * contract, exactly as with any MV: pass the refreshed parquet
  * ([[graft.ops.Lake.mergeMv]] is the incremental-refresh half of the
  * pair). */
object MvRewrite {

  /** A view: its definition's optimized canonical plan, the analyzed
    * parquet relation holding its rows (same column order), and its
    * rollup lattice if every aggregate is exact-rollup-able. */
  private case class View(key: LogicalPlan, rel: LogicalPlan,
      rollup: Option[RollupMv])

  /** Rollup-eligible view: normalized group/agg input expressions → MV
    * output ordinal, against `base`'s canonical form. `counts` is the
    * ordinal of the MV's count(*) column (rolls up as a sum). */
  private case class RollupMv(
      base: LogicalPlan,
      groups: Map[Expression, Int],
      sums: Map[Expression, Int],
      mins: Map[Expression, Int],
      maxs: Map[Expression, Int],
      counts: Option[Int])

  /** `consumer` with every subtree that a view answers replaced by a
    * read of that view's materialized rows. Each view is
    * `definition -> materialized`: a plain parquet-backed DataFrame
    * holding `definition`'s rows, same column order. Returns `consumer`
    * itself when no view matches. */
  def rewrite(consumer: DataFrame,
      views: (DataFrame, DataFrame)*): DataFrame = {
    val vs = views.map { case (d, m) => view(d, m) }
    val plan = consumer.queryExecution.optimizedPlan
    val out = plan.transformDown(Function.unlift { (p: LogicalPlan) =>
      exact(vs, p).orElse(p match {
        case a: Aggregate => rollup(vs, a)
        case _ => None
      })
    })
    if (out.fastEquals(plan)) consumer
    else GraftSqlBridge.ofRows(consumer.sparkSession, out)
  }

  /** Strip one pure column-pruning Project — the shape the optimizer
    * leaves between an Aggregate and its (V1) relation; the MV child
    * and a subset consumer's child differ only in which columns
    * survive it. */
  private def stripPrune(p: LogicalPlan): LogicalPlan = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) => c
    case other => other
  }

  /** Normalize an expression against the base relation's output: every
    * attribute becomes its output ordinal (BoundReference), so two
    * independently analyzed queries over the same base produce
    * identical trees. None if any attribute is not a base column. */
  private def norm(e: Expression, base: Seq[Attribute]): Option[Expression] = {
    var ok = true
    val t = e.transform {
      case a: AttributeReference =>
        val i = base.indexWhere(_.exprId == a.exprId)
        if (i < 0) { ok = false; a }
        else BoundReference(i, a.dataType, a.nullable)
    }
    if (ok) Some(t.canonicalized) else None
  }

  private def view(definition: DataFrame, materialized: DataFrame): View = {
    val opt = definition.queryExecution.optimizedPlan
    View(opt.canonicalized, materialized.queryExecution.analyzed,
      lattice(opt))
  }

  /** The rollup lattice of a single-Aggregate definition whose
    * aggregates are all exact-rollup-able; None otherwise. */
  private def lattice(opt: LogicalPlan): Option[RollupMv] = opt match {
    case Aggregate(gs, out, child, _) =>
      val base = stripPrune(child)
      val bOut = base.output
      val gNorm = gs.flatMap(g => norm(g, bOut))
      if (gNorm.length != gs.length) return None
      var groups = Map.empty[Expression, Int]
      var sums = Map.empty[Expression, Int]
      var mins = Map.empty[Expression, Int]
      var maxs = Map.empty[Expression, Int]
      var counts = Option.empty[Int]
      val eligible = out.zipWithIndex.forall { case (ne, i) =>
        val e = ne match {
          case Alias(c, _) => c
          case other => other
        }
        e match {
          case ae: AggregateExpression if !ae.isDistinct &&
              ae.filter.isEmpty =>
            ae.aggregateFunction match {
              case Sum(c, _) if c.dataType == LongType ||
                  c.dataType == IntegerType =>
                norm(c, bOut).exists { n => sums += n -> i; true }
              case Min(c) =>
                norm(c, bOut).exists { n => mins += n -> i; true }
              case Max(c) =>
                norm(c, bOut).exists { n => maxs += n -> i; true }
              case Count(Seq(Literal(_, _))) =>
                counts = Some(i); true
              case _ => false
            }
          case g =>
            norm(g, bOut).exists { n =>
              gNorm.contains(n) && { groups += n -> i; true }
            }
        }
      }
      if (eligible)
        Some(RollupMv(base.canonicalized, groups, sums, mins, maxs, counts))
      else None
    case _ => None
  }

  private def exact(vs: Seq[View], p: LogicalPlan): Option[LogicalPlan] = {
    lazy val key = p.canonicalized
    vs.find { v =>
      v.rel.output.length == p.output.length &&
        v.rel.output.zip(p.output).forall { case (n, o) =>
          n.dataType == o.dataType } &&
        v.key == key
    }.map { v =>
      Project(p.output.zip(v.rel.output).map { case (o, n) =>
        Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier)
      }, v.rel)
    }
  }

  /** Subset-group consumer → re-aggregate the MV grid. The first view
    * whose lattice covers every consumer expression wins; a partial
    * cover (any unmapped aggregate or base column) leaves the plan
    * untouched. */
  private def rollup(vs: Seq[View], a: Aggregate): Option[LogicalPlan] = {
    val base = stripPrune(a.child)
    lazy val key = base.canonicalized
    vs.iterator.flatMap(v => v.rollup.filter(_.base == key)
        .flatMap(rv => build(a, base.output, rv, v.rel)))
      .nextOption()
  }

  private def build(a: Aggregate, bOut: Seq[Attribute], rv: RollupMv,
      rel: LogicalPlan): Option[LogicalPlan] = {
    val relOut = rel.output
    val gNorm = a.groupingExpressions.map(g => norm(g, bOut))
    if (!gNorm.forall(_.exists(rv.groups.contains))) return None
    def agg(fn: AggregateFunction): Expression =
      AggregateExpression(fn, Complete, isDistinct = false)
    def rolled(ae: AggregateExpression): Option[Expression] =
      if (ae.isDistinct || ae.filter.nonEmpty) None
      else (ae.aggregateFunction match {
        case Sum(c, _) => norm(c, bOut).flatMap(rv.sums.get)
          .map(i => agg(Sum(relOut(i))))
        case Min(c) => norm(c, bOut).flatMap(rv.mins.get)
          .map(i => agg(Min(relOut(i))))
        case Max(c) => norm(c, bOut).flatMap(rv.maxs.get)
          .map(i => agg(Max(relOut(i))))
        case Count(Seq(Literal(_, _))) => rv.counts
          // count is non-nullable; a rolled sum is nullable — coalesce
          // restores the contract (never hit: every group the consumer
          // sees has ≥1 MV row)
          .map(i => Coalesce(Seq(agg(Sum(relOut(i))), Literal(0L))))
        case _ => None
      }).filter(_.dataType == ae.dataType)
    var ok = true
    // Aggregates roll up; a consumer group expression becomes the MV's
    // grid column. Anything else keeps its shape over the mapped leaves.
    // (Not transformDown: it would revisit the rolled count's inner sum.)
    def roll(e: Expression): Expression = e match {
      case ae: AggregateExpression =>
        rolled(ae).getOrElse { ok = false; ae }
      case g if a.groupingExpressions.exists(_.semanticEquals(g)) =>
        norm(g, bOut).flatMap(rv.groups.get).map(relOut)
          .filter(_.dataType == g.dataType)
          .getOrElse { ok = false; g }
      case other => other.mapChildren(roll)
    }
    val mapped: Seq[NamedExpression] = a.aggregateExpressions.map {
      case al @ Alias(c, n) =>
        Alias(roll(c), n)(exprId = al.exprId, qualifier = al.qualifier)
      case other =>
        Alias(roll(other), other.name)(exprId = other.exprId,
          qualifier = other.qualifier)
    }
    val relSet = AttributeSet(relOut)
    if (!ok || !mapped.forall(_.references.subsetOf(relSet))) None
    else Some(Aggregate(
      gNorm.map(n => relOut(rv.groups(n.get))), mapped, rel))
  }
}
