package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, BoundReference, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Materialized-view CATALOG + transparent REWRITE rule — the
  * mv_incremental family completed with the piece that makes an MV
  * useful to queries that don't know it exists: a registered
  * definition's plan is recognized INSIDE any later query and replaced
  * by a scan of the materialized parquet, so the 100 TB aggregation
  * runs once and every subsequent ask costs one grid-sized file read.
  * This is the engine-teaches-Catalyst mechanism (same surface as
  * [[TopKRewrite]]): `SparkSessionExtensions.injectOptimizerRule`, no
  * Spark fork.
  *
  * Two matching tiers:
  *
  * 1. CANONICAL-PLAN EQUALITY: the stored key is the definition's
  *    OPTIMIZED canonicalized plan (exprIds normalized away, so a
  *    freshly constructed identical query matches), and the rule —
  *    which runs inside the operator-optimization fixed point, i.e.
  *    against subtrees in optimized form — swaps any matching subtree
  *    for a Project over the pre-ANALYZED parquet relation, aliasing
  *    each MV column back to the matched subtree's exprIds so every
  *    downstream reference stays bound.
  *
  * 2. AGGREGATE-ROLLUP SUBSUMPTION (the standard MV-lattice step): a consumer that aggregates the SAME base
  *    relation by a SUBSET of the MV's grouping grid re-aggregates
  *    the MV's grid instead of the base — sum rolls up as sum, count
  *    as sum-of-counts, min/max as min/max. Eligibility is decided at
  *    REGISTRATION: only EXACT-arithmetic aggregates join the lattice
  *    (sums over integral types; min/max over any orderable; count) —
  *    a float sum re-associated over the grid could differ from the
  *    direct plan in ulps, and the rewrite must stay provably
  *    result-identical (it replays the same exact integer algebra the
  *    definition ran). Matching normalizes expressions against the
  *    base relation's output positions (BoundReference trees), so the
  *    consumer's fresh exprIds never matter; base plans compare
  *    canonically after stripping a pure column-pruning Project (the
  *    consumer prunes the grid columns it doesn't group by). At
  *    100 TB this is the difference between every dashboard rollup
  *    re-scanning the fact table and all of them sharing one
  *    grid-sized file.
  *
  * Anything past that lattice step (predicate implication, joins over
  * the MV, float re-association) deliberately stays out of scope.
  *
  * Safety rails: the relation is resolved at REGISTRATION time (no
  * re-entrant planning inside the optimizer), types must match
  * (parquet may only widen nullability; a rolled aggregate must keep
  * the consumer aggregate's result type, with counts re-wrapped
  * non-null via coalesce), the rule is conf-gated
  * (`spark.graft.mv.rewrite`) so the unrewritten plan stays
  * independently testable, and transformDown rewrites the OUTERMOST
  * match (a child rewrite would orphan its parent's canonical form).
  * Staleness is the caller's contract, exactly as with any MV:
  * re-register after refresh ([[graft.ops.Lake.mergeMv]] is the
  * incremental-refresh half of the pair). */
object MvCatalog {
  private val views = TrieMap.empty[LogicalPlan, LogicalPlan]
  private[plans] val rollups =
    TrieMap.empty[LogicalPlan, List[RollupMv]]

  /** Rollup-eligible registered aggregate: normalized group/agg input
    * expressions → MV output ordinal, against `base`'s canonical form.
    * `counts` is the ordinal of the MV's count(*) column (rolls up as
    * a sum). */
  private[plans] case class RollupMv(
      groups: Map[Expression, Int],
      sums: Map[Expression, Int],
      mins: Map[Expression, Int],
      maxs: Map[Expression, Int],
      counts: Option[Int],
      rel: LogicalPlan)

  /** Strip one pure column-pruning Project — the shape the optimizer
    * leaves between an Aggregate and its (V1) relation; the MV child
    * and a subset consumer's child differ only in which columns
    * survive it. */
  private[plans] def stripPrune(p: LogicalPlan): LogicalPlan = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) => c
    case other => other
  }

  /** Normalize an expression against the base relation's output: every
    * attribute becomes its output ordinal (BoundReference), so two
    * independently analyzed queries over the same base produce
    * identical trees. None if any attribute is not a base column. */
  private[plans] def norm(e: Expression,
      base: Seq[Attribute]): Option[Expression] = {
    var ok = true
    val t = e.transform {
      case a: AttributeReference =>
        val i = base.indexWhere(_.exprId == a.exprId)
        if (i < 0) { ok = false; a }
        else BoundReference(i, a.dataType, a.nullable)
    }
    if (ok) Some(t.canonicalized) else None
  }

  /** Register `materialized` (a plain parquet-backed DataFrame holding
    * `definition`'s rows, same column order) as the rewrite target for
    * `definition`'s plan. If the definition is a single Aggregate
    * whose aggregates are all exact-rollup-able, it also joins the
    * rollup lattice for subset-group consumers. */
  def register(definition: DataFrame, materialized: DataFrame): Unit = {
    val opt = definition.queryExecution.optimizedPlan
    val rel = materialized.queryExecution.analyzed
    views.put(opt.canonicalized, rel)
    opt match {
      case Aggregate(gs, out, child, _) =>
        val base = stripPrune(child)
        val bOut = base.output
        val gNorm = gs.flatMap(g => norm(g, bOut))
        if (gNorm.length != gs.length) return
        var groups = Map.empty[Expression, Int]
        var sums = Map.empty[Expression, Int]
        var mins = Map.empty[Expression, Int]
        var maxs = Map.empty[Expression, Int]
        var counts = Option.empty[Int]
        val eligible = out.zipWithIndex.forall { case (ne, i) =>
          def unalias(x: NamedExpression): Expression = x match {
            case Alias(c, _) => c
            case other => other
          }
          unalias(ne) match {
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
          rollups.updateWith(base.canonicalized) {
            case Some(l) => Some(RollupMv(groups, sums, mins, maxs,
              counts, rel) :: l)
            case None => Some(List(RollupMv(groups, sums, mins, maxs,
              counts, rel)))
          }: Unit
      case _ => ()
    }
  }

  private[plans] def lookup(p: LogicalPlan): Option[LogicalPlan] =
    views.get(p.canonicalized)

  def clear(): Unit = { views.clear(); rollups.clear() }
}

object MvRewrite extends Rule[LogicalPlan] {
  import MvCatalog.{norm, stripPrune, RollupMv}

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString("spark.graft.mv.rewrite", "false").toBoolean)
      return plan
    plan.transformDown {
      case p if rewritable(p) =>
        val rel = MvCatalog.lookup(p).get
        Project(p.output.zip(rel.output).map { case (o, n) =>
          Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier)
        }, rel)
      case a: Aggregate => tryRollup(a).getOrElse(a)
    }
  }

  private def rewritable(p: LogicalPlan): Boolean =
    MvCatalog.lookup(p).exists { rel =>
      // already the rewritten form? (fixed-point batch re-runs the
      // rule over its own output — a Project over the relation has a
      // different canonical form than the definition, but guard on
      // shape anyway) — and types must line up position-wise.
      rel.output.length == p.output.length &&
        rel.output.zip(p.output).forall { case (n, o) =>
          n.dataType == o.dataType }
    }

  /** Subset-group consumer → re-aggregate the MV grid. First
    * registered MV whose lattice covers every consumer expression
    * wins; a partial cover (any unmapped aggregate or group) leaves
    * the plan untouched. */
  private def tryRollup(a: Aggregate): Option[LogicalPlan] = {
    val base = stripPrune(a.child)
    MvCatalog.rollups.get(base.canonicalized).flatMap { cands =>
      cands.reverseIterator.map(rv => build(a, base.output, rv))
        .collectFirst { case Some(p) => p }
    }
  }

  private def build(a: Aggregate, bOut: Seq[Attribute],
      rv: RollupMv): Option[LogicalPlan] = {
    val relOut = rv.rel.output
    val gNorm = a.groupingExpressions.map(g => norm(g, bOut))
    if (gNorm.exists(_.isEmpty)) return None
    val gMap = gNorm.map(_.get)
    if (!gMap.forall(rv.groups.contains)) return None
    def agg(fn: org.apache.spark.sql.catalyst.expressions.aggregate
        .AggregateFunction): Expression =
      AggregateExpression(fn, Complete, isDistinct = false)
    val mapped: Seq[Option[NamedExpression]] = a.aggregateExpressions.map {
      ne =>
        val (inner, name, id, qual) = ne match {
          case al @ Alias(c, n) => (c, n, al.exprId, al.qualifier)
          case other => (other: Expression, other.name, other.exprId,
            other.qualifier)
        }
        inner match {
          case ae: AggregateExpression if !ae.isDistinct &&
              ae.filter.isEmpty =>
            val rolled: Option[Expression] = ae.aggregateFunction match {
              case Sum(c, _) => norm(c, bOut).flatMap(rv.sums.get)
                .map(i => agg(Sum(relOut(i))))
              case Min(c) => norm(c, bOut).flatMap(rv.mins.get)
                .map(i => agg(Min(relOut(i))))
              case Max(c) => norm(c, bOut).flatMap(rv.maxs.get)
                .map(i => agg(Max(relOut(i))))
              case Count(Seq(Literal(_, _))) => rv.counts
                // count is non-nullable; a rolled sum is nullable —
                // coalesce restores the contract (never hit: every
                // group the consumer sees has ≥1 MV row)
                .map(i => Coalesce(Seq(agg(Sum(relOut(i))),
                  Literal(0L))))
              case _ => None
            }
            rolled.filter(_.dataType == inner.dataType)
              .map(r => Alias(r, name)(exprId = id, qualifier = qual))
          case g =>
            norm(g, bOut).flatMap(rv.groups.get)
              .filter(i => relOut(i).dataType == inner.dataType)
              .map(i => Alias(relOut(i), name)(exprId = id,
                qualifier = qual))
        }
    }
    if (mapped.exists(_.isEmpty)) return None
    val newGroups = gMap.map(n => relOut(rv.groups(n)))
    Some(Aggregate(newGroups, mapped.map(_.get), rv.rel))
  }
}
