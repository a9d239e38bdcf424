package graft

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

import graft.expr._

/** SparkSessionExtensions entry point (the engine's custom-Catalyst
  * wiring surface, SURVEY.md §4): installed with
  * `spark.sql.extensions=graft.GraftExtensions` ([[GraftSession]] sets
  * it) — the production mechanism for shipping optimizer rules AND SQL
  * functions with a library, no Spark fork required. It is the only
  * function registry: any session built with the extension can call
  * every native expression from plain `spark.sql(...)` with zero
  * registration calls (exercised by the fn_sql_registry query).
  *
  * It also makes the live context resolve `file:` to
  * [[graft.fs.GraftLocalFileSystem]] and [[graft.fs.GraftLocalFs]]
  * unless the user set those keys: `apply` runs before the session's
  * SharedState copies the context's Hadoop conf, so checkpoints, file
  * writers and executors all get them. It never starts a context. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    if (SparkEnv.get != null)
      graft.fs.GraftLocalFileSystem.install(SparkContext.getOrCreate().hadoopConfiguration)
    e.injectOptimizerRule(_ => CollapseSanitize)
    e.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    GraftExtensions.functions.foreach { case (name, cls, arity, build) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (args: Seq[Expression]) => {
          require(args.length == arity, s"$name expects $arity argument" +
            (if (arity == 1) "" else "s") + s", got ${args.length}")
          build(args)
        }))
    }
  }
}

object GraftExtensions {
  /** Every native SQL function: name, expression class, arity, and the
    * builder (called with exactly `arity` arguments). */
  val functions: Seq[(String, Class[_], Int, Seq[Expression] => Expression)] = Seq(
    ("sanitize_filename", classOf[SanitizeFilename], 1, a => SanitizeFilename(a(0))),
    ("minhash_sig", classOf[MinHashSig], 1, a => MinHashSig(a(0))),
    ("minhash_sketch", classOf[MinHashSketch], 1, a => MinHashSketch(a(0))),
    ("dot64", classOf[DotProductF64], 2, a => DotProductF64(a(0), a(1))),
    ("sqdist_i64", classOf[SqDistI64], 2, a => SqDistI64(a(0), a(1))),
    ("isect_count_s64", classOf[IntersectCountSorted64], 2,
      a => IntersectCountSorted64(a(0), a(1))),
    ("dtw_dist", classOf[DtwDist], 2, a => DtwDist(a(0), a(1))),
    ("winnow_fps", classOf[WinnowFps], 1, a => WinnowFps(a(0))),
    ("ngram_hashes", classOf[NgramHashes], 1, a => NgramHashes(a(0))),
    ("repetition_stats", classOf[RepetitionStats], 1, a => RepetitionStats(a(0))),
    ("ttr_stats", classOf[TtrStats], 1, a => TtrStats(a(0))),
    ("deflate_len", classOf[DeflateLen], 1, a => DeflateLen(a(0))),
    ("topk_pairs", classOf[TopKAgg], 3,
      a => TopKAgg(a(0), a(1), positiveIntLiteral("topk_pairs k", a(2)))),
    ("misra_gries", classOf[MisraGriesAgg], 2,
      a => MisraGriesAgg(a(0), positiveIntLiteral("misra_gries m", a(1)))))

  /** A sketch-size argument: it fixes the aggregation buffer's shape, so
    * it must be a constant INT >= 1. */
  private def positiveIntLiteral(what: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) if v >= 1 => v
    case other => throw new IllegalArgumentException(
      s"$what must be an INT literal >= 1, got $other")
  }
}

/** Optimizer rule: `sanitize_filename(sanitize_filename(x))` →
  * `sanitize_filename(x)`. Sanitization is idempotent (SanitizeSpec
  * proves it by fuzz: the output alphabet is a fixed point of the
  * mapping), so the inner application is dead work — the kind of
  * domain-specific rewrite Catalyst can't know about but an engine can
  * teach it. Composed pipelines sanitize defensively at several stages
  * (reference sanitizes per handler entry, child.py:130/114-recursion),
  * so nested applications arise naturally. */
object CollapseSanitize extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case SanitizeFilename(inner @ SanitizeFilename(_)) =>
        inner
    }
}
