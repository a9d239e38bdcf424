package graft

import graft.expr.Sanitize
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The injected optimizer rule ([[CollapseSanitize]]) must fire through
  * the normal session-extensions path (SharedSpark installs
  * graft.GraftExtensions) and must not change results; every native SQL
  * function must resolve from the extension alone. */
class ExtensionsSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  test("every native function resolves in a fresh session with no registration call") {
    // newSession(): a function registry of its own, built by the
    // extension, that no operator has touched
    val fresh = spark.newSession()
    val calls = Map(
      "sanitize_filename" -> "sanitize_filename('a b')",
      "minhash_sig" -> "minhash_sig(array('ab', 'cd'))",
      "minhash_sketch" -> "minhash_sketch('ab')",
      "dot64" -> "dot64(array(1.0D), array(2.0D))",
      "sqdist_i64" -> "sqdist_i64(array(1L), array(2L))",
      "isect_count_s64" -> "isect_count_s64(array(1L, 2L), array(2L))",
      "dtw_dist" -> "dtw_dist(array(1L, 2L), array(2L))",
      "winnow_fps" -> "winnow_fps('the quick brown fox jumps')",
      "ngram_hashes" -> "ngram_hashes('the quick brown fox jumps')",
      "repetition_stats" -> "repetition_stats('a a a b')",
      "ttr_stats" -> "ttr_stats('a a a b')",
      "deflate_len" -> "deflate_len('aaaa')",
      "topk_pairs" -> "topk_pairs(1.0D, 1L, 3)",
      "misra_gries" -> "misra_gries('w', 2)")
    assert(calls.keySet === GraftExtensions.functions.map(_._1).toSet)
    calls.foreach { case (name, call) =>
      assert(fresh.sql(s"SELECT $call AS v").collect().length === 1, name)
    }
    Sanitize.register(fresh) // the kept entry point only checks
  }

  test("optimizer collapses nested sanitize applications") {
    val df = Tables.t(spark, sf, "part")
      .select(Sanitize.sanitize(Sanitize.sanitize(col("p_name"))).as("c"))
    val optimized = df.queryExecution.optimizedPlan.toString()
    assert("sanitize_filename".r.findAllIn(optimized).size === 1,
      s"nested sanitize must collapse to one application:\n$optimized")
  }

  test("TopKRewrite replaces the window top-k plan with the bounded-heap aggregate") {
    val df = SparkEntry.queries("topk_group_rewrite")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("topk_pairs"), s"rewrite did not fire:\n$p")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window "),
      s"window operator must be gone:\n$p")
    // Spark's own excludedRules switches the always-on rule off
    val p2 = SparkEntry.queries("topk_group")(SharedSpark.withoutTopKRewrite, sf)
      .queryExecution.executedPlan.toString()
    assert(p2.contains("Window") && !p2.contains("topk_pairs"),
      s"excluded rule still fired — topk_group was rewritten:\n$p2")
  }

  test("TopKRewrite is bit-exact vs the window formulation") {
    val rewritten = SparkEntry.queries("topk_group_rewrite")(spark, sf)
      .collect().map(_.toSeq)
    val window = SparkEntry.queries("topk_group")(SharedSpark.withoutTopKRewrite, sf)
      .collect().map(_.toSeq)
    assert(rewritten === window)
  }

  test("the rewrite is sound: nested equals single application") {
    val nested = Tables.t(spark, sf, "part")
      .select(col("p_partkey"),
        Sanitize.sanitize(Sanitize.sanitize(col("p_name"))).as("c"))
      .orderBy("p_partkey").collect().map(_.getString(1)).toSeq
    val single = Tables.t(spark, sf, "part")
      .select(col("p_partkey"), Sanitize.sanitize(col("p_name")).as("c"))
      .orderBy("p_partkey").collect().map(_.getString(1)).toSeq
    assert(nested === single)
  }
}
